"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship KG-construction pipeline end-to-end on
sf0.001; ``queries()``/``oracle_sql()`` register the KG/SHACL operators
from SURVEY.md §2 (SHACL validation rules and full-suite reports, report
analytics, dataset discovery and format mapping, RDF round-trips, the
reference's message/file-size helpers) for the DuckDB cross-check at
sf0.01.  The one non-SQL-expressible op (the extraction UDF) is
registered without an oracle → rows-only check; its strong correctness
checks live in tests/ (P/R vs generated expected triples).
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shacl_validator_spark.model import SH
from shacl_validator_spark.operators import analytics as ana
from shacl_validator_spark.operators.discovery import extract_datasets, search_datasets
from shacl_validator_spark.operators.linking import salted_count
from shacl_validator_spark.operators.validate import validate
from shacl_validator_spark.sources.extract import extract_raw_triples, extract_text
from shacl_validator_spark.sources.pages import documents_as_pages
from shacl_validator_spark.sources.synthetic import (
    SYNTHETIC_VIOLATIONS_SQL,
    customer_constraints,
    customer_triples,
    nation_dcat_triples,
    synthetic_violations,
)

SF1 = "/root/testdata/sf0.001"

VIOLATION_OUT_COLS = [
    "focusNode",
    "resultPath",
    "value",
    "resultSeverity",
    "sourceConstraintComponent",
    "sourceShape",
]


# ---------------------------------------------------------------------------
# entry: flagship end-to-end pipeline
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents → pages → extract → link → canonicalize →
    validate → conformant MERGE; returns the merged relation triples."""
    from shacl_validator_spark.plans.pipeline import run_pipeline
    from shacl_validator_spark.sources.extract import KG

    out_dir = tempfile.mkdtemp(prefix="kg_entry_")
    try:
        pages = documents_as_pages(spark, SF1)
        run_pipeline(spark, pages, out_dir, n_groups=1, resume=False)
        rel = [KG + "locatedIn", KG + "publishes", KG + "founded"]
        merged = (
            spark.read.parquet(f"{out_dir}/triples")
            .filter(F.col("predicate").isin(rel))
            .select("subject", "predicate", "object_value")
            .dropDuplicates()
        )
        # materialize before the temp dir disappears
        rows = merged.localCheckpoint(eager=True)
        return rows
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


_CUST_CACHE: dict[str, DataFrame] = {}
_SCRATCH_DIR: str | None = None


def _cust_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer_triples, materialized to scratch parquet once per
    (process, sf_dir) and read back as a table.

    The engine's input contract is a TABLE (BASELINE.json input_hint), and
    the bench protocol already materializes the pages corpus to parquet
    before the timer for the same reason — production input is a table, not
    an in-JVM generator.  Without this, every validate() consumer (targets
    scan, value stream, typed set) re-derives the 14-way synthesis union —
    the single biggest cost in shacl_report_summary's round-1 plan (VERDICT
    plan audit #1).  Parquet (not .persist()): the columnar write is
    cheaper than filling a row-object cache and gives the consumers real
    pushed-down scans, mirroring the pipeline's own scratch materialization.
    """
    return _scratch_table(
        spark, sf_dir, "cust", lambda: customer_triples(spark, sf_dir)
    )


def _scratch_table(spark, sf_dir: str, name: str, build) -> DataFrame:
    """Materialize ``build()`` (a triples relation) to scratch parquet once
    per (process, name, sf_dir) and hand back a table-backed DataFrame."""
    global _SCRATCH_DIR
    key = f"{name}:{sf_dir}"
    df = _CUST_CACHE.get(key)
    # a memoized DataFrame is bound to the session that built it: after a
    # spark.stop()/get_spark() cycle the cached plan references a dead JVM
    # context and every action raises — rebuild for the live session
    if df is not None and df.sparkSession is not spark:
        df = None
    if df is None:
        import atexit

        from shacl_validator_spark.model import TRIPLE_SCHEMA

        if _SCRATCH_DIR is None:
            _SCRATCH_DIR = tempfile.mkdtemp(prefix="kg_synth_")
            atexit.register(shutil.rmtree, _SCRATCH_DIR, ignore_errors=True)
        # key the path by the FULL sf_dir (hashed): two data dirs sharing a
        # basename must not overwrite each other's scratch table while the
        # first DataFrame still reads it
        import hashlib

        tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
        path = f"{_SCRATCH_DIR}/{name}_{tag}"
        # few large files, not one-per-core: every validator scan branch
        # reads this table, and each file is a task per branch — 21 files ×
        # ~10 branches = 200+ tasks each paying ~200 ms of task-binary
        # deserialization for the big compiled plan (r4 profile).  8 files
        # keeps read parallelism while cutting per-branch task count; at
        # real scale maxPartitionBytes governs instead.
        build().repartition(8).write.mode("overwrite").parquet(path)
        df = spark.read.schema(TRIPLE_SCHEMA).parquet(path)
        _CUST_CACHE[key] = df
    return df


_VALIDATE_CACHE: dict[str, DataFrame] = {}


def _cust_validated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full violations relation over the fixture constraint table,
    memoized per sf_dir.  Every shacl_* query consumes the SAME lazy plan
    (they differ only in the component filter on top), and building the
    35-row constraint plan costs seconds of driver/py4j time — paying it
    once per process instead of once per query is exactly what a real
    consumer does (validate once, slice the report many ways).  Only the
    unexecuted DataFrame is cached: every query still executes from the
    scratch parquet, so bench reps and oracle checks measure real work."""
    v = _VALIDATE_CACHE.get(sf_dir)
    if v is not None and v.sparkSession is not spark:
        v = None  # stale plan from a stopped session — rebuild
    if v is None:
        v = validate(spark, _cust_triples(spark, sf_dir), customer_constraints())
        _VALIDATE_CACHE[sf_dir] = v
    return v


def _violations_of(
    spark: SparkSession, sf_dir: str, component: str, path: str | None = None
) -> DataFrame:
    v = _cust_validated(spark, sf_dir)
    v = v.filter(
        F.col("sourceConstraintComponent") == SH + component + "ConstraintComponent"
    )
    # several fixture constraints share a component (e.g. MaxCount on both
    # ex:alias and the inverse-path shape) — disambiguate by resultPath
    if path is not None:
        v = v.filter(F.col("resultPath") == path)
    return v.select(*VIOLATION_OUT_COLS)


_CUST_SHAPE = "ex:CustomerShape"


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_severity_summary(spark, sf_dir):
    return ana.severity_summary(synthetic_violations(spark, sf_dir))


def q_grouped_findings(spark, sf_dir):
    gf = ana.grouped_findings(synthetic_violations(spark, sf_dir))
    return gf.select("severity", "sourceShape", "component", "total")


def q_shape_breakdown(spark, sf_dir):
    return ana.shape_breakdown(synthetic_violations(spark, sf_dir))


def q_path_breakdown(spark, sf_dir):
    return ana.path_breakdown(synthetic_violations(spark, sf_dir))


def q_focus_class_breakdown(spark, sf_dir):
    return ana.focus_class_breakdown(synthetic_violations(spark, sf_dir))


def q_component_breakdown(spark, sf_dir):
    return ana.component_breakdown(synthetic_violations(spark, sf_dir))


def q_unique_entity_stats(spark, sf_dir):
    return ana.unique_entity_stats(synthetic_violations(spark, sf_dir))


def q_conforms_flag(spark, sf_dir):
    return ana.conforms_flag(synthetic_violations(spark, sf_dir)).select(
        F.col("conforms").cast("int").alias("conforms")
    )


def q_shacl_min_count(spark, sf_dir):
    # path filter: the subclass-entailment fixture also emits MinCount rows
    return _violations_of(spark, sf_dir, "MinCount", path="ex:goodbal")


def q_shacl_pattern(spark, sf_dir):
    # path filter: the node-shape-level fixture also emits Pattern rows
    return _violations_of(spark, sf_dir, "Pattern", path="ex:name")


def q_shacl_in(spark, sf_dir):
    return _violations_of(spark, sf_dir, "In")


def q_shacl_min_inclusive(spark, sf_dir):
    return _violations_of(spark, sf_dir, "MinInclusive")


def q_shacl_class(spark, sf_dir):
    return _violations_of(spark, sf_dir, "Class")


def q_shacl_max_count(spark, sf_dir):
    return _violations_of(spark, sf_dir, "MaxCount", path="ex:alias")


def q_shacl_datatype(spark, sf_dir):
    return _violations_of(spark, sf_dir, "Datatype")


def q_shacl_node_kind(spark, sf_dir):
    return _violations_of(spark, sf_dir, "NodeKind")


def q_shacl_max_inclusive(spark, sf_dir):
    return _violations_of(spark, sf_dir, "MaxInclusive")


def q_shacl_min_exclusive(spark, sf_dir):
    return _violations_of(spark, sf_dir, "MinExclusive")


def q_shacl_max_exclusive(spark, sf_dir):
    return _violations_of(spark, sf_dir, "MaxExclusive")


def q_shacl_less_than(spark, sf_dir):
    return _violations_of(spark, sf_dir, "LessThan")


def q_shacl_unique_lang(spark, sf_dir):
    return _violations_of(spark, sf_dir, "UniqueLang")


def q_shacl_language_in(spark, sf_dir):
    return _violations_of(spark, sf_dir, "LanguageIn")


def q_shacl_max_length(spark, sf_dir):
    return _violations_of(spark, sf_dir, "MaxLength")


def q_shacl_has_value(spark, sf_dir):
    return _violations_of(spark, sf_dir, "HasValue", path="ex:segment")


def q_shacl_or_datatype(spark, sf_dir):
    return _violations_of(spark, sf_dir, "Or", path="ex:regdate")


def q_shacl_or_general(spark, sf_dir):
    """General sh:or over non-datatype branches (pattern | nodeKind)."""
    return _violations_of(spark, sf_dir, "Or", path="ex:acctbal")


def q_shacl_node_nested(spark, sf_dir):
    """sh:node — value nodes validated against a nested node shape."""
    return _violations_of(spark, sf_dir, "Node")


def q_shacl_qualified_min(spark, sf_dir):
    """sh:qualifiedValueShape + sh:qualifiedMinCount."""
    # path filter: the qualifiedValueShapesDisjoint fixture (ex:segment)
    # also emits QualifiedMinCount rows
    return _violations_of(spark, sf_dir, "QualifiedMinCount", path="ex:label")


def q_shacl_qualified_disjoint(spark, sf_dir):
    """sh:qualifiedValueShapesDisjoint (SHACL core \u00a74.5.3): a value
    conforming to a sibling qualified shape counts toward neither
    cardinality \u2014 fires qualifiedMinCount for exactly the customers
    whose segment also matches the sibling '^B' shape."""
    return _violations_of(spark, sf_dir, "QualifiedMinCount", path="ex:segment")


def q_shacl_not(spark, sf_dir):
    return _violations_of(spark, sf_dir, "Not")


def q_shacl_and(spark, sf_dir):
    return _violations_of(spark, sf_dir, "And")


def q_shacl_xone(spark, sf_dir):
    return _violations_of(spark, sf_dir, "Xone")


def q_shacl_equals(spark, sf_dir):
    """sh:equals — ex:name's value set must equal ex:prefname's (both
    directions reported)."""
    return _violations_of(spark, sf_dir, "Equals")


def q_shacl_disjoint(spark, sf_dir):
    """sh:disjoint — ex:prefname must share no value with ex:name."""
    return _violations_of(spark, sf_dir, "Disjoint")


def q_shacl_less_than_or_equals(spark, sf_dir):
    """sh:lessThanOrEquals — acctbal must be <= balcap."""
    return _violations_of(spark, sf_dir, "LessThanOrEquals")


def q_shacl_closed(spark, sf_dir):
    """sh:closed — predicates outside the NationClosedShape allowed set."""
    return _violations_of(spark, sf_dir, "Closed")


def q_shacl_subclass_target(spark, sf_dir):
    """rdfs:subClassOf entailment — SupplierShape targets ex:Supplier; odd
    suppliers are typed only ex:LocalSupplier (⊑ ex:Supplier) and violate
    minCount(ex:saddr), so every returned focus was reached through the
    subclass closure."""
    return _violations_of(spark, sf_dir, "MinCount", path="ex:saddr")


def q_shacl_node_self(spark, sf_dir):
    """Node-shape-level constraint — pattern on the focus node itself."""
    v = _cust_validated(spark, sf_dir)
    return v.filter(F.col("sourceShape") == "ex:NationSelfShape").select(
        *VIOLATION_OUT_COLS
    )


def q_shacl_inverse_path(spark, sf_dir):
    """sh:inversePath — nations with too many in-linking customers."""
    return _violations_of(spark, sf_dir, "MaxCount", path="^ex:nation")


def q_shacl_zero_or_more(spark, sf_dir):
    """sh:zeroOrMorePath — ex:nation/ex:partof* must reach region:0."""
    return _violations_of(spark, sf_dir, "HasValue", path="ex:nation/ex:partof*")


def q_shacl_one_or_more(spark, sf_dir):
    """sh:oneOrMorePath — ex:partof+ with maxCount 0: `+` excludes the
    zero-length hop, so only nations WITH an outgoing ex:partof edge (the
    even ones) have values and violate; under `*` every typed nation would
    fire, making the +/* distinction observable."""
    return _violations_of(spark, sf_dir, "MaxCount", path="ex:partof+")


def q_shacl_qualified_max(spark, sf_dir):
    """sh:qualifiedValueShape + sh:qualifiedMaxCount 0 — fires for exactly
    the customers carrying a 'dup '-prefixed label (the complement of the
    qualifiedMinCount fixture)."""
    return _violations_of(spark, sf_dir, "QualifiedMaxCount")


def q_shacl_zero_or_one(spark, sf_dir):
    """sh:zeroOrOnePath — ex:partof? with maxCount 1: the zero-length hop
    counts the focus itself, so even typed nations (self + region) fire."""
    return _violations_of(spark, sf_dir, "MaxCount", path="ex:partof?")


def q_shacl_sparql_select(spark, sf_dir):
    """sh:sparql SELECT constraint compiled to a BGP join plan
    (shapes/sparql.py; reference enables SPARQL constraints via
    shacl-engine/sparql, SHACLValidationService.ts:4,10-13,405): negative
    account balances flagged by a FILTER comparison, with a NOT EXISTS
    guard exercising the anti-join path.  Oracle = the same predicate
    straight off the customer table."""
    from shacl_validator_spark.shapes.compiler import compile_shapes

    shapes = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <ex:> .
    ex:CustSparqlShape a sh:NodeShape ;
      sh:targetClass ex:Customer ;
      sh:sparql [
        sh:message "negative balance {?value}" ;
        sh:select \"\"\"
          PREFIX ex: <ex:>
          SELECT $this ?value WHERE {
            $this ex:acctbal ?value .
            FILTER(?value < 0)
            FILTER NOT EXISTS { $this ex:goodbal ?g }
          }
        \"\"\" ;
      ] .
    """
    warnings: list[str] = []
    rows = compile_shapes(shapes, warnings)
    assert not warnings, warnings
    v = validate(spark, _cust_triples(spark, sf_dir), rows)
    return v.select(
        "focusNode",
        F.col("value"),
        F.col("resultSeverity").alias("severity"),
        F.col("sourceConstraintComponent").alias("component"),
    )


def q_shacl_sparql_optional(spark, sf_dir):
    """sh:sparql with OPTIONAL + !bound (r4, VERDICT r3 missing #4): the
    published-profile idiom for "property missing" — customers whose
    ex:acctbal solution finds no OPTIONAL ex:goodbal link (synthetic
    invariant: goodbal exists iff acctbal >= 0)."""
    from shacl_validator_spark.shapes.compiler import compile_shapes

    shapes = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <ex:> .
    ex:CustOptShape a sh:NodeShape ;
      sh:targetClass ex:Customer ;
      sh:sparql [
        sh:select \"\"\"
          PREFIX ex: <ex:>
          SELECT $this ?value WHERE {
            $this ex:acctbal ?value .
            OPTIONAL { $this ex:goodbal ?g }
            FILTER(!bound(?g))
          }
        \"\"\" ;
      ] .
    """
    warnings: list[str] = []
    rows = compile_shapes(shapes, warnings)
    assert not warnings, warnings
    v = validate(spark, _cust_triples(spark, sf_dir), rows)
    return v.select("focusNode", F.col("value"))


def q_shacl_sparql_union(spark, sf_dir):
    """sh:sparql with { A } UNION { B } (r4): negative balances unioned
    with gold-tier balances (> 9000), each alternative carrying its own
    FILTER."""
    from shacl_validator_spark.shapes.compiler import compile_shapes

    shapes = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <ex:> .
    ex:CustUnionShape a sh:NodeShape ;
      sh:targetClass ex:Customer ;
      sh:sparql [
        sh:select \"\"\"
          PREFIX ex: <ex:>
          SELECT $this ?value WHERE {
            { $this ex:acctbal ?value . FILTER(?value < 0) }
            UNION
            { $this ex:goodbal ?value . FILTER(?value > 9000) }
          }
        \"\"\" ;
      ] .
    """
    warnings: list[str] = []
    rows = compile_shapes(shapes, warnings)
    assert not warnings, warnings
    v = validate(spark, _cust_triples(spark, sf_dir), rows)
    return v.select("focusNode", F.col("value"))


def q_shacl_sparql_values(spark, sf_dir):
    """sh:sparql with VALUES (r5, VERDICT r4 #5): an inline data block
    inner-joined on the shared variable — the published-profile idiom for
    "flag when the value is one of these" (format/licence enumerations).
    Customers whose ex:segment is BUILDING or MACHINERY."""
    from shacl_validator_spark.shapes.compiler import compile_shapes

    shapes = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <ex:> .
    ex:CustValuesShape a sh:NodeShape ;
      sh:targetClass ex:Customer ;
      sh:sparql [
        sh:select \"\"\"
          PREFIX ex: <ex:>
          SELECT $this ?value WHERE {
            $this ex:segment ?value .
            VALUES ?value { "BUILDING" "MACHINERY" }
          }
        \"\"\" ;
      ] .
    """
    warnings: list[str] = []
    rows = compile_shapes(shapes, warnings)
    assert not warnings, warnings
    v = validate(spark, _cust_triples(spark, sf_dir), rows)
    return v.select("focusNode", F.col("value"))


def q_shacl_sparql_minus(spark, sf_dir):
    """sh:sparql with MINUS (r5, VERDICT r4 #5): left-anti join on the
    shared variables — customers whose ex:acctbal solution is removed
    when an ex:goodbal triple exists (synthetic invariant: goodbal exists
    iff acctbal >= 0, so exactly the negative balances survive)."""
    from shacl_validator_spark.shapes.compiler import compile_shapes

    shapes = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <ex:> .
    ex:CustMinusShape a sh:NodeShape ;
      sh:targetClass ex:Customer ;
      sh:sparql [
        sh:select \"\"\"
          PREFIX ex: <ex:>
          SELECT $this ?value WHERE {
            $this ex:acctbal ?value .
            MINUS { $this ex:goodbal ?g }
          }
        \"\"\" ;
      ] .
    """
    warnings: list[str] = []
    rows = compile_shapes(shapes, warnings)
    assert not warnings, warnings
    v = validate(spark, _cust_triples(spark, sf_dir), rows)
    return v.select("focusNode", F.col("value"))


def q_shacl_report_summary(spark, sf_dir):
    v = _cust_validated(spark, sf_dir)
    return v.groupBy(
        F.col("sourceConstraintComponent").alias("component"),
        F.col("resultSeverity").alias("severity"),
    ).agg(F.count("*").alias("n"))


_DCAT_CACHE: dict[str, DataFrame] = {}


def q_shacl_dcat_ap_es_report(spark, sf_dir):
    """Validate a synthesized DCAT-AP-ES catalog against the FULL vendored
    profile suite (shapes/suites.py — catalog/dataset/distribution/
    dataservice/common/mdr-vocabulary files) plus the DIR3 SPARQL rule;
    report grouped by (component, severity, path).

    Input protocol matches _cust_triples: the synthesized catalog is
    materialized to scratch parquet once (production input is a table), and
    the compiled lazy plan is memoized per sf_dir — plan build over the
    full profile suite costs ~5 s of driver/py4j time, paid once per
    process exactly as a real consumer pays it (validate once, slice the
    report many ways).  Every execution still runs from the scratch table."""
    from shacl_validator_spark.shapes.compiler import compile_shape_files
    from shacl_validator_spark.shapes.suites import DIR3_ORGANISM_RULE_TTL, suite_ttls
    from shacl_validator_spark.sources.synthetic import nation_dcat_es_triples

    v = _DCAT_CACHE.get(sf_dir)
    if v is not None and v.sparkSession is not spark:
        v = None  # stale plan from a stopped session — rebuild
    if v is None:
        t = _scratch_table(
            spark, sf_dir, "dcat", lambda: nation_dcat_es_triples(spark, sf_dir)
        )
        rows = compile_shape_files([*suite_ttls("dcat_ap_es"), DIR3_ORGANISM_RULE_TTL])
        v = validate(spark, t, rows)
        _DCAT_CACHE[sf_dir] = v
    return v.groupBy(
        F.col("sourceConstraintComponent").alias("component"),
        F.col("resultSeverity").alias("severity"),
        F.col("resultPath").alias("path"),
    ).agg(F.count("*").alias("n"))


def q_markdown_preprocess(spark, sf_dir):
    """F9 (ValidationResults.tsx:131-149): message markdown preprocessing —
    tables pass through, pipe-less text passes through, otherwise pipes
    become bullets and URLs become links.  Messages are synthesized
    deterministically from the documents table so all three branches are
    exercised; pure column expressions, narrow map."""
    from shacl_validator_spark.functions.text import preprocess_markdown

    d = _docs(spark, sf_dir).select("doc_id", "lang").filter(F.col("doc_id") < 60)
    msg = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("Value error on "),
                F.col("lang"),
                F.lit(" | see <https://datos.gob.es/doc/"),
                F.col("doc_id").cast("string"),
                F.lit("> | retry"),
            ),
        )
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("plain note "), F.col("lang")))
        .otherwise(
            F.concat(
                F.lit("| a | b |\n|---|---|\n| "),
                F.col("lang"),
                F.lit(" | "),
                F.col("doc_id").cast("string"),
                F.lit(" |"),
            )
        )
    )
    return d.select("doc_id", preprocess_markdown(msg).alias("processed"))


def q_file_size_report(spark, sf_dir):
    """F14 (ValidatorInput.tsx:192-202): human file-size formatting + the
    reference's 0.4 min/MB validation-time estimate, over each document's
    byte count — engine-exact via floor(v*10+0.5) half-up arithmetic."""
    from shacl_validator_spark.functions.text import (
        estimate_validation_minutes,
        format_file_size,
    )

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return d.select(
        "doc_id",
        format_file_size(F.col("n_chars")).alias("size_str"),
        estimate_validation_minutes(F.col("n_chars") * 1024).alias("est_minutes"),
    )


def q_discovery_datasets(spark, sf_dir):
    ds = extract_datasets(nation_dcat_triples(spark, sf_dir))
    return ds.select(
        "id",
        "title",
        "publisher",
        F.array_join("keywords", ",").alias("keywords"),
    )


def q_discovery_search(spark, sf_dir):
    ds = extract_datasets(nation_dcat_triples(spark, sf_dir))
    return search_datasets(ds, "n_1", limit=50).select("id", "title")


def q_discovery_distributions(spark, sf_dir):
    from shacl_validator_spark.operators.discovery import extract_distributions

    d = extract_distributions(nation_dcat_triples(spark, sf_dir))
    return d.select("dataset_id", "id", "format", "accessURL", "byteSize")


def q_discovery_formats(spark, sf_dir):
    from shacl_validator_spark.operators.discovery import (
        extract_distributions,
        resolve_formats,
    )

    t = nation_dcat_triples(spark, sf_dir)
    d = resolve_formats(t, extract_distributions(t))
    return d.select("id", "resolved_format")


def q_compatible_distributions(spark, sf_dir):
    from shacl_validator_spark.operators.discovery import (
        extract_distributions,
        is_compatible,
    )

    d = extract_distributions(nation_dcat_triples(spark, sf_dir))
    return d.filter(
        is_compatible(F.col("format"), F.col("mediaType"), F.col("accessURL"))
    ).select("id")


# F12 mapping-table fixtures: one case per branch of the reference's
# normalization logic (DataDiscoveryService.ts:330-475).  The same Python
# list feeds the Spark query and the DuckDB VALUES clause, so input drift
# is impossible; the oracle re-expresses the MAPPING independently as SQL
# CASE chains.
_FORMAT_CASES = [
    "text/csv",
    "application/json",
    "CSV",
    "Json",
    "http://publications.europa.eu/resource/authority/file-type/CSV",
    "http://publications.europa.eu/resource/authority/file-type/JSON",
    "comma separated values",
    "JavaScript Object Notation",
    "valores separados por comas",
    "notacion de objetos javascript",
    "https://www.iana.org/assignments/media-types/text/csv",
    "https://example.org/formats#json",
    "https://example.org/x/CSV",
    "application/pdf",
    "xml",
]

_URL_CASES = [
    "https://x.org/a.csv",
    "https://x.org/a.json",
    "https://x.org/q?format=csv",
    "https://x.org/q?fmt=json",
    "https://x.org/csv/file",
    "https://x.org/data-json-v2",
    "https://x.org/dump/?format=csv",
    "https://x.org/api/data.json",
    "https://x.org/export?type=csv",
    "https://x.org/a.pdf",
]


def q_format_normalization(spark, sf_dir):
    from shacl_validator_spark.operators.discovery import (
        extract_simple_format,
        normalize_format_value,
    )

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_FORMAT_CASES)], "id int, fmt string"
    )
    return df.select(
        "id",
        "fmt",
        extract_simple_format(F.col("fmt")).alias("simple"),
        normalize_format_value(F.col("fmt")).alias("normalized"),
    )


def q_url_format_detection(spark, sf_dir):
    from shacl_validator_spark.operators.discovery import extract_format_from_url

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_URL_CASES)], "id int, url string"
    )
    return df.select("id", "url", extract_format_from_url(F.col("url")).alias("fmt"))


def q_jsonld_roundtrip(spark, sf_dir):
    """Distributed JSON-LD source (sources/jsonld.py, r5 — VERDICT r4
    missing #2): render the nation table as expanded JSON-LD node objects,
    write a multi-part JSON-Lines dump (the within-file-splittable layout),
    and re-read through read_jsonld(lines=True).  The oracle reconstructs
    the expected triples straight from the nation view."""
    from shacl_validator_spark.sources.jsonld import read_jsonld

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    node = F.to_json(
        F.struct(
            F.format_string(
                "http://ex.org/n%s", F.col("n_nationkey").cast("string")
            ).alias("@id"),
            F.array(F.lit("http://ex.org/Nation")).alias("@type"),
            F.array(
                F.struct(
                    F.col("n_name").alias("@value"), F.lit("en").alias("@language")
                )
            ).alias("http://ex.org/name"),
            F.array(
                F.struct(
                    F.col("n_nationkey").cast("string").alias("@value"),
                    F.lit("http://www.w3.org/2001/XMLSchema#integer").alias("@type"),
                )
            ).alias("http://ex.org/key"),
        )
    )
    path = tempfile.mkdtemp(prefix="kg_jldrt_") + "/dump"
    n.select(node.alias("value")).repartition(4).write.mode("overwrite").text(path)
    t = read_jsonld(spark, path, graph="jld", lines=True)
    return t.select(
        "subject", "predicate", "object_value", "object_type",
        "object_datatype", "object_lang",
    )


def q_turtle_roundtrip(spark, sf_dir):
    """Distributed Turtle source (sources/turtle.py, r4 — VERDICT r3
    missing #1): render the nation table as REAL multi-line Turtle
    (prefixed names, `;` continuations, @lang and ^^typed literals, a
    trailing comment), write it as a single .ttl, and re-read through the
    statement-boundary CHUNKER (small-file threshold forced to 0,
    16-statement chunks so even sf0.01 crosses many chunk boundaries).
    The oracle reconstructs the expected triples straight from the nation
    view — a chunking/prefix/escape bug breaks the value hash."""
    from shacl_validator_spark.sources.turtle import read_turtle

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    stmt = F.format_string(
        'ex:n%s a ex:Nation ;\n  ex:name "%s"@en ;  # inline comment\n'
        '  ex:key "%s"^^xsd:integer .',
        F.col("n_nationkey").cast("string"),
        F.col("n_name"),
        F.col("n_nationkey").cast("string"),
    )
    prologue = spark.createDataFrame(
        [
            (-2, "@prefix ex: <http://ex.org/> ."),
            (-1, "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> ."),
        ],
        "ord long, value string",
    )
    body = n.select(F.col("n_nationkey").cast("long").alias("ord"), stmt.alias("value"))
    path = tempfile.mkdtemp(prefix="kg_ttlrt_") + "/dump.ttl"
    prologue.unionByName(body).orderBy("ord").coalesce(1).select("value").write.mode(
        "overwrite"
    ).text(path)
    warnings: list[str] = []
    t = read_turtle(
        spark, path, graph="ttl", chunk_statements=16, small_file_bytes=0,
        warnings=warnings,
    )
    assert not warnings, warnings
    return t.select(
        "subject", "predicate", "object_value", "object_type",
        "object_datatype", "object_lang",
    )


def q_ntriples_roundtrip(spark, sf_dir):
    """S5/S6 scale path (sources/ntriples.py): derive deterministic triples
    from the nation table — an IRI object, a lang-tagged literal, a typed
    literal, and a plain literal salted with every string escape (newline,
    quote, tab, backslash) — serialize them with the distributed N-Triples
    sink and re-parse with the distributed reader (spark.read.text + JVM
    regex, no Python).  The oracle reconstructs the expected relation
    straight from the nation view, so an escape/typing bug in EITHER
    direction of the round-trip breaks the value hash."""
    from shacl_validator_spark.model import XSD
    from shacl_validator_spark.sources.ntriples import read_ntriples, write_ntriples

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    subj = F.concat(F.lit("http://ex.org/nation/"), F.col("n_nationkey").cast("string"))
    esc_comment = F.concat(F.lit('L1\n"'), F.col("n_name"), F.lit('"\t\\'))
    nullstr = F.lit(None).cast("string")

    def _po(pred, val, otype, dtype, lang):
        return F.struct(
            F.lit(pred).alias("predicate"),
            val.alias("object_value"),
            F.lit(otype).alias("object_type"),
            dtype.alias("object_datatype"),
            lang.alias("object_lang"),
        )

    t = n.select(
        subj.alias("subject"),
        F.explode(
            F.array(
                _po("http://ex.org/name", F.col("n_name"), "literal", nullstr, F.lit("en")),
                _po("http://ex.org/comment", esc_comment, "literal", F.lit(XSD + "string"), nullstr),
                _po("http://ex.org/key", F.col("n_nationkey").cast("string"), "literal", F.lit(XSD + "integer"), nullstr),
                _po(
                    "http://ex.org/region",
                    F.concat(F.lit("http://ex.org/region/"), F.col("n_regionkey").cast("string")),
                    "iri",
                    nullstr,
                    nullstr,
                ),
            )
        ).alias("_po"),
    ).select("subject", "_po.*").withColumn("graph", nullstr)

    path = tempfile.mkdtemp(prefix="kg_ntrt_") + "/nt"
    write_ntriples(t, path, mode="overwrite")
    return read_ntriples(spark, path).select(
        "subject", "predicate", "object_value", "object_type",
        "object_datatype", "object_lang",
    )


def q_rdf_stats(spark, sf_dir):
    # A1: distinct-subject counts by rdf:type (reference ValidatorInput.tsx:156-189)
    t = nation_dcat_triples(spark, sf_dir)
    types = [
        "http://www.w3.org/ns/dcat#Dataset",
        "http://www.w3.org/ns/dcat#DataService",
        "http://www.w3.org/ns/dcat#Distribution",
    ]
    return (
        t.filter(
            (F.col("predicate") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
            & F.col("object_value").isin(types)
        )
        .groupBy(F.col("object_value").alias("entity_type"))
        .agg(F.countDistinct("subject").alias("n"))
    )


def q_jsonld_pivot(spark, sf_dir):
    # F15: group quads by subject into a deterministic property bag
    t = nation_dcat_triples(spark, sf_dir)
    return t.groupBy("subject").agg(
        F.array_join(
            F.sort_array(
                F.collect_list(F.concat_ws("=", F.col("predicate"), F.col("object_value")))
            ),
            "||",
        ).alias("props")
    )


def q_compact_predicates(spark, sf_dir):
    from shacl_validator_spark.functions.text import compact_iri

    t = nation_dcat_triples(spark, sf_dir)
    return t.groupBy(compact_iri(F.col("predicate")).alias("pred")).agg(
        F.count("*").alias("n")
    )


def q_flatten_report(spark, sf_dir):
    # W4: stable severity-ranked flatten with synthetic running id
    from pyspark.sql.window import Window

    v = synthetic_violations(spark, sf_dir).dropDuplicates(VIOLATION_OUT_COLS)
    rank = (
        F.when(F.col("resultSeverity") == "Violation", 0)
        .when(F.col("resultSeverity") == "Warning", 1)
        .otherwise(2)
    )
    w = Window.orderBy(
        rank, "focusNode", "resultPath", "value", "sourceConstraintComponent"
    )
    return v.select(
        F.row_number().over(w).alias("id"),
        F.col("resultSeverity").alias("severity"),
        "focusNode",
        "resultPath",
        "value",
    )


def q_salted_degree(spark, sf_dir):
    t = _cust_triples(spark, sf_dir)
    return salted_count(t, "subject").orderBy(F.desc("n"), "subject").limit(10)


def q_extract_relations(spark, sf_dir):
    # extraction UDF output — no SQL oracle (mapInPandas); rows-only check
    pages = documents_as_pages(spark, sf_dir)
    return extract_raw_triples(pages)


def q_byte_identity_failures(spark, sf_dir):
    pages = documents_as_pages(spark, sf_dir)
    return pages.withColumn("ext", extract_text(F.col("html"))).filter(
        F.col("ext") != F.col("text")
    ).select("url")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # rows-only entries (no oracle_sql) go LAST so a fixed-size driver
    # sample hits oracle-backed entries first
    return {
        "severity_summary": q_severity_summary,
        "grouped_findings": q_grouped_findings,
        "shape_breakdown": q_shape_breakdown,
        "path_breakdown": q_path_breakdown,
        "focus_class_breakdown": q_focus_class_breakdown,
        "component_breakdown": q_component_breakdown,
        "unique_entity_stats": q_unique_entity_stats,
        "conforms_flag": q_conforms_flag,
        "shacl_min_count": q_shacl_min_count,
        "shacl_pattern": q_shacl_pattern,
        "shacl_in": q_shacl_in,
        "shacl_min_inclusive": q_shacl_min_inclusive,
        "shacl_class": q_shacl_class,
        "shacl_max_count": q_shacl_max_count,
        "shacl_datatype": q_shacl_datatype,
        "shacl_node_kind": q_shacl_node_kind,
        "shacl_max_inclusive": q_shacl_max_inclusive,
        "shacl_min_exclusive": q_shacl_min_exclusive,
        "shacl_max_exclusive": q_shacl_max_exclusive,
        "shacl_less_than": q_shacl_less_than,
        "shacl_unique_lang": q_shacl_unique_lang,
        "shacl_language_in": q_shacl_language_in,
        "shacl_max_length": q_shacl_max_length,
        "shacl_has_value": q_shacl_has_value,
        "shacl_or_datatype": q_shacl_or_datatype,
        "shacl_or_general": q_shacl_or_general,
        "shacl_node_nested": q_shacl_node_nested,
        "shacl_qualified_min": q_shacl_qualified_min,
        "shacl_qualified_disjoint": q_shacl_qualified_disjoint,
        "shacl_not": q_shacl_not,
        "shacl_and": q_shacl_and,
        "shacl_xone": q_shacl_xone,
        "shacl_subclass_target": q_shacl_subclass_target,
        "shacl_node_self": q_shacl_node_self,
        "shacl_equals": q_shacl_equals,
        "shacl_disjoint": q_shacl_disjoint,
        "shacl_less_than_or_equals": q_shacl_less_than_or_equals,
        "shacl_closed": q_shacl_closed,
        "shacl_inverse_path": q_shacl_inverse_path,
        "shacl_zero_or_more": q_shacl_zero_or_more,
        "shacl_one_or_more": q_shacl_one_or_more,
        "shacl_qualified_max": q_shacl_qualified_max,
        "shacl_zero_or_one": q_shacl_zero_or_one,
        "shacl_sparql_select": q_shacl_sparql_select,
        "shacl_sparql_optional": q_shacl_sparql_optional,
        "shacl_sparql_union": q_shacl_sparql_union,
        "shacl_sparql_values": q_shacl_sparql_values,
        "shacl_sparql_minus": q_shacl_sparql_minus,
        "shacl_report_summary": q_shacl_report_summary,
        "shacl_dcat_ap_es_report": q_shacl_dcat_ap_es_report,
        "markdown_preprocess": q_markdown_preprocess,
        "file_size_report": q_file_size_report,
        "discovery_datasets": q_discovery_datasets,
        "discovery_search": q_discovery_search,
        "discovery_distributions": q_discovery_distributions,
        "discovery_formats": q_discovery_formats,
        "compatible_distributions": q_compatible_distributions,
        "format_normalization": q_format_normalization,
        "url_format_detection": q_url_format_detection,
        "ntriples_roundtrip": q_ntriples_roundtrip,
        "turtle_roundtrip": q_turtle_roundtrip,
        "jsonld_roundtrip": q_jsonld_roundtrip,
        "rdf_stats": q_rdf_stats,
        "jsonld_pivot": q_jsonld_pivot,
        "compact_predicates": q_compact_predicates,
        "flatten_report": q_flatten_report,
        "salted_degree": q_salted_degree,
        "byte_identity_failures": q_byte_identity_failures,
        "extract_relations": q_extract_relations,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_V = f"({SYNTHETIC_VIOLATIONS_SQL})"


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["severity_summary"] = f"""
        SELECT resultSeverity AS severity, COUNT(*) AS n FROM {_V} v
        GROUP BY resultSeverity
    """

    sql["grouped_findings"] = f"""
        SELECT resultSeverity AS severity, sourceShape,
               sourceConstraintComponent AS component, COUNT(*) AS total
        FROM {_V} v GROUP BY 1, 2, 3
    """

    sql["shape_breakdown"] = f"""
        SELECT sourceShape, COUNT(*) AS total,
               COUNT(*) FILTER (resultSeverity = 'Violation') AS violations,
               COUNT(*) FILTER (resultSeverity = 'Warning') AS warnings,
               COUNT(*) FILTER (resultSeverity = 'Info') AS infos
        FROM {_V} v GROUP BY sourceShape
        ORDER BY total DESC, sourceShape LIMIT 6
    """

    sql["path_breakdown"] = f"""
        SELECT resultPath, COUNT(*) AS total,
               COUNT(*) FILTER (resultSeverity = 'Violation') AS violations
        FROM {_V} v WHERE resultPath IS NOT NULL
        GROUP BY resultPath ORDER BY total DESC, resultPath LIMIT 8
    """

    sql["focus_class_breakdown"] = f"""
        SELECT CASE WHEN k = '' THEN 'Other'
                    ELSE upper(k[1]) || k[2:] END AS kind,
               COUNT(*) AS total,
               COUNT(*) FILTER (resultSeverity = 'Violation') AS violations
        FROM (
          SELECT coalesce(regexp_extract(lower(focusNode),
            '(dataset|distribution|catalog|dataservice|agent|organization|contactpoint|periodoftime)', 1), '') AS k,
            resultSeverity
          FROM {_V} v WHERE focusNode IS NOT NULL
        ) GROUP BY kind
    """

    sql["component_breakdown"] = f"""
        SELECT CASE WHEN strpos(reverse(sourceConstraintComponent), '#') > 0
                      OR strpos(reverse(sourceConstraintComponent), '/') > 0
                    THEN list_extract(string_split_regex(sourceConstraintComponent, '[#/]'), -1)
                    ELSE sourceConstraintComponent END AS component,
               COUNT(*) AS n
        FROM {_V} v WHERE sourceConstraintComponent IS NOT NULL
        GROUP BY component ORDER BY n DESC, component LIMIT 8
    """

    sql["unique_entity_stats"] = f"""
        SELECT COUNT(DISTINCT focusNode) AS unique_focus_nodes,
               COUNT(DISTINCT sourceShape) AS unique_shapes,
               COUNT(DISTINCT resultPath) AS unique_paths
        FROM {_V} v
    """

    sql["conforms_flag"] = f"""
        SELECT CAST(COUNT(*) FILTER (resultSeverity = 'Violation') = 0 AS INT) AS conforms
        FROM {_V} v
    """

    # --- SHACL rule oracles: independent SQL formulations --------------------
    sql["shacl_min_count"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:goodbal' AS resultPath,
               CAST(NULL AS VARCHAR) AS value,
               'Violation' AS resultSeverity,
               'http://www.w3.org/ns/shacl#MinCountConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_acctbal < 0
    """

    sql["shacl_pattern"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:name' AS resultPath,
               c_name AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#PatternConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE NOT regexp_matches(c_name, '^Customer#000000[0-9]{{3}}$')
    """

    sql["shacl_in"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:segment' AS resultPath,
               c_mktsegment AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#InConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_mktsegment NOT IN ('BUILDING','MACHINERY','AUTOMOBILE')
    """

    sql["shacl_min_inclusive"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:acctbal' AS resultPath,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS value,
               'Violation' AS resultSeverity,
               'http://www.w3.org/ns/shacl#MinInclusiveConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_acctbal < 0
    """

    sql["shacl_class"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:nation' AS resultPath,
               'nation:' || CAST(c_nationkey AS VARCHAR) AS value,
               'Violation' AS resultSeverity,
               'http://www.w3.org/ns/shacl#ClassConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_nationkey >= 15
    """

    sql["shacl_max_count"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:alias' AS resultPath,
               CAST(NULL AS VARCHAR) AS value,
               'Violation' AS resultSeverity,
               'http://www.w3.org/ns/shacl#MaxCountConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 5 = 0 AND lower(c_name) <> c_name
    """

    sql["shacl_datatype"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:regdate' AS resultPath,
               'not-a-date' AS value,
               'Violation' AS resultSeverity,
               'http://www.w3.org/ns/shacl#DatatypeConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 3 = 0
    """

    sql["shacl_node_kind"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:homepage' AS resultPath,
               'https://cust.example/' || CAST(c_custkey AS VARCHAR) AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#NodeKindConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 7 = 0
    """

    sql["shacl_max_inclusive"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:acctbal' AS resultPath,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#MaxInclusiveConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_acctbal > 9000
    """

    sql["shacl_min_exclusive"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:acctbal' AS resultPath,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#MinExclusiveConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_acctbal <= 0
    """

    sql["shacl_max_exclusive"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:acctbal' AS resultPath,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#MaxExclusiveConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_acctbal >= 9000
    """

    sql["shacl_less_than"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:acctbal' AS resultPath,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS value,
               'Violation' AS resultSeverity,
               'http://www.w3.org/ns/shacl#LessThanConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_acctbal >= 5000
    """

    sql["shacl_unique_lang"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:label' AS resultPath,
               'en' AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#UniqueLangConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 4 = 0
    """

    sql["shacl_language_in"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:label' AS resultPath,
               'de ' || c_name AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#LanguageInConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 6 = 0
    """

    sql["shacl_max_length"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:segment' AS resultPath,
               c_mktsegment AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#MaxLengthConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE length(c_mktsegment) > 8
    """

    sql["shacl_has_value"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:segment' AS resultPath,
               CAST(NULL AS VARCHAR) AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#HasValueConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_mktsegment <> 'BUILDING'
    """

    sql["shacl_or_datatype"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:regdate' AS resultPath,
               'not-a-date' AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#OrConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 3 = 0
    """

    sql["shacl_or_general"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:acctbal' AS resultPath,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#OrConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_acctbal < 0
    """

    sql["shacl_node_nested"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:nation' AS resultPath,
               'nation:' || CAST(c_nationkey AS VARCHAR) AS value,
               'Violation' AS resultSeverity,
               'http://www.w3.org/ns/shacl#NodeConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_nationkey % 2 = 1
    """

    sql["shacl_qualified_min"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:label' AS resultPath,
               CAST(NULL AS VARCHAR) AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#QualifiedMinCountConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 4 <> 0
    """

    sql["shacl_qualified_disjoint"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:segment' AS resultPath,
               CAST(NULL AS VARCHAR) AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#QualifiedMinCountConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_mktsegment LIKE 'B%'
    """

    sql["shacl_not"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:label' AS resultPath,
               'de ' || c_name AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#NotConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 6 = 0
    """

    sql["shacl_and"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:segment' AS resultPath,
               c_mktsegment AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#AndConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE length(c_mktsegment) < 9
    """

    sql["shacl_xone"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:regdate' AS resultPath,
               'not-a-date' AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#XoneConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 3 = 0
    """

    sql["shacl_subclass_target"] = f"""
        SELECT 'sup:' || CAST(s_suppkey AS VARCHAR) AS focusNode,
               'ex:saddr' AS resultPath,
               CAST(NULL AS VARCHAR) AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#MinCountConstraintComponent' AS sourceConstraintComponent,
               'ex:SupplierShape' AS sourceShape
        FROM supplier WHERE s_suppkey % 2 = 1
    """

    sql["shacl_node_self"] = """
        SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS focusNode,
               CAST(NULL AS VARCHAR) AS resultPath,
               'nation:' || CAST(n_nationkey AS VARCHAR) AS value,
               'Violation' AS resultSeverity,
               'http://www.w3.org/ns/shacl#PatternConstraintComponent' AS sourceConstraintComponent,
               'ex:NationSelfShape' AS sourceShape
        FROM nation WHERE n_nationkey < 15 AND n_nationkey % 2 = 1
    """

    sql["shacl_equals"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:name' AS resultPath,
               c_name AS value,
               'Violation' AS resultSeverity,
               'http://www.w3.org/ns/shacl#EqualsConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 9 = 0
        UNION ALL
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:name' AS resultPath,
               'alt ' || c_name AS value,
               'Violation' AS resultSeverity,
               'http://www.w3.org/ns/shacl#EqualsConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 9 = 0
    """

    sql["shacl_disjoint"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:prefname' AS resultPath,
               c_name AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#DisjointConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 9 <> 0
    """

    sql["shacl_less_than_or_equals"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:acctbal' AS resultPath,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#LessThanOrEqualsConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_acctbal > 5000
    """

    sql["shacl_closed"] = """
        SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS focusNode,
               'ex:partof' AS resultPath,
               'region:' || CAST(n_nationkey % 5 AS VARCHAR) AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#ClosedConstraintComponent' AS sourceConstraintComponent,
               'ex:NationClosedShape' AS sourceShape
        FROM nation WHERE n_nationkey < 15 AND n_nationkey % 2 = 0
    """

    sql["shacl_inverse_path"] = """
        SELECT 'nation:' || CAST(c_nationkey AS VARCHAR) AS focusNode,
               '^ex:nation' AS resultPath,
               CAST(NULL AS VARCHAR) AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#MaxCountConstraintComponent' AS sourceConstraintComponent,
               'ex:NationInvShape' AS sourceShape
        FROM customer WHERE c_nationkey < 15
        GROUP BY c_nationkey HAVING COUNT(*) > 18
    """

    sql["shacl_zero_or_more"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:nation/ex:partof*' AS resultPath,
               CAST(NULL AS VARCHAR) AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#HasValueConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE NOT (c_nationkey % 2 = 0 AND c_nationkey % 5 = 0)
    """

    sql["shacl_one_or_more"] = """
        SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS focusNode,
               'ex:partof+' AS resultPath,
               CAST(NULL AS VARCHAR) AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#MaxCountConstraintComponent' AS sourceConstraintComponent,
               'ex:NationOneOrMoreShape' AS sourceShape
        FROM nation WHERE n_nationkey < 15 AND n_nationkey % 2 = 0
    """

    sql["shacl_qualified_max"] = f"""
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               'ex:label' AS resultPath,
               CAST(NULL AS VARCHAR) AS value,
               'Warning' AS resultSeverity,
               'http://www.w3.org/ns/shacl#QualifiedMaxCountConstraintComponent' AS sourceConstraintComponent,
               '{_CUST_SHAPE}' AS sourceShape
        FROM customer WHERE c_custkey % 4 = 0
    """

    sql["shacl_zero_or_one"] = """
        SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS focusNode,
               'ex:partof?' AS resultPath,
               CAST(NULL AS VARCHAR) AS value,
               'Info' AS resultSeverity,
               'http://www.w3.org/ns/shacl#MaxCountConstraintComponent' AS sourceConstraintComponent,
               'ex:NationZeroOneShape' AS sourceShape
        FROM nation WHERE n_nationkey < 15 AND n_nationkey % 2 = 0
    """

    sql["shacl_sparql_optional"] = """
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS value
        FROM customer
        WHERE c_acctbal < 0
    """
    sql["shacl_sparql_union"] = """
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS value
        FROM customer
        WHERE c_acctbal < 0 OR c_acctbal > 9000
    """
    sql["shacl_sparql_values"] = """
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               c_mktsegment AS value
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    """
    sql["shacl_sparql_minus"] = """
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS value
        FROM customer
        WHERE c_acctbal < 0
    """
    sql["shacl_sparql_select"] = """
        SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS focusNode,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS value,
               'Violation' AS severity,
               'http://www.w3.org/ns/shacl#SPARQLConstraintComponent' AS component
        FROM customer
        WHERE c_acctbal < 0
    """

    sql["shacl_report_summary"] = """
        WITH v AS (
          SELECT 'http://www.w3.org/ns/shacl#MinCountConstraintComponent' AS component,
                 'Violation' AS severity FROM customer WHERE c_acctbal < 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#PatternConstraintComponent', 'Warning'
          FROM customer WHERE NOT regexp_matches(c_name, '^Customer#000000[0-9]{3}$')
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#InConstraintComponent', 'Info'
          FROM customer WHERE c_mktsegment NOT IN ('BUILDING','MACHINERY','AUTOMOBILE')
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#MinInclusiveConstraintComponent', 'Violation'
          FROM customer WHERE c_acctbal < 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#ClassConstraintComponent', 'Violation'
          FROM customer WHERE c_nationkey >= 15
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#MaxCountConstraintComponent', 'Violation'
          FROM customer WHERE c_custkey % 5 = 0 AND lower(c_name) <> c_name
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#DatatypeConstraintComponent', 'Violation'
          FROM customer WHERE c_custkey % 3 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#NodeKindConstraintComponent', 'Warning'
          FROM customer WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#MaxInclusiveConstraintComponent', 'Info'
          FROM customer WHERE c_acctbal > 9000
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#MinExclusiveConstraintComponent', 'Warning'
          FROM customer WHERE c_acctbal <= 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#MaxExclusiveConstraintComponent', 'Info'
          FROM customer WHERE c_acctbal >= 9000
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#LessThanConstraintComponent', 'Violation'
          FROM customer WHERE c_acctbal >= 5000
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#UniqueLangConstraintComponent', 'Warning'
          FROM customer WHERE c_custkey % 4 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#LanguageInConstraintComponent', 'Info'
          FROM customer WHERE c_custkey % 6 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#MaxLengthConstraintComponent', 'Info'
          FROM customer WHERE length(c_mktsegment) > 8
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#HasValueConstraintComponent', 'Warning'
          FROM customer WHERE c_mktsegment <> 'BUILDING'
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#OrConstraintComponent', 'Info'
          FROM customer WHERE c_custkey % 3 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#OrConstraintComponent', 'Warning'
          FROM customer WHERE c_acctbal < 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#NodeConstraintComponent', 'Violation'
          FROM customer WHERE c_nationkey % 2 = 1
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#QualifiedMinCountConstraintComponent', 'Info'
          FROM customer WHERE c_custkey % 4 <> 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#QualifiedMinCountConstraintComponent', 'Info'
          FROM customer WHERE c_mktsegment LIKE 'B%'
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#NotConstraintComponent', 'Warning'
          FROM customer WHERE c_custkey % 6 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#AndConstraintComponent', 'Info'
          FROM customer WHERE length(c_mktsegment) < 9
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#XoneConstraintComponent', 'Warning'
          FROM customer WHERE c_custkey % 3 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#MaxCountConstraintComponent', 'Info'
          FROM (SELECT c_nationkey FROM customer WHERE c_nationkey < 15
                GROUP BY c_nationkey HAVING COUNT(*) > 18)
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#HasValueConstraintComponent', 'Info'
          FROM customer WHERE NOT (c_nationkey % 2 = 0 AND c_nationkey % 5 = 0)
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#EqualsConstraintComponent', 'Violation'
          FROM customer WHERE c_custkey % 9 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#EqualsConstraintComponent', 'Violation'
          FROM customer WHERE c_custkey % 9 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#DisjointConstraintComponent', 'Warning'
          FROM customer WHERE c_custkey % 9 <> 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#LessThanOrEqualsConstraintComponent', 'Warning'
          FROM customer WHERE c_acctbal > 5000
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#ClosedConstraintComponent', 'Info'
          FROM nation WHERE n_nationkey < 15 AND n_nationkey % 2 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#PatternConstraintComponent', 'Violation'
          FROM nation WHERE n_nationkey < 15 AND n_nationkey % 2 = 1
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#MinCountConstraintComponent', 'Info'
          FROM supplier WHERE s_suppkey % 2 = 1
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#MaxCountConstraintComponent', 'Info'
          FROM nation WHERE n_nationkey < 15 AND n_nationkey % 2 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#MaxCountConstraintComponent', 'Warning'
          FROM nation WHERE n_nationkey < 15 AND n_nationkey % 2 = 0
          UNION ALL
          SELECT 'http://www.w3.org/ns/shacl#QualifiedMaxCountConstraintComponent', 'Warning'
          FROM customer WHERE c_custkey % 4 = 0
        )
        SELECT component, severity, COUNT(*) AS n FROM v GROUP BY 1, 2
    """

    # expected full-suite DCAT-AP-ES report — one row per engineered gap
    # class in nation_dcat_es_triples (see its docstring for the gap map)
    sql["shacl_dcat_ap_es_report"] = """
        WITH g AS (SELECT n_nationkey AS k FROM nation)
        SELECT 'http://www.w3.org/ns/shacl#MinCountConstraintComponent' AS component,
               'Violation' AS severity,
               'http://purl.org/dc/terms/description' AS path,
               COUNT(*) AS n FROM g WHERE k % 5 = 0
        UNION ALL
        SELECT 'http://www.w3.org/ns/shacl#UniqueLangConstraintComponent', 'Violation',
               'http://purl.org/dc/terms/title', COUNT(*) FROM g WHERE k % 6 = 0
        UNION ALL
        SELECT 'http://www.w3.org/ns/shacl#InConstraintComponent', 'Warning',
               'http://www.w3.org/ns/dcat#theme', COUNT(*) FROM g WHERE k % 3 = 0
        UNION ALL
        SELECT 'http://www.w3.org/ns/shacl#SPARQLConstraintComponent', 'Violation',
               'http://purl.org/dc/terms/publisher', COUNT(*) FROM g WHERE k % 4 = 0
        UNION ALL
        -- issued is sh:or(date | dateTime) in the ES suite → lexically
        -- invalid values report sh:OrConstraintComponent
        SELECT 'http://www.w3.org/ns/shacl#OrConstraintComponent', 'Warning',
               'http://purl.org/dc/terms/issued', COUNT(*) FROM g WHERE k % 7 = 0
        UNION ALL
        SELECT 'http://www.w3.org/ns/shacl#MinCountConstraintComponent', 'Violation',
               'http://www.w3.org/ns/dcat#accessURL', COUNT(*) FROM g WHERE k % 8 = 0
        UNION ALL
        SELECT 'http://www.w3.org/ns/shacl#MinInclusiveConstraintComponent', 'Warning',
               'http://www.w3.org/ns/dcat#byteSize', COUNT(*) FROM g WHERE k % 9 = 0
        UNION ALL
        -- "-5"^^xsd:nonNegativeInteger is outside the datatype's value
        -- space, so the same rows also report sh:datatype
        SELECT 'http://www.w3.org/ns/shacl#DatatypeConstraintComponent', 'Warning',
               'http://www.w3.org/ns/dcat#byteSize', COUNT(*) FROM g WHERE k % 9 = 0
        UNION ALL
        SELECT 'http://www.w3.org/ns/shacl#MinCountConstraintComponent', 'Violation',
               'http://www.w3.org/ns/dcat#endpointURL', COUNT(*) FROM g
        WHERE k % 2 = 0 AND k % 10 = 0
        UNION ALL
        -- the k%11 datasets (not already on the k%4 ORG_BAD publisher)
        -- point at a dangling DIR3 IRI: untyped -> sh:class foaf:Agent,
        -- and nameless -> the published-form sh:node es:AgentNodeShape
        SELECT 'http://www.w3.org/ns/shacl#ClassConstraintComponent', 'Violation',
               'http://purl.org/dc/terms/publisher', COUNT(*) FROM g
        WHERE k % 11 = 0 AND k % 4 != 0
        UNION ALL
        SELECT 'http://www.w3.org/ns/shacl#NodeConstraintComponent', 'Violation',
               'http://purl.org/dc/terms/publisher', COUNT(*) FROM g
        WHERE k % 11 = 0 AND k % 4 != 0
    """


    sql["markdown_preprocess"] = """
        WITH m AS (
          SELECT doc_id,
                 CASE
                   WHEN doc_id % 3 = 0 THEN
                     'Value error on ' || lang
                     || ' | see <https://datos.gob.es/doc/'
                     || CAST(doc_id AS VARCHAR) || '> | retry'
                   WHEN doc_id % 3 = 1 THEN 'plain note ' || lang
                   ELSE '| a | b |' || chr(10) || '|---|---|' || chr(10)
                        || '| ' || lang || ' | ' || CAST(doc_id AS VARCHAR)
                        || ' |'
                 END AS msg
          FROM documents WHERE doc_id < 60
        )
        SELECT doc_id,
               CASE
                 WHEN regexp_matches(msg,
                      '^\\s*\\|?.+\\|.+\\n\\s*\\|?\\s*[-:\\s|]+\\|')
                   THEN msg
                 WHEN NOT contains(msg, '|') THEN msg
                 ELSE regexp_replace(
                        regexp_replace(msg, '\\s*\\|\\s*',
                                       chr(10) || '- ', 'g'),
                        '(?i)<?(https?://[^\\s<>)]+)>?', '[\\1](\\1)', 'g')
               END AS processed
        FROM m
    """

    sql["file_size_report"] = """
        SELECT doc_id,
               CASE
                 WHEN n_chars < 1024 THEN CAST(n_chars AS VARCHAR) || ' B'
                 WHEN n_chars < 1048576 THEN
                   CAST(CAST(FLOOR(n_chars * 10.0 / 1024.0 + 0.5) AS BIGINT)
                        // 10 AS VARCHAR)
                   || '.' ||
                   CAST(CAST(FLOOR(n_chars * 10.0 / 1024.0 + 0.5) AS BIGINT)
                        % 10 AS VARCHAR) || ' KB'
                 ELSE
                   CAST(CAST(FLOOR(n_chars * 10.0 / 1048576.0 + 0.5) AS BIGINT)
                        // 10 AS VARCHAR)
                   || '.' ||
                   CAST(CAST(FLOOR(n_chars * 10.0 / 1048576.0 + 0.5) AS BIGINT)
                        % 10 AS VARCHAR) || ' MB'
               END AS size_str,
               GREATEST(1, CAST(CEIL(n_chars * 1024 / 1048576.0 * 0.4)
                                AS BIGINT)) AS est_minutes
        FROM documents
    """

    sql["discovery_datasets"] = """
        SELECT 'n:' || CAST(n_nationkey AS VARCHAR) AS id,
               CASE WHEN n_nationkey % 3 <> 0 THEN n_name
                    WHEN n_nationkey % 6 = 0 THEN lower(n_name)
                    ELSE 'Unnamed Dataset' END AS title,
               'r:' || CAST(n_regionkey AS VARCHAR) AS publisher,
               list_aggregate(list_sort(list_distinct([n_name, 'key' || CAST(n_regionkey AS VARCHAR)])), 'string_agg', ',') AS keywords
        FROM nation
    """

    sql["discovery_search"] = """
        SELECT id, title FROM (
          SELECT 'n:' || CAST(n_nationkey AS VARCHAR) AS id,
                 CASE WHEN n_nationkey % 3 <> 0 THEN n_name
                      WHEN n_nationkey % 6 = 0 THEN lower(n_name)
                      ELSE 'Unnamed Dataset' END AS title,
                 [n_name, 'key' || CAST(n_regionkey AS VARCHAR)] AS kw
          FROM nation
        )
        WHERE strpos(lower(title), 'n_1') > 0
           OR len(list_filter(kw, k -> strpos(lower(k), 'n_1') > 0)) > 0
        ORDER BY id LIMIT 50
    """

    sql["discovery_distributions"] = """
        SELECT 'n:' || CAST(n_nationkey AS VARCHAR) AS dataset_id,
               'd:' || CAST(n_nationkey AS VARCHAR) || '_1' AS id,
               'text/csv' AS format,
               'https://data.example.org/' || CAST(n_nationkey AS VARCHAR) || '.csv' AS accessURL,
               CAST(n_nationkey * 1000 + 24 AS BIGINT) AS byteSize
        FROM nation
        UNION ALL
        SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
               'd:' || CAST(n_nationkey AS VARCHAR) || '_2',
               'f:' || CAST(n_nationkey AS VARCHAR),
               NULL, NULL
        FROM nation
    """

    sql["discovery_formats"] = """
        SELECT 'd:' || CAST(n_nationkey AS VARCHAR) || '_1' AS id,
               'text/csv' AS resolved_format
        FROM nation
        UNION ALL
        SELECT 'd:' || CAST(n_nationkey AS VARCHAR) || '_2',
               CASE WHEN n_nationkey % 2 = 0 THEN 'application/json' ELSE 'JSON' END
        FROM nation
    """

    sql["compatible_distributions"] = """
        SELECT 'd:' || CAST(n_nationkey AS VARCHAR) || '_1' AS id FROM nation
    """

    fmt_values = ", ".join(f"({i}, '{c}')" for i, c in enumerate(_FORMAT_CASES))
    url_values = ", ".join(f"({i}, '{c}')" for i, c in enumerate(_URL_CASES))

    sql["format_normalization"] = f"""
        WITH cases(id, fmt) AS (VALUES {fmt_values})
        SELECT id, fmt,
          CASE
            WHEN ((fmt LIKE '%publications.europa.eu%' OR fmt LIKE '%europa.eu%')
                  AND (fmt LIKE '%CSV%' OR fmt LIKE '%csv%'))
              OR ((fmt LIKE '%w3.org%' OR fmt LIKE '%iana.org%')
                  AND (lower(fmt) LIKE '%csv%' OR lower(fmt) LIKE '%comma-separated%'))
              OR lower(fmt) LIKE '%text/csv%' OR lower(fmt) LIKE '%application/csv%'
              OR fmt LIKE '%#csv%' OR lower(fmt) = 'csv'
              OR fmt LIKE '%/CSV' OR fmt LIKE '%/csv'
            THEN 'csv'
            WHEN ((fmt LIKE '%publications.europa.eu%' OR fmt LIKE '%europa.eu%')
                  AND (fmt LIKE '%JSON%' OR fmt LIKE '%json%'))
              OR ((fmt LIKE '%w3.org%' OR fmt LIKE '%iana.org%')
                  AND lower(fmt) LIKE '%json%')
              OR lower(fmt) LIKE '%application/json%' OR lower(fmt) LIKE '%text/json%'
              OR fmt LIKE '%#json%' OR lower(fmt) = 'json'
              OR fmt LIKE '%/JSON' OR fmt LIKE '%/json'
            THEN 'json'
            ELSE 'unknown' END AS simple,
          CASE
            WHEN lower(trim(fmt)) IN ('csv', 'text/csv', 'application/csv')
              OR lower(trim(fmt)) LIKE '%csv%'
              OR lower(trim(fmt)) LIKE '%comma-separated%'
              OR lower(trim(fmt)) LIKE '%comma separated values%'
              OR lower(trim(fmt)) LIKE '%delimiter-separated%'
              OR lower(trim(fmt)) LIKE '%valores separados por comas%'
            THEN 'csv'
            WHEN lower(trim(fmt)) IN ('json', 'application/json', 'text/json')
              OR lower(trim(fmt)) LIKE '%json%'
              OR lower(trim(fmt)) LIKE '%javascript object notation%'
            THEN 'json'
            ELSE 'unknown' END AS normalized
        FROM cases
    """

    sql["url_format_detection"] = f"""
        WITH cases(id, url) AS (VALUES {url_values})
        SELECT id, url,
          CASE
            WHEN lower(url) LIKE '%.csv' OR lower(url) LIKE '%format=csv%'
              OR lower(url) LIKE '%fmt=csv%' OR lower(url) LIKE '%/csv/%'
              OR lower(url) LIKE '%-csv-%'
              OR (lower(url) LIKE '%/dump/%' AND lower(url) LIKE '%format=csv%')
              OR (lower(url) LIKE '%/api/%' AND lower(url) LIKE '%csv%')
              OR (lower(url) LIKE '%export%' AND lower(url) LIKE '%csv%')
            THEN 'csv'
            WHEN lower(url) LIKE '%.json' OR lower(url) LIKE '%format=json%'
              OR lower(url) LIKE '%fmt=json%' OR lower(url) LIKE '%/json/%'
              OR lower(url) LIKE '%-json-%'
              OR (lower(url) LIKE '%/dump/%' AND lower(url) LIKE '%format=json%')
              OR (lower(url) LIKE '%/api/%' AND lower(url) LIKE '%json%')
              OR (lower(url) LIKE '%export%' AND lower(url) LIKE '%json%')
            THEN 'json'
            ELSE 'unknown' END AS fmt
        FROM cases
    """

    sql["turtle_roundtrip"] = """
        SELECT 'http://ex.org/n' || CAST(n_nationkey AS VARCHAR) AS subject,
               'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
               'http://ex.org/Nation' AS object_value,
               'iri' AS object_type,
               CAST(NULL AS VARCHAR) AS object_datatype,
               CAST(NULL AS VARCHAR) AS object_lang
        FROM nation
        UNION ALL
        SELECT 'http://ex.org/n' || CAST(n_nationkey AS VARCHAR),
               'http://ex.org/name', n_name, 'literal', NULL, 'en'
        FROM nation
        UNION ALL
        SELECT 'http://ex.org/n' || CAST(n_nationkey AS VARCHAR),
               'http://ex.org/key', CAST(n_nationkey AS VARCHAR), 'literal',
               'http://www.w3.org/2001/XMLSchema#integer', NULL
        FROM nation
    """
    # same nation-derived triples as turtle_roundtrip, but through the
    # distributed JSON-LD source (JSON-Lines multi-part dump)
    sql["jsonld_roundtrip"] = """
        SELECT 'http://ex.org/n' || CAST(n_nationkey AS VARCHAR) AS subject,
               'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
               'http://ex.org/Nation' AS object_value,
               'iri' AS object_type,
               CAST(NULL AS VARCHAR) AS object_datatype,
               CAST(NULL AS VARCHAR) AS object_lang
        FROM nation
        UNION ALL
        SELECT 'http://ex.org/n' || CAST(n_nationkey AS VARCHAR),
               'http://ex.org/name', n_name, 'literal', NULL, 'en'
        FROM nation
        UNION ALL
        SELECT 'http://ex.org/n' || CAST(n_nationkey AS VARCHAR),
               'http://ex.org/key', CAST(n_nationkey AS VARCHAR), 'literal',
               'http://www.w3.org/2001/XMLSchema#integer', NULL
        FROM nation
    """
    sql["ntriples_roundtrip"] = """
        SELECT 'http://ex.org/nation/' || CAST(n_nationkey AS VARCHAR) AS subject,
               'http://ex.org/name' AS predicate,
               n_name AS object_value,
               'literal' AS object_type,
               CAST(NULL AS VARCHAR) AS object_datatype,
               'en' AS object_lang
        FROM nation
        UNION ALL
        SELECT 'http://ex.org/nation/' || CAST(n_nationkey AS VARCHAR),
               'http://ex.org/comment',
               'L1' || chr(10) || '"' || n_name || '"' || chr(9) || '\\',
               'literal',
               'http://www.w3.org/2001/XMLSchema#string',
               NULL
        FROM nation
        UNION ALL
        SELECT 'http://ex.org/nation/' || CAST(n_nationkey AS VARCHAR),
               'http://ex.org/key',
               CAST(n_nationkey AS VARCHAR),
               'literal',
               'http://www.w3.org/2001/XMLSchema#integer',
               NULL
        FROM nation
        UNION ALL
        SELECT 'http://ex.org/nation/' || CAST(n_nationkey AS VARCHAR),
               'http://ex.org/region',
               'http://ex.org/region/' || CAST(n_regionkey AS VARCHAR),
               'iri',
               NULL,
               NULL
        FROM nation
    """

    sql["rdf_stats"] = """
        SELECT 'http://www.w3.org/ns/dcat#Dataset' AS entity_type,
               COUNT(DISTINCT n_nationkey) AS n FROM nation
        UNION ALL
        SELECT 'http://www.w3.org/ns/dcat#DataService',
               COUNT(DISTINCT n_nationkey) FROM nation WHERE n_nationkey % 2 = 0
        UNION ALL
        SELECT 'http://www.w3.org/ns/dcat#Distribution',
               2 * COUNT(DISTINCT n_nationkey) FROM nation
    """

    sql["jsonld_pivot"] = """
        WITH triples AS (
          SELECT 'n:' || CAST(n_nationkey AS VARCHAR) AS subject,
                 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type=http://www.w3.org/ns/dcat#Dataset' AS pv
          FROM nation
          UNION ALL
          SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
                 'http://purl.org/dc/terms/title=' || n_name
          FROM nation WHERE n_nationkey % 3 <> 0
          UNION ALL
          SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
                 'http://xmlns.com/foaf/0.1/name=' || lower(n_name)
          FROM nation WHERE n_nationkey % 6 = 0
          UNION ALL
          SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
                 'http://purl.org/dc/terms/publisher=r:' || CAST(n_regionkey AS VARCHAR)
          FROM nation
          UNION ALL
          SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
                 'http://www.w3.org/ns/dcat#keyword=' || n_name
          FROM nation
          UNION ALL
          SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
                 'http://www.w3.org/ns/dcat#keyword=key' || CAST(n_regionkey AS VARCHAR)
          FROM nation
          UNION ALL
          SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
                 'http://www.w3.org/ns/dcat#distribution=d:' || CAST(n_nationkey AS VARCHAR) || '_' || s
          FROM nation, (SELECT UNNEST(['1','2']) AS s)
          UNION ALL
          SELECT 'd:' || CAST(n_nationkey AS VARCHAR) || '_' || s,
                 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type=http://www.w3.org/ns/dcat#Distribution'
          FROM nation, (SELECT UNNEST(['1','2']) AS s)
          UNION ALL
          SELECT 'd:' || CAST(n_nationkey AS VARCHAR) || '_1',
                 'http://purl.org/dc/terms/format=text/csv' FROM nation
          UNION ALL
          SELECT 'd:' || CAST(n_nationkey AS VARCHAR) || '_1',
                 'http://www.w3.org/ns/dcat#accessURL=https://data.example.org/' || CAST(n_nationkey AS VARCHAR) || '.csv'
          FROM nation
          UNION ALL
          SELECT 'd:' || CAST(n_nationkey AS VARCHAR) || '_1',
                 'http://www.w3.org/ns/dcat#byteSize=' || CAST(n_nationkey * 1000 + 24 AS VARCHAR)
          FROM nation
          UNION ALL
          SELECT 'd:' || CAST(n_nationkey AS VARCHAR) || '_2',
                 'http://purl.org/dc/terms/format=f:' || CAST(n_nationkey AS VARCHAR)
          FROM nation
          UNION ALL
          SELECT 'f:' || CAST(n_nationkey AS VARCHAR),
                 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type=http://purl.org/dc/terms/IMT'
          FROM nation
          UNION ALL
          SELECT 'f:' || CAST(n_nationkey AS VARCHAR),
                 'http://www.w3.org/1999/02/22-rdf-syntax-ns#value=application/json'
          FROM nation WHERE n_nationkey % 2 = 0
          UNION ALL
          SELECT 'f:' || CAST(n_nationkey AS VARCHAR),
                 'http://www.w3.org/2000/01/rdf-schema#label=JSON'
          FROM nation
          UNION ALL
          SELECT 'svc:' || CAST(n_nationkey AS VARCHAR),
                 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type=http://www.w3.org/ns/dcat#DataService'
          FROM nation WHERE n_nationkey % 2 = 0
        )
        SELECT subject,
               list_aggregate(list_sort(list(pv)), 'string_agg', '||') AS props
        FROM triples GROUP BY subject
    """

    sql["compact_predicates"] = """
        WITH n AS (SELECT COUNT(*) AS c FROM nation),
             t3 AS (SELECT COUNT(*) AS c FROM nation WHERE n_nationkey % 3 <> 0),
             t6 AS (SELECT COUNT(*) AS c FROM nation WHERE n_nationkey % 6 = 0),
             t2 AS (SELECT COUNT(*) AS c FROM nation WHERE n_nationkey % 2 = 0)
        SELECT 'rdf:type' AS pred, 4 * n.c + t2.c AS n FROM n, t2
        UNION ALL SELECT 'dct:title', t3.c FROM t3
        UNION ALL SELECT 'foaf:name', t6.c FROM t6
        UNION ALL SELECT 'dct:publisher', n.c FROM n
        UNION ALL SELECT 'dcat:keyword', 2 * n.c FROM n
        UNION ALL SELECT 'dcat:distribution', 2 * n.c FROM n
        UNION ALL SELECT 'dct:format', 2 * n.c FROM n
        UNION ALL SELECT 'dcat:accessURL', n.c FROM n
        UNION ALL SELECT 'dcat:byteSize', n.c FROM n
        UNION ALL SELECT 'rdf:value', t2.c FROM t2
        UNION ALL SELECT 'rdfs:label', n.c FROM n
    """

    sql["flatten_report"] = f"""
        WITH v AS (SELECT DISTINCT * FROM {_V} vv)
        SELECT ROW_NUMBER() OVER (ORDER BY
                 CASE resultSeverity WHEN 'Violation' THEN 0 WHEN 'Warning' THEN 1 ELSE 2 END,
                 focusNode, resultPath, value, sourceConstraintComponent) AS id,
               resultSeverity AS severity, focusNode, resultPath, value
        FROM v
    """

    sql["salted_degree"] = """
        WITH t AS (
          SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS subject,
                 -- 11 unconditional triples per customer (type, name,
                 -- segment, acctbal, nation, alias, regdate, balcap,
                 -- label@en, homepage, prefname) + the conditional ones
                 11 + CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END
                    + CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END
                    + CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 0 END
                    + CASE WHEN c_custkey % 6 = 0 THEN 1 ELSE 0 END AS n
          FROM customer
        )
        SELECT subject, CAST(n AS BIGINT) AS n FROM t ORDER BY n DESC, subject LIMIT 10
    """

    sql["byte_identity_failures"] = "SELECT CAST(NULL AS VARCHAR) AS url WHERE 1 = 0"

    # extract_relations (regex/UDF extraction): no sound SQL equivalent —
    # rows-only check (registered at the END of queries()); its strong
    # checks (P/R vs generated expected triples) live in tests/.
    return sql
