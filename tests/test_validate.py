"""Golden-fixture tests for the DataFrame SHACL rule executor.

For each constraint component: one conforming and ≥1 violating fixture,
asserting the exact (focusNode, resultPath, sourceConstraintComponent,
resultSeverity) rows and the conforms flag (SURVEY.md §5.2) — the cases the
reference guide documents as worked examples
(reference src/components/Guide/EducationalContent.tsx:65-91).
"""

from __future__ import annotations

import re
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from shacl_validator_spark.model import (
    SENTINEL_EMPTY_CONTENT,
    SENTINEL_NO_SHAPES,
    SH,
    VIOLATION_SCHEMA,
)
from shacl_validator_spark.operators.validate import validate, validate_report
from shacl_validator_spark.shapes import compile_shapes, profile_shapes_ttl
from shacl_validator_spark.sources import triples_from_turtle

from . import fixtures_data as FX

EX = "http://example.org/data#"
DCAT = "http://www.w3.org/ns/dcat#"
DCT = "http://purl.org/dc/terms/"


@pytest.fixture(scope="module")
def shapes():
    return compile_shapes(profile_shapes_ttl("mini_dcat_ap"))


def run(spark, shapes, ttl):
    triples = triples_from_turtle(spark, ttl, graph="test://fixture")
    report = validate_report(spark, triples, shapes)
    rows = report.results.collect()
    return report, rows


def test_ok_catalog_conforms(spark, shapes):
    report, rows = run(spark, shapes, FX.OK_CATALOG)
    assert report.conforms, [r.asDict() for r in rows]
    assert rows == []


def test_min_count(spark, shapes):
    report, rows = run(spark, shapes, FX.MISSING_DATASET)
    assert not report.conforms
    assert len(rows) == 1
    r = rows[0]
    assert r.focusNode == EX + "catalog"
    assert r.resultPath == DCAT + "dataset"
    assert r.sourceConstraintComponent == SH + "MinCountConstraintComponent"
    assert r.resultSeverity == "Violation"
    # constraint-supplied message is carried through (golden example text)
    assert {m.text for m in r.message} == {"Less than 1 values on dcat:dataset"}


def test_max_count(spark, shapes):
    report, rows = run(spark, shapes, FX.TOO_MANY_TITLES)
    comps = {(r.sourceConstraintComponent, r.focusNode) for r in rows}
    assert (SH + "MaxCountConstraintComponent", EX + "ds1") in comps
    assert all(r.sourceConstraintComponent == SH + "MaxCountConstraintComponent" for r in rows)


def test_pattern_warning(spark, shapes):
    report, rows = run(spark, shapes, FX.BAD_IDENTIFIER)
    assert report.conforms  # warning-only → conforms stays true (A10)
    assert len(rows) == 1
    r = rows[0]
    assert r.focusNode == EX + "ds1"
    assert r.resultPath == DCAT + "identifier"
    assert r.value == "ABC-123"
    assert r.sourceConstraintComponent == SH + "PatternConstraintComponent"
    assert r.resultSeverity == "Warning"


def test_datatype(spark, shapes):
    report, rows = run(spark, shapes, FX.WRONG_DATATYPE)
    assert not report.conforms
    assert len(rows) == 1
    r = rows[0]
    assert r.resultPath == DCT + "issued"
    assert r.sourceConstraintComponent == SH + "DatatypeConstraintComponent"
    assert r.value == "yesterday"


def test_class(spark, shapes):
    report, rows = run(spark, shapes, FX.PUBLISHER_UNTYPED)
    assert not report.conforms
    r = [x for x in rows if x.sourceConstraintComponent == SH + "ClassConstraintComponent"]
    assert len(r) == 1
    assert r[0].focusNode == EX + "ds1"
    assert r[0].value == EX + "mystery"


def test_node_kind(spark, shapes):
    report, rows = run(spark, shapes, FX.LITERAL_ACCESS_URL)
    assert not report.conforms
    comps = {r.sourceConstraintComponent for r in rows}
    assert SH + "NodeKindConstraintComponent" in comps


def test_in_vocab(spark, shapes):
    report, rows = run(spark, shapes, FX.THEME_NOT_IN_VOCAB)
    assert report.conforms  # Info severity only
    assert len(rows) == 1
    assert rows[0].sourceConstraintComponent == SH + "InConstraintComponent"
    assert rows[0].resultSeverity == "Info"
    assert rows[0].value == "http://example.org/not-a-theme"


def test_min_inclusive(spark, shapes):
    report, rows = run(spark, shapes, FX.NEGATIVE_BYTESIZE)
    assert report.conforms  # Warning severity
    assert len(rows) == 1
    assert rows[0].sourceConstraintComponent == SH + "MinInclusiveConstraintComponent"


def test_empty_shapes_sentinel(spark):
    triples = triples_from_turtle(spark, FX.OK_CATALOG)
    report = validate_report(spark, triples, [])
    assert not report.conforms
    rows = report.results.collect()
    assert len(rows) == 1
    assert rows[0].sourceConstraintComponent == SENTINEL_NO_SHAPES


def test_empty_data_sentinel(spark, shapes):
    """An empty parse gets the empty-content sentinel from the one probe
    job that also collects the subclass edges."""
    sc = spark.sparkContext
    triples = triples_from_turtle(spark, "")
    sc.setJobGroup("empty-probe", "empty-probe")
    try:
        report = validate_report(spark, triples, shapes)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("empty-probe")) == 1
    assert not report.conforms
    rows = report.results.collect()
    assert len(rows) == 1
    assert rows[0].sourceConstraintComponent == SENTINEL_EMPTY_CONTENT


def test_sentinels_are_local_relations(spark, shapes):
    """Driver-side sentinel reports plan as a JVM LocalRelation (no
    pickled-RDD scan starting Python workers on every action)."""
    triples = triples_from_turtle(spark, "")
    for results in (
        validate_report(spark, triples, []).results,
        validate_report(spark, triples, shapes).results,
        validate(spark, triples, []),
    ):
        assert results.schema == VIOLATION_SCHEMA
        assert "LocalRelation" in results._jdf.queryExecution().optimizedPlan().toString()


def test_report_results_materialized_once(spark, shapes):
    """validate_report runs the validation plan once: its results are a
    pinned localCheckpoint scan, so the Turtle, summary and CSV consumers
    never re-plan the validation joins.  Rows, conforms and the violation
    count equal those of the lazy validate() plan."""
    triples = triples_from_turtle(spark, FX.MISSING_DATASET, graph="test://fixture")
    report = validate_report(spark, triples, shapes)
    assert "Join" not in report.results._jdf.queryExecution().optimizedPlan().toString()

    def key(r):
        return (*r[:3], tuple(r.message or ()), *r[4:])

    lazy = validate(spark, triples, shapes)
    assert set(map(key, report.results.collect())) == set(map(key, lazy.collect()))
    n_viol = lazy.filter(F.col("resultSeverity") == "Violation").count()
    assert report.total_violations == n_viol == 1
    assert report.conforms is False


def test_default_message_fallback(spark, shapes):
    """Constraints without sh:message get the reference default
    (SHACLValidationService.ts:276-292)."""
    _, rows = run(spark, shapes, FX.WRONG_DATATYPE)
    msg = rows[0].message[0]
    assert msg.text.startswith("Validation issue at ")
    assert DCT + "issued" in msg.text


def test_validate_is_pure_dataframe(spark, shapes):
    """No Python UDFs in the validation plan (BASELINE.json: 'no per-row
    Python anywhere')."""
    triples = triples_from_turtle(spark, FX.OK_CATALOG)
    plan = validate(spark, triples, shapes)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


EXT_SHAPES_TTL = """
@prefix sh:  <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex:  <http://example.org/data#> .

ex:ThingShape a sh:NodeShape ;
    sh:targetClass ex:Thing ;
    sh:property [ sh:path ex:score ; sh:minExclusive 0 ; sh:severity sh:Violation ] ;
    sh:property [ sh:path ex:score ; sh:maxExclusive 100 ; sh:severity sh:Violation ] ;
    sh:property [ sh:path ex:score ; sh:lessThan ex:cap ; sh:severity sh:Violation ] ;
    sh:property [ sh:path ex:label ; sh:uniqueLang true ; sh:severity sh:Warning ] ;
    sh:property [ sh:path ex:label ; sh:languageIn ( "en" "es" ) ; sh:severity sh:Info ] ;
    sh:property [ sh:path ex:code ; sh:minLength 3 ; sh:maxLength 5 ; sh:severity sh:Violation ] ;
    sh:property [ sh:path ex:kind ; sh:hasValue "good" ; sh:severity sh:Violation ] ;
    sh:property [ sh:path ex:when ;
        sh:or ( [ sh:datatype xsd:date ] [ sh:datatype xsd:dateTime ] ) ;
        sh:severity sh:Violation ] .
"""

EXT_OK = """
@prefix ex:  <http://example.org/data#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:t1 a ex:Thing ;
    ex:score "50"^^xsd:integer ;
    ex:cap "60"^^xsd:integer ;
    ex:label "hello"@en , "hola"@es ;
    ex:code "abcd" ;
    ex:kind "good" ;
    ex:when "2024-05-01"^^xsd:date , "2024-05-01T10:00:00"^^xsd:dateTime .
"""

EXT_BAD = """
@prefix ex:  <http://example.org/data#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:t2 a ex:Thing ;
    ex:score "0"^^xsd:integer ;
    ex:cap "0"^^xsd:integer ;
    ex:label "one"@en , "two"@en , "eins"@de ;
    ex:code "toolongcode" ;
    ex:kind "bad" ;
    ex:when "sometime"^^xsd:date .
"""


def test_extended_components_conforming(spark):
    ext = compile_shapes(EXT_SHAPES_TTL)
    report, rows = run(spark, ext, EXT_OK)
    assert report.conforms, [r.asDict() for r in rows]
    assert rows == []


def test_extended_components_violating(spark):
    """minExclusive (0 <= 0), lessThan (0 >= cap 0), uniqueLang (two @en),
    languageIn (@de), maxLength (11 > 5), hasValue (no 'good') all fire on
    the engineered fixture; maxExclusive does not (0 < 100)."""
    ext = compile_shapes(EXT_SHAPES_TTL)
    report, rows = run(spark, ext, EXT_BAD)
    assert not report.conforms
    comps = {r.sourceConstraintComponent.rsplit("#", 1)[-1] for r in rows}
    assert comps == {
        "OrConstraintComponent",
        "MinExclusiveConstraintComponent",
        "LessThanConstraintComponent",
        "UniqueLangConstraintComponent",
        "LanguageInConstraintComponent",
        "MaxLengthConstraintComponent",
        "HasValueConstraintComponent",
    }
    ul = [r for r in rows if "UniqueLang" in r.sourceConstraintComponent]
    assert len(ul) == 1 and ul[0].value == "en" and ul[0].resultSeverity == "Warning"
    li = [r for r in rows if "LanguageIn" in r.sourceConstraintComponent]
    assert len(li) == 1 and li[0].value == "eins"
    hv = [r for r in rows if "HasValue" in r.sourceConstraintComponent]
    assert len(hv) == 1 and hv[0].focusNode.endswith("t2") and hv[0].value is None


_BROADCAST_THRESHOLDS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


@contextmanager
def no_auto_broadcast(spark):
    """Disable Spark's own size-based broadcast choice (planner and AQE),
    restoring the previous settings afterwards: every join the validator
    leaves unhinted then runs as a shuffle join."""
    old = {k: spark.conf.get(k, None) for k in _BROADCAST_THRESHOLDS}
    for k in _BROADCAST_THRESHOLDS:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_data_joins_unhinted_and_threshold_invariant(spark, shapes):
    """Joins against data-derived relations (targets, node classes) carry
    no broadcast hint — Spark's planner and AQE size them, so no relation
    that grows with the corpus is ever forced into a BroadcastExchange.
    Results must not depend on Spark's broadcast thresholds: the all-shuffle
    plan (thresholds disabled) and the default plan agree exactly."""
    before = [spark.conf.get(k, None) for k in _BROADCAST_THRESHOLDS]
    triples = triples_from_turtle(spark, FX.PUBLISHER_UNTYPED, graph="test://fixture")
    spark.catalog.clearCache()  # earlier tests' cached relations would substitute subtrees
    df = validate(spark, triples, shapes)
    opt = df._jdf.queryExecution().optimizedPlan().toString().lower()
    semi = [ln for ln in opt.splitlines() if "leftsemi" in ln]
    assert semi and all("broadcast" not in ln for ln in semi)
    assert "strategy=broadcast" not in opt

    key = lambda r: (  # noqa: E731
        r.focusNode, r.resultPath, r.value, r.resultSeverity, r.sourceConstraintComponent
    )
    default_rows = sorted(map(key, df.collect()))
    with no_auto_broadcast(spark):
        shuffled = validate(spark, triples, shapes)
        shuffle_rows = sorted(map(key, shuffled.collect()))
        executed = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in executed
    assert shuffle_rows == default_rows and default_rows
    assert [spark.conf.get(k, None) for k in _BROADCAST_THRESHOLDS] == before


def test_many_constraints_literal_maps(spark):
    """The literal-embedded constraint maps must handle realistically large
    profiles (DCAT-AP-scale: hundreds of property shapes) without blowing
    codegen — 300 constraints over one small graph."""
    from shacl_validator_spark.operators.validate import validate

    rows = []
    for i in range(300):
        rows.append(
            {
                "constraint_id": i,
                "shape_iri": f"ex:S{i % 20}",
                "target_class": "ex:T",
                "path": f"ex:p{i % 50}",
                "path_steps": [[f"ex:p{i % 50}"]],
                "min_count": 1 if i % 3 == 0 else None,
                "max_count": None,
                "datatype": None,
                "node_kind": "Literal" if i % 5 == 0 else None,
                "pattern": "^v[0-9]+$" if i % 7 == 0 else None,
                "flags": None,
                "in_list": None,
                "class_iri": None,
                "min_inclusive": None,
                "max_inclusive": None,
                "severity": "Violation",
                "messages": [{"text": f"m{i}", "lang": "en"}],
                "foaf_page": None,
            }
        )
    triples = spark.createDataFrame(
        [
            ("ex:a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "ex:T",
             "iri", None, None, "g"),
            ("ex:a", "ex:p0", "v1", "literal", None, None, "g"),
            ("ex:a", "ex:p0", "xxx", "literal", None, None, "g"),
        ],
        "subject string, predicate string, object_value string, object_type string, "
        "object_datatype string, object_lang string, graph string",
    )
    out = validate(spark, triples, rows)
    comps = {r.sourceConstraintComponent.rsplit("#")[-1] for r in out.collect()}
    # p0 satisfied for its min-count constraints; the other 49 paths have
    # zero values → MinCount fires; p0's 'xxx' value breaks constraint 0's
    # ^v[0-9]+$ pattern
    assert "MinCountConstraintComponent" in comps
    assert "PatternConstraintComponent" in comps
    assert out.count() > 50


def test_hub_focus_node_bounded_rows(spark):
    """VERDICT r2 #1 de-skew criteria: one focus node with 10^6 violating
    values must validate without assembling a per-focus hit array — value
    hits explode from the per-value cascade level, so no aggregation buffer
    ever holds more than one row's worth of hits."""
    from pyspark.sql import functions as F

    from shacl_validator_spark.operators.validate import validate

    n = 1_000_000
    triples = spark.range(n).select(
        F.lit("hub:1").alias("subject"),
        F.lit("ex:v").alias("predicate"),
        F.concat(F.lit("bad"), F.col("id").cast("string")).alias("object_value"),
        F.lit("literal").alias("object_type"),
        F.lit(None).cast("string").alias("object_datatype"),
        F.lit(None).cast("string").alias("object_lang"),
        F.lit("g").alias("graph"),
    )
    rows = [
        {
            "constraint_id": 1,
            "shape_iri": "ex:HubShape",
            "target_subjects_of": "ex:v",
            "path": "ex:v",
            "path_steps": [["ex:v"]],
            "pattern": "^good",
            "severity": "Violation",
        }
    ]
    with no_auto_broadcast(spark):
        out = validate(spark, triples, rows)
        assert out.count() == n


def test_hub_value_node_through_sh_node(spark):
    """A hub value node referenced through sh:node by 200,000 focus nodes:
    the nested pass targets the hub once per referencing triple (no dedup
    shuffle), and the all-shuffle plan still gives one Node result per
    focus node while the hub does not conform, and none once it does."""
    from pyspark.sql import functions as F

    from shacl_validator_spark.operators.validate import validate

    n = 200_000
    refs = spark.range(n).select(
        F.concat(F.lit("ex:s"), F.col("id").cast("string")).alias("subject"),
        F.lit("ex:ref").alias("predicate"),
        F.lit("hub:1").alias("object_value"),
        F.lit("iri").alias("object_type"),
        F.lit(None).cast("string").alias("object_datatype"),
        F.lit(None).cast("string").alias("object_lang"),
        F.lit("g").alias("graph"),
    )
    name = spark.createDataFrame(
        [("hub:1", "ex:name", "Hub", "literal", None, None, "g")], refs.schema
    )
    rows = [
        {
            "constraint_id": 1,
            "shape_iri": "ex:RefShape",
            "target_subjects_of": "ex:ref",
            "path": "ex:ref",
            "path_steps": [["ex:ref"]],
            "node_branch": {"node_ref": "N"},
            "severity": "Violation",
        },
        {
            "constraint_id": 2,
            "shape_iri": "ex:N",
            "nested_under": "N",
            "path": "ex:name",
            "path_steps": [["ex:name"]],
            "min_count": 1,
            "severity": "Violation",
        },
    ]
    with no_auto_broadcast(spark):
        out = validate(spark, refs, rows)
        comps = out.groupBy("sourceConstraintComponent").count().collect()
        assert [(r[0].rsplit("#", 1)[-1], r[1]) for r in comps] == [
            ("NodeConstraintComponent", n)
        ]
        assert validate(spark, refs.unionByName(name), rows).count() == 0


def test_plan_build_expression_cache(spark, shapes):
    """r4 (VERDICT r3 #8): the input-independent check expressions are
    compiled once per constraint-rows content and reused across plan
    rebuilds (bench reps, streaming micro-batches) — pure cache hits on
    re-validation, and the warm rebuild must not be slower than cold."""
    import time
    from importlib import import_module

    # operators/__init__ re-exports the validate FUNCTION under the same
    # name — fetch the module itself for its cache
    vmod = import_module("shacl_validator_spark.operators.validate")

    triples = triples_from_turtle(spark, FX.OK_CATALOG, graph="t")
    vmod._EXPR_CACHE.clear()
    t0 = time.time()
    first = validate(spark, triples, shapes)
    cold = time.time() - t0
    n_entries = len(vmod._EXPR_CACHE)
    assert n_entries >= 1
    t0 = time.time()
    for _ in range(2):
        again = validate(spark, triples, shapes)
    warm = (time.time() - t0) / 2
    # pure hits: no new cache entries for the same rows
    assert len(vmod._EXPR_CACHE) == n_entries
    # reused expressions produce the identical result
    key = lambda r: (  # noqa: E731
        r.focusNode, r.resultPath, r.value, r.sourceConstraintComponent
    )
    assert sorted(map(key, first.collect())) == sorted(map(key, again.collect()))
    # soft timing check (generous: host noise) — warm must not exceed cold
    assert warm < cold * 1.5, (cold, warm)


def test_expr_caches_cleared_on_gateway_change(spark, monkeypatch):
    """ADVICE r4: the Column-expression caches (py4j-backed trees) must be
    dropped when the JVM gateway identity changes — a stale gateway would
    leave every cached Column a dead reference with no recovery path."""
    import importlib

    vmod = importlib.import_module("shacl_validator_spark.operators.validate")

    vmod._expr_caches_fresh()  # prime the gateway sentinel
    vmod._CID_MAP_CACHE["probe"] = object()
    vmod._EXPR_CACHE["probe"] = object()
    vmod._MESSAGE_COL.append(object())
    # same gateway: caches survive
    vmod._expr_caches_fresh()
    assert "probe" in vmod._CID_MAP_CACHE
    # simulate a recycled gateway
    vmod._GATEWAY_REF[:] = [object()]
    vmod._expr_caches_fresh()
    assert "probe" not in vmod._CID_MAP_CACHE
    assert "probe" not in vmod._EXPR_CACHE
    assert vmod._MESSAGE_COL == []


MULTI_SHAPES_TTL = """
@prefix sh:  <http://www.w3.org/ns/shacl#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix ex:  <http://example.org/data#> .

ex:AShape a sh:NodeShape ;
    sh:targetClass ex:A ;
    sh:targetNode ex:n ;
    sh:closed true ;
    sh:ignoredProperties ( rdf:type ) ;
    sh:property [ sh:path ex:p ; sh:minCount 2 ] ;
    sh:property [ sh:path ex:q ; sh:maxCount 1 ] ;
    sh:property [ sh:path ex:r ; sh:class ex:C ] ;
    sh:property [ sh:path ex:title ; sh:uniqueLang true ] ;
    sh:property [ sh:path ex:flag ] ;
    sh:property [ sh:path ( ex:r ex:s ) ; sh:minCount 1 ] ;
    sh:sparql [
        sh:message "flagged"@en ;
        sh:select \"\"\"
            SELECT $this ?value WHERE {
                $this <http://example.org/data#flag> ?value .
                FILTER(?value = "bad")
            }
        \"\"\" ;
    ] .
"""

MULTI_DATA_TTL = """
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix ex:   <http://example.org/data#> .

ex:B rdfs:subClassOf ex:A .
ex:n a ex:A , ex:B ;
    ex:p "only one" ;
    ex:q "q1" , "q2" ;
    ex:r ex:untyped ;
    ex:title "one"@en , "two"@EN , "uno"@es ;
    ex:flag "bad" ;
    ex:extra "outside the closed shape" .
"""


def test_target_multiplicity_keeps_set_semantics(spark):
    """A focus node targeted many times for one constraint — its triples
    asserted in two named graphs, typed as ex:A and as a subclass of ex:A
    (rdfs entailment), and hit by sh:targetClass and sh:targetNode — gives
    the same results as the graph with each triple kept once, and no
    result row repeats: targeting and typing are sets to every consumer,
    including the two that join targets against the triples (sh:closed
    and the sequence-path frontier)."""
    rows = compile_shapes(MULTI_SHAPES_TTL)
    once = triples_from_turtle(spark, MULTI_DATA_TTL, graph="g1")
    twice = once.unionByName(triples_from_turtle(spark, MULTI_DATA_TTL, graph="g2"))

    def key(r):
        return (*r[:3], tuple(r.message or ()), *r[4:])

    got_once = [key(r) for r in validate(spark, once, rows, entailment="rdfs").collect()]
    got_twice = [key(r) for r in validate(spark, twice, rows, entailment="rdfs").collect()]
    assert len(set(got_twice)) == len(got_twice)
    assert len(set(got_once)) == len(got_once)
    assert set(got_twice) == set(got_once)
    comps = sorted(c.rsplit("#", 1)[-1] for _, _, _, _, _, c, *_ in got_twice)
    assert comps == sorted(
        f"{c}ConstraintComponent"
        for c in (
            "MinCount", "MinCount", "MaxCount", "Class", "UniqueLang", "Closed", "SPARQL"
        )
    ), comps
    ul = [k for k in got_twice if k[5].endswith("UniqueLangConstraintComponent")]
    assert [k[2] for k in ul] == ["en"]


def _dcat_ap_es_nonconforming() -> str:
    """The DCAT-AP-ES sample with one Violation of MinCount and UniqueLang
    each and an In Warning on its dataset."""
    from shacl_validator_spark.shapes.suites import SAMPLE_CATALOGS

    ttl = (
        SAMPLE_CATALOGS["dcat_ap_es"]
        .replace('dct:description "Mediciones horarias de calidad del aire"@es ;\n', "")
        .replace(
            "<http://publications.europa.eu/resource/authority/data-theme/ENVI>",
            "<https://example.org/not-a-theme>",
        )
        .replace('dct:title "Air quality"@en ;', 'dct:title "Aire"@es ;')
    )
    assert ttl != SAMPLE_CATALOGS["dcat_ap_es"]
    return ttl


# Spark jobs per warm request on the test session (local[4], 4 shuffle
# partitions): the conforming sample, and _dcat_ap_es_nonconforming()
SAMPLE_JOB_BUDGET = 7
BAD_JOB_BUDGET = 10


def test_validate_report_job_budget(spark):
    """Spark jobs per warm catalog request (validate_report +
    report_to_turtle + severity_summary) stay within the budget the
    per-request plan reaches: triples pinned as one partition (no shuffle
    in the validation plan), one probe job for emptiness and subclass
    edges, the violation count observed on the pin, and a one-partition
    severity sort.  Counted per job group with the status tracker."""
    from shacl_validator_spark.operators.analytics import severity_summary
    from shacl_validator_spark.shapes.profiles import compiled_profile
    from shacl_validator_spark.shapes.suites import SAMPLE_CATALOGS
    from shacl_validator_spark.sources.report_io import report_to_turtle

    rows = compiled_profile("dcat_ap_es")
    sc = spark.sparkContext

    def request(ttl: str, group: str | None) -> tuple[int, bool]:
        triples = triples_from_turtle(spark, ttl)
        if group:
            sc.setJobGroup(group, group)
        try:
            rep = validate_report(spark, triples, rows)
            report_to_turtle(rep.results, rep.conforms, profile="dcat_ap_es")
            severity_summary(rep.results).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group)) if group else 0
        return jobs, rep.conforms

    bad = _dcat_ap_es_nonconforming()
    for ttl in (SAMPLE_CATALOGS["dcat_ap_es"], bad):  # warm: codegen, caches
        request(ttl, None)
    sample_jobs, sample_ok = request(SAMPLE_CATALOGS["dcat_ap_es"], "budget-sample")
    bad_jobs, bad_ok = request(bad, "budget-bad")
    assert sample_ok and not bad_ok
    assert sample_jobs <= SAMPLE_JOB_BUDGET, sample_jobs
    assert bad_jobs <= BAD_JOB_BUDGET, bad_jobs


NESTED_QUALIFIED_SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/s#> .
ex:PersonShape a sh:NodeShape ; sh:targetClass ex:Person ;
    sh:property [ sh:path ex:address ; sh:node ex:AddressShape ] ;
    sh:property [ sh:path ex:child ;
        sh:qualifiedValueShape [ sh:class ex:Adult ] ;
        sh:qualifiedMinCount 1 ; sh:qualifiedMaxCount 1 ] .
ex:AddressShape a sh:NodeShape ;
    sh:property [ sh:path ex:city ; sh:minCount 1 ] ;
    sh:property [ sh:path ex:zip ; sh:pattern "^[0-9]{5}$" ;
        sh:severity sh:Warning ] .
"""

NESTED_QUALIFIED_DATA = """
@prefix ex: <http://example.org/s#> .
@prefix d: <http://example.org/d#> .
d:p1 a ex:Person ; ex:address d:a1 ; ex:child d:c1 .
d:a1 ex:city "Madrid" ; ex:zip "28001" .
d:c1 a ex:Adult .
d:p2 a ex:Person ; ex:address d:a2 ; ex:child d:c2, d:c3 .
d:a2 ex:zip "bad" .
d:c2 a ex:Adult . d:c3 a ex:Adult .
d:p3 a ex:Person ; ex:address d:a3 .
d:a3 ex:city "Lugo" ; ex:zip "2700" .
"""


def _layout_cases():
    from shacl_validator_spark.shapes.profiles import compiled_profile
    from shacl_validator_spark.shapes.suites import SAMPLE_CATALOGS

    es = compiled_profile("dcat_ap_es")
    return {
        "sample": (SAMPLE_CATALOGS["dcat_ap_es"], es),
        "nonconforming": (_dcat_ap_es_nonconforming(), es),
        "nested_qualified": (NESTED_QUALIFIED_DATA, compile_shapes(NESTED_QUALIFIED_SHAPES)),
    }


@pytest.mark.parametrize("case", ["sample", "nonconforming", "nested_qualified"])
def test_report_independent_of_triples_layout(spark, case):
    """The same driver-parsed rows pinned as one partition (the loaders'
    layout), as the default layout (one partition per core or Arrow batch)
    and repartitioned to 8 give the same report:
    results, conforms, violation count, summary and Turtle text."""
    from shacl_validator_spark.local_df import local_df
    from shacl_validator_spark.model import TRIPLE_SCHEMA
    from shacl_validator_spark.operators.analytics import severity_summary
    from shacl_validator_spark.sources.report_io import report_to_turtle
    from shacl_validator_spark.sources.turtle import _rows_from_text

    ttl, rows = _layout_cases()[case]
    parsed = local_df(spark, list(dict.fromkeys(_rows_from_text(ttl, "_:b", None))), TRIPLE_SCHEMA)
    layouts = {
        1: triples_from_turtle(spark, ttl),
        spark.sparkContext.defaultParallelism: parsed.localCheckpoint(eager=True),
        8: parsed.repartition(8).localCheckpoint(eager=True),
    }

    def key(r):
        return (*r[:3], tuple(r.message or ()), *r[4:])

    reports = []
    for n, triples in layouts.items():
        assert triples.rdd.getNumPartitions() == n
        rep = validate_report(spark, triples, rows)
        turtle = report_to_turtle(rep.results, rep.conforms)
        reports.append(
            (
                sorted(map(key, rep.results.collect())),
                rep.conforms,
                rep.total_violations,
                [tuple(r) for r in severity_summary(rep.results).collect()],
                sorted(re.sub(r"_:r\d+", "_:r", line) for line in turtle.splitlines()),
            )
        )
    assert len(layouts) == 3 and reports[1:] == reports[:1] * 2
    assert reports[0][1] is (case == "sample")
    if case == "nested_qualified":
        comps = sorted(k[5].rsplit("#", 1)[-1] for k in reports[0][0])
        assert comps == [
            "NodeConstraintComponent",
            "NodeConstraintComponent",
            "QualifiedMaxCountConstraintComponent",
            "QualifiedMinCountConstraintComponent",
        ], comps


def test_catalog_request_plan_has_no_shuffle(spark):
    """A one-partition catalog needs no shuffle: the executed (AQE final)
    plan of a warm non-conforming request has broadcast stages only."""
    from shacl_validator_spark.shapes.profiles import compiled_profile

    rows = compiled_profile("dcat_ap_es")
    triples = triples_from_turtle(spark, _dcat_ap_es_nonconforming())
    validate(spark, triples, rows).collect()  # warm
    results = validate(spark, triples, rows)
    assert len(results.collect()) > 0
    plan = results._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastQueryStage" in plan
    assert "ShuffleQueryStage" not in plan, plan
    assert not re.search(
        r"Exchange (hashpartitioning|rangepartitioning|RoundRobin|SinglePartition)", plan
    ), plan


def test_conforming_sample_observed_count(spark):
    """The violation count read from the pin's observed metrics: the
    conforming sample (an empty result) reports 0, and conforms."""
    from shacl_validator_spark.shapes.profiles import compiled_profile
    from shacl_validator_spark.shapes.suites import SAMPLE_CATALOGS

    rep = validate_report(
        spark,
        triples_from_turtle(spark, SAMPLE_CATALOGS["dcat_ap_es"]),
        compiled_profile("dcat_ap_es"),
    )
    assert rep.conforms is True
    assert rep.total_violations == 0


def test_validate_report_counts_when_metrics_never_arrive(spark, monkeypatch):
    """If Observation.get blocks (a plan that lost its CollectMetrics
    node), validate_report gives up after the bounded wait, counts the
    pinned rows instead and returns the same report."""
    import threading

    from pyspark.sql import Observation

    from shacl_validator_spark import session
    from shacl_validator_spark.shapes.profiles import compiled_profile

    rows = compiled_profile("dcat_ap_es")
    triples = triples_from_turtle(spark, _dcat_ap_es_nonconforming())
    want = validate_report(spark, triples, rows)

    release = threading.Event()
    monkeypatch.setattr(Observation, "get", property(lambda self: release.wait() and {}))
    monkeypatch.setattr(session, "OBSERVATION_WAIT_S", 0.1)
    try:
        got = validate_report(spark, triples, rows)
    finally:
        release.set()

    def key(r):
        return (*r[:3], tuple(r.message or ()), *r[4:])

    assert (got.conforms, got.total_violations) == (want.conforms, want.total_violations)
    assert want.total_violations > 0
    assert sorted(map(key, got.results.collect())) == sorted(
        map(key, want.results.collect())
    )


def test_severity_summary_sorts_in_one_partition(spark):
    """At most one row per severity: the sort needs no range partitioning,
    and rows come in Violation, Warning, Info order."""
    from shacl_validator_spark.operators.analytics import severity_summary

    sev = ["Info", "Warning", "Violation", "Info", "Warning", "Info"]
    results = spark.createDataFrame(
        [(f"n{i}", None, None, None, s, "c", "s", None) for i, s in enumerate(sev)],
        VIOLATION_SCHEMA,
    ).repartition(4)
    summary = severity_summary(results)
    assert [tuple(r) for r in summary.collect()] == [
        ("Violation", 1), ("Warning", 2), ("Info", 3)
    ]
    plan = summary._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "rangepartitioning" not in plan.lower(), plan
