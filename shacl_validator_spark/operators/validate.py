"""SHACL rule executor: constraint table × triples table → violations table.

This replaces the reference's entire ``shacl-engine`` dependency
(reference src/services/SHACLValidationService.ts:398-408) with pure
DataFrame operations — the central design decision of SURVEY.md §2.10:
validation compiles to joins and aggregations, no per-row Python anywhere.

Scale notes (the plan that must survive 100 TB):
- the constraint table is always KBs → it never becomes a join side: every
  predicate/class → constraint lookup, check facet and result-metadata
  field compiles to a literal map or when-chain evaluated map-side;
- targeting (`sh:targetClass`) is one scan of the type sub-relation with
  NO dedup shuffle: every consumer of the target and type relations is
  set-valued (semi-joins, ``collect_set``, the final result-identity
  dedup), so repeated (constraint, focus) rows cost nothing but rows;
  value lookup is one scan of the triples table exploded through the
  predicate map; the single big-big join is values ⋉ targets on
  ``(constraint_id, focusNode)``;
- nested shapes (sh:node, logical and qualified branches) run through the
  same evaluator one level down, targeted at the referencing constraints'
  value nodes; that level skips the values ⋉ targets join and evaluates
  every value row of its predicates — a superset that is harmless because
  the nested targets hold every value node a referencing constraint can
  read a flag for;
- every join against a data-derived relation (targets, node classes,
  nested-shape offenders, lessThan minima) carries NO hint: Spark sizes it
  from plan statistics (``autoBroadcastJoinThreshold``) and AQE from
  runtime shuffle sizes, with skew-join splitting on hub focus nodes;
- minCount uses the **targets-side left join** so focus nodes with zero
  values are detected (the classic join-SHACL bug, SURVEY.md §7.3);
- counts use map-side partial aggregation (plain ``groupBy().agg``).

Violation rows reproduce the reference's ``sh:ValidationResult`` fields
(src/types.ts:27-39): focusNode, resultPath, value, message[],
resultSeverity, sourceConstraintComponent, sourceShape.
"""

from __future__ import annotations

from contextvars import ContextVar
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..local_df import local_df
from ..model import (
    RDF_TYPE,
    SENTINEL_EMPTY_CONTENT,
    SENTINEL_NO_SHAPES,
    SEVERITY_VIOLATION,
    SH,
    VIOLATION_COLUMNS,
    VIOLATION_SCHEMA,
)
from ..session import observed_metrics
from ..shapes.compiler import MAX_NESTING_DEPTH, PATH_DEPTH, _branch_refs, _branches

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
RDFS_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"

# rdfs:subClassOf edges are SCHEMA-sized (classes, not instances) even on a
# 100-TB corpus; below this many edges the transitive closure is computed
# driver-side (one bounded collect), above it a log-squaring distributed
# closure takes over.
SUBCLASS_EDGE_CAP = 500_000

# SPARQL '<' comparison domains for sh:lessThan / sh:lessThanOrEquals,
# keyed by EFFECTIVE datatype (plain literal ≡ xsd:string; lang-tagged
# literals have no '<' operator mapping).  Lexically-invalid typed
# literals and every other datatype are non-comparable ('bad') — a
# comparison failure, reported as a violation.
_LT_NUMERIC_DT = tuple(
    XSD + t
    for t in (
        "integer", "decimal", "double", "float", "long", "int", "short",
        "byte", "nonNegativeInteger", "nonPositiveInteger",
        "negativeInteger", "positiveInteger", "unsignedLong", "unsignedInt",
        "unsignedShort", "unsignedByte",
    )
)
_LT_TEMPORAL_DT = (XSD + "dateTime", XSD + "date")


def _lt_kind() -> F.Column:
    """SPARQL-'<' comparison domain of the current value row: 'num', 'ts',
    'str', or 'bad' (non-comparable).  The domain follows the DECLARED
    effective datatype, not lexical parseability — "5"^^xsd:string is a
    string, "x"^^xsd:integer is non-comparable."""
    eff = F.coalesce(F.col("object_datatype"), F.lit(XSD + "string"))
    num = F.col("object_value").try_cast("double")
    ts = F.try_to_timestamp(F.col("object_value"))
    return (
        F.when(F.col("object_type") != "literal", F.lit("bad"))
        .when(F.col("object_lang").isNotNull(), F.lit("bad"))
        .when(
            eff.isin(*_LT_NUMERIC_DT),
            F.when(num.isNotNull(), F.lit("num")).otherwise(F.lit("bad")),
        )
        .when(
            eff.isin(*_LT_TEMPORAL_DT),
            F.when(ts.isNotNull(), F.lit("ts")).otherwise(F.lit("bad")),
        )
        .when(eff == XSD + "string", F.lit("str"))
        .otherwise(F.lit("bad"))
    )


_NODE_KIND_SETS = {
    "IRI": ["iri"],
    "Literal": ["literal"],
    "BlankNode": ["bnode"],
    "BlankNodeOrIRI": ["bnode", "iri"],
    "BlankNodeOrLiteral": ["bnode", "literal"],
    "IRIOrLiteral": ["iri", "literal"],
}


def _component(name: str) -> str:
    return SH + name + "ConstraintComponent"


_CID_MAP_CACHE: dict = {}
_GATEWAY_REF: list = []


def _expr_caches_fresh() -> None:
    """Guard the Column-expression caches against a recycled JVM gateway
    (ADVICE r4): _CID_MAP_CACHE / _MESSAGE_COL / _EXPR_CACHE memoize
    py4j-backed expression trees, which survive spark.stop() within one
    process but die if the gateway itself is torn down (embedding apps,
    Spark Connect restarts).  The entry-point caches
    already key on session identity; these are session-agnostic by design
    (expressions are reusable across sessions on ONE gateway), so the
    correct scope is the gateway: clear them whenever it changes."""
    from pyspark import SparkContext

    gw = getattr(SparkContext, "_gateway", None)
    if not _GATEWAY_REF or _GATEWAY_REF[0] is not gw:
        _CID_MAP_CACHE.clear()
        _MESSAGE_COL.clear()
        _EXPR_CACHE.clear()
        _GATEWAY_REF[:] = [gw]


def _cid_map(mapping: dict[str, list[int]]) -> F.Column:
    """Literal map key → array<constraint_id>.  Memoized: building the map
    costs ~90 ms of py4j per call for a profile-sized suite, and the same
    mapping recurs on every rebuild of the same suite (bench reps,
    streaming micro-batches); Column objects are unresolved expression
    trees, safely shared across plans."""
    _expr_caches_fresh()
    key = tuple(sorted((k, tuple(sorted(v))) for k, v in mapping.items()))
    col = _CID_MAP_CACHE.get(key)
    if col is None:
        col = F.create_map(
            *[
                x
                for k, cids in sorted(mapping.items())
                for x in (
                    F.lit(k),
                    F.array(*[F.lit(c).cast("long") for c in sorted(cids)]),
                )
            ]
        )
        if len(_CID_MAP_CACHE) >= 256:
            _CID_MAP_CACHE.pop(next(iter(_CID_MAP_CACHE)))
        _CID_MAP_CACHE[key] = col
    return col


# Facet attachment history: round 1 embedded ALL facets as literal
# create_map structs (plan-size blowup on the corpus-sized value stream);
# rounds 2-4 used a broadcast facet-table join per branch (each one an AQE
# broadcast job with a driver collect — ~10 jobs per report plan); r5
# compiles result metadata and per-focus counting facets to literal
# when-chains on the VIOLATION-sized streams only (arts["meta_cols"] in
# _compiled_checks) — no broadcast jobs, bounded plan size, and the
# corpus-sized stream still carries nothing but the six term columns.


_MESSAGE_COL: list = []


def _message_col() -> F.Column:
    """Constraint messages, else the reference's default message —
    ``Validation issue at {path} with value {v}``
    (SHACLValidationService.ts:276-292).  Memoized (no inputs, ~10 py4j
    calls, four call sites per plan build)."""
    _expr_caches_fresh()
    if _MESSAGE_COL:
        return _MESSAGE_COL[0]
    col = F.when(
        F.col("messages").isNotNull() & (F.size("messages") > 0), F.col("messages")
    ).otherwise(
        F.array(
            F.struct(
                F.format_string(
                    "Validation issue at %s with value %s",
                    F.coalesce(F.col("path"), F.lit("(node)")),
                    F.coalesce(F.col("object_value"), F.lit("(none)")),
                ).alias("text"),
                F.lit("en").alias("lang"),
            )
        )
    )
    _MESSAGE_COL.append(col)
    return col


def _as_violations(
    df: DataFrame, component: str | F.Column, value_col: F.Column
) -> DataFrame:
    """Project rule survivors into the sh:ValidationResult column set.

    foafPage rides along as a literal per-constraint lookup — the Spark
    form of the reference's violations ⟕ shapes foaf:page join (J4,
    SHACLValidationService.ts:249-269) without a join or a shuffle.
    """
    return df.select(
        F.col("focusNode"),
        F.col("path").alias("resultPath"),
        value_col.cast("string").alias("value"),
        _message_col().alias("message"),
        F.col("severity").alias("resultSeverity"),
        (component if isinstance(component, F.Column) else F.lit(component))
        .cast("string")
        .alias("sourceConstraintComponent"),
        F.col("shape_iri").alias("sourceShape"),
        F.col("foaf_page").alias("foafPage"),
    )


@dataclass
class ValidationReport:
    """Typed result mirroring the reference's SHACLReport (src/types.ts:41-50),
    with severity *partition* realized as one DataFrame + a severity column
    (SURVEY.md §1.3)."""

    conforms: bool
    # all severities; filter on resultSeverity.  Materialized once by
    # validate_report (localCheckpoint), so every consumer reads the pinned
    # rows; executor loss invalidates them — re-run validate_report then.
    results: DataFrame
    total_violations: int


def _effective_datatype() -> F.Column:
    return F.when(F.col("object_lang").isNotNull(), F.lit(RDF_LANGSTRING)).otherwise(
        F.coalesce(F.col("object_datatype"), F.lit(XSD + "string"))
    )


def _lexically_valid(dt: F.Column | None = None) -> F.Column:
    """Lexical-form validity for common XSD types: the try_cast-null-out
    trick (SURVEY.md §2.8 DatatypeConstraintComponent).  ``try_*`` forms are
    required — Spark 4 runs ANSI mode by default, where a plain cast of an
    invalid lexical form throws instead of yielding NULL.  ``dt`` defaults
    to the constraint's single sh:datatype facet; the sh:or path passes the
    branch datatype (a lambda variable) instead."""
    if dt is None:
        dt = F.col("datatype")
    v = F.col("object_value")
    return (
        F.when(
            # value space check on top of the lexical cast: the XSD
            # lexical+value space of nonNegativeInteger excludes negatives
            dt == XSD + "nonNegativeInteger",
            v.try_cast("long").isNotNull() & (v.try_cast("long") >= 0),
        )
        .when(
            dt.isin(XSD + "integer", XSD + "int", XSD + "long"),
            v.try_cast("long").isNotNull(),
        )
        .when(dt.isin(XSD + "decimal", XSD + "double", XSD + "float"), v.try_cast("double").isNotNull())
        # xsd:boolean's lexical space {true,false,0,1} is case-SENSITIVE
        .when(dt == XSD + "boolean", v.isin("true", "false", "0", "1"))
        .when(dt == XSD + "dateTime", F.try_to_timestamp(v).isNotNull())
        .when(dt == XSD + "date", F.try_to_timestamp(v, F.lit("yyyy-MM-dd")).isNotNull())
        .otherwise(F.lit(True))
    )


def _parse_alt(alt: str) -> tuple[str, str]:
    """Encoded step alternative → (modifiers, predicate IRI).

    Modifiers (compiler ``_path_alt``): ``^`` sh:inversePath, ``*``
    sh:zeroOrMorePath, ``+`` sh:oneOrMorePath, ``?`` sh:zeroOrOnePath."""
    i = 0
    while i < len(alt) and alt[i] in "^*+?":
        i += 1
    return alt[:i], alt[i:]


def _is_plain_single(steps: list[list[str]]) -> bool:
    return len(steps) == 1 and all(_parse_alt(a)[0] == "" for a in steps[0])


def _node_type(col: F.Column) -> F.Column:
    """Term kind of a node identifier string (subjects / focus nodes are
    IRIs or blank nodes; ``_:`` is the bnode marker throughout the model)."""
    return F.when(col.startswith("_:"), F.lit("bnode")).otherwise(F.lit("iri"))


_FRONTIER_COLS = [
    "constraint_id",
    "focusNode",
    "node",
    "object_type",
    "object_datatype",
    "object_lang",
]


def _hop(triples: DataFrame, frontier: DataFrame, alts: list[tuple[str, str]]) -> DataFrame:
    """One path step: frontier nodes → adjacent nodes via the alternative
    predicates.  Forward alternatives join on subject; inverse (``^``) join
    on object and surface the subject (with its derivable term kind).  No
    broadcast hint — the frontier grows with the data and each hop's
    fan-out, so AQE picks broadcast vs shuffle at runtime."""
    fwd = [p for m, p in alts if "^" not in m]
    inv = [p for m, p in alts if "^" in m]
    parts: list[DataFrame] = []
    if fwd:
        h = triples.filter(F.col("predicate").isin(fwd)).select(
            F.col("subject").alias("_hs"),
            F.col("object_value").alias("_hv"),
            F.col("object_type").alias("_ht"),
            F.col("object_datatype").alias("_hd"),
            F.col("object_lang").alias("_hl"),
        )
        parts.append(
            frontier.join(h, frontier["node"] == h["_hs"]).select(
                "constraint_id",
                "focusNode",
                F.col("_hv").alias("node"),
                F.col("_ht").alias("object_type"),
                F.col("_hd").alias("object_datatype"),
                F.col("_hl").alias("object_lang"),
            )
        )
    if inv:
        h = triples.filter(F.col("predicate").isin(inv)).select(
            F.col("object_value").alias("_ho"),
            F.col("subject").alias("_hv"),
        )
        parts.append(
            frontier.join(h, frontier["node"] == h["_ho"]).select(
                "constraint_id",
                "focusNode",
                F.col("_hv").alias("node"),
                _node_type(F.col("_hv")).alias("object_type"),
                F.lit(None).cast("string").alias("object_datatype"),
                F.lit(None).cast("string").alias("object_lang"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _closure(
    triples: DataFrame,
    frontier: DataFrame,
    mods: str,
    pred: str,
    depth: int,
    reach_cache: dict | None = None,
) -> DataFrame:
    """sh:zeroOrMorePath / sh:oneOrMorePath as a bounded EDGE closure.

    The closure is evaluated on the edge relation itself — the triples of
    the closure predicate — by repeated squaring (R₂ₖ = Rₖ ∪ Rₖ∘Rₖ), then
    applied to the frontier with ONE join.  ⌈log₂ depth⌉ self-joins of the
    edge relation replace ``depth`` sequential frontier-wide join rounds:
    closure predicates are hierarchy edges (partOf, skos:broader) — a
    dimension-sized relation, orders of magnitude smaller than the
    corpus-wide frontier the previous formulation shuffled once per hop.
    AQE picks broadcast vs shuffle per squaring at runtime; reachable-pair
    growth is bounded by the same fixed ``depth`` (``PATH_DEPTH``) as the
    hop-iterated form.

    Path-length semantics: lengths 1..depth (depth rounding UP to a power
    of two — squaring doubles the bound per round; extra reach only brings
    the bounded unroll closer to true closure semantics), plus length 0
    (the focus node itself) for zero-or-more.  Node metadata (term kind,
    datatype, lang) comes from the FINAL edge of each path, exactly as the
    last hop produced it before.

    ``reach_cache`` (keyed by direction, predicate, depth) shares the
    squared edge relation across every constraint row that closes over the
    same predicate — ``p*`` and ``p+`` differ only in the zero-length
    union, so one validate() call with several closure shapes builds the
    reach subtree ONCE; reusing the same DataFrame keeps the plan subtrees
    identical, which lets Spark's exchange-reuse evaluate them once too."""
    key = ("^" in mods, pred, depth)
    if reach_cache is not None and key in reach_cache:
        reach = reach_cache[key]
        return _apply_reach(frontier, reach, mods)
    if "^" in mods:
        edges = triples.filter(F.col("predicate") == pred).select(
            F.col("object_value").alias("_src"),
            F.col("subject").alias("_dst"),
            _node_type(F.col("subject")).alias("_dt"),
            F.lit(None).cast("string").alias("_dd"),
            F.lit(None).cast("string").alias("_dl"),
        )
    else:
        edges = triples.filter(F.col("predicate") == pred).select(
            F.col("subject").alias("_src"),
            F.col("object_value").alias("_dst"),
            F.col("object_type").alias("_dt"),
            F.col("object_datatype").alias("_dd"),
            F.col("object_lang").alias("_dl"),
        )
    reach = edges
    length = 1
    while length < depth:
        # Rₖ∘Rₖ: lengths k+1..2k; union with Rₖ gives 1..2k.  The dedup
        # bounds diamond fan-out before the next squaring.
        nxt = (
            reach.alias("l")
            .join(reach.alias("r"), F.col("l._dst") == F.col("r._src"))
            .select(
                F.col("l._src").alias("_src"),
                F.col("r._dst").alias("_dst"),
                F.col("r._dt").alias("_dt"),
                F.col("r._dd").alias("_dd"),
                F.col("r._dl").alias("_dl"),
            )
        )
        reach = reach.unionByName(nxt).dropDuplicates()
        length *= 2
    if reach_cache is not None:
        reach_cache[key] = reach
    return _apply_reach(frontier, reach, mods)


def _apply_reach(frontier: DataFrame, reach: DataFrame, mods: str) -> DataFrame:
    stepped = frontier.join(reach, frontier["node"] == reach["_src"]).select(
        "constraint_id",
        "focusNode",
        F.col("_dst").alias("node"),
        F.col("_dt").alias("object_type"),
        F.col("_dd").alias("object_datatype"),
        F.col("_dl").alias("object_lang"),
    )
    reached = frontier.unionByName(stepped) if "*" in mods else stepped
    return reached.dropDuplicates(_FRONTIER_COLS)


# validate_report's probe job collects the subclass edges together with the
# emptiness bit; _typed_with_entailment takes them from here, for the
# relation they were collected from, instead of collecting them again
_PROBED_EDGES: ContextVar[tuple[DataFrame, list] | None] = ContextVar(
    "_PROBED_EDGES", default=None
)


def _is_subclass_edge() -> F.Column:
    """An asserted rdfs:subClassOf triple between two distinct nodes."""
    return (
        (F.col("predicate") == RDFS_SUBCLASS)
        & (F.col("object_type") != "literal")
        & (F.col("subject") != F.col("object_value"))
    )


def _typed_with_entailment(
    spark: SparkSession, triples: DataFrame, entailment: str
) -> DataFrame:
    """Distinct (subject, cls) pairs, optionally expanded through the
    rdfs:subClassOf* closure (SHACL's "SHACL instance of" semantics,
    SHACL core §1.4.4 — `sh:targetClass` and `sh:class` must see instances
    of subclasses; the reference's shacl-engine does the same through its
    RDF/JS dataset).

    ``entailment="rdfs"``: subclass edges asserted in the data graph are
    closed transitively (cycle-safe) and every instance additionally
    carries its ancestor classes.  The edge relation is schema-sized, so
    the closure is a bounded driver BFS below SUBCLASS_EDGE_CAP and a
    log-squaring distributed closure above it; the expansion itself is one
    broadcast join — no corpus-wide shuffle.  ``entailment="none"``: skip
    the subclass scan entirely (callers whose producers cannot emit
    rdfs:subClassOf — e.g. the KG pipeline's extractor vocabulary — keep
    the probe-free plan).

    The pairs are NOT deduplicated: a node typed in several graphs, or
    both as a class and as its subclass, repeats.  Every consumer is
    set-valued (``_targets_of``, whose own consumers are; the
    ``collect_set`` node→classes lookups), so a dedup here would only add
    a shuffle to the bottom of the plan.
    """
    types_raw = triples.filter(F.col("predicate") == RDF_TYPE).select(
        F.col("subject"), F.col("object_value").alias("cls")
    )
    if entailment == "none":
        return types_raw
    edges_df = (
        triples.filter(_is_subclass_edge())
        .select(F.col("subject").alias("child"), F.col("object_value").alias("parent"))
        .dropDuplicates()
    )
    probed = _PROBED_EDGES.get()
    if probed is not None and probed[0] is triples:
        head = probed[1]
    else:
        head = edges_df.limit(SUBCLASS_EDGE_CAP + 1).collect()
    if not head:
        return types_raw
    if len(head) <= SUBCLASS_EDGE_CAP:
        up: dict[str, set[str]] = {}
        for r in head:
            up.setdefault(r.child, set()).add(r.parent)
        anc_rows: list[tuple[str, str]] = []
        for c, parents in up.items():
            seen: set[str] = set()
            stack = list(parents)
            while stack:
                p = stack.pop()
                if p in seen or p == c:
                    continue
                seen.add(p)
                stack.extend(up.get(p, ()))
            anc_rows.extend((c, p) for p in sorted(seen))
        anc_df = F.broadcast(
            local_df(spark, anc_rows, "child string, parent string")
        )
    else:  # pragma: no cover - schema graphs this large are pathological
        anc_df = edges_df
        for _ in range(6):  # depth 2^6 = 64 subclass levels
            anc_df = (
                anc_df.alias("a")
                .join(anc_df.alias("b"), F.col("a.parent") == F.col("b.child"))
                .select(F.col("a.child").alias("child"), F.col("b.parent").alias("parent"))
                .unionByName(anc_df)
                .filter(F.col("child") != F.col("parent"))
                .dropDuplicates()
            )
    extra = types_raw.join(anc_df, types_raw["cls"] == anc_df["child"]).select(
        "subject", F.col("parent").alias("cls")
    )
    return types_raw.unionByName(extra)


def _targets_of(
    spark: SparkSession, triples: DataFrame, rows: list[dict], types: DataFrame
) -> DataFrame:
    """Focus-node selection (J6): the four SHACL target kinds, each a
    literal-map lookup (compile-time broadcast) — sh:targetClass over the
    type sub-relation, sh:targetSubjectsOf / targetObjectsOf over the
    predicate column, sh:targetNode as driver-side literal rows.  No join —
    one scan each, unioned.

    The union may repeat a (constraint, focus) pair — typed twice, targeted
    by two kinds — and is returned without a dedup shuffle: every consumer
    either semi-joins it or emits rows that ``_eval``'s final result-
    identity ``dropDuplicates`` collapses, and counts come from the value
    side (``per_value``), never from how often a target repeats.  The two
    consumers that join it against the triples — sh:closed and the
    general-path frontier — dedup their own slice, so a node targeted k
    times does not multiply its triples k-fold."""
    by_class: dict[str, list[int]] = {}
    by_subj_of: dict[str, list[int]] = {}
    by_obj_of: dict[str, list[int]] = {}
    by_node: dict[str, list[int]] = {}
    for r in rows:
        if r.get("target_class"):
            by_class.setdefault(r["target_class"], []).append(r["constraint_id"])
        if r.get("target_subjects_of"):
            by_subj_of.setdefault(r["target_subjects_of"], []).append(r["constraint_id"])
        if r.get("target_objects_of"):
            by_obj_of.setdefault(r["target_objects_of"], []).append(r["constraint_id"])
        if r.get("target_node"):
            by_node.setdefault(r["target_node"], []).append(r["constraint_id"])

    target_parts: list[DataFrame] = []
    if by_class:
        target_parts.append(
            types.select(
                F.explode(_cid_map(by_class)[F.col("cls")]).alias("constraint_id"),
                F.col("subject").alias("focusNode"),
            )
        )
    if by_subj_of:
        target_parts.append(
            triples.select(
                F.explode(_cid_map(by_subj_of)[F.col("predicate")]).alias(
                    "constraint_id"
                ),
                F.col("subject").alias("focusNode"),
            )
        )
    if by_obj_of:
        # sh:targetObjectsOf: every object of the predicate is a focus node
        target_parts.append(
            triples.select(
                F.explode(_cid_map(by_obj_of)[F.col("predicate")]).alias(
                    "constraint_id"
                ),
                F.col("object_value").alias("focusNode"),
            )
        )
    if by_node:
        target_parts.append(
            local_df(
                spark,
                [
                    (cid, node)
                    for node, cids in sorted(by_node.items())
                    for cid in sorted(cids)
                ],
                "constraint_id long, focusNode string",
            )
        )
    if target_parts:
        targets = target_parts[0]
        for part in target_parts[1:]:
            targets = targets.unionByName(part)
        return targets
    return local_df(spark, [], "constraint_id long, focusNode string")


def _level_classes(rows: list[dict]) -> set[str]:
    """Every class IRI a check at this evaluation level can ask about —
    plain sh:class facets plus class branches of the logical components."""
    out = {r["class_iri"] for r in rows if r.get("class_iri")}
    out.update(b["class_iri"] for r in rows for b in _branches(r) if b.get("class_iri"))
    return out


def validate(
    spark: SparkSession,
    triples: DataFrame,
    constraint_rows: list[dict],
    entailment: str = "rdfs",
) -> DataFrame:
    """Run every compiled constraint against the triples table.

    Returns the violations DataFrame (VIOLATION_SCHEMA).  ``constraint_rows``
    is the driver-side output of ``shapes.compile_shapes`` — kept as rows so
    path-evaluation structure (number of steps) is known at plan-build time.
    Rows with ``nested_under`` define nested node shapes; they are evaluated
    recursively by the one evaluator with dynamic targets (the referencing
    constraints' value nodes) — the Spark form of the reference engine's
    full-SHACL-core delegation (SHACLValidationService.ts:398-408).  A
    nested level evaluates every value row of its predicates, not only
    those of its targets: the nodes it flags outside the targets are never
    value nodes of a referencing constraint, so no flag read changes.

    Data-derived relations — ``targets`` (constraint × typed focus node),
    the node→classes lookup, nested-shape offenders — GROW WITH THE CORPUS,
    so no join against them carries a broadcast hint: Spark's planner
    (``autoBroadcastJoinThreshold``) and AQE (runtime shuffle sizes) choose
    broadcast or shuffle per join.  Building the plan runs no job beyond
    the schema-sized subclass collect of ``entailment="rdfs"``, and none
    at all under ``validate_report``, whose probe job collected the edges.

    ``triples`` should be a materialized relation: parquet/Iceberg-backed,
    as the pipeline's scratch tables are, or a pinned driver-built one, as
    ``sources/rdf_io.py``'s loaders return (an Arrow ``LocalRelation``
    pinned once with ``localCheckpoint``; driver-sized, so the pin is
    cheap).  Either way each scan below reads stored rows, not a pickled
    Python RDD or a re-run dedup.  The loaders pin ONE partition, which
    satisfies every distribution the plan's dedups, aggregates and joins
    require: on a parsed catalog the plan runs no shuffle at all, only
    broadcast stages.  Inside the plan the target set is
    recomputed by its consumers as a pushed-down ``predicate == rdf:type``
    scan instead of being pinned, because a pin of a corpus-sized relation
    does not survive executor loss and measurably collapses under memory
    pressure on wide streams.  The violation-sized output is small, and
    ``validate_report`` does pin it.
    """
    if not constraint_rows:
        return local_df(spark, [], VIOLATION_SCHEMA)
    top = [r for r in constraint_rows if not r.get("nested_under")]
    defs = [r for r in constraint_rows if r.get("nested_under")]
    if not top:
        return local_df(spark, [], VIOLATION_SCHEMA)

    # ``entailment``: "rdfs" (default) applies the rdfs:subClassOf* closure
    # to class targeting and sh:class (SHACL-instance semantics); "none"
    # skips the subclass scan — see _typed_with_entailment.

    # Scan-fanout note: the plan re-reads the triples relation once per
    # constraint-family branch (value facets share a scan, but each path
    # signature, closure squaring, pair join, closed check, and nested pass
    # scans again — a 35-constraint suite compiles to ~300 scans).  This is
    # deliberate: with a parquet/Iceberg-backed input every scan is
    # predicate-pushed and column-pruned (an index-lookup-like read, the
    # 100-TB posture), and an interleaved A/B on this host measured a
    # .persist() of the relation STRICTLY SLOWER (row-object cache build
    # cost > 300 pushed scans riding the page cache — the same cliff
    # BENCH/BASELINE.md documents for localCheckpoint).  Callers should
    # hand validate() a materialized table, not a long derived plan.
    types = _typed_with_entailment(spark, triples, entailment)
    targets = _targets_of(spark, triples, top, types)
    return _eval(spark, triples, top, defs, targets, types, depth=0)


# ---------------------------------------------------------------------------
# Cached compilation of the literal per-constraint check expressions.
#
# Building these when-chains costs the bulk of validate()'s driver/py4j
# plan-build time (~1 s for a 6-row suite, ~2.3 s for the 35-row DCAT-AP-ES
# suite, measured r4) and depends ONLY on the constraint rows and the
# nested-pass flag-column naming — never on the input DataFrame.  Column
# objects are unresolved expression trees, so one compiled set is reusable
# across any number of plans (bench reps, streaming micro-batches, repeated
# API calls).  Keyed by content hash of the rows + the resolved-ref flags;
# small LRU so long-lived sessions with many distinct suites stay bounded.
# ---------------------------------------------------------------------------

_EXPR_CACHE: dict = {}
_EXPR_CACHE_CAP = 64


def _rows_key(rows: list[dict]) -> str:
    import hashlib

    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _compiled_checks_cached(rows: list[dict], ref_flag: dict[str, str]) -> dict:
    _expr_caches_fresh()
    key = (_rows_key(rows), tuple(sorted(ref_flag.items())))
    arts = _EXPR_CACHE.get(key)
    if arts is None:
        arts = _compiled_checks(rows, ref_flag)
        if len(_EXPR_CACHE) >= _EXPR_CACHE_CAP:
            _EXPR_CACHE.pop(next(iter(_EXPR_CACHE)))
        _EXPR_CACHE[key] = arts
    return arts


def _compiled_checks(rows: list[dict], ref_flag: dict[str, str]) -> dict:
    """All input-independent check expressions for one evaluation level:
    ``check_cols`` (per-value hit slots), ``hv_chain``/``q_chain`` (the
    per-value hasValue / qualified-shape flags), ``focus_checks`` (the
    per-focus violation-struct array) and ``meta_cols`` (the literal
    result-metadata lookups)."""
    lt_by_pred: dict[str, list[int]] = {}
    for r in rows:
        if r.get("less_than"):
            lt_by_pred.setdefault(r["less_than"], []).append(r["constraint_id"])
        if r.get("less_than_or_equals"):
            lt_by_pred.setdefault(r["less_than_or_equals"], []).append(
                r["constraint_id"]
            )
    # try_cast: ANSI mode would throw on non-numeric values flowing through
    # rows whose constraint has no range facet
    num = F.col("object_value").try_cast("double")
    v_ts = F.try_to_timestamp(F.col("object_value"))
    v_kind = _lt_kind()
    cid = F.col("constraint_id")
    v = F.col("object_value")
    vtype = F.col("object_type")

    def _hit(cond: F.Column, comp: str) -> F.Column:
        return F.when(cond, F.lit(comp)).otherwise(F.lit(None).cast("string"))

    # ---- literal per-constraint check compilation -------------------------
    # Shapes are driver-side rows, so every check facet is KNOWN at plan
    # build: each family compiles to a when-chain keyed on constraint_id,
    # branches grouped by identical facet value.  Vocabulary lists become
    # InSet hash probes, regexes compile once per generated class, and the
    # datatype-validity dispatch constant-folds per branch.  Rows whose
    # constraint lacks a facet fall through to NULL — exactly the old
    # isNotNull guard on a joined facet column, but nothing rides the
    # corpus-sized rows: the r4 stack profile showed the hot stage dominated
    # by UnsafeRowWriter on ~40-column rows when the full facet table
    # (branch-struct arrays, message arrays, vocabulary lists) was joined
    # onto every value occurrence.
    def _ids_cond(ids: list[int]) -> F.Column:
        ids = sorted(ids)
        return cid == ids[0] if len(ids) == 1 else cid.isin(ids)

    def _chain(pairs) -> F.Column | None:
        """[(ids, bool Column)] -> nullable when-chain (None if empty)."""
        expr = None
        for ids, e in pairs:
            expr = (
                F.when(_ids_cond(ids), e)
                if expr is None
                else expr.when(_ids_cond(ids), e)
            )
        return expr

    def _grouped(key: str):
        """[(facet_value, [constraint_ids])] over rows carrying the facet,
        grouped by identical value so e.g. one vocabulary list shared by
        many property shapes compiles to one chain branch."""
        g: dict[str, tuple] = {}
        for r in rows:
            val = r.get(key)
            if val is None:
                continue
            g.setdefault(repr(val), (val, []))[1].append(r["constraint_id"])
        return list(g.values())

    def _branch_conf(b: dict) -> F.Column:
        """Literal conformance of the current value row to branch ``b`` (an
        or/and/xone/not operand, sh:node target, or qualifiedValueShape —
        model.BRANCH_SCHEMA as a driver-side dict).  ``node_ref`` resolves
        through the nested-pass flag columns; a ref unresolved at the depth
        cap evaluates as conforming (same as the old null-map lookup)."""
        parts: list[F.Column] = []
        if b.get("datatype"):
            dt = F.lit(b["datatype"])
            parts.append(
                (vtype == "literal")
                & (_effective_datatype() == dt)
                & _lexically_valid(dt)
            )
        if b.get("node_kind"):
            parts.append(vtype.isin(_NODE_KIND_SETS[b["node_kind"]]))
        if b.get("class_iri"):
            parts.append(
                (vtype != "literal")
                & F.coalesce(
                    F.array_contains(F.col("t_classes"), F.lit(b["class_iri"])),
                    F.lit(False),
                )
            )
        if b.get("pattern"):
            parts.append((vtype != "bnode") & F.regexp_like(v, F.lit(b["pattern"])))
        if b.get("min_length") is not None:
            parts.append((vtype != "bnode") & (F.length(v) >= b["min_length"]))
        if b.get("max_length") is not None:
            parts.append((vtype != "bnode") & (F.length(v) <= b["max_length"]))
        if b.get("node_ref"):
            flag = ref_flag.get(b["node_ref"])
            if flag is not None:
                parts.append(~F.coalesce(F.col(flag), F.lit(False)))
        if not parts:
            return F.lit(True)
        out = parts[0]
        for p in parts[1:]:
            out = out & p
        return out

    def _has(key: str) -> bool:
        return any(r.get(key) is not None for r in rows)

    check_cols: list[F.Column] = []

    def _family(comp: str, pairs) -> None:
        chain = _chain(pairs)
        if chain is not None:
            check_cols.append(_hit(chain, comp))

    _family(
        "Datatype",
        [
            (
                ids,
                (vtype != "literal")
                | (_effective_datatype() != F.lit(dt))
                | ~_lexically_valid(F.lit(dt)),
            )
            for dt, ids in _grouped("datatype")
        ],
    )
    # sh:or of datatype branches: conforming iff the value is a literal
    # whose effective datatype matches SOME branch with a valid lexical
    # form; reported as sh:OrConstraintComponent
    dt_in_pairs = []
    for dts, ids in _grouped("datatype_in"):
        conf = None
        for d in dts:
            e = (_effective_datatype() == F.lit(d)) & _lexically_valid(F.lit(d))
            conf = e if conf is None else (conf | e)
        dt_in_pairs.append(
            (ids, ~((vtype == "literal") & conf) if conf is not None else F.lit(True))
        )
    _family("Or", dt_in_pairs)
    _family(
        "Pattern",
        [
            (ids, (vtype == "bnode") | ~F.regexp_like(v, F.lit(p)))
            for p, ids in _grouped("pattern")
        ],
    )
    _family(
        "NodeKind",
        [(ids, ~vtype.isin(_NODE_KIND_SETS[k])) for k, ids in _grouped("node_kind")],
    )
    # sh:in membership compares the LEXICAL form: profile vocabularies are
    # IRI lists, where lexical identity == term identity; a literal sharing
    # an IRI's spelling would conflate (documented simplification vs full
    # RDF-term comparison)
    _family(
        "In",
        [
            (ids, ~v.isin(lst) if lst else F.lit(True))
            for lst, ids in _grouped("in_list")
        ],
    )
    # range facets: numeric OR temporal form (xsd:date/dateTime facets
    # compile to the *_ts fields; a value that does not parse into the
    # facet's domain violates, per SPARQL '<' semantics)
    for comp, num_key, ts_key, mk_num, mk_ts in (
        ("MinInclusive", "min_inclusive", "min_inclusive_ts",
         lambda m: num.isNull() | (num < F.lit(m)),
         lambda m: v_ts.isNull() | (v_ts < F.to_timestamp(F.lit(m)))),
        ("MaxInclusive", "max_inclusive", "max_inclusive_ts",
         lambda m: num.isNull() | (num > F.lit(m)),
         lambda m: v_ts.isNull() | (v_ts > F.to_timestamp(F.lit(m)))),
        ("MinExclusive", "min_exclusive", "min_exclusive_ts",
         lambda m: num.isNull() | (num <= F.lit(m)),
         lambda m: v_ts.isNull() | (v_ts <= F.to_timestamp(F.lit(m)))),
        ("MaxExclusive", "max_exclusive", "max_exclusive_ts",
         lambda m: num.isNull() | (num >= F.lit(m)),
         lambda m: v_ts.isNull() | (v_ts >= F.to_timestamp(F.lit(m)))),
    ):
        _family(
            comp,
            [(ids, mk_num(m)) for m, ids in _grouped(num_key)]
            + [(ids, mk_ts(m)) for m, ids in _grouped(ts_key)],
        )
    # sh:languageIn: value must be a language-tagged literal whose tag
    # matches some range in the list with langMatches prefix semantics —
    # equal, or extending the range at a subtag boundary
    li_pairs = []
    for ranges, ids in _grouped("language_in"):
        lang = F.lower(F.col("object_lang"))
        conf = None
        for rng in ranges:
            e = (lang == rng) | lang.startswith(rng + "-")
            conf = e if conf is None else (conf | e)
        li_pairs.append(
            (
                ids,
                F.col("object_lang").isNull() | ~conf
                if conf is not None
                else F.lit(True),
            )
        )
    _family("LanguageIn", li_pairs)
    _family(
        "MinLength",
        [
            (ids, (vtype == "bnode") | (F.length(v) < n))
            for n, ids in _grouped("min_length")
        ],
    )
    _family(
        "MaxLength",
        [
            (ids, (vtype == "bnode") | (F.length(v) > n))
            for n, ids in _grouped("max_length")
        ],
    )
    # sh:class: a literal value can never satisfy it; an IRI/bnode value
    # satisfies it iff the node->classes lookup contains the class
    _family(
        "Class",
        [
            (
                ids,
                (vtype == "literal")
                | ~F.coalesce(
                    F.array_contains(F.col("t_classes"), F.lit(c)), F.lit(False)
                ),
            )
            for c, ids in _grouped("class_iri")
        ],
    )
    if lt_by_pred:
        # SPARQL-'<' comparison domains: both sides numeric, both dateTime,
        # or both plain strings compare within the domain; mixed domains or
        # non-literals are a comparison failure -> violation
        _lt_incomparable = (
            (F.size("_lt_kinds") > 1)
            | F.array_contains("_lt_kinds", "bad")
            | (v_kind == "bad")
            | (v_kind != F.element_at("_lt_kinds", 1))
        )
        lt_ids = [r["constraint_id"] for r in rows if r.get("less_than")]
        lte_ids = [r["constraint_id"] for r in rows if r.get("less_than_or_equals")]
        if lt_ids:
            check_cols.append(
                _hit(
                    _ids_cond(lt_ids)
                    & F.col("_lt_n").isNotNull()
                    & (
                        _lt_incomparable
                        | ((v_kind == "num") & (num >= F.col("_lt_min_num")))
                        | ((v_kind == "ts") & (v_ts >= F.col("_lt_min_ts")))
                        | ((v_kind == "str") & (v >= F.col("_lt_min_str")))
                    ),
                    "LessThan",
                )
            )
        if lte_ids:
            check_cols.append(
                _hit(
                    _ids_cond(lte_ids)
                    & F.col("_lt_n").isNotNull()
                    & (
                        _lt_incomparable
                        | ((v_kind == "num") & (num > F.col("_lt_min_num")))
                        | ((v_kind == "ts") & (v_ts > F.col("_lt_min_ts")))
                        | ((v_kind == "str") & (v > F.col("_lt_min_str")))
                    ),
                    "LessThanOrEquals",
                )
            )
    # --- logical / nested components (SHACL core 4.6-4.7) -----------------
    _family(
        "Node",
        [
            ([r["constraint_id"]], ~_branch_conf(r["node_branch"]))
            for r in rows
            if r.get("node_branch") is not None
        ],
    )
    or_pairs = []
    for r in rows:
        if r.get("or_branches") is None:
            continue
        conf = None
        for b in r["or_branches"]:
            e = _branch_conf(b)
            conf = e if conf is None else (conf | e)
        or_pairs.append(
            ([r["constraint_id"]], ~conf if conf is not None else F.lit(True))
        )
    _family("Or", or_pairs)
    and_pairs = []
    for r in rows:
        if r.get("and_branches") is None:
            continue
        conf = None
        for b in r["and_branches"]:
            e = _branch_conf(b)
            conf = e if conf is None else (conf & e)
        and_pairs.append(
            ([r["constraint_id"]], ~conf if conf is not None else F.lit(False))
        )
    _family("And", and_pairs)
    xone_pairs = []
    for r in rows:
        if r.get("xone_branches") is None:
            continue
        n_conf = None
        for b in r["xone_branches"]:
            e = _branch_conf(b).cast("int")
            n_conf = e if n_conf is None else (n_conf + e)
        xone_pairs.append(
            ([r["constraint_id"]], (n_conf != 1) if n_conf is not None else F.lit(True))
        )
    _family("Xone", xone_pairs)
    _family(
        "Not",
        [
            ([r["constraint_id"]], _branch_conf(r["not_branch"]))
            for r in rows
            if r.get("not_branch") is not None
        ],
    )

    # --- per-value flag chains (hasValue / qualifiedValueShape) -----------
    hv_chain = _chain([(ids, v == F.lit(hv)) for hv, ids in _grouped("has_value")])
    q_pairs = []
    for r in rows:
        if r.get("qvs_branch") is None:
            continue
        conf = _branch_conf(r["qvs_branch"])
        if r.get("qvs_disjoint") and r.get("qvs_sibling_branches"):
            sib = None
            for b in r["qvs_sibling_branches"]:
                e = _branch_conf(b)
                sib = e if sib is None else (sib | e)
            if sib is not None:
                conf = conf & ~sib
        q_pairs.append(([r["constraint_id"]], conf))
    q_chain = _chain(q_pairs)

    # --- per-focus components (MinCount/MaxCount/HasValue/Qualified*) -----
    VS = "struct<comp:string,v:string>"

    def _vio(cond: F.Column, comp: str) -> F.Column:
        return F.when(
            cond,
            F.struct(
                F.lit(_component(comp)).alias("comp"),
                F.lit(None).cast("string").alias("v"),
            ),
        ).otherwise(F.lit(None).cast(VS))

    focus_check_cols = [
        _vio(
            F.col("min_count").isNotNull() & (F.col("n_values") < F.col("min_count")),
            "MinCount",
        ),
        _vio(
            F.col("max_count").isNotNull() & (F.col("n_values") > F.col("max_count")),
            "MaxCount",
        ),
        _vio(
            F.col("has_value").isNotNull()
            & (F.coalesce(F.col("_hv_found"), F.lit(0)) == 0),
            "HasValue",
        ),
    ]
    if _has("qvs_branch"):
        focus_check_cols.extend(
            [
                _vio(
                    F.col("qvs_branch").isNotNull()
                    & F.col("q_min_count").isNotNull()
                    & (F.col("n_q") < F.col("q_min_count")),
                    "QualifiedMinCount",
                ),
                _vio(
                    F.col("qvs_branch").isNotNull()
                    & F.col("q_max_count").isNotNull()
                    & (F.col("n_q") > F.col("q_max_count")),
                    "QualifiedMaxCount",
                ),
            ]
        )
    # ---- literal facet metadata (r5, VERDICT r4 #2) -----------------------
    # Result metadata (path/severity/messages/shape/foaf:page) and the
    # per-focus counting facets are ALSO driver-known per constraint_id, so
    # they compile to the same literal when-chains as the check facets
    # above.  This replaces every per-branch broadcast facet join — each
    # one a separate AQE broadcast job with a driver collect (~10 such jobs
    # per report plan at the 35-constraint fixture) — with in-codegen
    # lookups on the violation-sized streams.  Cached with the rest of the
    # compiled artifacts, so the py4j build cost is paid once per suite.
    _MSG_T = "array<struct<text:string,lang:string>>"

    def _lit_chain(field: str, build, typ: str) -> F.Column:
        expr = None
        for val, ids in _grouped(field):
            lit = build(val)
            expr = (
                F.when(_ids_cond(ids), lit)
                if expr is None
                else expr.when(_ids_cond(ids), lit)
            )
        if expr is None:
            return F.lit(None).cast(typ)
        return expr.otherwise(F.lit(None).cast(typ))

    def _lit_msgs(ms) -> F.Column:
        return F.array(
            *[
                F.struct(
                    F.lit(m["text"]).cast("string").alias("text"),
                    F.lit(m.get("lang")).cast("string").alias("lang"),
                )
                for m in ms
            ]
        )

    def _lit_arr(xs) -> F.Column:
        if not xs:
            return F.array().cast("array<string>")
        return F.array(*[F.lit(str(x)) for x in xs])

    meta_cols = {
        "path": _lit_chain("path", F.lit, "string"),
        "severity": _lit_chain("severity", F.lit, "string"),
        "shape_iri": _lit_chain("shape_iri", F.lit, "string"),
        "foaf_page": _lit_chain("foaf_page", F.lit, "string"),
        "messages": _lit_chain("messages", _lit_msgs, _MSG_T),
        "min_count": _lit_chain("min_count", lambda x: F.lit(int(x)), "int"),
        "max_count": _lit_chain("max_count", lambda x: F.lit(int(x)), "int"),
        "q_min_count": _lit_chain("q_min_count", lambda x: F.lit(int(x)), "int"),
        "q_max_count": _lit_chain("q_max_count", lambda x: F.lit(int(x)), "int"),
        "has_value": _lit_chain("has_value", lambda x: F.lit(str(x)), "string"),
        # presence-only slot: focus checks test qvs_branch.isNotNull()
        "qvs_branch": _lit_chain("qvs_branch", lambda x: F.lit(True), "boolean"),
        "closed_allowed": _lit_chain("closed_allowed", _lit_arr, "array<string>"),
    }

    return {
        "check_cols": check_cols,
        "hv_chain": hv_chain,
        "q_chain": q_chain,
        "focus_checks": F.array(*focus_check_cols),
        "meta_cols": meta_cols,
    }


def _eval(
    spark: SparkSession,
    triples: DataFrame,
    rows: list[dict],
    defs: list[dict],
    targets: DataFrame,
    types: DataFrame,
    depth: int,
) -> DataFrame:
    """Core rule evaluation over an explicit target set.

    Called once for the top-level targets and recursively for nested node
    shapes (targets = the referencing constraints' value nodes)."""

    # --- path value lookup ---------------------------------------------------
    # Fast path: plain single-step paths (the overwhelming majority) — one
    # scan of the triples table with a literal predicate → constraints map;
    # rows whose predicate no constraint watches explode to nothing.
    by_pred: dict[str, list[int]] = {}
    for r in rows:
        # path_steps None = sh:closed node-shape rows — evaluated in their
        # own branch below, not through the value stream.  path_steps []
        # (node-shape-level facets) routes through the general-path group
        # with zero hops: the focus node is its own value node.
        if r.get("path_steps") and _is_plain_single(r["path_steps"]):
            for p in r["path_steps"][0]:
                by_pred.setdefault(p, []).append(r["constraint_id"])
    vals_parts: list[DataFrame] = []
    if by_pred:
        pred_map = _cid_map(by_pred)
        vals_parts.append(
            triples.select(
                F.explode(pred_map[F.col("predicate")]).alias("constraint_id"),
                F.col("subject").alias("focusNode"),
                "object_value",
                "object_type",
                "object_datatype",
                "object_lang",
            )
        )

    # General paths (sequences, inverse, closures), grouped by full path
    # signature — each group evaluates as successive joins from the target
    # frontier (SHACL property paths; reference renders them at
    # SHACLValidationService.ts:207-247).  Shapes are KBs, so the number of
    # distinct signatures is tiny.
    sig_groups: dict[tuple, list[int]] = {}
    for r in rows:
        if r.get("path_steps") is not None and not _is_plain_single(r["path_steps"]):
            sig = tuple(tuple(s) for s in r["path_steps"])
            sig_groups.setdefault(sig, []).append(r["constraint_id"])
    reach_cache: dict = {}
    for sig, ids in sig_groups.items():
        # deduped here: each repeat of a target would repeat its hops
        frontier = targets.filter(F.col("constraint_id").isin(ids)).dropDuplicates().select(
            "constraint_id",
            "focusNode",
            F.col("focusNode").alias("node"),
            _node_type(F.col("focusNode")).alias("object_type"),
            F.lit(None).cast("string").alias("object_datatype"),
            F.lit(None).cast("string").alias("object_lang"),
        )
        for step in sig:
            alts = [_parse_alt(a) for a in step]
            closures = [(m, p) for m, p in alts if "*" in m or "+" in m]
            plain = [(m, p) for m, p in alts if "*" not in m and "+" not in m]
            # every alternative of the step contributes to the same frontier
            # union — a closure appearing among other alternatives
            # (sh:alternativePath (ex:a [sh:zeroOrMorePath ex:b])) must not
            # shadow them
            parts: list[DataFrame] = []
            if plain:
                parts.append(_hop(triples, frontier, plain))
            for mods, pred in closures:
                parts.append(
                    _closure(triples, frontier, mods, pred, PATH_DEPTH, reach_cache)
                )
            stepped = parts[0]
            for p in parts[1:]:
                stepped = stepped.unionByName(p)
            zero_one = any("?" in m for m, _ in plain)
            if zero_one:
                # sh:zeroOrOnePath: the zero-length path keeps every
                # frontier node as its own value node alongside the
                # one-hop neighbours — a union, no extra shuffle (a ``*``
                # closure already carries the zero-length frontier itself)
                stepped = stepped.unionByName(frontier)
            if len(parts) > 1 or zero_one:
                # only a UNIONED step needs its own dedup barrier; the
                # sole-plain-hop fast path keeps duplicates flowing into the
                # per-value aggregation exactly as before (one less shuffle)
                stepped = stepped.dropDuplicates(_FRONTIER_COLS)
            frontier = stepped
        vals_parts.append(
            frontier.select(
                "constraint_id",
                "focusNode",
                F.col("node").alias("object_value"),
                "object_type",
                "object_datatype",
                "object_lang",
            )
        )

    if vals_parts:
        vals = vals_parts[0]
        for part in vals_parts[1:]:
            vals = vals.unionByName(part)
    else:
        vals = local_df(
            spark,
            [],
            "constraint_id long, focusNode string, object_value string, "
            "object_type string, object_datatype string, object_lang string",
        )


    # =======================================================================
    # Single-scan rule evaluation.  The value stream (every value occurrence
    # × constraint) is the only big relation; everything it needs — targets,
    # the (node, class) type pairs — is joined onto it (facets are
    # literal expressions), every per-row component contributes one
    # nullable slot to a hit array, and a two-level cascaded aggregation on (constraint, focus[, value])
    # produces BOTH the distinct-value counts for the cardinality rules AND
    # the deduplicated per-value hits.  Net plan: ONE pass over the stream +
    # one small shuffle whose map-side combine collapses per-graph
    # duplicates — this is what keeps validation scan-bound at 100 TB.
    # countDistinct-style semantics throughout: SHACL evaluates over the RDF
    # graph — a SET of (s,p,o) — so a value asserted by many source pages is
    # ONE value node; row-counting would false-positive every maxCount on
    # hub entities, and per-row results would duplicate per page.
    # =======================================================================
    # The value stream stays NARROW — six term columns plus the few
    # data-derived lookups (t_classes, _lt_*, nested-pass flags).  Check
    # facets are compiled into literal per-constraint expressions below
    # instead of being joined on as columns: the r4 stack profile showed the
    # hot stage dominated by UnsafeRowWriter on ~40-column rows (every value
    # row dragged branch-struct arrays, message arrays, and vocabulary lists
    # through every join/explode), and literal facets additionally compile
    # regexes once and fold the datatype-validity dispatch per constraint.
    # Result metadata (path/severity/messages/shape) joins onto the
    # violation-sized exploded stream, never the corpus-sized one.
    # A nested level (depth > 0) skips the ⋉ targets join and evaluates
    # every value row of its predicates: see the nested-pass comment below.
    values = (
        vals.join(targets, ["constraint_id", "focusNode"], "left_semi")
        if depth == 0
        else vals
    )

    # sh:class (plain facet or inside logical branches) needs a type lookup
    # per value node: ONE aggregated node→classes relation serves every
    # class check uniformly via array_contains.  It is joined only when some
    # constraint actually checks a class.
    wanted = sorted(_level_classes(rows))
    if wanted:
        # Shapes reference a FIXED set of classes — pruning the type relation
        # to them before the aggregation turns a corpus-wide (every typed
        # node) groupBy into one over only instances of the checked classes,
        # and the filter pushes down to the type scan.  array_contains on the
        # pruned sets is unchanged for every class a check can ask about.
        node_classes = (
            types.filter(F.col("cls").isin(wanted))
            .groupBy(F.col("subject").alias("t_node"))
            .agg(F.collect_set("cls").alias("t_classes"))
        )
        values = values.join(
            node_classes, values["object_value"] == node_classes["t_node"], "left"
        ).drop("t_node")
    # (no null t_classes column when nothing checks a class — every class
    # check below is built only for constraints that carry one)

    # sh:lessThan: every value v of the path must be strictly less than
    # every value w of the sibling property — v violates iff ∃w ¬(v<w)
    # ⟺ v >= min(w) within a comparable datatype domain.  SHACL defines the
    # comparison via SPARQL '<', which orders numerics, dateTimes, and
    # strings (ADVICE r2 #1 — round 2 compared only via try_cast double and
    # false-positived the date startDate/endDate idiom); mixed or
    # non-comparable domains are a comparison failure → violation.  The
    # compare relation aggregates to one row per (constraint, focus) —
    # target-set-sized.
    # sh:lessThanOrEquals rides the same sibling-min aggregation — only the
    # final comparison differs (strict vs non-strict).  The compiler slots
    # the two facets onto separate rows, so a constraint id never mixes the
    # two sibling predicates in one min.
    lt_by_pred: dict[str, list[int]] = {}
    for r in rows:
        if r.get("less_than"):
            lt_by_pred.setdefault(r["less_than"], []).append(r["constraint_id"])
        if r.get("less_than_or_equals"):
            lt_by_pred.setdefault(r["less_than_or_equals"], []).append(
                r["constraint_id"]
            )
    if lt_by_pred:
        lt_map = _cid_map(lt_by_pred)
        w_num = F.col("object_value").try_cast("double")
        w_ts = F.try_to_timestamp(F.col("object_value"))
        w_kind = _lt_kind()
        lt_agg = (
            triples.select(
                F.explode(lt_map[F.col("predicate")]).alias("constraint_id"),
                F.col("subject").alias("focusNode"),
                # masked per comparison domain: a numeric lexical like
                # '5000' also parses as a (year-5000) timestamp — the min
                # of each domain must only see values classified into it
                F.when(w_kind == "num", w_num).alias("_wn"),
                F.when(w_kind == "ts", w_ts).alias("_wt"),
                F.when(w_kind == "str", F.col("object_value")).alias("_ws"),
                w_kind.alias("_wk"),
            )
            .groupBy("constraint_id", "focusNode")
            .agg(
                F.min("_wn").alias("_lt_min_num"),
                F.min("_wt").alias("_lt_min_ts"),
                F.min("_ws").alias("_lt_min_str"),
                F.collect_set("_wk").alias("_lt_kinds"),
                F.count(F.lit(1)).alias("_lt_n"),
            )
        )
        values = values.join(lt_agg, ["constraint_id", "focusNode"], "left")
    # (no null _lt_* columns when no pair-comparison facet exists — the
    # LessThan checks below are gated on lt_by_pred)

    # --- nested node shapes (sh:node / branch node_ref) --------------------
    # For each referenced shape N: its definition rows get DYNAMIC targets —
    # the value nodes of every constraint referencing N, a bag (every
    # consumer of targets is set-valued or dedups its own slice) — and run
    # through this same evaluator one level down.  A value node is
    # non-conforming iff the nested pass emits ANY result for it (SHACL
    # conformance); the non-conforming set joins back as one boolean per
    # reference, exposed to branch predicates via a literal map.
    # Both sides evaluate a harmless SUPERSET.  The nested targets (`nodes`)
    # come from the RAW values (every value of the referencing predicates,
    # not just those of targeted focus nodes): one pushed-down scan instead
    # of the assembled value stream.  The nested level evaluates every value
    # row of its predicates (no ⋉ targets join at depth > 0), so it may also
    # flag nodes outside `nodes`; but `nodes` holds every value node of every
    # referencing constraint, so such a flag never meets a value row whose
    # constraint reads it.  Counting, uniqueLang, sh:closed, sh:sparql, the
    # pair components and general paths still restrict to the nested
    # targets through their own joins.
    ref_cids: dict[str, list[int]] = {}
    for r in rows:
        for ref in _branch_refs(r):
            ref_cids.setdefault(ref, []).append(r["constraint_id"])
    # ref → the boolean flag column (on `values`) that is true when the
    # value node does NOT conform to that nested shape; refs unresolved at
    # the depth cap are absent (→ conforming), and compile_shapes warns
    # about every shapes graph that reaches the cap
    ref_flag: dict[str, str] = {}
    if ref_cids and depth < MAX_NESTING_DEPTH:
        for i, (ref, cids) in enumerate(sorted(ref_cids.items())):
            sub_rows = [d for d in defs if d["nested_under"] == ref]
            flag = f"_bad_{i}"
            if not sub_rows:
                values = values.withColumn(flag, F.lit(False))
            else:
                # plain single-step references prune the scan to their
                # predicates; otherwise the raw union (vals) filtered by
                # constraint serves the general-path references
                ref_rows = [r for r in rows if r["constraint_id"] in cids]
                if all(_is_plain_single(r["path_steps"]) for r in ref_rows):
                    preds = sorted({p for r in ref_rows for p in r["path_steps"][0]})
                    nodes = triples.filter(F.col("predicate").isin(preds))
                else:
                    nodes = vals.filter(F.col("constraint_id").isin(cids))
                sub_targets = nodes.select(
                    F.explode(
                        F.array(*[F.lit(d["constraint_id"]).cast("long") for d in sub_rows])
                    ).alias("constraint_id"),
                    F.col("object_value").alias("focusNode"),
                )
                sub_vios = _eval(
                    spark, triples, sub_rows, defs, sub_targets, types,
                    depth=depth + 1,
                )
                # deduped: the left join below would repeat a value row
                # once per nested result of its node
                bad = sub_vios.select(
                    F.col("focusNode").alias(f"_badnode_{i}")
                ).dropDuplicates()
                values = values.join(
                    bad,
                    values["object_value"] == F.col(f"_badnode_{i}"),
                    "left",
                ).withColumn(flag, F.col(f"_badnode_{i}").isNotNull()).drop(
                    f"_badnode_{i}"
                )
            ref_flag[ref] = flag

    arts = _compiled_checks_cached(rows, ref_flag)
    check_cols = arts["check_cols"]

    # Per-value violations explode DIRECTLY off the value stream, one
    # constant-width row per hit, with NO aggregation: duplicate graph
    # assertions of the same (s,p,o) produce identical violation rows that
    # the final result-identity dropDuplicates collapses.  array_compact +
    # explode, not F.filter/F.transform: higher-order functions are
    # CodegenFallback (interpreted per row); the compacted plain array stays
    # inside whole-stage codegen and explode skips the (common) fully-null
    # rows via the empty compacted array.  Result METADATA (path, severity,
    # messages, shape, foaf:page) joins onto this violation-sized stream —
    # the broadcast facet join the corpus-sized stream used to pay.
    # Result metadata attaches as LITERAL per-constraint lookups (r5 —
    # arts["meta_cols"], cached with the check compilation): no broadcast
    # facet join, no AQE broadcast job, stays inside whole-stage codegen.
    # A nested level (depth > 0) is read only for WHICH focus nodes fail:
    # it returns bare focusNode rows — no result metadata, messages or
    # result-identity dedup; the join back dedups them once.
    mc = arts["meta_cols"]
    result_meta = (
        () if depth else ("path", "severity", "messages", "shape_iri", "foaf_page")
    )

    def _with_meta(df: DataFrame, extra: tuple = (), **cols: F.Column) -> DataFrame:
        # one withColumns: each withColumn would re-analyse the growing plan
        meta = (*result_meta, *extra)
        if not (cols or meta):
            return df
        return df.withColumns({**cols, **{f: mc[f] for f in meta}})

    def _results(df: DataFrame, component: str | F.Column, value: F.Column) -> DataFrame:
        if depth:
            return df.select("focusNode")
        return _as_violations(df, component, value)

    if check_cols and depth:
        # a value row hits iff one of its check slots is non-null
        result = values.filter(F.coalesce(*check_cols).isNotNull()).select("focusNode")
    elif check_cols:
        checks = F.array(*check_cols)
        value_rows = _with_meta(
            values.withColumn("_hc", F.explode(F.array_compact(checks))).select(
                "constraint_id",
                "focusNode",
                "object_value",
                F.concat(F.lit(SH), F.col("_hc"), F.lit("ConstraintComponent")).alias(
                    "_comp"
                ),
            )
        )
        result = _as_violations(value_rows, F.col("_comp"), F.col("object_value"))

    # cascade level 1 for the COUNTING components only: one row per distinct
    # value node (full RDF-term identity — a bare countDistinct(value) would
    # collapse "1"^^xsd:int with "1"^^xsd:string and undercount); graph-
    # duplicate collapse happens map-side here.  No hit arrays ride this
    # shuffle — the flags are cheap deterministic per-node expressions, and
    # Catalyst prunes every check expression out of this branch.
    # sh:hasValue satisfaction / sh:qualifiedValueShape conformance flags —
    # literal chains from the cached compilation (deterministic per group
    # key); with sh:qualifiedValueShapesDisjoint the node must additionally
    # NOT conform to any sibling qualified shape (SHACL §4.5.3)
    hv_chain = arts["hv_chain"]
    q_chain = arts["q_chain"]
    per_value = (
        values.select(
            "constraint_id",
            "focusNode",
            "object_value",
            "object_type",
            "object_datatype",
            "object_lang",
            (
                F.coalesce(hv_chain, F.lit(False))
                if hv_chain is not None
                else F.lit(False)
            ).alias("_hv"),
            (
                F.coalesce(q_chain, F.lit(False))
                if q_chain is not None
                else F.lit(False)
            ).alias("_q"),
        )
        .groupBy(
            "constraint_id",
            "focusNode",
            "object_value",
            "object_type",
            "object_datatype",
            "object_lang",
        )
        .agg(
            F.first("_hv").alias("_hv"),
            F.first("_q").alias("_q"),
        )
    )
    # The value stream is recomputed per consumer branch rather than
    # persisted: Catalyst prunes each recomputation to what its branch
    # needs (this counting branch evaluates no check expressions at all),
    # while a persist must materialize and serialize the full relation —
    # measured slower at bench scale and disk-amplifying at corpus scale.

    # cascade level 2: per focus node — value-node count + flags only
    # (bounded row width).  With sh:uniqueLang in the suite it also
    # collects the lower-cased language tags of those constraints' value
    # nodes (empty for every other constraint): per_value is distinct on
    # term identity, so a tag repeats once per distinct value node sharing
    # it, and the check reuses this aggregate instead of a branch of its own
    ul_ids = [r["constraint_id"] for r in rows if r.get("unique_lang")]
    focus_aggs = [
        F.count("*").alias("_n"),
        F.max(F.col("_hv").cast("int")).alias("_hv_found"),
        F.sum(F.col("_q").cast("int")).alias("_qn"),
    ]
    if ul_ids:
        focus_aggs.append(
            F.collect_list(
                F.when(F.col("constraint_id").isin(ul_ids), F.lower("object_lang"))
            ).alias("_ul")
        )
    per_focus = per_value.groupBy("constraint_id", "focusNode").agg(*focus_aggs)

    # targets-side LEFT join so zero-value focus nodes are seen (the classic
    # join-SHACL minCount bug, SURVEY.md §7.3); counting facets + metadata
    # attach literally (qvs_branch is a presence-only boolean slot — the
    # focus checks test isNotNull on it)
    agg = _with_meta(
        targets.join(per_focus, ["constraint_id", "focusNode"], "left"),
        extra=(
            "min_count", "max_count", "q_min_count", "q_max_count",
            "has_value", "qvs_branch",
        ),
        n_values=F.coalesce(F.col("_n"), F.lit(0)),
        n_q=F.coalesce(F.col("_qn"), F.lit(0)),
    )

    # per-focus components (MinCount, MaxCount, HasValue, QualifiedMin/Max)
    # become ONE violation-struct array per agg row (from the cached
    # compilation), exploded once; array_compact + explode for the same
    # no-HOF reason as the per-value hit stream.  sh:uniqueLang rides the
    # same explode: one candidate per distinct tag, kept when the tag occurs
    # on more than one value node (one violation per duplicated tag)
    vios = F.array_compact(arts["focus_checks"])
    keep = None
    if ul_ids:
        ul_comp = _component("UniqueLang")
        tags = F.array_distinct(F.coalesce(F.col("_ul"), F.array().cast("array<string>")))
        vios = F.concat(
            vios,
            F.arrays_zip(F.array_repeat(F.lit(ul_comp), F.size(tags)), tags).cast(
                "array<struct<comp:string,v:string>>"
            ),
        )
        keep = (F.col("_vio.comp") != ul_comp) | (
            F.size("_ul") - F.size(F.array_remove("_ul", F.col("_vio.v"))) > 1
        )
    exploded = agg.select("*", F.explode(vios).alias("_vio"))
    if keep is not None:
        exploded = exploded.filter(keep)
    if not depth:
        exploded = exploded.withColumn("object_value", F.col("_vio.v"))
    focus_rows = _results(exploded, F.col("_vio.comp"), F.col("_vio.v"))
    # a level without per-value checks starts here, not at an empty relation
    result = result.unionByName(focus_rows) if check_cols else focus_rows

    # sh:equals / sh:disjoint (pair components, SHACL core §4.4): the
    # path's value SET is compared with the sibling property's value SET
    # under RDF-term identity.  Membership is a fine-grained equi-join on
    # (constraint, focus, term) — never an in-row array — so hub focus
    # nodes with millions of values stay one row per term through every
    # shuffle (the same de-skew rule as the per-value hit explode above).
    eq_ids = [r["constraint_id"] for r in rows if r.get("equals")]
    dj_ids = [r["constraint_id"] for r in rows if r.get("disjoint")]
    if eq_ids or dj_ids:
        pair_by_pred: dict[str, list[int]] = {}
        for r in rows:
            if r.get("equals"):
                pair_by_pred.setdefault(r["equals"], []).append(r["constraint_id"])
            if r.get("disjoint"):
                pair_by_pred.setdefault(r["disjoint"], []).append(r["constraint_id"])

        def _term_key() -> F.Column:
            # RDF-term identity normalized for the join: plain literals ≡
            # xsd:string (RDF 1.1), language tags compare case-folded, and
            # IRIs/bnodes carry an empty datatype slot
            eff_dt = F.when(
                F.col("object_lang").isNotNull(), F.lit(RDF_LANGSTRING)
            ).otherwise(F.coalesce(F.col("object_datatype"), F.lit(XSD + "string")))
            return F.struct(
                F.col("object_value").alias("v"),
                F.col("object_type").alias("t"),
                F.when(F.col("object_type") == "literal", eff_dt)
                .otherwise(F.lit(""))
                .alias("dt"),
                F.coalesce(F.lower(F.col("object_lang")), F.lit("")).alias("lg"),
            )

        sib = (
            triples.select(
                F.explode(_cid_map(pair_by_pred)[F.col("predicate")]).alias(
                    "constraint_id"
                ),
                F.col("subject").alias("focusNode"),
                "object_value",
                "object_type",
                "object_datatype",
                "object_lang",
            )
            .join(targets, ["constraint_id", "focusNode"], "left_semi")
            .select("constraint_id", "focusNode", "object_value", _term_key().alias("_k"))
            .dropDuplicates(["constraint_id", "focusNode", "_k"])
        )
        pv_k = per_value.select(
            "constraint_id", "focusNode", "object_value", _term_key().alias("_k")
        )
        key = ["constraint_id", "focusNode", "_k"]
        if eq_ids:
            # violated in BOTH directions (sh:equals is set equality): each
            # path value missing from the sibling set, and each sibling
            # value missing from the path's value set
            only_path = pv_k.filter(F.col("constraint_id").isin(eq_ids)).join(
                sib.select(*key), key, "left_anti"
            )
            only_sib = sib.filter(F.col("constraint_id").isin(eq_ids)).join(
                pv_k.select(*key), key, "left_anti"
            )
            eq_rows = _with_meta(
                only_path.unionByName(only_sib.select(only_path.columns))
            )
            result = result.unionByName(
                _results(eq_rows, _component("Equals"), F.col("object_value"))
            )
        if dj_ids:
            both = pv_k.filter(F.col("constraint_id").isin(dj_ids)).join(
                sib.select(*key), key, "left_semi"
            )
            result = result.unionByName(
                _results(_with_meta(both), _component("Disjoint"), F.col("object_value"))
            )

    # sh:closed (+ sh:ignoredProperties): every (focus, p, o) assertion
    # whose predicate is outside the shape's allowed set is one violation
    # with resultPath = p.  One join of the triples stream against the
    # closed shapes' target set — same shuffle shape as the value stream.
    closed_ids = [r["constraint_id"] for r in rows if r.get("closed")]
    if closed_ids:
        # deduped here: each repeat of a target would repeat its triples
        ct = targets.filter(F.col("constraint_id").isin(closed_ids)).dropDuplicates()
        closed_vals = triples.select(
            "subject", "predicate", "object_value"
        ).join(
            ct.select("constraint_id", F.col("focusNode")),
            F.col("subject") == F.col("focusNode"),
        )
        cl = (
            _with_meta(closed_vals, extra=("closed_allowed",))
            .filter(~F.array_contains(F.col("closed_allowed"), F.col("predicate")))
            .withColumn("path", F.col("predicate"))
        )
        result = result.unionByName(
            _results(cl, _component("Closed"), F.col("object_value"))
        )

    # sh:sparql SELECT constraints (SPARQLConstraintComponent): each query
    # compiled to a BGP join plan (shapes/sparql.py — predicate-pushed
    # scans chained on shared-variable equi-joins, FILTERs as column
    # predicates, NOT EXISTS as left-anti); every solution whose $this is
    # in the constraint's target set is one violation (SHACL §5.3).  The
    # bundled profile rules (shapes/suites.py PROFILE_RULES) and published
    # shape files alike run through this one evaluator.
    # eval_select is target-independent: a shape with several target kinds
    # compiles to several rows sharing one query text — evaluate each
    # distinct (query, prefixes) once and semi-join per target slice
    sparql_plans: dict[tuple, DataFrame] = {}
    for r in rows:
        if not r.get("sparql_select"):
            continue
        from ..shapes.sparql import eval_select, parse_select

        key = (r["sparql_select"], tuple(sorted((r.get("sparql_prefixes") or {}).items())))
        res = sparql_plans.get(key)
        if res is None:
            q = parse_select(r["sparql_select"], r.get("sparql_prefixes"))
            res = eval_select(triples, q)
            sparql_plans[key] = res
        tgt = targets.filter(F.col("constraint_id") == r["constraint_id"]).select(
            F.col("focusNode").alias("this")
        )
        res = res.join(tgt, "this", "left_semi")
        if depth:
            result = result.unionByName(res.select(F.col("this").alias("focusNode")))
            continue
        value_col = (
            F.col("value").cast("string")
            if "value" in res.columns
            else F.lit(None).cast("string")
        )
        path_col = (
            F.col("path")
            if "path" in res.columns
            else F.lit(r.get("path")).cast("string")
        )
        msgs = r.get("messages") or []
        if msgs:

            def _subst(text: str) -> F.Column:
                # SHACL message placeholders ({$this}, {?value})
                c = F.replace(F.lit(text), F.lit("{$this}"), F.col("this"))
                return F.replace(
                    c, F.lit("{?value}"), F.coalesce(value_col, F.lit(""))
                )

            msg_col = F.array(
                *[
                    F.struct(
                        _subst(m["text"]).alias("text"),
                        F.lit(m.get("lang")).cast("string").alias("lang"),
                    )
                    for m in msgs
                ]
            )
        else:
            msg_col = F.lit(None).cast("array<struct<text:string,lang:string>>")
        result = result.unionByName(
            res.select(
                F.col("this").alias("focusNode"),
                path_col.alias("resultPath"),
                value_col.alias("value"),
                msg_col.alias("message"),
                F.lit(r["severity"]).alias("resultSeverity"),
                F.lit(_component("SPARQL")).alias("sourceConstraintComponent"),
                F.lit(r["shape_iri"]).alias("sourceShape"),
                F.lit(r.get("foaf_page")).cast("string").alias("foafPage"),
            )
        )

    # set semantics on results: one sh:ValidationResult per
    # (focus, path, value, component), matching the reference engine's
    # result identity; the input to this dedup is already tiny.
    return result if depth else result.select(*VIOLATION_COLUMNS).dropDuplicates()


def _sentinel(spark: SparkSession, component: str, text: str) -> DataFrame:
    """Synthetic 1-violation report for degenerate inputs — exact sentinel
    component strings kept for report parity
    (reference SHACLValidationService.ts:359-396, AppRouter.tsx:46-59)."""
    row = (
        None,
        None,
        None,
        [{"text": text, "lang": "en"}],
        SEVERITY_VIOLATION,
        component,
        None,
        None,
    )
    return local_df(spark, [row], VIOLATION_SCHEMA)


def validate_report(
    spark: SparkSession,
    triples: DataFrame,
    constraint_rows: list[dict],
) -> ValidationReport:
    """Full report path: sentinels + rules + conforms flag.

    Mirrors ``SHACLValidationService.validateRDF``
    (reference SHACLValidationService.ts:339-424): empty-shapes and
    empty-data sentinels first, then engine run, then severity partition.
    ``conforms`` is true iff there are no Violation-severity results
    (SURVEY.md §2.4 A10).  Profile rules are sh:sparql shapes compiled into
    ``constraint_rows`` (shapes/suites.py ``PROFILE_RULES``).

    The validation plan runs exactly once: ``results`` is materialized with
    ``localCheckpoint``, and the Turtle/CSV sinks and the analytics read
    those pinned rows.  The violation and row counts ride the pin as an
    ``Observation`` on the checkpointed plan, so they cost no job of their
    own; only if the metrics do not arrive are the pinned rows counted
    (``session.observed_metrics``).  An empty result (a conforming
    catalog) is returned as an empty local relation instead of the pin,
    so the report sinks run no job on it.  The rows stay distributed in
    executor storage, so executor loss invalidates them; they are not
    registered in the CacheManager, so nothing has to unpersist them.

    Before the plan is built, ONE probe job reads the emptiness bit and
    the rdfs:subClassOf edges together (the distinct edges, plus a null
    row for the other triples); ``_typed_with_entailment`` takes those
    edges instead of collecting them again.

    ``triples`` should already be materialized (see ``validate``): the
    ``sources/rdf_io.py`` loaders return a relation pinned as one
    partition, so on the parse → report path the probe and every scan of
    the plan read pinned rows and neither needs a shuffle.
    """
    if not constraint_rows:
        results = _sentinel(spark, SENTINEL_NO_SHAPES, "No SHACL shapes available")
        return ValidationReport(False, results, 1)
    # one probe job: the distinct subclass edges, which
    # _typed_with_entailment would otherwise collect in a job of its own,
    # plus one (null, null) row standing for every other triple — so the
    # probe is empty iff the data is
    edge = _is_subclass_edge()
    probe = (
        triples.select(
            F.when(edge, F.col("subject")).alias("child"),
            F.when(edge, F.col("object_value")).alias("parent"),
        )
        .dropDuplicates()
        .limit(SUBCLASS_EDGE_CAP + 2)
        .collect()
    )
    if not probe:
        results = _sentinel(spark, SENTINEL_EMPTY_CONTENT, "Empty RDF content")
        return ValidationReport(False, results, 1)
    is_viol = F.col("resultSeverity") == SEVERITY_VIOLATION
    obs = Observation()
    token = _PROBED_EDGES.set((triples, [r for r in probe if r.child is not None]))
    try:
        results = validate(spark, triples, constraint_rows)
    finally:
        _PROBED_EDGES.reset(token)
    counts = (F.count(F.when(is_viol, 1)).alias("n"), F.count(F.lit(1)).alias("rows"))
    results = results.observe(obs, *counts).localCheckpoint(eager=True)
    seen = observed_metrics(obs, lambda: results.select(*counts).first().asDict())
    if not seen["rows"]:
        # a pin with one empty partition would still cost the report
        # sinks a job each; an empty local relation costs them none
        results = local_df(spark, [], VIOLATION_SCHEMA)
    return ValidationReport(seen["n"] == 0, results, seen["n"])


def validate_turtle(
    spark: SparkSession,
    ttl: str,
    constraint_rows: list[dict],
    graph: str | None = None,
) -> ValidationReport:
    """Text entry point with the parse-error sentinel of the reference UI
    (AppRouter.tsx:46-59): malformed input yields a one-violation report
    with ``sourceConstraintComponent = system:ParseError``."""
    from ..model import SENTINEL_PARSE_ERROR
    from ..sources.rdf_io import triples_from_turtle

    try:
        triples = triples_from_turtle(spark, ttl, graph=graph)
    except ValueError as e:
        results = _sentinel(spark, SENTINEL_PARSE_ERROR, f"Parse error: {e}")
        return ValidationReport(False, results, 1)
    return validate_report(spark, triples, constraint_rows)
