"""End-to-end KG-construction pipeline (the flagship path, SURVEY.md §3.1).

pages → extract_text (pandas UDF) → extract_raw_triples (JVM candidate
gate, then Arrow batches) →
link mentions (broadcast alias dict + MinHash-LSH) → canonicalize
(connected components) → typed triples → SHACL validate (constraint-table
joins) → conformant-only idempotent MERGE + lineage + checkpoint manifest.

This is the Spark rebuild of the reference's click-to-report lifecycle
(reference src/components/Validator/ValidatorInput.tsx:221-292 →
AppRouter.tsx:22-63 → SHACLValidationService.ts:339-424), re-topologized
for a 1000-executor cluster:

- the only Python on executors is the two vectorized extraction UDFs;
- linking/canonicalization operate on the distinct-surface set and return
  broadcast maps — the triple stream is never shuffled for linking;
- input partition groups are the unit of resumable extraction: each one
  stages its raw extraction under a checkpoint manifest; then, once per
  call, linking, canonicalization and typing run over every staged group
  and one validate and one MERGE commit them, so a restart re-extracts
  nothing already staged and the idempotent MERGE makes a replayed commit
  exactly-once (BASELINE.json north_rule);
- row counts (pages and raw rows per group, typed rows, violations) are
  observed on writes that run anyway, so no job runs only to count.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..local_df import local_df
from ..model import RDF_TYPE, SEVERITY_VIOLATION, TRIPLE_SCHEMA, VIOLATION_SCHEMA
from ..operators import components
from ..operators.linking import alias_dict_df, link_mentions
from ..operators.validate import validate
from ..session import counted, observed_count, observed_metrics
from ..shapes import compile_shapes, profile_shapes_ttl
from ..sources.extract import (
    ENTITY,
    KG,
    RAW_TRIPLE_SCHEMA,
    XSD_INTEGER,
    extract_raw_triples,
    extract_raw_triples_from_html,
    mentions_from_raw,
)
from ..sources.pages import alias_rows
from .merge import MERGE_KEY, merge_triples

_ENTITIES_SCHEMA = "canonical_id string, surface_forms array<string>, ent_class string"


@dataclass
class PipelineResult:
    triples_in: int
    triples_valid: int
    violations: int
    merged: int
    entities: DataFrame  # (canonical_id, surface_forms, ent_class)
    violations_df: DataFrame
    stage_seconds: dict[str, float] = field(default_factory=dict)


def canonicalize(spark: SparkSession, linked: DataFrame, max_iter: int = 6) -> DataFrame:
    """Merge surfaces that share a canonical id (or are chained by LSH)
    into components; canonical id := min member id.

    Edges: surface ↔ linked canonical id.  Returns the final broadcastable
    (surface, canonical_id, ent_class) map.

    When the linked surface map is small (it is the distinct-surface set,
    already collapsed by linking; the bound is the connected-components
    ``SMALL_GRAPH_EDGES``, one edge per surface) the whole computation runs
    driver-side — union-find plus a dict join — instead of ~10 tiny Spark
    jobs.
    """
    cap = components.SMALL_GRAPH_EDGES
    if cap:
        head = linked.limit(cap + 1).collect()
        if len(head) <= cap:
            pairs = [("s|" + r.surface, "c|" + r.canonical_id) for r in head]
            comp = dict(components._driver_union_find(pairs))
            # every surface has an edge to a c| node and 'c|' < 's|', so the
            # min-label component is always c|-prefixed (same argument as the
            # distributed path's coalesce fallback)
            rows = sorted(
                {
                    (
                        r.surface,
                        r.ent_class,
                        comp["s|" + r.surface][2:]
                        if ("s|" + r.surface) in comp
                        else "surface:" + r.surface.lower(),
                    )
                    for r in head
                },
                key=lambda t: (t[0], t[1] or "", t[2]),
            )
            return local_df(
                spark, rows, "surface string, ent_class string, canonical_id string"
            )
    edges = linked.select(
        F.concat(F.lit("s|"), F.col("surface")).alias("src"),
        F.concat(F.lit("c|"), F.col("canonical_id")).alias("dst"),
    )
    comps = components.connected_components(edges, max_iter=max_iter)
    # component label is min over 'c|...' and 's|...' — 'c|' sorts before 's|',
    # so canonical ids win whenever one is in the component
    surf = (
        comps.filter(F.col("node").startswith("s|"))
        .select(
            F.expr("substring(node, 3)").alias("surface"),
            F.expr("substring(component, 3)").alias("canonical_id"),
        )
    )
    return (
        linked.select("surface", "ent_class")
        .join(surf, "surface", "left")
        .select(
            "surface",
            "ent_class",
            F.coalesce(F.col("canonical_id"), F.concat(F.lit("surface:"), F.lower("surface"))).alias(
                "canonical_id"
            ),
        )
    )


def typed_triples(raw: DataFrame, surface_map: DataFrame) -> DataFrame:
    """Surface triples + broadcast surface→canonical map → TRIPLE_SCHEMA rows.

    Emits the relation triples plus the inverse (publishedBy) edges; the
    entity-level support triples live in ``entity_triples``.

    Scale design — no dedup here: the function is broadcast joins +
    projections only, zero shuffles over the big stream.  Uniqueness on the
    MERGE key is NOT guaranteed by this output, though: two distinct
    surface forms on one page (e.g. 'Acme Corp'/'ACME Corp') collapse to
    identical canonical triples after the surface→canonical join, so the
    caller dedups the post-canonicalization stream (run_pipeline does it
    once, fused into the scratch-write shuffle) — the first point where
    MERGE-key uniqueness can actually be asserted.
    """
    smap = F.broadcast(surface_map.select("surface", "canonical_id").dropDuplicates(["surface"]))
    sm_s = smap.withColumnRenamed("surface", "s_surf").withColumnRenamed(
        "canonical_id", "s_id"
    )
    sm_o = smap.withColumnRenamed("surface", "o_surf").withColumnRenamed(
        "canonical_id", "o_id"
    )
    resolved = (
        raw.join(sm_s, raw["subj_surface"] == sm_s["s_surf"], "left")
        .join(
            sm_o,
            (raw["obj_surface"] == sm_o["o_surf"]) & (raw["obj_kind"] == ENTITY),
            "left",
        )
        .select(
            F.coalesce(F.col("s_id"), F.concat(F.lit("surface:"), F.lower("subj_surface"))).alias(
                "subject"
            ),
            F.col("predicate"),
            F.when(F.col("obj_kind") == ENTITY,
                   F.coalesce(F.col("o_id"), F.concat(F.lit("surface:"), F.lower("obj_surface"))))
            .otherwise(F.col("obj_surface"))
            .alias("object_value"),
            F.when(F.col("obj_kind") == ENTITY, F.lit("iri"))
            .otherwise(F.lit("literal"))
            .alias("object_type"),
            F.when(F.col("obj_kind") != ENTITY, F.lit(XSD_INTEGER))
            .cast("string")
            .alias("object_datatype"),
            F.lit(None).cast("string").alias("object_lang"),
            F.col("src_url").alias("graph"),
        )
    )

    # inverse edges: publishes ⇒ publishedBy (satisfies the Dataset shape's
    # minCount/class on kg:publishedBy)
    inverse_rows = resolved.filter(F.col("predicate") == KG + "publishes").select(
        F.col("object_value").alias("subject"),
        F.lit(KG + "publishedBy").alias("predicate"),
        F.col("subject").alias("object_value"),
        F.lit("iri").alias("object_type"),
        F.lit(None).cast("string").alias("object_datatype"),
        F.lit(None).cast("string").alias("object_lang"),
        "graph",
    )

    return resolved.unionByName(inverse_rows)


ENTITY_GRAPH = "urn:kg:entities"


def entity_triples(surface_map: DataFrame) -> DataFrame:
    """Entity-level support triples: rdf:type from the linked entity class
    and kg:name per surface form, emitted ONCE per canonical entity.

    Scale rationale: these facts are properties of the entity, not of any
    one page.  Emitting them per (entity, page) — the naive rebuild of the
    reference's per-document quads — multiplies the triple stream ~3x only
    for the MERGE anti-join to discard the copies; at 10^12 pages the hub
    entities alone would contribute billions of redundant rows per batch.
    The entity table (distinct surfaces) is tiny after canonicalization, so
    this branch costs nothing and keeps minCount(name)/sh:class targeting
    semantics identical (the validator works on the set-union graph either
    way).  ``graph = urn:kg:entities`` keeps the MERGE key total and makes
    replays idempotent.
    """
    cls_rows = (
        surface_map.filter(F.col("ent_class").isNotNull())
        .select(
            F.col("canonical_id").alias("subject"),
            F.lit(RDF_TYPE).alias("predicate"),
            F.col("ent_class").alias("object_value"),
            F.lit("iri").alias("object_type"),
            F.lit(None).cast("string").alias("object_datatype"),
            F.lit(None).cast("string").alias("object_lang"),
            F.lit(ENTITY_GRAPH).alias("graph"),
        )
        .dropDuplicates(["subject", "object_value"])
    )
    name_rows = (
        surface_map.select(
            F.col("canonical_id").alias("subject"),
            F.lit(KG + "name").alias("predicate"),
            F.col("surface").alias("object_value"),
            F.lit("literal").alias("object_type"),
            F.lit("http://www.w3.org/2001/XMLSchema#string").alias("object_datatype"),
            F.lit(None).cast("string").alias("object_lang"),
            F.lit(ENTITY_GRAPH).alias("graph"),
        )
        .dropDuplicates(["subject", "object_value"])
    )
    return cls_rows.unionByName(name_rows)


def conformant_triples(triples: DataFrame, violations: DataFrame) -> DataFrame:
    """The triples that may be MERGE'd: every triple whose subject has no
    Violation-severity result.  Warning and Info results do not reject.

    Violating focus nodes are a tiny distinct set, so the anti join is
    broadcast and the triple stream is never shuffled for this filter."""
    bad_focus = F.broadcast(
        violations.filter(F.col("resultSeverity") == SEVERITY_VIOLATION)
        .select(F.col("focusNode").alias("subject"))
        .dropDuplicates()
    )
    return triples.join(bad_focus, "subject", "left_anti")


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    profile: str = "kg_extraction",
    n_groups: int = 4,
    resume: bool = True,
) -> PipelineResult:
    """Run extract → link → canonicalize → validate → MERGE over ``pages``.

    ``n_groups`` splits the input into partition groups (grouped by url
    hash), the unit of resumable extraction.  Each group that is not yet
    done writes its raw extraction to scratch and is marked ``"staged"``
    in the checkpoint manifest.  Then, once per call, mentions → linking →
    canonicalization → typed and entity triples run over the union of the
    staged groups and write ONE typed scratch table; ONE ``validate()``
    reads it and ONE conformant-only MERGE commits it.  Every committed
    group gets a lineage row and is marked ``"done"`` (FIXTURES.md §8): a
    relation triple counts in its page's group, and an entity support
    triple (a per-entity fact) in the call's first group.  A killed call
    resumes without re-extracting its staged groups; it re-runs only the
    distinct-surface-sized link/canonicalize step and the call-sized typed
    write, and the idempotent MERGE makes a replayed commit exactly-once.

    What holds across calls: the rows one call MERGEs conform to the
    profile as a whole, so the table a single call builds does not depend
    on ``n_groups``.  Each later call validates only its own triples — a
    resume after a partial commit, a second run into the same
    ``out_dir``, or a stream micro-batch — so a node whose triples arrive
    in different calls can still break a shape in the table (four pages
    naming one place in four calls land four ``kg:name`` values against
    ``sh:maxCount 3``).
    """
    started_at = datetime.now(timezone.utc).isoformat()
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "checkpoint_manifest.json")
    lineage_path = os.path.join(out_dir, "lineage.jsonl")
    table_path = os.path.join(out_dir, "triples")
    scratch = os.path.join(out_dir, "_scratch")

    manifest: dict[str, str] = {}
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)

    def _save_manifest() -> None:
        with open(manifest_path, "w") as f:
            json.dump(dict(sorted(manifest.items())), f)

    shapes = compile_shapes(profile_shapes_ttl(profile))
    adict = alias_dict_df(spark, alias_rows())

    stage_seconds: dict[str, float] = {}

    def _bump(stage: str, t0: float) -> float:
        now = time.time()
        stage_seconds[stage] = stage_seconds.get(stage, 0.0) + now - t0
        return now

    pages_g = pages.withColumn("_grp", F.pmod(F.xxhash64(F.col("url")), n_groups))
    todo = [g for g in range(n_groups) if manifest.get(f"grp={g}") != "done"]
    keys = [f"grp={g}" for g in todo]
    raw_root = os.path.join(scratch, "raw")
    # page and raw-row counts of the groups this call extracts, observed
    # on their extraction writes; a group staged by an earlier call counts
    # its rows instead
    obs_pages: dict[int, Observation] = {}
    obs_raw: dict[int, Observation] = {}
    for grp, key in zip(todo, keys):
        if manifest.get(key) == "staged":
            continue
        t0 = time.time()
        batch_pages, obs_pages[grp] = counted(pages_g.filter(F.col("_grp") == grp).drop("_grp"))
        # text-carrying input uses the JVM-gated text kernel; html-only
        # input goes through the FUSED html→text→triples kernel (one Arrow
        # pass per page instead of extract_text materialize + re-scan —
        # r5, VERDICT r4 #4)
        extractor = (
            extract_raw_triples
            if "text" in batch_pages.columns
            else extract_raw_triples_from_html
        )
        # Scratch parquet, not localCheckpoint: the columnar write of the
        # narrow stream is cheap and constant, while caching millions of
        # deserialized row objects in executor memory is the single
        # worst-scaling operation measured on this pipeline (and would not
        # survive executor loss on a real cluster).
        raw_g, obs_raw[grp] = counted(extractor(batch_pages))
        raw_g.write.mode("overwrite").parquet(os.path.join(raw_root, key))
        _bump("extract", t0)
        manifest[key] = "staged"
        _save_manifest()

    if not todo:
        entities = local_df(spark, [], _ENTITIES_SCHEMA)
        entities.write.mode("overwrite").parquet(os.path.join(out_dir, "entities"))
        return PipelineResult(0, 0, 0, 0, entities, local_df(spark, [], VIOLATION_SCHEMA))

    # Linking, canonicalization and typing run ONCE per call, over the
    # union of the staged raw groups: a surface's canonical id does not
    # depend on the group it was seen in (each surface has one edge, to
    # its linked id), so per-group maps would only repeat the work.
    t0 = time.time()
    # explicit schema: skips inference and keeps zero-row groups valid
    raw = spark.read.schema(RAW_TRIPLE_SCHEMA).parquet(
        *(os.path.join(raw_root, k) for k in keys)
    )
    # the distinct-surface set is tiny after dedup — materialize it so
    # the exact-link/LSH/CC consumers never rescan the mention stream
    mentions = mentions_from_raw(raw).localCheckpoint(eager=True)
    linked = link_mentions(spark, mentions, adict)
    # ONE partition: the map is broadcast by contract anyway, and a
    # single-partition pin satisfies the dropDuplicates of typed_triples
    # and entity_triples without a shuffle
    surface_map = canonicalize(spark, linked, max_iter=3).coalesce(1).localCheckpoint(eager=True)
    t0 = _bump("link_canon", t0)

    # the typed stream is ~3-5 rows/page — orders of magnitude lighter
    # than the page text the extract stage chewed through — so its
    # stages get proportionally fewer partitions.  One repartition+dedup
    # shuffle on the narrow canonical stream: the surface→canonical join
    # can collapse two surface forms on one page into identical triples,
    # so MERGE-key uniqueness is only assertable HERE.
    #
    # Partition count must grow with DATA, not just cores: a fixed
    # count made the dedup hash-agg hold millions of 7-string keys per
    # task at 10^7-page groups and fall off a spill cliff (measured
    # 55 s → 286 s for 2x the data on a 3 g executor).  The raw row
    # count was observed on the extraction writes and caps partitions
    # at ~1M rows each; explicit repartition(n) is exempt from AQE
    # coalescing, so the floor keeps small inputs at the
    # core-proportional count they had before.
    n_raw = sum(
        observed_count(
            obs_raw.get(g),
            lambda k=k: spark.read.schema(RAW_TRIPLE_SCHEMA)
            .parquet(os.path.join(raw_root, k))
            .count(),
        )
        for g, k in zip(todo, keys)
    )
    tail_parts = max(
        4,
        spark.sparkContext.defaultParallelism // 4,
        -(-n_raw // 1_000_000),
    )
    typed_path = os.path.join(scratch, "typed")
    typed, obs_typed = counted(
        typed_triples(raw, surface_map)
        .unionByName(entity_triples(surface_map))
        .repartition(tail_parts, *MERGE_KEY)
        .dropDuplicates(MERGE_KEY)
    )
    typed.write.mode("overwrite").parquet(typed_path)
    # Scratch parquet rather than a checkpoint keeps the file-size
    # statistics validate()'s join planning reads.  Lineage recovers a
    # relation triple's group from its graph, the page url the groups are
    # hashed on; entity support triples are per-entity facts and count in
    # the call's first group, the one its report is filed under.
    triples = spark.read.schema(TRIPLE_SCHEMA).parquet(typed_path)
    n_typed = observed_count(obs_typed, triples.count)
    triples = triples.withColumn(
        "grp",
        F.when(F.col("graph") == ENTITY_GRAPH, F.lit(todo[0])).otherwise(
            F.pmod(F.xxhash64(F.col("graph")), n_groups)
        ),
    )
    t0 = _bump("typed_triples", t0)

    # AQE can only coalesce DOWN from the initial shuffle partition
    # count, so the MERGE's column repartition (partition_key + salt
    # clustering, merge.py) is granularity-capped by it: with the
    # count pinned to cores, each clustering task falls off a spill
    # cliff at 10^7-page inputs (typed stage measured 96.9 → 42.5 s at
    # 24M pages / 4 one-core executors with a 128-way start).  Raising
    # it SESSION-WIDE is the wrong tool — a high start doubled the
    # sf0.1 MinHash bench queries (2.9 s → 8.3 s, A/B'd) because AQE
    # coalescing is not free at small scale — so it is set HERE, once,
    # sized from the call's typed rows (~250k clustering rows per
    # partition), and the caller's setting is restored on exit.
    init_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    init_prev = spark.conf.get(init_key, None)
    spark.conf.set(
        init_key,
        str(max(spark.sparkContext.defaultParallelism, min(4096, -(-n_typed // 250_000)))),
    )
    try:
        # violation reports are a pipeline OUTPUT (the sh:ValidationReport
        # body of the call), not scratch: written once per call under the
        # first group it commits, so a resumed call never overwrites the
        # report of an earlier call that committed
        report_path = os.path.join(out_dir, "reports", keys[0])
        # entailment="none": the extractor vocabulary cannot emit
        # rdfs:subClassOf, so the subclass collect job is provably useless
        # here — this keeps the validate call free of driver-side jobs
        report, obs_viol = counted(
            validate(spark, triples.drop("grp"), shapes, entailment="none")
        )
        report.write.mode("overwrite").parquet(report_path)
        violations = spark.read.schema(VIOLATION_SCHEMA).parquet(report_path)
        n_viol = observed_count(obs_viol, violations.count)
        t0 = _bump("validate", t0)

        # lineage's per-group triples_in/triples_valid ride the MERGE's own
        # scan as observed metrics instead of extra passes over the typed
        # stream — a separate conformant.count() re-ran the whole broadcast
        # anti-join (measured ~20 s at 12M pages / 4 executors):
        # CollectMetrics counts the rows at these plan points during
        # whatever action merge_triples runs first
        per_group = [F.count(F.when(F.col("grp") == g, True)).alias(k) for g, k in zip(todo, keys)]
        obs_in = Observation()
        obs_valid = Observation()
        observed = triples.observe(obs_in, *per_group)
        conformant = conformant_triples(observed, violations).observe(obs_valid, *per_group)
        merged = merge_triples(spark, table_path, conformant.drop("grp"), assume_unique=True)
    finally:
        if init_prev is None:
            spark.conf.unset(init_key)
        else:
            spark.conf.set(init_key, init_prev)
    # n_typed == 0 implies nothing to count, and AQE's empty-relation
    # propagation may have dropped the CollectMetrics nodes
    n_in = _group_counts(obs_in, triples, keys) if n_typed else dict.fromkeys(keys, 0)
    n_valid = _group_counts(obs_valid, conformant, keys) if n_typed else dict.fromkeys(keys, 0)
    finished_at = datetime.now(timezone.utc).isoformat()
    with open(lineage_path, "a") as f:
        for g, k in zip(todo, keys):
            row = {
                "partition_key": k,
                "src_url_count": observed_count(
                    obs_pages.get(g), pages_g.filter(F.col("_grp") == g).count
                ),
                "triples_in": n_in[k],
                "triples_valid": n_valid[k],
                "violations": n_viol,
                "started_at": started_at,
                "finished_at": finished_at,
            }
            f.write(json.dumps(row) + "\n")
    manifest.update(dict.fromkeys(keys, "done"))
    _save_manifest()

    # the entity table is the surface map grouped by canonical id: the
    # same rows entity_triples emits, read from the one-partition pin
    ent_out = os.path.join(out_dir, "entities")
    surface_map.groupBy("canonical_id").agg(
        F.sort_array(F.collect_set("surface")).alias("surface_forms"),
        F.min("ent_class").alias("ent_class"),
    ).write.mode("overwrite").parquet(ent_out)
    entities = spark.read.schema(_ENTITIES_SCHEMA).parquet(ent_out)
    # every consumer of the scratch tables has run its action; without
    # this a resumed or repeated run keeps a full copy of its streams on
    # disk for the lifetime of the output dir
    shutil.rmtree(scratch, ignore_errors=True)
    _bump("merge", t0)

    return PipelineResult(
        triples_in=sum(n_in.values()),
        triples_valid=sum(n_valid.values()),
        violations=n_viol,
        merged=merged,
        entities=entities,
        violations_df=violations,
        stage_seconds={k: round(v, 3) for k, v in stage_seconds.items()},
    )


def _group_counts(obs: Observation, df: DataFrame, keys: list[str]) -> dict[str, int]:
    """Per-group row counts from an observation ``merge_triples`` has
    already triggered; counts ``df`` when the metrics do not arrive
    (``session.observed_metrics``)."""
    box = observed_metrics(
        obs,
        lambda: {f"grp={r['grp']}": r["count"] for r in df.groupBy("grp").count().collect()},
    )
    return {k: int(box.get(k, 0)) for k in keys}


def prune_lineage(out_dir: str, keep: int = 10) -> int:
    """Cap the lineage history at the last ``keep`` rows.

    Parity with the reference's validation-history cap — the UI slices its
    localStorage report history to the 10 most recent entries
    (reference src/components/Validator/ValidationResults.tsx:246);
    round 2 left the lineage append-only.  Rows stay in append order, so
    "last keep" is the tail of the JSONL file.  Returns the number of rows
    dropped.  Note the MANIFEST is untouched: resume correctness depends on
    the done-set, not on the pruned metrics history.
    """
    path = os.path.join(out_dir, "lineage.jsonl")
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    if len(lines) <= keep:
        return 0
    kept = lines[-keep:]
    with open(path, "w") as f:
        f.write("\n".join(kept) + "\n")
    return len(lines) - len(kept)
