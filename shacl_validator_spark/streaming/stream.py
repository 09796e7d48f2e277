"""Structured-Streaming skin over the per-batch validate+merge function.

The reference is strictly batch (SURVEY.md §2.9 — one validation per
click, no incremental evaluation), and the north rule's "resumable from
checkpoint" is satisfied by the batch pipeline's checkpoint manifests.
This module is the optional streaming entry noted in SURVEY.md §7.4: a
``foreachBatch`` wrapper that reuses the exact same extract → validate →
idempotent-MERGE function per micro-batch, so exactly-once carries over
from MERGE idempotence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import conformant_triples, run_pipeline


def validated_stream_writer(
    spark: SparkSession,
    pages_stream: DataFrame,
    out_dir: str,
    profile: str = "kg_extraction",
    checkpoint_dir: str | None = None,
):
    """``pages_stream.writeStream.foreachBatch(...)`` runner.

    Each micro-batch goes through the full batch pipeline (n_groups=1 —
    the stream's own micro-batching replaces partition groups); Spark's
    streaming checkpoint tracks offsets while the MERGE keys guarantee
    replayed batches insert nothing.

    Conformance holds per micro-batch, not across the stream: each epoch
    is one ``run_pipeline`` call that validates only its own triples, so
    a node whose triples arrive in different epochs can still break a
    shape in the merged table (see ``run_pipeline``).
    """

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        run_pipeline(
            spark,
            batch_df,
            out_dir,
            profile=profile,
            n_groups=1,
            resume=False,
        )

    writer = pages_stream.writeStream.foreachBatch(per_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def ntriples_stream(
    spark: SparkSession,
    landing_dir: str,
    graph: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """Streaming N-Triples/N-Quads source over a landing directory — the
    continuous-ingestion form of ``sources/ntriples.read_ntriples``: new
    dump files dropped into ``landing_dir`` become triple micro-batches.

    The grammar core is pure column expressions, so it lifts to
    ``readStream.text`` unchanged; distinct is off (streams cannot
    arbitrarily dropDuplicates — set semantics come from the MERGE's
    key anti-join downstream).  ``strict`` defaults to False here, the
    OPPOSITE of the batch reader: a strict stream wedges permanently on
    one malformed landed line (the checkpoint replays the same offsets
    into the same raise_error forever), so continuous ingestion drops bad
    lines instead; pass strict=True only when the producer is trusted and
    a poisoned file should halt the pipeline."""
    from ..sources.ntriples import parse_ntriples

    return parse_ntriples(
        spark.readStream.text(landing_dir), graph=graph, strict=strict, distinct=False
    )


def validated_triples_stream_writer(
    spark: SparkSession,
    triples_stream: DataFrame,
    out_dir: str,
    constraint_rows: list[dict],
    checkpoint_dir: str | None = None,
    entailment: str = "rdfs",
):
    """Per-micro-batch validate → conformant-filter → idempotent MERGE for
    a streaming TRIPLE source (pair with ``ntriples_stream``): the
    dump-ingestion counterpart of ``validated_stream_writer``'s pages
    path.  Exactly-once carries over from MERGE-key idempotence — a
    replayed batch inserts nothing — and the violations relation is
    appended per epoch as the report output.  ``out_dir`` may be any
    Hadoop-FS URI (scratch cleanup goes through the Hadoop FileSystem
    API, not the local OS).

    Conformance holds per epoch, not across the stream: each epoch
    validates only its own triples, so a node whose triples arrive in
    different epochs can still break a shape in the merged table.

    Plan-build reuse (r4, VERDICT r3 #8): a compiled DataFrame CANNOT be
    re-executed over a mutated scratch path (the analyzed plan pins the
    file listing — measured stale even after refreshByPath, on plain paths
    and catalog tables alike), so each epoch builds a fresh plan — but
    validate()'s expression cache (operators/validate.py) memoizes every
    input-independent driver-side artifact (literal check chains, the
    result-metadata and facet when-chains, focus-check arrays) keyed by
    the constraint rows, so the per-epoch rebuild costs a fraction of the
    first build.  validate() persists nothing, so a long-running stream
    accumulates no storage blocks.  The returned writer exposes
    ``writer.stats`` for observability/tests."""
    from ..model import TRIPLE_SCHEMA
    from ..operators.validate import validate
    from ..plans.merge import merge_triples

    stats = {"epochs": 0}

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # materialize the parsed batch once: validate() is a multi-consumer
        # plan (targets scan, value stream, typed set) and must not re-run
        # the text parse per consumer (same scratch-table contract as the
        # batch pipeline)
        scratch = f"{out_dir}/scratch/epoch={epoch_id}"
        batch_df.dropDuplicates().write.mode("overwrite").parquet(scratch)
        batch = spark.read.schema(TRIPLE_SCHEMA).parquet(scratch)
        # ``entailment="none"`` skips the per-batch subclass-edge collect
        # job — pass it when the stream's producer vocabulary cannot emit
        # rdfs:subClassOf (the same probe-free contract as the batch
        # pipeline); with the expression cache warm the whole per-epoch
        # plan rebuild then costs ~0.3 s vs ~1.1 s cold (measured r4)
        violations = validate(spark, batch, constraint_rows, entailment=entailment)
        report_path = f"{out_dir}/reports/epoch={epoch_id}"
        violations.write.mode("overwrite").parquet(report_path)
        merge_triples(
            spark,
            f"{out_dir}/triples",
            conformant_triples(batch, spark.read.parquet(report_path)),
        )
        _fs_rm(scratch)
        stats["epochs"] += 1

    def _fs_rm(path: str) -> None:
        # Hadoop FS delete — works for file://, hdfs://, s3a:// alike,
        # where shutil.rmtree silently no-ops on a remote URI
        hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        hpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(hpath, True)

    writer = triples_stream.writeStream.foreachBatch(per_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.stats = stats
    return writer
