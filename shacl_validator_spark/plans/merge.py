"""Idempotent MERGE into a partitioned triple store (parquet emulation).

The north star targets Iceberg ``MERGE INTO`` keyed on
``(subj, pred, obj, src_url)`` (SURVEY.md §2.6 U3, §4.4).  The sandbox has
no Iceberg jars (SURVEY.md §7.3 environment note), so this module provides
the same contract over partitioned parquet:

- the table is hash-partitioned by ``partition_key =
  pmod(xxhash64(subject), N_BUCKETS)`` — subject-keyed layout so validation
  targeting and downstream entity joins co-locate (SURVEY.md §4 "bucketed
  layout on subject");
- MERGE = left-anti join of the incoming batch against existing keys in the
  touched partitions only, then append — replaying a batch inserts nothing,
  which is what makes checkpoint-resume exactly-once (BASELINE.json
  "resumable from checkpoint").

On a real cluster the implementation swaps to Iceberg ``MERGE INTO`` with
identical semantics; the call sites do not change.  Atomicity note: this
parquet emulation is exactly-once across BATCH replays (manifest +
anti-join), but a crash mid-append can leave partial part-files that a
replay would see — snapshot-atomic commits are exactly what the table
format (Iceberg) provides and are intentionally delegated to it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import counted, observed_count

# Full RDF term identity (SURVEY.md §1.3/§2.6 U4): two rows that agree
# lexically but differ in term kind / datatype / lang are DIFFERENT quads,
# so the MERGE key must carry all seven columns or set semantics break.
MERGE_KEY = [
    "subject",
    "predicate",
    "object_value",
    "object_type",
    "object_datatype",
    "object_lang",
    "graph",
]

# Subject hash buckets of the merged table's ``partition_key``; the Iceberg
# DDL's ``bucket(N_BUCKETS, subject)`` uses the same count.
N_BUCKETS = 32


def with_partition_key(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "partition_key", F.pmod(F.xxhash64(F.col("subject")), N_BUCKETS).cast("int")
    )


def merge_triples(
    spark: SparkSession,
    table_path: str,
    batch: DataFrame,
    assume_unique: bool = False,
) -> int:
    """MERGE WHEN NOT MATCHED THEN INSERT; returns rows inserted.

    Reads only the partitions the batch touches (partition pruning on
    ``partition_key``) — at 10^12 scale the anti-join never scans the whole
    table.  ``assume_unique=True`` skips the defensive dedup shuffle when the
    caller guarantees the batch is already distinct on the MERGE key (the
    pipeline's typed_triples stream is).

    Skew note: ``partition_key`` is subject-derived and hub subjects make
    some keys hot (BASELINE.json: "skewed hub entities"), so the pre-write
    clustering repartitions on (partition_key, salt-from-graph) — each hot
    partition is written by many parallel tasks, each producing one file in
    the partition directory, instead of one straggler task per hot key.
    """
    keyed = with_partition_key(batch)
    if not assume_unique:
        keyed = keyed.dropDuplicates(MERGE_KEY)
    salt = F.pmod(F.xxhash64(F.col("graph")), 8).alias("_salt")
    clustered = keyed.repartition(F.col("partition_key"), salt)
    if not os.path.exists(table_path):
        # the insert count is observed on the write itself; the fallback
        # reads the fresh table back
        written, obs = counted(clustered)
        written.write.mode("overwrite").partitionBy("partition_key").parquet(table_path)
        # explicit schema: a zero-row batch writes no data files and schema
        # inference would fail on the empty table
        return observed_count(
            obs, spark.read.schema(clustered.schema).parquet(table_path).count
        )

    touched = [r.partition_key for r in keyed.select("partition_key").dropDuplicates().collect()]
    existing = (
        spark.read.schema(clustered.schema)
        .parquet(table_path)
        .filter(F.col("partition_key").isin(touched))
        .select(*MERGE_KEY)
    )
    # null-safe equality: object_datatype/object_lang are NULL for IRIs and
    # plain literals, and plain EqualTo would never match those keys — every
    # replay would re-insert them
    cond = None
    for c in MERGE_KEY:
        term = clustered[c].eqNullSafe(existing[c])
        cond = term if cond is None else cond & term
    fresh = clustered.join(existing, cond, "left_anti").localCheckpoint(eager=True)
    n = fresh.count()
    if n:
        fresh.write.mode("append").partitionBy("partition_key").parquet(table_path)
    return n


def iceberg_merge_sql(table: str, source_view: str) -> str:
    """The exact ``MERGE INTO`` statement the cluster path runs.

    Semantics are identical to the parquet emulation above: null-safe
    equality on all seven MERGE_KEY columns (``<=>`` — object_datatype and
    object_lang are NULL for IRIs and plain literals, plain ``=`` would
    re-insert those keys on every replay) and insert-only conflict handling
    (``WHEN NOT MATCHED THEN INSERT``), which is what makes checkpoint
    replays exactly-once.  Kept as a generator so the statement is unit
    testable without an Iceberg catalog in the sandbox.
    """
    on = " AND ".join(f"t.{c} <=> s.{c}" for c in MERGE_KEY)
    return (
        f"MERGE INTO {table} t USING {source_view} s ON {on} "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def merge_triples_iceberg(
    spark: SparkSession,
    table: str,
    batch: DataFrame,
    assume_unique: bool = False,
) -> int:
    """Cluster-path MERGE via Iceberg ``MERGE INTO`` (same contract as
    :func:`merge_triples`; swaps in when the session has an Iceberg catalog).

    The target table is expected to exist with the batch schema plus the
    subject-bucket layout (``PARTITIONED BY (bucket(N, subject))`` — Iceberg
    hidden partitioning replaces the explicit ``partition_key`` column, and
    its bucket transform gives the same subject co-location).  The inserted
    row count is read from the newest snapshot's ``added-records`` summary —
    no table scan.  That snapshot is the MERGE's own commit under a single
    writer; if a concurrent writer can land between the MERGE and the
    summary read, isolate the batch on a branch (WAP) before trusting the
    attribution.

    Raises a clear fall-back error ONLY when the MERGE statement itself
    fails (no row-level-operation catalog configured — the sandbox case).
    A failure after the MERGE committed propagates untouched: replaying
    the batch into the parquet emulation at that point would double-land
    the data across two stores.
    """
    keyed = batch if assume_unique else batch.dropDuplicates(MERGE_KEY)
    keyed.createOrReplaceTempView("_merge_batch_src")
    try:  # pragma: no cover - exercised only with Iceberg jars
        try:
            spark.sql(iceberg_merge_sql(table, "_merge_batch_src"))
        except Exception as exc:
            raise RuntimeError(
                "MERGE INTO requires a row-level-operation catalog (Iceberg); "
                "use merge_triples() for the parquet emulation"
            ) from exc
        row = spark.sql(
            f"SELECT summary FROM {table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(row[0]["summary"].get("added-records", 0)) if row else 0
    finally:
        spark.catalog.dropTempView("_merge_batch_src")


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the session's classpath
    (``SparkCatalog`` loadable) — the gate for the real ``MERGE INTO``
    path.  The sandbox image carries no Iceberg jars, so this is False
    there; on a cluster submit with
    ``--packages org.apache.iceberg:iceberg-spark-runtime-<ver>`` it
    flips true with no code change."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def bench_iceberg_merge(spark: SparkSession, batch: DataFrame, warehouse_dir: str) -> dict:
    """Dual-path MERGE equivalence probe for the bench (VERDICT r3 #7).

    When the Iceberg runtime is present: configures a local hadoop catalog
    at ``warehouse_dir`` (runtime conf — catalogs instantiate lazily),
    creates a bucket-partitioned triple table, runs the REAL ``MERGE
    INTO`` twice with the same batch (second run must insert 0 — the
    replay-idempotence contract), runs the parquet emulation on the same
    batch, and reports both counts plus their equality.

    Without the runtime it returns a documented-fallback record instead of
    failing — the bench stays runnable in the jar-less sandbox while the
    JSON shows exactly which path was measured."""
    import tempfile

    if not iceberg_available(spark):
        return {
            "status": "unavailable",
            "detail": "Iceberg runtime not on classpath; parquet emulation "
            "is the measured MERGE path (documented fallback)",
        }
    cat = "kg_bench_ice"
    spark.conf.set(f"spark.sql.catalog.{cat}", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(f"spark.sql.catalog.{cat}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{cat}.warehouse", warehouse_dir)
    table = f"{cat}.db.triples_bench"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    cols = ", ".join(f"{c} STRING" for c in MERGE_KEY)
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING iceberg "
        f"PARTITIONED BY (bucket({N_BUCKETS}, subject))"
    )
    inserted1 = merge_triples_iceberg(spark, table, batch)
    inserted2 = merge_triples_iceberg(spark, table, batch)  # replay → 0
    emu_dir = tempfile.mkdtemp(prefix="kg_merge_emu_")
    emu1 = merge_triples(spark, os.path.join(emu_dir, "t"), batch)
    emu2 = merge_triples(spark, os.path.join(emu_dir, "t"), batch)
    return {
        "status": "ran",
        "iceberg_inserted": inserted1,
        "iceberg_replay_inserted": inserted2,
        "emulation_inserted": emu1,
        "emulation_replay_inserted": emu2,
        "counts_equal": inserted1 == emu1 and inserted2 == emu2 == 0,
    }
