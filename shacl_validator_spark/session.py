"""SparkSession factory tuned for the KG-construction workload, and the
bounded read of observed metrics that its callers share.

Local-mode settings mirror what a 1000-executor cluster job would set
per-executor: AQE on (runtime re-plan + skew-join splitting), Arrow on
(vectorized pandas UDF transfer), shuffle partitions sized to cores
rather than the 200 default, UTC session timezone so results compare
bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

DEFAULT_SHUFFLE_PARTITIONS = 32

# How long observed_metrics waits for an Observation before it counts.
OBSERVATION_WAIT_S = 60.0


def get_spark(
    app_name: str = "shacl_validator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the bench harness can pin parallelism levels for the
    N-vs-4N scaling measurement required by BASELINE.json.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # initialPartitionNum is deliberately NOT raised session-wide: AQE
        # coalescing is not free at small scale (a 128-way start doubled
        # the MinHash bench queries at sf0.1 — 2.9 s → 8.3 s, A/B'd), and
        # the one workload that needs a data-proportional start — the KG
        # pipeline's column repartitions (MERGE partition_key clustering)
        # at 10^7+ pages — sets it itself, scoped and sized from the
        # measured row count (plans/pipeline.py).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~2k rows ≈ 4-13 MB Arrow batches for KB-sized documents: large
        # enough to amortize per-batch transfer overhead, small enough that
        # concurrent pandas frames stay cache-friendly (measured: 10k-row
        # batches of 6.5 KB pages cost ~1.6x extract wall at 8 executors)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # DataFrame call-site capture off: with it on, PySpark wraps every
        # F.* / DataFrame call in a session lookup, a JVM class lookup, a
        # conf read and an origin set + clear — four extra py4j round trips
        # per call, about two thirds of validate()'s plan-build crossings
        # on the DCAT-AP-ES suite (2,528 -> 1,038 round trips per call on
        # local[4]).  It only adds the Python call site to analysis errors;
        # pass extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
        # "true"} when debugging one.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill scratch on tmpfs when available: this host's disk
    # write-back contends with timed reads 2-6x (BENCH/BASELINE.md), and
    # 128 GiB RAM dwarfs any bench-scale spill.  An explicit
    # SPARK_LOCAL_DIRS (the cluster-standard knob) always wins; on a real
    # cluster local dirs are provisioned NVMe and this block is inert.
    # Per-user path (a fixed shared name would let the first creator's
    # umask lock other users out) + a write probe so an unwritable tmpfs
    # falls back to Spark's disk default instead of failing in executors.
    # Capacity note: tmpfs caps at ~RAM/2 — a job whose spill exceeds that
    # must set SPARK_LOCAL_DIRS to provisioned disk.
    if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        shm = f"/dev/shm/spark-local-{os.getuid()}"
        try:
            os.makedirs(shm, exist_ok=True)
            probe = os.path.join(shm, ".write_probe")
            with open(probe, "w"):
                pass
            os.remove(probe)
            builder = builder.config("spark.local.dir", shm)
        except OSError:
            pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def observed_metrics(obs: Observation, fallback: Callable[[], dict]) -> dict:
    """The metrics of an observation whose action has already run, else
    ``fallback()``.

    For a plan shape that dropped the CollectMetrics node,
    ``Observation.get`` does not raise: it WAITS for a metrics row that
    will never be published.  So the read runs on a daemon thread with a
    join bounded by ``OBSERVATION_WAIT_S``, and on timeout (or error) the
    caller's fallback counts instead.  The abandoned reader parks
    harmlessly; being a daemon, it cannot block interpreter exit."""
    box: dict = {}

    def _read() -> None:
        try:
            box.update(obs.get)
        except Exception:  # noqa: BLE001 — metrics unavailable
            pass

    reader = threading.Thread(target=_read, daemon=True)
    reader.start()
    reader.join(timeout=OBSERVATION_WAIT_S)
    return box or fallback()


def counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an observation of its row count: whatever action
    consumes the rows counts them, with no job of its own."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def observed_count(obs: Observation | None, count: Callable[[], int]) -> int:
    """The row count ``obs`` (from ``counted``) saw, or ``count()`` when
    there is no observation or its metrics do not arrive."""
    if obs is None:
        return int(count())
    return int(observed_metrics(obs, lambda: {"n": count()})["n"])
