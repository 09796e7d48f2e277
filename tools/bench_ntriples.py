"""N-Triples ingestion throughput (sources/ntriples.py scale evidence).

Generates a deterministic dump (webtext-flavored literal mix: IRIs, typed
and lang-tagged literals, escape-bearing strings) ONCE as uncompressed
.nt part files, then measures the full distributed parse at two
parallelism levels on the identical input — the same two-cluster-size
protocol as tools/run_scaling.py (separate executor JVMs via
local-cluster, alternating reps, per-level minimum).

The timed job is parse + an all-column xxhash64 aggregation: a bare
count() would let Catalyst prune every parse expression away and measure
the line scan only; hashing every output column forces the whole
unescape/typing pipeline to execute while producing one scalar (no sink
write time polluting the parse number).

Usage: PYTHONPATH=. python tools/bench_ntriples.py [n_triples] [reps]
Writes BENCH/ntriples_scaling.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GEN = r"""
import os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from shacl_validator_spark.session import get_spark
from shacl_validator_spark.sources.ntriples import ntriples_lines

spark = get_spark(app_name="ntgen", master="local[32]", shuffle_partitions=32)
n = {n}
base = spark.range(n).withColumn("k", (F.col("id") % 5))
subj = F.concat(F.lit("http://ex.org/e/"), (F.col("id") % (n // 4 + 1)).cast("string"))
pred = F.concat(F.lit("http://ex.org/p/"), (F.col("id") % 37).cast("string"))
word = F.concat(F.lit("tok"), (F.col("id") % 997).cast("string"))
long_lit = F.repeat(F.concat(word, F.lit(" ")), 12)
df = base.select(
    subj.alias("subject"),
    pred.alias("predicate"),
    F.when(F.col("k") == 0, F.concat(F.lit("http://ex.org/o/"), F.col("id").cast("string")))
     .when(F.col("k") == 1, F.col("id").cast("string"))
     .when(F.col("k") == 2, F.concat(long_lit, F.lit('with "quotes" and\\ttabs\nnewlines')))
     .when(F.col("k") == 3, F.concat(F.lit("título "), word))
     .otherwise(long_lit).alias("object_value"),
    F.when(F.col("k") == 0, F.lit("iri")).otherwise(F.lit("literal")).alias("object_type"),
    F.when(F.col("k") == 1, F.lit("http://www.w3.org/2001/XMLSchema#integer"))
     .when(F.col("k").isin(2, 4), F.lit("http://www.w3.org/2001/XMLSchema#string"))
     .otherwise(F.lit(None).cast("string")).alias("object_datatype"),
    F.when(F.col("k") == 3, F.lit("es")).otherwise(F.lit(None).cast("string")).alias("object_lang"),
    F.lit(None).cast("string").alias("graph"),
)
ntriples_lines(df).repartition(64).write.mode("overwrite").text({dump_dir!r})
print("generated", n)
"""

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
import pyspark
os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
os.environ["SPARK_WORKER_DIR"] = "/tmp/lc_work"
from pyspark.sql import functions as F
from shacl_validator_spark.session import get_spark
from shacl_validator_spark.sources.ntriples import read_ntriples
from shacl_validator_spark.model import TRIPLE_COLUMNS

n_exec = {n_exec}
spark = get_spark(
    app_name="ntscal%d" % n_exec,
    master="local-cluster[%d,1,4096]" % n_exec,
    shuffle_partitions=max(n_exec, 8),
    extra_conf={{
        "spark.executor.memory": "3g",
        "spark.executorEnv.PYTHONPATH": {repo!r},
    }},
)
spark.range(0, 10**6, 1, n_exec).selectExpr("sum(id)").collect()  # warmup
t0 = time.time()
parsed = read_ntriples(spark, {dump_dir!r}, distinct=False)
row = parsed.agg(
    F.count(F.lit(1)).alias("n"),
    # bit_xor: order-insensitive and overflow-free under ANSI mode
    F.bit_xor(F.xxhash64(*TRIPLE_COLUMNS)).alias("h"),
).collect()[0]
wall = time.time() - t0
print("RESULT " + json.dumps({{
    "executors": n_exec, "wall": round(wall, 2), "rows": row.n, "hash": row.h,
}}))
"""


def _run(code: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=3600,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    # dir keyed by n: a rerun with a different size must not silently time
    # a stale dump of the wrong cardinality
    dump_dir = os.environ.get("NT_DUMP_DIR", f"/dev/shm/nt_dump_{n}")
    if not os.path.exists(dump_dir):
        subprocess.run(
            [sys.executable, "-c", GEN.format(repo=REPO, n=n, dump_dir=dump_dir)],
            check=True, env={**os.environ, "PYTHONPATH": REPO},
        )
    size_b = sum(
        os.path.getsize(os.path.join(dump_dir, f))
        for f in os.listdir(dump_dir) if f.startswith("part-")
    )
    runs: dict[int, list[dict]] = {1: [], 4: []}
    for _ in range(reps):
        for n_exec in (1, 4):
            r = _run(RUNNER.format(repo=REPO, n_exec=n_exec, dump_dir=dump_dir))
            runs[n_exec].append(r)
            print("run:", r)
    hashes = {r["hash"] for rs in runs.values() for r in rs}
    assert len(hashes) == 1, f"parse not deterministic across levels: {hashes}"
    best = {k: min(rs, key=lambda r: r["wall"]) for k, rs in runs.items()}
    eff = (best[1]["wall"] / best[4]["wall"]) / 4
    rec = {
        "protocol": "local-cluster[N,1] separate executor JVMs; shared uncompressed .nt dump; "
                    "timed job = parse + all-column xxhash64 agg; min of reps per level",
        "n_triples": best[1]["rows"],
        "dump_bytes": size_b,
        "reps": reps,
        "wall_low": best[1]["wall"],
        "wall_high": best[4]["wall"],
        "triples_per_sec_low": round(best[1]["rows"] / best[1]["wall"], 1),
        "triples_per_sec_high": round(best[4]["rows"] / best[4]["wall"], 1),
        "mb_per_sec_low": round(size_b / 1e6 / best[1]["wall"], 1),
        "mb_per_sec_high": round(size_b / 1e6 / best[4]["wall"], 1),
        "speedup": round(best[1]["wall"] / best[4]["wall"], 2),
        "efficiency": round(eff, 3),
        "all_runs": {k: [r["wall"] for r in rs] for k, rs in runs.items()},
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "ntriples_scaling.json"), "w") as f:
        json.dump(rec, f, indent=2)
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
