"""Scaling-efficiency measurement (BASELINE.json north_rule).

Runs the flagship KG pipeline at two CLUSTER sizes — ``local-cluster[2,1,m]``
vs ``local-cluster[8,1,m]``, i.e. N vs 4N separate executor JVMs, the
closest sandbox stand-in for N vs 4N executors — on an identical
pre-materialized parquet corpus, and reports throughput at both plus
efficiency = (T_low / T_high) / 4.

Protocol notes (what makes this measurement honest on this host):
- the corpus is generated ONCE to parquet and shared by both levels (the
  production input is a table, and in-JVM corpus generation would pollute
  every measured stage with allocation churn);
- the corpus is Common-Crawl-realistic: ~6.5 KB text per page, ~30% of
  pages carrying extractable relations — this puts the extraction/triple
  ratio in webtext territory instead of a degenerate
  triples-denser-than-text microbenchmark;
- each level runs ``reps`` times in alternating order and the per-level
  minimum wall is used: the sandbox VM shows 2-4x run-to-run noise from
  noisy-neighbor memory contention (single-process STREAM bandwidth is
  ~9 GB/s and collapses to 0.1-3 GB/s per process under concurrency — see
  BENCH/BASELINE.md), and min-of-reps is the standard uncontended-floor
  estimator under that regime;
- executor JVMs are separate processes (local-cluster), as on a real
  cluster — thread-level local[K] shares one heap/GC and anti-scales on
  this host for reasons a real cluster does not have.

Writes BENCH/scaling.json.

Usage: PYTHONPATH=. python tools/run_scaling.py [n_pages] [reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, os, sys, time, shutil, tempfile
sys.path.insert(0, {repo!r})
import pyspark
os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
os.environ["SPARK_WORKER_DIR"] = "/tmp/lc_work"
from shacl_validator_spark.session import get_spark
from shacl_validator_spark.plans.pipeline import run_pipeline

n_exec = {n_exec}
spark = get_spark(
    app_name="scaling%d" % n_exec,
    master="local-cluster[%d,1,4096]" % n_exec,
    shuffle_partitions=max(n_exec, 8),
    extra_conf={{
        "spark.executor.memory": "3g",
        "spark.executorEnv.PYTHONPATH": {repo!r},
    }},
)
spark.range(0, 10**6, 1, n_exec).selectExpr("sum(id)").collect()  # warmup
pages = spark.read.parquet({pages_dir!r})
out_dir = tempfile.mkdtemp(prefix="scal_kg_")
try:
    t0 = time.time()
    res = run_pipeline(spark, pages, out_dir, n_groups=1, resume=False)
    wall = time.time() - t0
finally:
    shutil.rmtree(out_dir, ignore_errors=True)
print("RESULT " + json.dumps({{
    "executors": n_exec, "wall": round(wall, 2), "stages": res.stage_seconds,
    "triples_in": res.triples_in, "triples_valid": res.triples_valid,
    "valid_tps": round(res.triples_valid / wall, 1),
}}))
"""

GEN = r"""
import os, sys
sys.path.insert(0, {repo!r})
from shacl_validator_spark.session import get_spark
from shacl_validator_spark.sources.pages import synthesize_pages
spark = get_spark(app_name="gen", master="local[16]", shuffle_partitions=16)
synthesize_pages(
    spark, {n_pages}, partitions=32, filler_sentences=96, fact_density=0.3
).write.mode("overwrite").parquet({pages_dir!r})
print("GENERATED")
"""


def _env() -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    os.makedirs("/dev/shm/bench_tmp", exist_ok=True)
    env.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
    env.setdefault("TMPDIR", "/dev/shm/bench_tmp")
    return env


def _run_py(code: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=_env()
    )
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-4000:])
    return out.stdout


def run_at(n_exec: int, pages_dir: str) -> dict:
    out = _run_py(RUNNER.format(repo=REPO, n_exec=n_exec, pages_dir=pages_dir))
    line = [ln for ln in out.splitlines() if ln.startswith("RESULT ")][-1]
    return json.loads(line[len("RESULT "):])


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 3_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    lo = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    hi = 4 * lo
    # generation params are embedded in the corpus path: a cached corpus is
    # only reused by an invocation with identical n_pages/filler/density —
    # a bare shared path would silently measure a stale corpus while
    # reporting the new parameters
    pages_dir = f"/dev/shm/scaling_pages_{n_pages}_f96_d30"
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        print(f"generating {n_pages} pages → {pages_dir}", flush=True)
        _run_py(GEN.format(repo=REPO, n_pages=n_pages, pages_dir=pages_dir))

    runs: dict[int, list[dict]] = {lo: [], hi: []}
    for r in range(reps):
        for n in (lo, hi):
            res = run_at(n, pages_dir)
            runs[n].append(res)
            print(
                f"rep {r} executors={n}: {res['wall']} s "
                f"({res['valid_tps']} valid tps) stages={res['stages']}",
                flush=True,
            )
    best_lo = min(runs[lo], key=lambda x: x["wall"])
    best_hi = min(runs[hi], key=lambda x: x["wall"])
    speedup = best_lo["wall"] / best_hi["wall"]
    efficiency = speedup / (hi / lo)
    result = {
        "protocol": "local-cluster[N,1] separate executor JVMs; shared parquet corpus "
        "(6.5KB/page, 30% fact density); min of reps per level",
        "n_pages": n_pages,
        "reps": reps,
        "executors_low": lo,
        "executors_high": hi,
        "pipeline_sec_low": best_lo["wall"],
        "pipeline_sec_high": best_hi["wall"],
        "valid_tps_low": best_lo["valid_tps"],
        "valid_tps_high": best_hi["valid_tps"],
        "pages_per_sec_low": round(n_pages / best_lo["wall"], 1),
        "pages_per_sec_high": round(n_pages / best_hi["wall"], 1),
        "speedup": round(speedup, 3),
        "efficiency": round(efficiency, 3),
        "all_runs": {str(c): [x["wall"] for x in rs] for c, rs in runs.items()},
        "best_low": best_lo,
        "best_high": best_hi,
    }
    print(json.dumps({k: v for k, v in result.items() if k not in ("best_low", "best_high")}, indent=2))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(result, f, indent=2)


if __name__ == "__main__":
    main()
