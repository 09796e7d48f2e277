#!/usr/bin/env python3
"""Benchmark of the KG-construction + SHACL engine.

Run from the repository root:

    python3 kgbench/run.py --workload kg_pipeline --seed 1 --seconds 20 --trace 0

Workloads (``kgbench/NOTES.md`` says why each was chosen):

- ``kg_pipeline``: seeded html corpus with ~2 % engineered violations →
  ``run_pipeline`` over two sequential partition groups;
- ``catalog_reports``: one closed-loop client sending small DCAT-AP-ES
  catalogs → validation report in Turtle + severity summary.

Everything the run writes stays under ``.kgbench_work/`` (Spark local and
temporary dirs, inputs, outputs; removed at exit) and
``.kgbench_results/`` (the last traced run's spans), both at the repository
root.  Load comes from this one process on ``local[<cores>]``.

``--trace 0`` measures with no instrumentation and prints the end-to-end
metrics.  ``--trace 1`` enables the Spark event log, runs untraced and
traced operations in turn (spans + job groups around every layer call), and
prints the per-layer metrics, including the tracing overhead.  Lines before
the last are for people; the last stdout line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# untimed operations before the timed ones (the first one compiles the
# plans' generated code and pays JIT warm-up; it takes ~1.8x a later one)
WARMUP_OPS = 1

END_TO_END = {"setup_s": "s", "wall_s": "s"}

PER_LAYER = {
    "extract.s": "s", "extract.task_s": "s", "extract.candidate_frac": "frac",
    "extract.raw_triples": "count",
    "link_canon.s": "s", "link_canon.task_s": "s", "link_canon.surfaces": "count",
    "link_canon.distributed": "flag", "link_canon.jobs": "count",
    "link_canon.shuffle_bytes": "B",
    "typed.s": "s", "typed.rows_out": "count", "typed.shuffle_bytes": "B",
    "typed.spill_bytes": "B",
    "compile.s": "s", "compile.constraints": "count",
    # ingest has no task time: triples_from_turtle parses in this process
    "ingest.s": "s", "ingest.triples": "count", "ingest.bytes_in": "B",
    "validate.s": "s", "validate.call_s": "s", "validate.exec_s": "s",
    "validate.jobs": "count", "validate.stages": "count", "validate.tasks": "count",
    "validate.task_s": "s", "validate.busy_frac": "frac",
    "validate.shuffle_bytes": "B", "validate.spill_bytes": "B",
    "validate.results": "count",
    "merge.s": "s", "merge.rows_inserted": "count", "merge.rows_rejected": "count",
    "merge.bytes_written": "B", "merge.files_written": "count",
    "merge.bytes_per_triple": "B/triple",
    "report.s": "s", "report.jobs": "count", "report.rows": "count",
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s",
    "rss.peak_mb": "MB",
    "trace.untraced_wall_s": "s", "trace.traced_wall_s": "s",
    "trace.overhead_s": "s", "trace.overhead_frac": "frac",
}

# layers ranked by self time in the traced run
LAYERS = ("extract", "link_canon", "typed", "compile", "ingest", "validate",
          "merge", "report")
# Spark work read from the event log; a layer reports the fields it lists
SPARK_FIELDS = ("task_s", "jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, user..steal."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _env(work: str) -> None:
    """Keep every byte Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, including spark-submit's launcher, keeps its temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


def _session(work: str, cores: int, trace: bool):
    from shacl_validator_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="kgbench", master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8), extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop Spark and wait until the JVM (and with it the Python workers it
    forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run_ops(wl, first: int, seconds: float, tracers: tuple = (None,)) -> list[dict]:
    """Closed loop: run operations one after another until ``seconds`` have
    passed (at least one round).  A round runs operation ``first + round``
    once under each of ``tracers``, so traced and untraced operations pair
    up on the same input."""
    out: list[dict] = []
    t_start = time.perf_counter()
    k = 0
    while k % len(tracers) or not out or time.perf_counter() - t_start < seconds:
        i, tracer = first + k // len(tracers), tracers[k % len(tracers)]
        try:
            wall, fails, extra = wl.op(i, tracer)
        except Exception:  # noqa: BLE001 - an operation that raised is a failed one
            traceback.print_exc()
            wall, fails, extra = None, ["raised"], None
        for f in fails:
            print(f"op {i} FAILED: {f}", file=sys.stderr)
        out.append({"i": i, "wall": wall, "fails": fails, "extra": extra,
                    "traced": tracer is not None})
        k += 1
        if wall is None:
            break  # the system is broken; do not spin on a raising call
    return out


def _median_wall(ops: list[dict]) -> float:
    walls = [o["wall"] for o in ops if o["wall"] is not None]
    return statistics.median(walls) if walls else 0.0


def _tail(values: list[float]) -> tuple[float, float] | None:
    """Highest percentile (of 50, 90, 99, 99.9) with at least ten samples
    beyond it, as (percentile, value)."""
    best = None
    for p in (50, 90, 99, 99.9):
        if len(values) * (1 - p / 100) >= 10:
            best = (p, sorted(values)[min(len(values) - 1, int(len(values) * p / 100))])
    return best


def _layer_metrics(wl, work: str, ops: list[dict], tracer, cores: int) -> tuple[dict, dict]:
    """Per-operation averages of every per-layer metric over the traced
    operations, and the self time per operation of each span layer."""
    from spans import read_event_log, self_times, work_by_layer

    good = [o for o in ops if o["extra"] is not None]
    n = max(len(good), 1)
    observed = tracer.observed_counts()
    observed = {k: v / n for k, v in observed.items()}
    vals = {k: 0.0 for k in PER_LAYER}
    for o in good:
        for k, v in wl.layer_metrics(o["extra"], observed).items():
            vals[k] += v / n
    by_layer = work_by_layer(tracer.spans, read_event_log(os.path.join(work, "eventlog")))
    for layer in LAYERS:
        for field in SPARK_FIELDS:
            if f"{layer}.{field}" in vals:
                vals[f"{layer}.{field}"] = by_layer.get(layer, {}).get(field, 0) / n
    phases = [s for s in tracer.spans if s["layer"] == "validate" and "call_s" in s]
    if phases:
        vals["validate.call_s"] = sum(s["call_s"] for s in phases) / n
    vals["validate.exec_s"] = max(vals["validate.s"] - vals["validate.call_s"], 0.0)
    if vals["validate.s"] > 0:
        vals["validate.busy_frac"] = vals["validate.task_s"] / (vals["validate.s"] * cores)
    vals.update({k: v for k, v in wl.setup_detail.items() if k in vals})
    selfs = self_times(tracer.spans)
    return vals, {k: v / n for k, v in selfs.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["kg_pipeline", "catalog_reports"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "shacl_validator_spark")):
        print(f"kgbench: no shacl_validator_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    cores = len(os.sched_getaffinity(0))
    steal0, total0 = _cpu_ticks()
    load0 = os.getloadavg()
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = _session(work, cores, bool(args.trace))
            spark.range(0, 10**6).selectExpr("sum(id)").collect()
            session_s = time.perf_counter() - t0

            from checks import self_test

            if args.workload == "kg_pipeline":
                from kg import KgPipeline as W
            else:
                from catalog import CatalogReports as W
            wl = W(spark, work, args.seed)
            inputs_s = []
            for k in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup(k)
                inputs_s.append(time.perf_counter() - t0)
            wl.predict()
            checks_ok = all(self_test().values())
            t0 = time.perf_counter()
            # warm-up operations are checked and counted like any other
            ops = [o for i in range(WARMUP_OPS) for o in _run_ops(wl, i, 0)]
            warmup_s = time.perf_counter() - t0
            setup_s = session_s + statistics.median(inputs_s) + warmup_s

            if args.trace:
                from spans import Tracer

                # one more warm-up, so that neither side of the traced /
                # untraced comparison gets the last still-warming operation
                ops += _run_ops(wl, WARMUP_OPS, 0)
                tracer = Tracer(spark, f"s{args.seed}")
                timed = _run_ops(wl, WARMUP_OPS + 1, args.seconds, (None, tracer))
                traced = [o for o in timed if o["traced"]]
                untraced = [o for o in timed if not o["traced"]]
                layer_vals, selfs = _layer_metrics(wl, work, traced, tracer, cores)
            else:
                timed = _run_ops(wl, WARMUP_OPS, args.seconds)
            ops += timed
            peak_rss = rss.peak
    except Exception:  # noqa: BLE001 - no result line when the run itself broke
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    steal1, total1 = _cpu_ticks()
    attempted = len(ops)
    failed = sum(1 for o in ops if o["fails"])
    # a traced run's end-to-end lines describe its untraced operations
    measured = untraced if args.trace else timed
    done = [o for o in measured if o["wall"] is not None]
    walls = [o["wall"] for o in done]
    wall_s = _median_wall(measured)
    valid = sum(o["extra"]["valid_triples"] for o in done)
    valid_per_s = valid / sum(walls) if walls else 0.0
    metrics_e2e = {"setup_s": setup_s, "wall_s": wall_s}
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores,
        "steal_pct": round(100.0 * (steal1 - steal0) / max(total1 - total0, 1), 2),
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "setup_parts_s": {"session": round(session_s, 3),
                          "inputs_median": round(statistics.median(inputs_s), 3),
                          "warmup_op": round(warmup_s, 3)},
    }
    print("context " + json.dumps(context))
    n = len(walls)
    print("operation walls s: " + " ".join(f"{w:.3f}" for w in walls))
    print(f"metric setup_s {setup_s:.4f} s (n=1; input set-up median of {SETUP_REPS})")
    print(f"metric wall_s {wall_s:.4f} s (n={n}, median per operation)")
    if args.workload == "catalog_reports":
        print(f"metric request_p50_s {wall_s:.4f} s (n={n})")
        tail = _tail(walls)
        if tail is None:
            print(f"metric request_tail_s omitted: n={n} supports no percentile "
                  "with ten requests beyond it")
        else:
            print(f"metric request_tail_s {tail[1]:.4f} s (p{tail[0]}, n={n})")
    print(f"metric valid_triples_per_s {valid_per_s:.1f} triples/s (n={n})")
    print(f"metric peak_rss_mb {peak_rss / 2**20:.1f} MB (n=1)")
    print(f"metric ops_failed_frac {failed / attempted:.4f} frac "
          f"({failed} of {attempted} operations)")
    if args.workload == "kg_pipeline" and done:
        e = done[-1]["extra"]
        print(f"metric store_bytes_per_triple "
              f"{e['bytes_written'] / max(e['merged'], 1):.2f} B/triple (n=1)")
        print(f"kg triples_in={e['triples_in']} triples_valid={e['valid_triples']} "
              f"violations={e['violations']} merged={e['merged']} "
              f"predicted={wl.predicted}")
    print(f"self-test: corrupted outputs counted as failed = {checks_ok}")

    if args.trace:
        untraced_w, traced_w = wall_s, _median_wall(traced)
        layer_vals.update({
            "setup.session_s": session_s,
            "setup.inputs_s": statistics.median(inputs_s),
            "setup.warmup_s": warmup_s,
            "rss.peak_mb": peak_rss / 2**20,
            "trace.untraced_wall_s": untraced_w,
            "trace.traced_wall_s": traced_w,
            "trace.overhead_s": traced_w - untraced_w,
            "trace.overhead_frac": (traced_w - untraced_w) / untraced_w if untraced_w else 0.0,
        })
        ranked = sorted(((selfs.get(k, 0.0), k) for k in LAYERS), reverse=True)
        print("self time per operation by layer: " + ", ".join(
            f"{k}={v:.3f}s" for v, k in ranked if v > 0))
        print(f"top layer by self time: {ranked[0][1]}")
        os.makedirs(os.path.join(ROOT, ".kgbench_results"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".kgbench_results", f"spans-{args.workload}.jsonl"))
        for k, unit in PER_LAYER.items():
            print(f"layer {k} {layer_vals[k]:.6g} {unit}")
        metrics = {k: {"value": layer_vals[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": metrics_e2e[k], "unit": u} for k, u in END_TO_END.items()}

    print(json.dumps({
        "correct": failed == 0 and checks_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
