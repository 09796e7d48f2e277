"""Spans and Spark-work attribution for the traced run.

Spans are recorded from the benchmark's own files around each call into a
layer of the package; nothing inside the package is instrumented.  Every
span sets the Spark job group to its own id before the call, so the jobs the
call submits can be attributed to the span afterwards from the event log
(``spark.eventLog.enabled`` is set only for a traced run).

Jobs that run after a span has returned but before the next span opens (a
lazy DataFrame executed by a later call) stay in the job group of the last
span that was opened; for the pipeline phases that is exactly the stage the
package is in.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class Tracer:
    """In-memory span recorder; ``spans`` is written out when the run ends."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._phase: dict | None = None
        self._obs: list[tuple[str, Observation]] = []
        self._next_id = 0

    def _open(self, name: str, layer: str, op: int | None) -> dict:
        parent = self._phase or (self._stack[-1] if self._stack else None)
        self._next_id += 1
        rec = {
            "id": f"{self.run_id}.{self._next_id}",
            "parent": parent["id"] if parent else None,
            "name": name,
            "layer": layer,
            "op": op if op is not None else (parent or {}).get("op"),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self.sc.setJobGroup(rec["id"], f"{layer}: {name}")
        return rec

    def _restore_group(self) -> None:
        top = self._phase or (self._stack[-1] if self._stack else None)
        if top is None:
            self.sc.setJobGroup(f"{self.run_id}.0", "untraced")
        else:
            self.sc.setJobGroup(top["id"], f"{top['layer']}: {top['name']}")

    @contextmanager
    def span(self, name: str, layer: str, op: int | None = None):
        rec = self._open(name, layer, op)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._restore_group()

    def phase(self, layer: str) -> None:
        """Switch the open phase inside the innermost span to ``layer``.

        Phases tile their parent: a phase lasts from the first call into its
        layer until the first call into another layer, so the Spark work a
        stage runs between two calls is timed and attributed with it."""
        if self._phase is not None and self._phase["layer"] == layer:
            return
        self.end_phase()
        self._phase = self._open(layer, layer, None)

    def current_phase(self) -> dict:
        return self._phase

    def end_phase(self) -> None:
        if self._phase is not None:
            self._phase["end"] = time.perf_counter()
            self._phase = None
            self._restore_group()

    def count_rows(self, df: DataFrame, key: str) -> DataFrame:
        """Count the rows of ``df`` as it is consumed (an observed metric)."""
        obs = Observation(f"kgbench_{key}_{len(self._obs)}")
        self._obs.append((key, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    def observed_counts(self, timeout_s: float = 10.0) -> dict[str, int]:
        """Sum of every observed count by key.  ``Observation.get`` blocks
        until the plan has run, so each read waits at most ``timeout_s``; a
        plan that never ran contributes nothing."""
        out: dict[str, int] = defaultdict(int)
        for key, obs in self._obs:
            box: dict[str, int] = {}

            def _read(o=obs, b=box):
                try:
                    b["n"] = int(o.get["n"])
                except Exception:  # noqa: BLE001 - metric absent
                    pass

            t = threading.Thread(target=_read, daemon=True)
            t.start()
            t.join(timeout_s)
            out[key] += box.get("n", 0)
        self._obs.clear()
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of each span not covered by its children, summed by layer."""
    children: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["end"] is None:
            continue
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            if c["end"] is None:
                continue
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["layer"]] += (s["end"] - s["start"]) - covered
    return dict(out)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the (single) application logged under ``log_dir``.

    The event logger flushes at every job end, so a running application's
    in-progress file already holds every finished job's tasks."""
    events = []
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    break  # a partly written last line
    return events


def spark_work_by_group(events: list[dict]) -> dict[str, dict[str, float]]:
    """Jobs, stages, tasks, task seconds, shuffle-write and spill bytes per
    job group id."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, set] = defaultdict(set)
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            jobs[group].add(ev["Job ID"])
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
                 "shuffle_bytes": 0, "spill_bytes": 0}
    )
    for group, ids in jobs.items():
        out[group]["jobs"] = len(ids)
    stages_seen: dict[str, set] = defaultdict(set)
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(ev.get("Stage ID"), "")
        m = ev.get("Task Metrics") or {}
        rec = out[group]
        stages_seen[group].add((ev.get("Stage ID"), ev.get("Stage Attempt ID")))
        rec["tasks"] += 1
        rec["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
    for group, st in stages_seen.items():
        out[group]["stages"] = len(st)
    return dict(out)


def work_by_layer(spans: list[dict], events: list[dict]) -> dict[str, dict[str, float]]:
    """Spark work of every span, summed by the span's layer."""
    layer_of = {s["id"]: s["layer"] for s in spans}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for group, rec in spark_work_by_group(events).items():
        layer = layer_of.get(group, "untraced")
        for k, v in rec.items():
            out[layer][k] += v
    return {k: dict(v) for k, v in out.items()}
