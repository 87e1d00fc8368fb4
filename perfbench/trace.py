"""Spans and Spark event-log accounting for the traced run.

Spans are kept in memory: name, start, end, parent span and the
operation that caused them. Because DataFrames are lazy, a span around
a public engine call measures plan construction; execution time per
layer comes from *prefix cuts* (see ``workloads``), each recorded as a
span whose self time is its wall minus the wall of the prefix before it.

The event log is enabled only in traced runs, in the benchmark's own
session config, and parsed after the session stops: per job group
(one group per operation or prefix cut) it gives jobs, stages, task
CPU, GC, shuffle and spill bytes.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Records spans; ``enabled=False`` makes every span free."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.op = None  # the operation (or cut) the next spans belong to
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name, "op": self.op, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, list[float]]:
        """name -> self time of each span: its duration minus the time
        its direct children cover."""
        child = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for i, rec in enumerate(self.spans):
            out[rec["name"]].append(rec["end"] - rec["start"] - child[i])
        return dict(out)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _zero() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0, "task_run_s": 0.0,
        "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "python_rows": 0,
    }


def _python_row_accumulators(plan: dict, out: set) -> None:
    """Accumulator ids of the row counters of Python UDF operators
    (ArrowEvalPython, BatchEvalPython, ...) in a SQL plan-info tree."""
    if "EvalPython" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m.get("accumulatorId"))
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def parse_event_logs(log_dir: str) -> dict[str, dict]:
    """job group -> summed job/stage/task metrics of every job it ran."""
    stage_group: dict[int, str] = {}
    py_rows: set = set()
    groups: dict[str, dict] = defaultdict(_zero)
    stages_seen: dict[str, set] = defaultdict(set)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind and kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _python_row_accumulators(ev.get("sparkPlanInfo") or {}, py_rows)
                elif kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    acc = groups[g]
                    stages_seen[g].add((ev.get("Stage ID"), ev.get("Stage Attempt ID")))
                    acc["tasks"] += 1
                    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("ID") in py_rows:
                            acc["python_rows"] += int(a.get("Update", 0))
    for g, seen in stages_seen.items():
        groups[g]["stages"] = len(seen)
    return dict(groups)


def codegen_totals(spark) -> tuple[int, float]:
    """(compilations, compile ms) so far in this JVM, from Spark's
    CodegenMetrics histogram. The reservoir keeps every sample up to
    1028 updates, beyond that the sum is extrapolated from the mean."""
    h = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    snap = h.getSnapshot()
    n = h.getCount()
    vals = list(snap.getValues())
    total = float(sum(vals))
    if n > len(vals) and vals:
        total = snap.getMean() * n
    return n, total
