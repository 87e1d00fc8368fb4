"""The benchmark's own tests (smoke mode: sf0.01-sized inputs).

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke runs start Spark (about a minute in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle  # noqa: E402
from perfbench.trace import Tracer, parse_event_logs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def run_cli(workload: str, trace: int, cwd: str = ROOT, script: str | None = None):
    script = script or os.path.join(HERE, "run.py")
    return subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result_of(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = proc.stdout.strip().splitlines()[-1]
    res = json.loads(last)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    for m in res["metrics"].values():
        assert set(m) == {"value", "unit"}
        assert isinstance(m["value"], (int, float)) and isinstance(m["unit"], str)
    return res


def test_workload_names_match_benchmark_json():
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_smoke_end_to_end_schema():
    res = result_of(run_cli("cold_tiles", 0))
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_smoke_traced_schema():
    proc = run_cli("flagship", 1)
    res = result_of(proc)
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    detail = json.loads(proc.stdout.strip().splitlines()[-2])["detail"]
    assert detail["host"]["nproc"] >= 1 and detail["plan"]["fingerprint"]
    assert res["metrics"]["checkpoint.files_written"]["value"] > 0
    assert res["metrics"]["query.cold_pass_s"]["value"] > 0


def test_wrong_expected_value_counts_as_failed(monkeypatch):
    """A deliberately wrong expected count fails every operation."""
    from perfbench import harness
    from perfbench.workloads import Flagship

    prepare = Flagship.prepare

    def wrong(self, spark):
        prepare(self, spark)
        tile = next(iter(self.expected))
        self.expected[tile] += 1

    monkeypatch.setattr(Flagship, "prepare", wrong)
    monkeypatch.setenv("PYTHONPATH", ROOT)
    work = os.path.join(ROOT, ".perfbench_work", "test-wrong-expected")
    _, _, attempted, failed = harness.run("flagship", 3, 0.5, False, True, work)
    assert attempted >= harness.MIN_OPS and failed == attempted


def test_exits_nonzero_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = run_cli("flagship", 0, cwd=str(tmp_path),
                   script=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_inputs_follow_the_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.write_sf_dir(a, 300, 50, 5)
    inputs.write_sf_dir(b, 300, 50, 5)
    inputs.write_sf_dir(c, 300, 50, 6)
    for t in ("documents.parquet", "embeddings.parquet"):
        assert pd.read_parquet(os.path.join(a, t)).equals(pd.read_parquet(os.path.join(b, t)))
    assert not pd.read_parquet(os.path.join(a, "documents.parquet")).equals(
        pd.read_parquet(os.path.join(c, "documents.parquet")))
    assert inputs.polygon_tiles(5, 0, 2, 8, 1, 100) == inputs.polygon_tiles(5, 0, 2, 8, 1, 100)
    assert inputs.polygon_tiles(5, 0, 2, 8, 1, 100) != inputs.polygon_tiles(5, 1, 2, 8, 1, 100)


def test_same_frame_detects_a_changed_value():
    want = oracle.canon(pd.DataFrame({"url": ["a", "b"], "n": [1, 2]}))
    assert oracle.same_frame(pd.DataFrame({"n": [2, 1], "url": ["b", "a"]}), want)
    assert not oracle.same_frame(pd.DataFrame({"url": ["a", "b"], "n": [1, 3]}), want)


def test_span_self_time_excludes_children():
    t = Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    st = t.self_times()
    outer = t.spans[0]["end"] - t.spans[0]["start"]
    inner = t.spans[1]["end"] - t.spans[1]["start"]
    assert st["outer"][0] == pytest.approx(outer - inner)
    assert st["inner"][0] == pytest.approx(inner)
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_event_log_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op:0"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "ArrowEvalPython", "children": [],
                           "metrics": [{"name": "number of output rows", "accumulatorId": 7}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0,
         "Task Info": {"Accumulables": [{"ID": 7, "Update": 5}]},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000, "Executor Run Time": 3000,
                          "JVM GC Time": 100, "Memory Bytes Spilled": 1,
                          "Disk Bytes Spilled": 2,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 40}}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    g = parse_event_logs(str(tmp_path))["op:0"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 1)
    assert g["task_cpu_s"] == 2.0 and g["gc_s"] == 0.1
    assert (g["shuffle_bytes"], g["spill_bytes"], g["python_rows"]) == (40, 3, 5)
