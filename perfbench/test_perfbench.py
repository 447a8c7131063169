"""The benchmark's own tests: the event-log reader on a hand-made log,
and a tiny-size run of every workload, untraced and traced.

Run from the repository root with ``python3 -m pytest perfbench -q``
(the smoke runs start Spark four times, a few minutes in all).
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog, run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stage(sid, group, execution, start, end, tasks):
    props = {"spark.jobGroup.id": group, "spark.sql.execution.id": str(execution)}
    info = {"Stage ID": sid, "Stage Attempt ID": 0}
    yield {"Event": "SparkListenerStageSubmitted", "Stage Info": info, "Properties": props}
    for i, dur in enumerate(tasks):
        yield {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": sid,
            "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": start, "Finish Time": start + dur, "Index": i},
            "Task Metrics": {
                "Executor Run Time": dur,
                "JVM GC Time": 1,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 512 * 1024},
                "Disk Bytes Spilled": 0,
            },
        }
    done = dict(info, **{"Submission Time": start, "Completion Time": end})
    yield {"Event": "SparkListenerStageCompleted", "Stage Info": done}


def _execution(eid, group, start, end, details, plan=""):
    yield {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": eid,
        "jobGroupId": group,
        "time": start,
        "details": details,
        "physicalPlanDescription": plan,
    }
    yield {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
        "executionId": eid,
        "time": end,
    }


def test_event_log_attribution():
    pr = "algorithms.pagerank"
    write = "Execute InsertIntoHadoopFsRelationCommand file:/x/ckpt/iter=000005"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Properties": {"spark.jobGroup.id": pr, "spark.sql.execution.id": "1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Properties": {"spark.jobGroup.id": pr, "spark.sql.execution.id": "2"}},
        *_execution(1, pr, 1_000, 2_000, "Dataset.localCheckpoint(Dataset.scala:1)\n..."),
        *_execution(2, pr, 3_000, 3_500, "DataFrameWriter.parquet(x)", write),
        *_execution(3, pr, 4_500, 4_600, "Dataset.localCheckpoint(Dataset.scala:1)"),
        *_stage(0, pr, 1, 1_000, 2_000, [100, 100, 400]),
        *_stage(1, pr, 2, 3_000, 3_500, [50]),
        *_stage(2, "sinks", 9, 6_000, 6_100, [10]),
    ]
    log = eventlog.Log(events)
    m = eventlog.layer_metrics(log, {pr: [(0.5, 5.0)], "sinks": [(6.0, 6.5)]})
    assert m[f"{pr}.jobs"] == 2 and m[f"{pr}.stages"] == 2 and m[f"{pr}.tasks"] == 4
    assert m[f"{pr}.executor_run_s"] == pytest.approx(0.65)
    assert m[f"{pr}.shuffle_write_mb"] == pytest.approx(4.0)
    assert m[f"{pr}.shuffle_read_mb"] == pytest.approx(2.0)
    # longest stage is stage 0: max 400 ms over median 100 ms
    assert m[f"{pr}.task_skew"] == pytest.approx(4.0)
    # 4.5 s of calls, 1.5 s of it covered by running stages
    assert m[f"{pr}.driver_gap_s"] == pytest.approx(3.0)
    assert m["sinks.driver_gap_s"] == pytest.approx(0.4)
    # the durable write is the checkpoint layer, whichever group made it
    assert m["checkpoint.jobs"] == 1 and m["checkpoint.stages"] == 1
    assert m["checkpoint.wall_s"] == pytest.approx(0.5)
    # three commits (initial state + two supersteps) -> two superstep gaps
    assert eventlog.superstep_times(log, pr) == pytest.approx([2.0, 1.5])
    assert m["sources.extract.jobs"] == 0 and m["sources.extract.task_skew"] == 0.0


def _benchmark_file() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["crawl_job", "triangles_skew"])
def test_tiny_run(workload, trace, capsys):
    code = run.main(
        ["--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny"]
    )
    last = capsys.readouterr().out.strip().splitlines()[-1]
    result = json.loads(last)
    assert code == 0
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] == (1 + trace) * len(run.OPS[workload])
    spec = _benchmark_file()
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if trace:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["algorithms.triangles.n_triangles"] > 0
        assert m["algorithms.triangles.jobs"] > 0
        if workload == "crawl_job":
            assert m["checkpoint.durable_saves"] > 0
            assert m["sources.extract.edges_out"] > 0
            assert m["algorithms.pagerank.superstep_p50_s"] > 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_refuses_without_program(tmp_path):
    """Run from a copy holding only the benchmark, it fails fast."""
    import shutil
    import subprocess
    import sys

    shutil.copytree(os.path.dirname(os.path.abspath(__file__)), tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_job",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
