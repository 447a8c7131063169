"""Spark event-log reader: per-layer metrics from job groups.

Reads the plain-JSON event log a traced session writes
(``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false``)
with the standard library only. Every stage carries the job group that
was current when its job started; the benchmark names each group after
the layer it called, so stages, tasks and their metrics are attributed
to layers without touching any program class.

Two attributions do not come from the job group:

* ``checkpoint`` is made of the SQL executions that write a durable
  checkpoint (a parquet write into an ``iter=`` directory), whichever
  algorithm made them. They are also counted in that algorithm.
* a superstep ends at the checkpoint commit of its state: an execution
  started by ``Dataset.localCheckpoint`` (in-memory truncation) or a
  durable checkpoint write. Superstep times are the gaps between
  consecutive commits inside one algorithm's group; the first commit
  saves the initial state.
"""

from __future__ import annotations

import json
import os
import statistics

LAYERS = [
    "sources.extract",
    "graph.build",
    "algorithms.pagerank",
    "algorithms.components",
    "algorithms.labelprop",
    "algorithms.triangles",
    "sinks",
    "checkpoint",
]

COMMON = [
    "wall_s",
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "task_skew",
    "driver_gap_s",
]

MB = 1024.0 * 1024.0


def read_events(log_dir: str):
    """Yield the events of every event-log file under ``log_dir``."""
    files = []
    for root, _, names in os.walk(log_dir):
        files += [
            os.path.join(root, n)
            for n in names
            if not n.startswith("appstatus") and not n.endswith(".inprogress")
        ]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


class Log:
    """Stages, tasks, jobs and SQL executions of one application."""

    def __init__(self, events):
        self.stages: dict = {}  # (id, attempt) -> stage record
        self.jobs: dict = {}  # id -> (job group, SQL execution id)
        self.executions: dict = {}  # id -> execution record
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                exec_id = p.get("spark.sql.execution.id")
                self.jobs[e["Job ID"]] = (
                    p.get("spark.jobGroup.id"),
                    int(exec_id) if exec_id is not None else None,
                )
            elif kind == "SparkListenerStageSubmitted":
                info, p = e["Stage Info"], e.get("Properties") or {}
                exec_id = p.get("spark.sql.execution.id")
                self.stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "group": p.get("spark.jobGroup.id"),
                    "execution": int(exec_id) if exec_id is not None else None,
                    "tasks": [],
                    "run_ms": 0,
                    "gc_ms": 0,
                    "shuffle_write": 0,
                    "shuffle_read": 0,
                    "spill": 0,
                }
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = self.stages.get((info["Stage ID"], info["Stage Attempt ID"]))
                if st is not None:
                    st["start"] = info.get("Submission Time")
                    st["end"] = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                st = self.stages.get((e["Stage ID"], e["Stage Attempt ID"]))
                m = e.get("Task Metrics")
                if st is None or m is None:
                    continue
                ti = e["Task Info"]
                st["tasks"].append(ti["Finish Time"] - ti["Launch Time"])
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                w = m.get("Shuffle Write Metrics") or {}
                r = m.get("Shuffle Read Metrics") or {}
                st["shuffle_write"] += w.get("Shuffle Bytes Written", 0)
                st["shuffle_read"] += r.get("Remote Bytes Read", 0) + r.get(
                    "Local Bytes Read", 0
                )
                st["spill"] += m.get("Disk Bytes Spilled", 0)
            elif kind.endswith("SQLExecutionStart"):
                self.executions[int(e["executionId"])] = {
                    "group": e.get("jobGroupId"),
                    "start": e["time"],
                    "commit": _is_commit(e),
                    "durable": _is_durable_write(e),
                }
            elif kind.endswith("SQLExecutionEnd"):
                ex = self.executions.get(int(e["executionId"]))
                if ex is not None:
                    ex["end"] = e["time"]

    def layer_stages(self, layer: str) -> list[dict]:
        if layer == "checkpoint":
            durable = {i for i, ex in self.executions.items() if ex["durable"]}
            return [s for s in self.stages.values() if s["execution"] in durable]
        return [s for s in self.stages.values() if s["group"] == layer]

    def layer_jobs(self, layer: str) -> int:
        if layer == "checkpoint":
            durable = {i for i, ex in self.executions.items() if ex["durable"]}
            return sum(1 for _, x in self.jobs.values() if x in durable)
        return sum(1 for g, _ in self.jobs.values() if g == layer)

    def commits(self, layer: str) -> list[float]:
        """Start times (s) of the checkpoint commits in ``layer``'s group."""
        return sorted(
            ex["start"] / 1000.0
            for ex in self.executions.values()
            if ex["group"] == layer and ex["commit"]
        )

    def durable_intervals(self) -> list[tuple[float, float]]:
        return [
            (ex["start"] / 1000.0, ex["end"] / 1000.0)
            for ex in self.executions.values()
            if ex["durable"] and "end" in ex
        ]


def _is_durable_write(e: dict) -> bool:
    plan = e.get("physicalPlanDescription") or ""
    return "InsertIntoHadoopFsRelationCommand" in plan and "/iter=" in plan


def _is_commit(e: dict) -> bool:
    first = (e.get("details") or "").split("\n", 1)[0]
    return ".localCheckpoint(" in first or _is_durable_write(e)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(log: Log, spans: dict[str, list[tuple[float, float]]]) -> dict:
    """The common metrics of every layer in :data:`LAYERS`.

    ``spans`` maps a layer to the (start, end) epoch seconds of its calls
    as the benchmark timed them; ``checkpoint`` has no calls of its own
    and uses its durable-write executions instead.
    """
    out: dict = {}
    for layer in LAYERS:
        stages = log.layer_stages(layer)
        windows = (
            log.durable_intervals() if layer == "checkpoint" else spans.get(layer, [])
        )
        stage_iv = [
            (s["start"] / 1000.0, s["end"] / 1000.0)
            for s in stages
            if s.get("start") is not None and s.get("end") is not None
        ]
        wall = sum(b - a for a, b in windows)
        gap = sum((b - a) - _covered(stage_iv, a, b) for a, b in windows)
        skew = 0.0
        timed = [s for s in stages if s.get("start") is not None and s["tasks"]]
        if timed:
            longest = max(timed, key=lambda s: s["end"] - s["start"])
            med = statistics.median(longest["tasks"])
            skew = max(longest["tasks"]) / med if med > 0 else 1.0
        vals = {
            "wall_s": wall,
            "jobs": log.layer_jobs(layer),
            "stages": len(stages),
            "tasks": sum(len(s["tasks"]) for s in stages),
            "executor_run_s": sum(s["run_ms"] for s in stages) / 1000.0,
            "gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
            "shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / MB,
            "shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / MB,
            "spill_mb": sum(s["spill"] for s in stages) / MB,
            "task_skew": skew,
            "driver_gap_s": gap,
        }
        for k in COMMON:
            out[f"{layer}.{k}"] = vals[k]
    return out


def superstep_times(log: Log, layer: str) -> list[float]:
    """Per-superstep wall times of ``layer``'s algorithm calls."""
    c = log.commits(layer)
    return [b - a for a, b in zip(c, c[1:])]
