"""Spark event-log reader for the traced run.

Turns the JSON-lines event log of one application into per-job-group
engine metrics: task counts and failures, executor run/CPU/GC time,
shuffle and spill bytes, input bytes, the task-time skew of the widest
stage, and the Python SQL metrics of Arrow UDF stages. The benchmark tags
each measured call with ``SparkContext.setJobGroup``, so every number is
attributed to the call that caused it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from .stats import median

# Spark SQL metric names of the Arrow Python runner (size metrics in bytes,
# timing metrics in ms).
PYTHON_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "time to start Python workers": "python_boot_ms",
    "time to run Python workers": "python_run_ms",
    "number of output rows": "output_rows",
}


@dataclass
class GroupMetrics:
    tasks: int = 0
    tasks_failed: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    # stage id -> task durations (ms)
    stage_tasks: dict[int, list[int]] = field(default_factory=dict)
    # PYTHON_METRICS value -> summed task updates, Arrow Python stages only
    python: dict[str, int] = field(default_factory=dict)

    def task_skew(self) -> float:
        """max / median task duration in the stage with the most tasks."""
        if not self.stage_tasks:
            return 0.0
        widest = max(self.stage_tasks.values(), key=len)
        mid = median(widest)
        return max(widest) / mid if mid > 0 else 1.0


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files of the newest application in ``log_dir`` (a plain
    file, or the files of a rolling-log directory)."""
    entries = [os.path.join(log_dir, e) for e in os.listdir(log_dir)
               if not e.startswith(".") and not e.endswith(".inprogress")]
    if not entries:
        raise FileNotFoundError(f"no finished event log in {log_dir}")
    newest = max(entries, key=os.path.getmtime)
    if os.path.isdir(newest):
        return sorted(os.path.join(newest, f) for f in os.listdir(newest)
                      if f.startswith("events_"))
    return [newest]


def read_events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _python_stage_accums(events: list[dict]) -> set[int]:
    """Accumulator ids of the metrics of Arrow Python plan nodes."""
    ids: set[int] = set()

    def walk(node: dict) -> None:
        if "Python" in node.get("nodeName", ""):
            for m in node.get("metrics", []):
                if m.get("name") in PYTHON_METRICS:
                    ids.add(m["accumulatorId"])
        for child in node.get("children", []):
            walk(child)

    for e in events:
        if e["Event"].endswith("SparkListenerSQLExecutionStart") or \
                e["Event"].endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            walk(e.get("sparkPlanInfo", {}))
    return ids


def group_metrics(events: list[dict]) -> dict[str, GroupMetrics]:
    """Aggregate task-end metrics by the job group of their stage
    (``None``-grouped jobs are collected under the key ``""``)."""
    py_ids = _python_stage_accums(events)
    stage_group: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)

    out: dict[str, GroupMetrics] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        g = out.setdefault(stage_group.get(e["Stage ID"], ""), GroupMetrics())
        info = e["Task Info"]
        g.tasks += 1
        if info.get("Failed") or info.get("Killed") or \
                e.get("Task End Reason", {}).get("Reason") != "Success":
            g.tasks_failed += 1
        g.stage_tasks.setdefault(e["Stage ID"], []).append(
            info["Finish Time"] - info["Launch Time"])
        for acc in info.get("Accumulables", []):
            if acc.get("ID") in py_ids:
                key = PYTHON_METRICS[acc["Name"]]
                g.python[key] = g.python.get(key, 0) + int(acc["Update"])
        tm = e.get("Task Metrics")
        if not tm:
            continue
        g.run_ms += tm["Executor Run Time"]
        g.cpu_ns += tm["Executor CPU Time"]
        g.gc_ms += tm["JVM GC Time"]
        g.spill_bytes += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
        g.shuffle_write_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        rd = tm["Shuffle Read Metrics"]
        g.shuffle_read_bytes += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
        g.input_bytes += tm["Input Metrics"]["Bytes Read"]
    return out


def read_group_metrics(log_dir: str) -> dict[str, GroupMetrics]:
    return group_metrics(list(read_events(event_log_files(log_dir))))


def spark_metrics(g: GroupMetrics, jobs: int = 1) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics of one job group, per job: every
    sum is divided by ``jobs``, the number of jobs the group ran, so the
    figures do not grow when faster jobs fit more runs in a time budget."""
    return {
        "spark.executor_run_s": g.run_ms / 1e3 / jobs,
        "spark.executor_cpu_s": g.cpu_ns / 1e9 / jobs,
        "spark.jvm_gc_s": g.gc_ms / 1e3 / jobs,
        "spark.shuffle_write_bytes": g.shuffle_write_bytes / jobs,
        "spark.shuffle_read_bytes": g.shuffle_read_bytes / jobs,
        "spark.spill_bytes": g.spill_bytes / jobs,
        "spark.tasks": g.tasks / jobs,
        "spark.tasks_failed": g.tasks_failed / jobs,
        "spark.task_skew": g.task_skew(),
    }


def arrow_metrics(g: GroupMetrics) -> dict[str, float]:
    """The ``arrow.*`` per-layer metrics of one job group."""
    py = g.python
    return {
        "arrow.bytes_to_python": py.get("bytes_to_python", 0),
        "arrow.bytes_from_python": py.get("bytes_from_python", 0),
        "arrow.rows": py.get("output_rows", 0),
        "arrow.python_boot_s": py.get("python_boot_ms", 0) / 1e3,
        "arrow.python_run_s": py.get("python_run_ms", 0) / 1e3,
    }
