"""Event-log reader: per-job-group task metrics and Python SQL metrics."""

import json

import pytest

from perfbench.eventlog import (
    arrow_metrics,
    event_log_files,
    group_metrics,
    read_group_metrics,
    spark_metrics,
)

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def job_start(job, group, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Stage IDs": stages, "Properties": props}


def task_end(stage, launch, finish, *, reason="Success", run=100, cpu=50_000_000,
             gc=5, shuffle_w=0, remote=0, local=0, spill=(0, 0), read=0,
             accums=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {
            "Launch Time": launch, "Finish Time": finish,
            "Failed": reason != "Success", "Killed": False,
            "Accumulables": [{"ID": i, "Name": n, "Update": str(u)}
                             for i, n, u in accums],
        },
        "Task Metrics": {
            "Executor Run Time": run, "Executor CPU Time": cpu, "JVM GC Time": gc,
            "Memory Bytes Spilled": spill[0], "Disk Bytes Spilled": spill[1],
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": remote,
                                     "Local Bytes Read": local},
            "Input Metrics": {"Bytes Read": read},
        },
    }


PLAN = {
    "nodeName": "WholeStageCodegen", "metrics": [],
    "children": [{
        "nodeName": "ArrowEvalPython",
        "metrics": [
            {"name": "data sent to Python workers", "accumulatorId": 101},
            {"name": "data returned from Python workers", "accumulatorId": 102},
            {"name": "time to start Python workers", "accumulatorId": 103},
            {"name": "time to run Python workers", "accumulatorId": 104},
            {"name": "number of output rows", "accumulatorId": 105},
        ],
        "children": [{"nodeName": "Scan parquet", "children": [], "metrics": [
            {"name": "number of output rows", "accumulatorId": 200}]}],
    }],
}


def py_accums(sent, back, boot, run, rows):
    return [(101, "data sent to Python workers", sent),
            (102, "data returned from Python workers", back),
            (103, "time to start Python workers", boot),
            (104, "time to run Python workers", run),
            (105, "number of output rows", rows),
            # a scan's row counter is not a Python metric
            (200, "number of output rows", 999)]


EVENTS = [
    {"Event": SQL_START, "sparkPlanInfo": PLAN},
    job_start(0, "jobs", [0, 1]),
    task_end(0, 0, 100, shuffle_w=300, read=1000),
    task_end(0, 0, 100, shuffle_w=200, read=1000),
    task_end(1, 100, 110, remote=100, local=400),
    task_end(1, 100, 120, remote=0, local=0, spill=(7, 3)),
    task_end(1, 100, 190, reason="ExceptionFailure"),
    job_start(1, "extraction", [2]),
    task_end(2, 0, 50, accums=py_accums(1000, 600, 20, 400, 10)),
    task_end(2, 0, 70, accums=py_accums(3000, 900, 30, 600, 20)),
    job_start(2, None, [3]),
    task_end(3, 0, 10),
]


def test_groups_split_by_job_group():
    g = group_metrics(EVENTS)
    assert set(g) == {"jobs", "extraction", ""}
    assert (g["jobs"].tasks, g["extraction"].tasks, g[""].tasks) == (5, 2, 1)


def test_spark_metrics_of_a_group():
    m = spark_metrics(group_metrics(EVENTS)["jobs"])
    assert m["spark.tasks"] == 5
    assert m["spark.tasks_failed"] == 1
    assert m["spark.executor_run_s"] == pytest.approx(0.5)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.25)
    assert m["spark.jvm_gc_s"] == pytest.approx(0.025)
    assert m["spark.shuffle_write_bytes"] == 500
    assert m["spark.shuffle_read_bytes"] == 500
    assert m["spark.spill_bytes"] == 10
    # widest stage is stage 1: durations 10, 20, 90 -> max/median = 4.5
    assert m["spark.task_skew"] == pytest.approx(4.5)
    assert group_metrics(EVENTS)["jobs"].input_bytes == 2000


def test_spark_metrics_are_per_job():
    one = spark_metrics(group_metrics(EVENTS)["jobs"])
    per = spark_metrics(group_metrics(EVENTS)["jobs"], jobs=5)
    assert per["spark.tasks"] == 1
    assert per["spark.executor_run_s"] == pytest.approx(0.1)
    assert per["spark.shuffle_write_bytes"] == 100
    # a ratio within one stage does not scale with the job count
    assert per["spark.task_skew"] == one["spark.task_skew"]


def test_arrow_metrics_only_from_python_nodes():
    m = arrow_metrics(group_metrics(EVENTS)["extraction"])
    assert m == {
        "arrow.bytes_to_python": 4000,
        "arrow.bytes_from_python": 1500,
        "arrow.rows": 30,
        "arrow.python_boot_s": pytest.approx(0.05),
        "arrow.python_run_s": pytest.approx(1.0),
    }
    assert arrow_metrics(group_metrics(EVENTS)["jobs"])["arrow.rows"] == 0


def test_reads_newest_log_file_and_rolling_dirs(tmp_path):
    old = tmp_path / "local-1"
    old.write_text(json.dumps(job_start(0, "jobs", [0])) + "\n")
    rolling = tmp_path / "eventlog_v2_local-2"
    rolling.mkdir()
    for i, ev in enumerate(([EVENTS[1]] + EVENTS[2:4], EVENTS[4:7]), start=1):
        (rolling / f"events_{i}_local-2").write_text(
            "\n".join(json.dumps(e) for e in ev) + "\n")
    (tmp_path / "local-3.inprogress").write_text("")
    import os
    os.utime(old, (1, 1))
    assert [os.path.basename(p) for p in event_log_files(str(tmp_path))] == [
        "events_1_local-2", "events_2_local-2"]
    assert read_group_metrics(str(tmp_path))["jobs"].tasks == 5


def test_no_finished_log_is_an_error(tmp_path):
    (tmp_path / "local-9.inprogress").write_text("")
    with pytest.raises(FileNotFoundError):
        event_log_files(str(tmp_path))
