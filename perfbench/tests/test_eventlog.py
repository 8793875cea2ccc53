"""The event-log fold, pinned against a small hand-written log."""

from __future__ import annotations

import json

import pytest

from perfbench.eventlog import fold_events


def _task(stage, run_ms, cpu_ns, acc=(), reason="Success", shuffle_w=0, local_r=0, in_b=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": list(acc)},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": local_r},
            "Input Metrics": {"Bytes Read": in_b},
        },
    }


def _acc(aid, name, update, value):
    return {"ID": aid, "Name": name, "Update": str(update), "Value": str(value),
            "Metadata": "sql"}


PLAN = {
    "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "sparkPlanInfo": {
        "nodeName": "MapInPandas",
        "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
            {"name": "data sent to Python workers", "accumulatorId": 8, "metricType": "size"},
            {"name": "time to start Python workers", "accumulatorId": 9,
             "metricType": "nsTiming"},
            {"name": "time to initialize Python workers", "accumulatorId": 10,
             "metricType": "timing"},
        ],
        "children": [],
    },
}

LOG = [
    PLAN,
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Properties": {"spark.jobGroup.id": "p0:0:sim@1.0:action"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
     "Properties": {"spark.jobGroup.id": "p0:0:sim@1.0:action"}},
    # two tasks: per-task Update 1500 ms and 500 ms; Value is the running total
    _task(3, 1200, 900_000_000, [_acc(7, "time to run Python workers", 1500, 1500),
                                 _acc(8, "data sent to Python workers", 100, 100),
                                 _acc(9, "time to start Python workers", 2_000_000, 2_000_000),
                                 _acc(10, "time to initialize Python workers", 29_000, 29_000)],
          shuffle_w=10, in_b=1000),
    _task(3, 800, 100_000_000, [_acc(7, "time to run Python workers", 500, 2000),
                                _acc(8, "data sent to Python workers", 50, 150)],
          reason="ExceptionFailure", local_r=5),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000, "Properties": {}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4}, "Properties": {}},
    _task(4, 10, 1_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4100},
]


@pytest.fixture(scope="module")
def folded():
    return fold_events(json.dumps(e) for e in LOG)


def test_python_worker_time_sums_per_task_updates_in_ms(folded):
    g = folded["p0:0:sim@1.0:action"]
    # 1.5 s + 0.5 s from the Updates; summing Values would give 3.5 s
    assert g["pyworker.run_s"] == pytest.approx(2.0)
    assert g["pyworker.bytes_sent"] == 150
    assert g["pyworker.init_s"] == pytest.approx(0.002)  # nsTiming; "initialize" ignored
    assert g["pyworker.tasks"] == 2


def test_task_metrics_and_units(folded):
    g = folded["p0:0:sim@1.0:action"]
    assert g["spark.jobs"] == 1
    assert g["spark.stages"] == 1
    assert g["spark.tasks"] == 2
    assert g["spark.failed_tasks"] == 1
    assert g["spark.executor_run_s"] == pytest.approx(2.0)
    assert g["spark.executor_cpu_s"] == pytest.approx(1.0)
    assert g["spark.job_wall_s"] == pytest.approx(2.5)
    assert g["spark.shuffle_write_bytes"] == 10
    assert g["spark.shuffle_read_bytes"] == 5
    assert g["spark.input_bytes"] == 1000


def test_jobs_without_a_group_stay_apart(folded):
    g = folded[""]
    assert g["spark.jobs"] == 1 and g["spark.tasks"] == 1
    assert g["pyworker.run_s"] == 0
