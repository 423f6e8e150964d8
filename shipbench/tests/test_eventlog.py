"""The event-log parser on a small synthetic log."""

import json

import pytest

from shipbench.eventlog import COUNTERS, fold

MB = 1024 * 1024


def _task(stage, launch, reason="Success", cpu_ns=0, read=0, written=0,
          attempt=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Stage Attempt ID": attempt,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": launch},
            "Task Metrics": {"Executor CPU Time": cpu_ns,
                             "Input Metrics": {"Bytes Read": read},
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": written}}}


LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
    _task(0, 1010, cpu_ns=2_000_000_000, read=3 * MB),
    _task(0, 1020, cpu_ns=1_000_000_000, read=MB),
    _task(1, 1100, written=MB // 2),
    _task(1, 1110, reason="ExceptionFailure"),
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500},
    _task(2, 1510),
    # A streaming query's job, submitted from its own thread.
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000},
    _task(3, 3005),
    _task(3, 3006, attempt=1),
    # Between spans: belongs to none.
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 2500},
    _task(4, 2501, cpu_ns=5_000_000_000),
]
SPANS = {"scan": [(900, 1400), (1450, 1600)], "stream": [(2900, 3100)],
         "idle": [(5000, 6000)]}


def test_fold_attributes_by_window():
    lines = [json.dumps(e) for e in LOG] + [""]
    out = fold(lines, SPANS)
    assert out["scan"] == {
        "jobs": 2, "stages": 3, "tasks": 5, "failed_tasks": 1,
        "shuffle_write_mb": pytest.approx(0.5),
        "input_mb": pytest.approx(4.0),
        "executor_cpu_s": pytest.approx(3.0)}
    # A retried stage attempt counts as its own stage.
    assert out["stream"]["jobs"] == 1
    assert out["stream"]["stages"] == 2
    assert out["stream"]["tasks"] == 2
    assert out["idle"] == dict.fromkeys(COUNTERS, 0)
