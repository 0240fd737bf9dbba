from __future__ import annotations

from perfbench import trace


def _task(stage, run_ms, rows=0, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                             "Input Metrics": {"Records Read": rows},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def _query(execution_id, location):
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": execution_id,
            "physicalPlanDescription": "(1) Scan parquet \nOutput [1]: [x#1]\n"
                                       f"Location: InMemoryFileIndex [file:{location}]\n"}


def test_by_job_group():
    events = [
        _query(7, "/w/pages"), _query(8, "/w/out/part=1"),
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "scan", "spark.sql.execution.id": "7"}},
        _task(0, 10, rows=5), _task(0, 30, rows=7), _task(1, 20, shuffle=100),
        {"Event": "SparkListenerJobStart", "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "scan", "spark.sql.execution.id": "8"}},
        _task(3, 20, rows=4),
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        _task(2, 5),
    ]
    groups = trace.by_job_group(events, "/w/pages")
    assert groups["scan"]["jobs"] == 2
    assert groups["scan"]["tasks"] == [10, 30, 20, 20]
    assert groups["scan"]["rows_read"] == 16
    assert groups["scan"]["scan_rows"] == 12
    assert groups["scan"]["shuffle_write"] == 100
    assert groups["scan"]["gc_ms"] == 4
    assert groups["-"]["jobs"] == 1
    assert trace.task_skew([10, 30, 20]) == 1.5


def test_scanned_paths():
    plan = "Location: InMemoryFileIndex(2 paths)[file:/w/a, file:/w/b]\nLocation: x"
    assert trace.scanned_paths(plan) == ["/w/a", "/w/b"]


def test_call_times_wraps_and_restores():
    class Worker:
        def work(self, x):
            return x * 2

    original = Worker.work
    with trace.CallTimes(Worker, ["work"]) as calls:
        assert Worker().work(2) == 4
        assert Worker().work(3) == 6
    assert Worker.work is original
    assert calls.calls["work"] == 2 and calls.seconds["work"] >= 0
