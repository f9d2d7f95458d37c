"""Self-test of the benchmark's failure accounting.

    python3 perfbench/selftest.py

Plants, next to one correct op, an op that raises on the driver, an op
whose Python worker raises, and an op with a wrong answer, runs them
through the same runner the workloads use, and asserts that all three
are counted as failed with their root-cause lines. Also checks the
event-log reducer on a small synthetic log and the count of dropped
accumulator updates. Exits non-zero on the first failed
assertion.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import types

import workload  # noqa: E402  (puts the repository root on sys.path)
import layers  # noqa: E402
import run  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def planted_ops(spark):
    import pandas as pd

    def q_ok(spark, _dir):
        return spark.range(5)

    def q_raises(spark, _dir):
        raise ValueError("planted driver error")

    def q_worker_raises(spark, _dir):
        def boom(batches):
            import planted_missing_module  # noqa: F401

            yield from batches

        return spark.range(4, numPartitions=1).mapInPandas(boom, "id long")

    def q_wrong(spark, _dir):
        return spark.range(5)

    registry = types.SimpleNamespace(
        QUERIES={"q_ok": q_ok, "q_raises": q_raises, "q_worker_raises": q_worker_raises, "q_wrong": q_wrong}
    )
    oracle = {"q_ok": pd.DataFrame({"id": range(5)}), "q_wrong": pd.DataFrame({"id": range(6)})}
    return workload.query_ops(spark, registry, list(registry.QUERIES), "", oracle, {})


def test_runner() -> None:
    from stock_prediction_data_engineering_spark.session import get_spark

    spark = get_spark(app_name="perfbench-selftest", cpus=2, driver_mem="1g",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        runner = workload.Runner(spark, trace=False)
        for op in planted_ops(spark):
            runner.execute(op)
    finally:
        spark.stop()
    causes = {f["op"]: f["cause"] for f in runner.failures}
    check(runner.attempted == 4, "four ops attempted")
    check(len(runner.failures) == 3, "the raising ops and the wrong answer are counted as failed")
    check([s.op for s in runner.samples] == ["q_ok"], "only the correct op yields a latency sample")
    check(causes.get("q_raises") == "ValueError: planted driver error", "driver error keeps class and message")
    check(
        causes.get("q_worker_raises", "").endswith("ModuleNotFoundError: No module named 'planted_missing_module'"),
        f"worker error reports the worker traceback's last line ({causes.get('q_worker_raises')!r})",
    )
    check(causes.get("q_wrong", "").startswith("wrong answer: rows 5 != oracle 6"), "wrong answer is named")


def test_event_log() -> None:
    def task(finish, run_ms, reason="Success", py_ms="0"):
        return {
            "Event": "SparkListenerTaskEnd",
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Finish Time": finish, "Accumulables": [{"Name": "time to run Python workers", "Update": py_ms}]},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 0, "Disk Bytes Spilled": 7,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}},
        }

    plan = {"nodeName": "AdaptiveSparkPlan", "children": [
        {"nodeName": "BroadcastHashJoin", "children": [{"nodeName": "SortMergeJoin", "children": []}]}]}
    events = [
        task(50, 999),  # before the window
        task(150, 1000, py_ms="250"),
        task(160, 500, reason="ExceptionFailure"),
        {"Event": "SparkListenerJobStart", "Submission Time": 120},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "time": 110,
         "executionId": 1, "sparkPlanInfo": {"nodeName": "X", "children": []}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 1, "sparkPlanInfo": plan},
    ]
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(os.path.join(d, "eventlog_v2_app"))
        with open(os.path.join(d, "eventlog_v2_app", "events_1_app"), "w") as fh:
            fh.write("\n".join(json.dumps(e) for e in events) + "\n")
        got = layers.reduce_event_log(d, 100, 200)
    check(got["spark.tasks"] == 2 and got["spark.failed_tasks"] == 1, "tasks in the window, failed ones counted")
    check(abs(got["spark.task_s"] - 1.5) < 1e-9 and abs(got["python.udf_s"] - 0.25) < 1e-9, "task and Python seconds")
    check(got["spark.shuffle_read_bytes"] == 6 and got["spark.spill_bytes"] == 14, "shuffle and spill bytes")
    check(got["spark.jobs"] == 1, "jobs in the window")
    check(got["spark.broadcast_joins"] == 1 and got["spark.sort_merge_joins"] == 1, "joins of the final AQE plan")


def test_accumulator_errors() -> None:
    dropped = "26/10/17 03:13:49 ERROR DAGScheduler: Failed to update accumulator 2279 (Unknown class) for task 0"
    lines = [dropped, "[perfbench +9.1s] timed-start", dropped, "WARN something else", dropped]
    check(run.accumulator_errors(lines) == 2, "dropped accumulator updates counted from the first timed pass on")


if __name__ == "__main__":
    test_event_log()
    test_accumulator_errors()
    test_runner()
    print("selftest passed")
    sys.exit(0)
