"""Per-layer tracing from outside the engine.

Two sources, both owned by the benchmark:

* ``CallTimer`` wraps public engine functions (every module-level
  reference to them inside the engine package, so ``from x import f``
  call sites are covered too) and records calls and seconds per key;
* ``reduce_event_log`` reduces Spark's own uncompressed event log to
  task, stage, job, shuffle, spill, Python-boundary and join-strategy
  counts inside a wall-clock window (epoch milliseconds).
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict

ENGINE = "stock_prediction_data_engineering_spark"

# (module, function, metric key) for every wrapped entry point
WRAPPED = (
    ("pipeline", "load_raw_screener", "pipeline.load"),
    ("pipeline", "ingest_bars", "pipeline.ingest"),
    ("pipeline", "preprocess_symbols", "pipeline.preprocess"),
    ("sources.lake", "write_lake", "lake.write"),
    ("operators.pq", "pq_build", "operators.pq_build"),
    ("operators.pq", "pq_search", "operators.pq_search"),
)

OPERATOR_KEYS = tuple(k for _, _, k in WRAPPED if k.startswith("operators."))


class CallTimer:
    """Calls and seconds per key for the wrapped engine functions."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)

    def _wrap(self, key: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls[key] += 1
                self.seconds[key] += time.perf_counter() - t0

        return timed

    def install(self) -> None:
        """Replace each wrapped function in every loaded engine module
        that holds a reference to it."""
        for mod_name, fn_name, key in WRAPPED:
            original = getattr(importlib.import_module(f"{ENGINE}.{mod_name}"), fn_name)
            wrapped = self._wrap(key, original)
            for name, mod in list(sys.modules.items()):
                if name.startswith(ENGINE) and getattr(mod, fn_name, None) is original:
                    setattr(mod, fn_name, wrapped)


# SQL metric names of the Python boundary nodes (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...)
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _join_counts(plan: dict) -> tuple[int, int]:
    broadcast = merge = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        broadcast += name.startswith("Broadcast") and "Join" in name
        merge += name.startswith("SortMergeJoin")
        stack.extend(node.get("children", []))
    return broadcast, merge


def reduce_event_log(log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Per-layer counts from every event file under ``log_dir`` for the
    events that finished (tasks, stages) or started (jobs, SQL
    executions) inside ``[t0_ms, t1_ms]``."""
    out = defaultdict(float)
    plans: dict[int, dict] = {}
    files = sorted(
        (f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(f)),
        key=lambda f: (os.path.dirname(f), int(os.path.basename(f).split("_")[1]) if os.path.basename(f).startswith("events_") else 0),
    )
    inside = lambda ms: ms is not None and t0_ms <= ms <= t1_ms  # noqa: E731
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if not inside(info.get("Finish Time")):
                        continue
                    out["spark.tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        out["spark.failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    out["spark.task_s"] += m.get("Executor Run Time", 0) / 1000
                    out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000
                    sr = m.get("Shuffle Read Metrics") or {}
                    out["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    out["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    out["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        name, update = acc.get("Name"), acc.get("Update")
                        if name == _PY_RUN:
                            out["python.udf_s"] += float(update) / 1000
                        elif name == _PY_SENT:
                            out["python.bytes_sent"] += float(update)
                        elif name == _PY_RETURNED:
                            out["python.bytes_returned"] += float(update)
                elif kind == "SparkListenerJobStart":
                    out["spark.jobs"] += inside(ev.get("Submission Time"))
                elif kind == "SparkListenerStageCompleted":
                    out["spark.stages"] += inside(ev["Stage Info"].get("Completion Time"))
                elif kind == _SQL_START:
                    if inside(ev.get("time")):
                        plans[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind == _SQL_AQE:
                    if ev["executionId"] in plans:
                        plans[ev["executionId"]] = ev["sparkPlanInfo"]
    for plan in plans.values():
        broadcast, merge = _join_counts(plan)
        out["spark.broadcast_joins"] += broadcast
        out["spark.sort_merge_joins"] += merge
    return dict(out)
