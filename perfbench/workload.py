"""One benchmark run of one workload, in its own process.

``run.py`` starts this file as a child process, samples its memory from
outside, and prints the result this file writes. It can be run by hand
the same way ``run.py`` runs it::

    python3 perfbench/workload.py --workload queries-sf0.1 --seed 1 \
        --trace 0 --seconds 10 --work perfbench/work/x --result perfbench/work/x.json

A run is: make the seeded inputs and the DuckDB oracle answers; set up
five times (Spark session, registry and, for ``queries-sf0.1``, a scan
of its largest table) and keep the median; one untimed warm-up pass
over the workload's ops; then timed passes until ``--seconds`` have gone
by. An op is one query built with ``registry.QUERIES[name](spark, dir)``
and collected, or one ingest stage; every op's answer is checked in
every pass. Latencies are medians over the timed passes.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import layers as tracing  # noqa: E402

DRIVER_HEAP = "2g"
# set-ups per run; setup_s is their median
SETUPS = 5

# Three headline queries of bench.py, two relational and one LLM-data;
# the list is sized so a run fits the benchmark's time budget (README.md)
QUERY_OPS = (
    "q_join_multiway",  # join (TPC-H Q5 shape), shuffle-heavy
    "q_ntile",  # window with a global rank, construction-heavy
    "q_ann_pq_rerank",  # PQ build and search: eager construction, LLM-data operators
)
QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings",
)
QUERY_DOCS = 1000
# set-up warms the catalog through the largest fact table, which also
# warms the JVM
QUERY_WARM = ("lineitem",)

LAKE_SYMBOLS = 4
LAKE_RESTATED_YEAR = 2020

WORKLOADS = ("queries-sf0.1", "ingest-lake")


T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench +{time.monotonic() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# answers
# --------------------------------------------------------------------------


def canonical(df):
    """Sort columns by name, normalise cell types, sort rows: two frames
    with the same rows in any order become equal."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.floor("us").astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        else:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_mismatch(got, want) -> str | None:
    """None when the Spark answer equals the oracle's, else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    a, b = canonical(got), canonical(want)
    if a.equals(b):
        return None
    for col in a.columns:
        for i, (x, y) in enumerate(zip(a[col].tolist(), b[col].tolist())):
            if str(x) != str(y) and not (x == y):
                return f"col {col} row {i}: {x!r} != oracle {y!r}"
    return None


def answer_hash(pdf) -> str:
    """Order-insensitive hash of a collected answer."""
    import hashlib

    return hashlib.sha256(canonical(pdf).to_csv(index=False).encode()).hexdigest()[:16]


_CAUSE = re.compile(r"^[A-Za-z_][\w.]*(Error|Exception|Exit|Interrupt|Warning)\b")


def root_cause(exc: BaseException) -> str:
    """Exception class plus the last error line of its text: for an
    error raised in a Python worker that is the worker traceback's last
    line, not the bare ``PythonException:`` header."""
    lines = [ln.strip() for ln in str(exc).splitlines() if ln.strip()]
    cause = next((ln for ln in reversed(lines) if _CAUSE.match(ln)), lines[-1] if lines else "")
    return f"{type(exc).__name__}: {cause[:300]}"


# --------------------------------------------------------------------------
# ops
# --------------------------------------------------------------------------


@dataclass
class Op:
    """One unit of measured work. ``build`` constructs (returns a
    DataFrame or None); ``sink`` executes; ``check`` returns None or the
    reason the answer is wrong."""

    name: str
    layer: str
    build: Callable[[], object]
    sink: Callable[[object], object]
    check: Callable[[object], str | None] = lambda answer: None


@dataclass
class Sample:
    pass_no: int
    op: str
    layer: str
    construct_s: float
    sink_s: float
    plan_s: float
    rdds: int

    @property
    def total_s(self) -> float:
        return self.construct_s + self.sink_s


@dataclass
class Runner:
    spark: object
    trace: bool
    pass_no: int = 0
    attempted: int = 0
    failures: list = field(default_factory=list)
    samples: list = field(default_factory=list)

    def fail(self, op: str, cause: str) -> None:
        self.failures.append({"op": op, "cause": cause})
        log(f"FAILED {op}: {cause}")

    def materialized_rdds(self) -> int:
        """Count, then unpersist, every RDD the op persisted or
        checkpointed, so one op's storage never crowds out the next."""
        it = self.spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        n = 0
        while it.hasNext():
            it.next()._2().unpersist(False)
            n += 1
        return n

    def plan_seconds(self, df) -> float:
        """Analysis + optimization + planning of ``df`` from its
        QueryExecution tracker (forces planning; traced runs only)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        return sum(phases.get(k).durationMs() for k in phases.keySet()) / 1000

    def execute(self, op: Op) -> bool:
        """Run, time and check ``op`` once. A raised exception or a
        wrong answer is recorded as a failure with its cause."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            built = op.build()
            t1 = time.perf_counter()
            plan_s = self.plan_seconds(built) if self.trace and hasattr(built, "_jdf") else 0.0
            t2 = time.perf_counter()
            answer = op.sink(built)
            t3 = time.perf_counter()
            wrong = op.check(answer)
        except Exception as exc:  # noqa: BLE001 - one failing op must not end the run
            self.fail(op.name, root_cause(exc))
            log(traceback.format_exc(limit=3))
            self.materialized_rdds()
            return False
        rdds = self.materialized_rdds()
        if wrong:
            self.fail(op.name, f"wrong answer: {wrong}")
            return False
        self.samples.append(Sample(self.pass_no, op.name, op.layer, t1 - t0, t3 - t2, plan_s, rdds))
        return True


def query_ops(spark, registry, names, sf_dir, oracle_answers, hashes) -> list[Op]:
    """Ops for registry queries: build, collect, then compare with the
    DuckDB oracle answer (oracle-backed queries) or require rows
    (rows-only queries). Each answer's order-insensitive hash goes to
    ``hashes``."""
    ops = []
    for name in names:
        fn = registry.QUERIES[name]

        def check(pdf, name=name):
            hashes[name] = answer_hash(pdf)
            if len(pdf) == 0:
                return "no rows"
            if name in oracle_answers:
                return oracle_mismatch(pdf, oracle_answers[name])
            return None

        ops.append(
            Op(
                name,
                "queries." + fn.__module__.rsplit(".", 1)[-1],
                lambda fn=fn: fn(spark, sf_dir),
                lambda df: df.toPandas(),
                check,
            )
        )
    return ops


def lake_ops(spark, work: str, seed: int, sizes: dict) -> tuple[list[Op], Callable[[], dict], Callable[[], None]]:
    """The ingest cycle: ``pipeline.run`` on the seeded screener and
    fetcher; a full scan and per-company reads of the lake; a one-year
    restatement through ``overwrite_partitions`` and a read of the
    restated year; ``compact_parquet`` and a full scan after it. Also
    returns the lake facts of the last pass (sizes, fetch counts, and
    seconds in the lake's read, update and compact calls), and the reset
    that gives the next pass an empty lake and fetch log."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark import pipeline
    from stock_prediction_data_engineering_spark.sources import lake

    from pyspark import cloudpickle

    # the fetcher runs in Python workers, which cannot import this directory
    cloudpickle.register_pickle_by_value(inputs)
    fetch_logs = os.path.join(work, "fetch")
    os.makedirs(fetch_logs, exist_ok=True)
    truth = inputs.lake_inputs(seed, LAKE_SYMBOLS, fetch_logs)
    csv = os.path.join(work, "screener.csv")
    truth.screener.to_csv(csv, index=False)
    lake_path = os.path.join(work, "lake")
    sizes["screener.csv"] = {"rows": len(truth.screener), "bytes": os.path.getsize(csv), "files": 1}
    sizes["fetched_bars"] = {"rows": truth.lake_rows, "bytes": 0, "files": 0}
    facts: dict = {}

    # restated bars of one year: close and adj_close up by one
    restated = pd.concat(
        [truth.fetcher.bars(s, inputs.LAKE_START, inputs.LAKE_END) for s in truth.rows], ignore_index=True
    ).drop(columns="fetch_error")
    restated = restated[pd.to_datetime(restated["bar_date"]).dt.year == LAKE_RESTATED_YEAR].copy()
    restated["close"] += 1.0
    restated["adj_close"] += 1.0
    restated["year"] = LAKE_RESTATED_YEAR
    year_truth = (len(restated), round(float(restated["close"].sum()), 2))
    base_close = {
        s: round(float(truth.fetcher.bars(s, inputs.LAKE_START, inputs.LAKE_END)["close"].sum()), 2)
        for s in truth.rows
    }

    def lake_bytes() -> tuple[int, int]:
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(lake_path) for f in fs if f.endswith(".parquet")
        ]
        return len(files), sum(os.path.getsize(f) for f in files)

    def run_pipeline():
        return pipeline.run(
            spark, csv, lake_path, inputs.LAKE_START, inputs.LAKE_END, fetch_fn=truth.fetcher
        )

    def collect_symbols(df):
        return [r["Symbol"] for r in df.collect()]

    def check_pipeline(symbols):
        facts["files_written"], facts["bytes_written"] = lake_bytes()
        calls = fetch_log(fetch_logs)
        refused = sorted({s for s, ok, _ in calls if not ok})
        fetched = {s for s, _, _ in calls}
        if symbols != truth.processed:
            return f"processed {symbols} != {truth.processed}"
        if refused != truth.quarantined:
            return f"quarantined {refused} != {truth.quarantined}"
        if fetched != set(truth.valid):
            return f"fetched {sorted(fetched)} != valid {sorted(truth.valid)}"
        return None

    # seconds per lake layer in the current pass, for the traced run
    layer_s: dict[str, float] = defaultdict(float)

    def timed(layer: str, fn: Callable, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            layer_s[layer] += time.perf_counter() - t0

    def scan() -> dict:
        """rows and rounded sum(close) per company, over the whole lake."""
        df = (
            lake.read_lake(spark, lake_path)
            .groupBy("company")
            .agg(F.count("*").alias("n"), F.round(F.sum("close"), 2).alias("close"))
        )
        return {r["company"]: (r["n"], r["close"]) for r in df.collect()}

    def check_scan(got, restated_year: bool):
        counts = {s: n for s, (n, _) in got.items()}
        if counts != truth.rows:
            return f"lake rows per company {counts} != {truth.rows}"
        want = sum(base_close.values())
        if restated_year:
            want += year_truth[0]
        total = round(sum(c for _, c in got.values()), 2)
        return None if abs(total - want) < 1e-6 * max(1.0, want) else f"sum(close) {total} != {want}"

    def read(_):
        """A full scan, then one read per company, pruned to its partitions."""
        got = timed("lake.read", scan)
        per_company = {
            s: timed("lake.read", lambda s=s: lake.read_lake(spark, lake_path).filter(F.col("company") == s).count())
            for s in truth.rows
        }
        return got, per_company

    def check_read(answer):
        got, per_company = answer
        if per_company != truth.rows:
            return f"single-company reads {per_company} != {truth.rows}"
        return check_scan(got, False)

    restated_df = spark.createDataFrame(restated)

    def restate(_):
        """Overwrite one year's partitions, then read that year back."""
        timed("lake.update", lake.overwrite_partitions, restated_df, lake_path)
        facts["update_bytes_rewritten"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(lake_path)
            if f"year={LAKE_RESTATED_YEAR}" in d
            for f in fs
            if f.endswith(".parquet")
        )
        year = lake.read_lake(spark, lake_path).filter(F.col("year") == LAKE_RESTATED_YEAR)
        return timed("lake.read", year.agg(F.count("*").alias("n"), F.round(F.sum("close"), 2).alias("close")).collect)

    def check_restated(row):
        got = (row[0]["n"], round(row[0]["close"], 2))
        return None if got == year_truth else f"restated year {got} != {year_truth}"

    def compact(_):
        """Compact the lake, then scan all of it."""
        timed("lake.compact", lake.compact_parquet, spark, lake_path)
        facts["compact_bytes_rewritten"] = lake_bytes()[1]
        return timed("lake.read", scan)

    # one op per ingest stage
    ops = [
        Op("pipeline.run", "pipeline", run_pipeline, collect_symbols, check_pipeline),
        Op("lake.read", "lake", lambda: None, read, check_read),
        Op("lake.restate", "lake", lambda: None, restate, check_restated),
        Op("lake.compact", "lake", lambda: None, compact, lambda got: check_scan(got, True)),
    ]

    def reset() -> None:
        shutil.rmtree(lake_path, ignore_errors=True)
        for f in os.listdir(fetch_logs):
            os.remove(os.path.join(fetch_logs, f))
        layer_s.clear()

    def lake_facts() -> dict:
        calls = fetch_log(fetch_logs)
        return {
            **facts,
            **{f"{k}_s": v for k, v in layer_s.items()},
            "rows": truth.lake_rows,
            "fetch_calls": len(calls),
            "quarantined": sum(1 for _, ok, _ in calls if not ok),
            "fetch_s": sum(s for _, _, s in calls),
        }

    return ops, lake_facts, reset


def fetch_log(log_dir: str) -> list[tuple[str, bool, float]]:
    """(symbol, ok, seconds) for every call the seeded fetcher logged."""
    calls = []
    for f in os.listdir(log_dir):
        with open(os.path.join(log_dir, f)) as fh:
            for line in fh:
                sym, secs, ok = line.split()
                calls.append((sym, ok == "1", float(secs)))
    return calls


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--seconds", type=float, required=True, help="timed passes run until this much time is gone")
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()
    trace = bool(a.trace)
    work = os.path.abspath(a.work)
    os.makedirs(work, exist_ok=True)

    from stock_prediction_data_engineering_spark import catalog, registry
    from stock_prediction_data_engineering_spark.session import get_spark

    # ---- inputs (not part of set-up time)
    sizes: dict = {}
    sf_dir = os.path.join(work, "inputs")
    queries = a.workload.startswith("queries")
    names = QUERY_OPS if queries else ()
    tables = QUERY_TABLES if queries else ()
    if queries:
        sizes = inputs.star_tables(catalog.DEFAULT_SF_DIR, sf_dir, a.seed, tables, QUERY_DOCS)
    log("inputs ready")

    # ---- set-up, SETUPS times: the first starts the JVM, each later one
    # stops the session and starts a new one in the same JVM
    cpus = os.cpu_count() or 1
    # the whole heap is committed and touched at start, so peak resident
    # memory does not swing with how far the collector grew the heap;
    # Spark's scratch space stays inside the run's work directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    setups = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{a.workload}", cpus=cpus, driver_mem=DRIVER_HEAP, extra_conf=conf)
        t1 = time.perf_counter()
        registry.load_all()
        t2 = time.perf_counter()
        for t in QUERY_WARM if queries else ():
            catalog.table(spark, sf_dir, t).count()
        t3 = time.perf_counter()
        setups.append({"session.start_s": t1 - t0, "registry.load_s": t2 - t1, "catalog.warm_s": t3 - t2})
        log(f"setup {json.dumps({k: round(v, 3) for k, v in setups[-1].items()})}")
    setup = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
    setup_s = statistics.median(sum(s.values()) for s in setups)

    runner = Runner(spark, trace)
    hashes: dict[str, str] = {}
    lake_facts = reset = None
    if a.workload == "ingest-lake":
        ops, lake_facts, reset = lake_ops(spark, work, a.seed, sizes)
    else:
        # the registry's oracles exist once set-up has loaded it; DuckDB
        # answers them here, between set-up and the timed passes
        con = inputs.oracle_connection(sf_dir, tables)
        try:
            oracle_answers = {n: con.sql(registry.ORACLES[n]).df() for n in names if n in registry.ORACLES}
        finally:
            con.close()
        missing = [n for n in names if n in registry.QUERIES and n not in oracle_answers]
        log(f"oracle answers for {sorted(oracle_answers)}; rows-only: {missing}")
        ops = query_ops(spark, registry, names, sf_dir, oracle_answers, hashes)

    def one_pass() -> None:
        if reset is not None:
            reset()
        for op in ops:
            runner.execute(op)

    # ---- one untimed warm-up pass (answers checked), then timed passes
    # until --seconds have gone by
    one_pass()
    log("warm-up pass done")
    calls = tracing.CallTimer()
    if trace:
        calls.install()
    timed_t0_ms = time.time() * 1000
    log("timed-start")
    started = time.perf_counter()
    while runner.pass_no < 1 or time.perf_counter() - started < a.seconds:
        runner.pass_no += 1
        one_pass()
    passes = runner.pass_no
    log(f"timed-end after {passes} passes")
    timed_t1_ms = time.time() * 1000
    java_version = spark._jvm.System.getProperty("java.version")
    master = spark.sparkContext.master
    import pyspark

    spark.stop()

    timed = [s for s in runner.samples if s.pass_no > 0]
    pass_s = [sum(s.total_s for s in timed if s.pass_no == p) for p in range(1, passes + 1)]
    per_op = defaultdict(list)
    for s in timed:
        per_op[s.op].append(s.total_s)
    op_s = {op: statistics.median(v) for op, v in per_op.items()} or {"none": float("nan")}
    if lake_facts is not None:
        facts = lake_facts()
        stored = facts.get("bytes_written", 0) / facts["rows"]
    else:
        facts = {}
        stored = sum(v["bytes"] for v in sizes.values()) / sum(v["rows"] for v in sizes.values())

    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(pass_s), "s"),
        "op_p50_s": (statistics.median(op_s.values()), "s"),
        "op_tail_s": (max(op_s.values()), "s"),
        "ok_frac": (1 - len(runner.failures) / max(1, runner.attempted), "fraction"),
        "stored_bytes_per_row": (stored, "B/row"),
    }
    layers: dict[str, float] = {}
    if trace:
        # every per-layer value is per timed pass
        layers.update(setup)
        construct = defaultdict(float)
        for s in timed:
            if s.layer.startswith("queries."):
                construct[s.layer] += s.construct_s / passes
        layers["queries.construct_s"] = sum(construct.values())
        for layer in sorted({"queries." + registry.QUERIES[n].__module__.rsplit(".", 1)[-1] for n in QUERY_OPS}):
            layers[f"{layer}.construct_s"] = construct.get(layer, 0.0)
        layers["queries.materialized_rdds"] = sum(s.rdds for s in timed) / passes
        layers["catalyst.plan_s"] = sum(s.plan_s for s in timed) / passes
        layers["spark.exec_s"] = sum(s.sink_s for s in timed) / passes
        ev = tracing.reduce_event_log(os.path.join(work, "eventlog"), timed_t0_ms, timed_t1_ms)
        for k in EVENT_KEYS:
            layers[k] = ev.get(k, 0.0) / passes
        layers["spark.slot_idle_frac"] = 1 - layers["spark.task_s"] / (statistics.mean(pass_s) * cpus)
        for key in tracing.OPERATOR_KEYS:
            layers[f"{key}.calls"] = calls.calls.get(key, 0) / passes
            layers[f"{key}.call_s"] = calls.seconds.get(key, 0.0) / passes
        # the lake facts, and the lake seconds, are those of the last pass
        layers["api_source.fetch_calls"] = facts.get("fetch_calls", 0)
        layers["api_source.quarantined"] = facts.get("quarantined", 0)
        layers["api_source.fetch_s"] = facts.get("fetch_s", 0.0)
        layers["lake.write_s"] = calls.seconds.get("lake.write", 0.0) / passes
        layers["lake.files_written"] = facts.get("files_written", 0)
        layers["lake.bytes_written"] = facts.get("bytes_written", 0)
        layers["lake.read_s"] = facts.get("lake.read_s", 0.0)
        layers["lake.update_s"] = facts.get("lake.update_s", 0.0)
        layers["lake.update_bytes_rewritten"] = facts.get("update_bytes_rewritten", 0)
        layers["lake.compact_s"] = facts.get("lake.compact_s", 0.0)
        layers["lake.compact_bytes_rewritten"] = facts.get("compact_bytes_rewritten", 0)
        for stage in ("load", "ingest", "preprocess"):
            layers[f"pipeline.{stage}_s"] = calls.seconds.get(f"pipeline.{stage}", 0.0) / passes
        layers["trace.wall_s"] = e2e["wall_s"][0]

    result = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "failures": runner.failures,
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "setup": setup,
        "layers": layers,
        "passes": passes,
        "pass_s": pass_s,
        "op_s": op_s,
        "setups": setups,
        "ops": [vars(s) for s in runner.samples],
        "answer_hashes": hashes,
        "inputs": sizes,
        "host": {
            "nproc": cpus,
            "master": master,
            "driver_heap": DRIVER_HEAP,
            "pyspark": pyspark.__version__,
            "java": java_version,
        },
        "lake": facts,
    }
    with open(a.result, "w") as fh:
        json.dump(result, fh, indent=1)
    return 0


EVENT_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.broadcast_joins", "spark.sort_merge_joins", "spark.failed_tasks",
    "python.udf_s", "python.bytes_sent", "python.bytes_returned",
)

if __name__ == "__main__":
    sys.exit(main())
