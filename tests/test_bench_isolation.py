"""Bench-harness regression: one broken query must never wipe the
bench artifact (round 2 lost its official perf number to exactly
that). Runs bench.py in a subprocess with a query forced to fail and
asserts the run still exits 0 with a parseable JSON line that reports
the failure alongside the surviving timings."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent


def _run_bench(code: str, cwd: Path, sidecar: Path) -> dict:
    """Run ``code`` (which ends in ``bench.main()``) in a fresh
    interpreter on the smoke fixture from ``cwd``; return bench's stdout line."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_SMOKE,
        SPARK_GRAFT_BENCH_SIDECAR=str(sidecar),
    )
    # the engine must be reachable from the bench alone, not from an
    # inherited search path
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(cwd),
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.strip().splitlines()[-1])
    assert payload["metric"] == "headline_queries_total"
    # Driver contract (round-7 regression: the stdout line grew past
    # the driver's capture and BENCH_r07 recorded parsed=null): stdout
    # carries ONLY the compact fields; runs/probe ride in the sidecar.
    assert set(payload) <= {"metric", "value", "unit", "queries", "sf", "failed"}
    return payload


def test_bench_survives_a_broken_query(tmp_path):
    code = """
import bench
from stock_prediction_data_engineering_spark import registry

registry.load_all()

def _boom(spark, sf_dir):
    raise RuntimeError("injected failure")

registry.QUERIES["q_injected_broken"] = _boom
bench.HEADLINE_QUERIES = ["q_scan_project", "q_injected_broken", "q_multi_agg"]
bench.main()
"""
    sidecar = tmp_path / "bench_sidecar.json"
    payload = _run_bench(code, REPO, sidecar)
    # survivors timed, failure reported by name with its error class
    assert set(payload["queries"]) == {"q_scan_project", "q_multi_agg"}
    assert payload["value"] > 0
    assert payload["failed"] == {"q_injected_broken": "RuntimeError: injected failure"}
    side = json.loads(sidecar.read_text())
    assert set(side["runs"]) == {"q_scan_project", "q_multi_agg"}
    assert all(len(v) == 2 for v in side["runs"].values())
    assert side["cpu_probe"]["start"]["t1_meps"] > 0
    assert side["cpu_probe"]["end"]["t32_meps"] > 0


def test_bench_from_foreign_cwd_records_worker_root_cause(tmp_path):
    """Started outside the checkout, an engine Arrow UDF still runs in
    the Python workers, and a query that fails inside a worker is
    recorded by its root-cause line, not the bare ``PythonException``
    header."""
    code = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
import bench
from stock_prediction_data_engineering_spark import registry

registry.load_all()

def _raise_in_worker(batches):
    for _ in batches:
        raise ValueError("boom")
    yield from ()

def _worker_boom(spark, sf_dir):
    return spark.range(4).mapInPandas(_raise_in_worker, "id long")

registry.QUERIES["q_injected_udf"] = _worker_boom
bench.HEADLINE_QUERIES = ["q_semantic_dedup", "q_injected_udf"]
bench.main()
"""
    payload = _run_bench(code, tmp_path, tmp_path / "bench_sidecar.json")
    assert set(payload["queries"]) == {"q_semantic_dedup"}
    assert set(payload["failed"]) == {"q_injected_udf"}
    assert payload["failed"]["q_injected_udf"].endswith("ValueError: boom")
