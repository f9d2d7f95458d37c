"""Offline mode of tools/bench_ab.py on committed bench artifacts: the
flag rule, the data-ratio expectation, ``parsed``-wrapper unwrapping,
sidecar spreads and CPU-probe normalisation. Spark-free."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
TOOL = REPO / "tools" / "bench_ab.py"
ROUND_DIFF = (REPO / "BENCH_r10.json", REPO / "BENCH_r11.json", "--band", "0.15")


def _bench_ab(*args: str) -> tuple[int, dict]:
    out = subprocess.run(
        [sys.executable, str(TOOL), *map(str, args)],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode in (0, 1), out.stderr
    return out.returncode, json.loads(out.stdout.strip().splitlines()[-1])


def test_round_diff_flags_the_slowed_queries():
    rc, out = _bench_ab(*ROUND_DIFF)
    assert rc == 1
    assert out["n_common"] == 62
    assert out["flagged"] == [
        "q_semantic_dedup",
        "q_dedup_exact",
        "q_tpch_product_profit",
        "q_gains_table",
        "q_rollup",
        "q_tpch_small_qty_revenue",
        "q_tpch_returned_items",
        "q_als_recommend",
        "q_topk_similar",
    ]
    # faster queries are reported, never flagged
    assert "q_ann_pq_rerank" in out["improved"]


def test_scale_ratio_within_band_flags_nothing():
    rc, out = _bench_ab(
        REPO / "BENCH_r9_sf1.json",
        REPO / "BENCH_r9_sf10.json",
        "--data-ratio", "10",
        "--band", "0.5",
    )
    assert rc == 0
    assert out["flagged"] == []
    assert out["n_common"] == 62
    assert out["expected_ratio"] == 10.0


def test_wrapped_and_raw_artifacts_agree(tmp_path):
    raw = {}
    for name in ("BENCH_r10.json", "BENCH_r11.json"):
        wrapper = json.loads((REPO / name).read_text())
        assert "queries" not in wrapper and "parsed" in wrapper
        raw[name] = tmp_path / name
        raw[name].write_text(json.dumps(wrapper["parsed"]))
    rc_w, wrapped = _bench_ab(*ROUND_DIFF)
    rc_u, unwrapped = _bench_ab(*raw.values(), *ROUND_DIFF[2:])
    assert rc_w == rc_u == 1
    # identical apart from the artifact paths
    for k in ("a", "b"):
        del wrapped[k], unwrapped[k]
    assert wrapped == unwrapped


def test_sidecar_spread_and_cpu_probe(tmp_path):
    def sidecar(path, queries, runs, t32):
        probe = {"t1_meps": 1.0, "t32_meps": t32}
        path.write_text(
            json.dumps(
                {
                    "queries": queries,
                    "runs": runs,
                    "cpu_probe": {"start": probe, "end": probe},
                }
            )
        )
        return path

    old = sidecar(
        tmp_path / "old.json",
        {"q_noisy": 1.0, "q_steady": 1.0, "q_cpu": 1.0},
        {"q_noisy": [1.0, 1.5], "q_steady": [1.0, 1.0], "q_cpu": [1.0, 1.0]},
        100.0,
    )
    # NEW ran on a host at 80% of OLD's throughput: every time is
    # rescaled by 0.8 before the ratio is taken
    new = sidecar(
        tmp_path / "new.json",
        {"q_noisy": 1.5, "q_steady": 1.5, "q_cpu": 1.25},
        {"q_noisy": [1.5, 1.5], "q_steady": [1.5, 1.5], "q_cpu": [1.25, 1.25]},
        80.0,
    )
    rc, out = _bench_ab(old, new, "--band", "0.1")
    assert rc == 1
    assert out["cpu_norm_b_over_a"] == 0.8
    # q_noisy: ratio 1.2 sits inside its own 0.5 spread; q_cpu is 1.0
    # once normalised; q_steady at 1.2 clears both band and spread
    assert out["flagged"] == ["q_steady"]
    assert out["improved"] == []
