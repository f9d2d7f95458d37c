"""Compare two bench runs per query: the one tool for A/B, diff and
scaling-ratio questions.

Live mode runs an interleaved A/B. A shared host's throughput drifts
between time windows (identical isolated queries measured 0.79 s vs
1.5 s hours apart), so two artifacts recorded in different windows
differ by ±25% per query on noise alone. Live mode therefore runs
bench passes of both revisions strictly alternated (A B A B ...) in
ONE window, so slow drift hits both sides equally, and compares
per-query MEDIANS across passes. Each pass is the side's own
``bench.py`` in a fresh interpreter; ``--queries`` narrows its
``HEADLINE_QUERIES`` to the named ones, so a focused A/B times exactly
the program a full A/B times. The sidecar of every pass goes to a
temp dir, never over the checkout's ``bench_sidecar.json``.

    python tools/bench_ab.py --ref-a <git-ref> [--ref-b <git-ref>]
        [--queries q_x,q_y] [--passes 3] [--sf-dir DIR] [--band 0.1]
        [--out AB.json]

``--ref-b`` defaults to the current working tree (uncommitted code
included). Each ref is checked out into a disposable git worktree
under .benchab/ (gitignored) and removed afterwards. ``--sf-dir``
defaults to bench.py's own default (``$SPARK_GRAFT_SF_DIR``).

Offline mode compares two saved artifacts: a bench.py stdout line, a
bench sidecar, or a wrapper holding the line under ``parsed``.

    python tools/bench_ab.py OLD.json NEW.json [--band 0.1]
        [--data-ratio N] [--out DIFF.json]

When both artifacts carry bench.py's CPU probe, NEW times are rescaled
by the probes' throughput ratio, so host drift between the two runs is
not read as a code effect. ``--data-ratio N`` says NEW ran on N times
the data of OLD: the expected time ratio is then N instead of 1.

Flag rule (both modes): a query's time ratio NEW/OLD deviates when
``|ratio / expected - 1| > max(band, OLD spread, NEW spread)``, where
a side's spread is (max - min) / value over its runs, 0 for an
artifact that holds a single run. A deviating query is FLAGGED when
it is slower than expected and listed as improved when faster. The
tool exits 1 when any query flags.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one bench pass: the side's own bench.py, optionally narrowed to the
# named queries (cwd is the side's checkout, so ``import bench`` and
# the engine package both resolve there)
PASS = """
import sys
import bench
if sys.argv[1:]:
    bench.HEADLINE_QUERIES = sys.argv[1].split(",")
bench.main()
"""

# per query: (value in seconds, spread as a fraction of the value)
Side = dict[str, tuple[float, float]]


def _spread(runs: list[float], value: float) -> float:
    return (max(runs) - min(runs)) / value if len(runs) > 1 else 0.0


def compare(
    a: Side, b: Side, band: float, expected: float = 1.0, norm: float = 1.0
) -> dict:
    """Apply the flag rule to every query both sides timed; ``norm``
    rescales B's times (host-throughput ratio B/A)."""
    per_query: dict[str, dict] = {}
    flagged: list[str] = []
    improved: list[str] = []
    for q in sorted(set(a) & set(b)):
        (va, sa), (vb, sb) = a[q], b[q]
        ratio = vb * norm / va
        per_query[q] = {
            "a": va,
            "b": vb,
            "ratio": round(ratio, 3),
            "a_spread": round(sa, 3),
            "b_spread": round(sb, 3),
        }
        dev = ratio / expected - 1
        if abs(dev) > max(band, sa, sb):
            (flagged if dev > 0 else improved).append(q)
    tot_a = sum(r["a"] for r in per_query.values())
    tot_b = sum(r["b"] for r in per_query.values())
    return {
        "band": band,
        "expected_ratio": expected,
        "n_common": len(per_query),
        "total_a": round(tot_a, 3),
        "total_b": round(tot_b, 3),
        "total_ratio": round(tot_b * norm / tot_a, 4) if tot_a else None,
        "n_flagged": len(flagged),
        "flagged": sorted(flagged, key=lambda q: -per_query[q]["ratio"]),
        "improved": sorted(improved, key=lambda q: per_query[q]["ratio"]),
        "only_a": sorted(set(a) - set(b)),
        "only_b": sorted(set(b) - set(a)),
        "per_query": per_query,
    }


# ---------------------------------------------------------------- offline


def _load(path: str) -> dict:
    with open(path) as fh:
        d = json.load(fh)
    if "queries" not in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    if not d.get("queries"):
        raise SystemExit(f"{path}: no per-query times")
    return d


def _artifact_side(d: dict) -> Side:
    """Per-query (time, spread); a sidecar's ``runs`` give the spread."""
    runs = d.get("runs") or {}
    return {
        q: (float(t), _spread(runs.get(q) or [t], t))
        for q, t in d["queries"].items()
        if isinstance(t, (int, float)) and t > 0
    }


def _probe_t32(d: dict) -> float | None:
    """Mean multi-process throughput of a run's start/end CPU probes,
    or None for an artifact without probes."""
    p = d.get("cpu_probe")
    if not isinstance(p, dict):
        return None
    vals = [
        s["t32_meps"]
        for s in (p.get("start"), p.get("end"))
        if isinstance(s, dict) and isinstance(s.get("t32_meps"), (int, float))
    ]
    return sum(vals) / len(vals) if vals else None


def offline(old_path: str, new_path: str, band: float, data_ratio: float) -> dict:
    old, new = _load(old_path), _load(new_path)
    # query seconds scale ~inversely with deliverable throughput, so a
    # NEW time measured at tp_new is rescaled to the OLD host's speed
    tp_old, tp_new = _probe_t32(old), _probe_t32(new)
    norm = tp_new / tp_old if tp_old and tp_new else 1.0
    out = compare(
        _artifact_side(old), _artifact_side(new), band, data_ratio, norm
    )
    return {"a": old_path, "b": new_path, "cpu_norm_b_over_a": round(norm, 4), **out}


# ------------------------------------------------------------------- live


def _run_pass(
    workdir: str, queries: str | None, sf_dir: str | None, label: str
) -> dict:
    print(f"[bench_ab] {label} dir={workdir}", file=sys.stderr, flush=True)
    with tempfile.TemporaryDirectory(prefix="bench_ab_") as tmp:
        env = dict(os.environ)
        env["SPARK_GRAFT_BENCH_SIDECAR"] = os.path.join(tmp, "sidecar.json")
        if sf_dir:
            env["SPARK_GRAFT_SF_DIR"] = sf_dir
        argv = [sys.executable, "-c", PASS] + ([queries] if queries else [])
        proc = subprocess.run(
            argv, cwd=workdir, env=env, capture_output=True, text=True
        )
    try:
        # bench.py contract: stdout's last line is the one JSON line
        result = json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        sys.stderr.write(proc.stderr[-8000:])
        raise SystemExit(
            f"{label} failed: rc={proc.returncode} (stderr tail above), "
            f"stdout tail: {proc.stdout[-1000:]!r}"
        )
    if not result.get("queries"):
        # an all-failed pass (bad sf-dir, broken ref) would otherwise
        # burn every remaining pass and compare nothing
        raise SystemExit(
            f"{label} returned zero queries (sf_dir={sf_dir}): "
            f"{result.get('failed')}; aborting"
        )
    if result.get("failed"):
        print(f"[bench_ab] {label} failed queries: {result['failed']}", file=sys.stderr)
    return result


def live(args: argparse.Namespace) -> dict:
    # a RELATIVE sf-dir would resolve inside each worktree (where
    # gitignored fixture dirs do not exist) and fail every query:
    # resolve once, against the caller's cwd
    sf_dir = os.path.abspath(args.sf_dir) if args.sf_dir else None
    worktrees: list[str] = []

    def worktree(ref: str, side: str) -> str:
        wd = os.path.join(REPO, ".benchab", f"{side}-{ref.replace('/', '_')}")
        _remove_worktree(wd)
        subprocess.run(
            ["git", "worktree", "add", "--detach", wd, ref],
            cwd=REPO,
            check=True,
            capture_output=True,
        )
        worktrees.append(wd)
        return wd

    runs: dict[str, dict[str, list[float]]] = {"a": {}, "b": {}}
    try:
        dirs = {
            "a": worktree(args.ref_a, "a"),
            "b": worktree(args.ref_b, "b") if args.ref_b else REPO,
        }
        for i in range(args.passes):
            for side, wd in dirs.items():
                r = _run_pass(wd, args.queries, sf_dir, f"pass {i} side={side}")
                for q, t in r["queries"].items():
                    runs[side].setdefault(q, []).append(t)
    finally:
        for wd in worktrees:
            _remove_worktree(wd)
        try:
            os.rmdir(os.path.join(REPO, ".benchab"))
        except OSError:
            pass  # absent, or holds another run's live worktree

    def side(acc: dict[str, list[float]]) -> Side:
        medians = {q: statistics.median(ts) for q, ts in acc.items()}
        return {q: (m, _spread(acc[q], m)) for q, m in medians.items()}

    out = compare(side(runs["a"]), side(runs["b"]), args.band)
    for q, row in out["per_query"].items():
        row["a_runs"], row["b_runs"] = runs["a"][q], runs["b"][q]
    return {
        "protocol": (
            f"interleaved A/B, {args.passes} bench.py passes per side in one "
            "window, per-query median over passes of each pass's min-of-2 "
            "warm runs"
        ),
        "a": args.ref_a,
        "b": args.ref_b or "WORKTREE",
        "sf_dir": sf_dir,
        **out,
    }


def _remove_worktree(wd: str) -> None:
    if os.path.exists(wd):
        subprocess.run(
            ["git", "worktree", "remove", "--force", wd],
            cwd=REPO,
            capture_output=True,
        )
        shutil.rmtree(wd, ignore_errors=True)
    subprocess.run(["git", "worktree", "prune"], cwd=REPO, capture_output=True)


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument(
        "artifacts", nargs="*", metavar="OLD NEW", help="offline: two bench artifacts"
    )
    ap.add_argument("--ref-a", help="live: baseline git ref")
    ap.add_argument("--ref-b", help="live: candidate git ref (default: working tree)")
    ap.add_argument(
        "--queries", help="live: comma-separated queries (default: bench.py's set)"
    )
    ap.add_argument("--passes", type=int, default=3, help="live: passes per side")
    ap.add_argument("--sf-dir", help="live: data directory (default: bench.py's)")
    ap.add_argument(
        "--data-ratio", type=float, default=1.0, help="offline: NEW's data over OLD's"
    )
    ap.add_argument(
        "--band", type=float, default=0.10, help="threshold on |ratio/expected - 1|"
    )
    ap.add_argument("--out", help="write the full per-query report here")
    args = ap.parse_args()
    if bool(args.ref_a) == bool(args.artifacts):
        ap.error("give either --ref-a (live mode) or OLD NEW artifacts (offline mode)")
    if args.artifacts:
        if len(args.artifacts) != 2:
            ap.error("offline mode takes exactly two artifacts")
        out = offline(*args.artifacts, args.band, args.data_ratio)
    else:
        out = live(args)

    for q, r in sorted(out["per_query"].items(), key=lambda kv: -kv[1]["ratio"]):
        mark = (
            "FLAG" if q in out["flagged"]
            else "improved" if q in out["improved"] else ""
        )
        print(
            f"{q:32s} {r['a']:9.3f} {r['b']:9.3f} ratio {r['ratio']:7.3f}  "
            f"spread {r['a_spread']:.3f}/{r['b_spread']:.3f}  {mark}"
        )
    print(json.dumps({k: v for k, v in out.items() if k != "per_query"}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    return 1 if out["flagged"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
