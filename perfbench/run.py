"""spark-graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``queries-sf0.1``, ``ingest-lake`` (see
``perfbench/README.md``). The run itself happens in a child process
(``workload.py``); this process records the host, runs a CPU-drift
witness before and after, samples the resident memory of the child's
JVM and Python workers from ``/proc``, counts the scheduler's dropped
accumulator updates in the child's log, and prints one JSON line as the
last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` (Spark event log on, engine entry points wrapped) they are
the per-layer ones. Diagnostics go to standard error and to
``perfbench/work/<workload>-s<seed>-t<trace>.json``. Exits non-zero,
printing no result, when the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DEADLINE_S = 145


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _spin(passes: int) -> float:
    import numpy as np

    x = np.arange(200_000, dtype=np.float64) * 1e-6
    t0 = time.perf_counter()
    for _ in range(passes):
        float(np.sqrt(x).sum())
    return 200_000 * passes / (time.perf_counter() - t0) / 1e6


def cpu_witness(procs: int) -> float:
    """Summed throughput (million elements/s) of a fixed numpy kernel in
    ``procs`` processes at once: a host-drift witness. Forked, because
    this process has no threads while it runs."""
    with multiprocessing.get_context("fork").Pool(procs) as pool:
        return round(sum(pool.map(_spin, [150] * procs)), 1)


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every process."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        procs[int(name)] = (int(tail.split()[1]), head.split("(", 1)[1])
    return procs


def tree_rss_mb(root: int) -> float:
    """Resident memory of the JVM under ``root`` and of its Python
    workers. Other descendants are skipped: the JVM's short-lived helper
    processes (``jspawnhelper``, or a fork not yet exec'd) map the whole
    JVM for a moment and would count it twice."""
    procs = _processes()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    stack, total = list(kids.get(root, [])), 0
    while stack:
        pid = stack.pop()
        ppid, comm = procs[pid]
        jvm = comm == "java" and procs.get(ppid, (0, ""))[1] != "java"
        if not (jvm or comm.startswith("python")):
            continue
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class PeakSampler(threading.Thread):
    def __init__(self, pid: int, every_s: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.pid, self.every_s, self.peak = pid, every_s, 0.0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(self.every_s):
            self.peak = max(self.peak, tree_rss_mb(self.pid))


def group_alive(pgid: int) -> bool:
    """Whether any live (non-zombie) process is left in group ``pgid``."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """Wait for what is left of the child's process group (the JVM, its
    Python workers) to exit; TERM, then KILL, whatever does not."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        for _ in range(50):
            if not group_alive(pgid):
                return
            time.sleep(0.1)


def accumulator_errors(lines: list[str]) -> int:
    """Scheduler log lines, from the first timed pass on, that report a task's
    accumulator update as dropped."""
    start = next((i for i, ln in enumerate(lines) if ln.startswith("[perfbench") and ln.endswith("timed-start")), 0)
    return sum("Failed to update accumulator" in ln for ln in lines[start:])


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_frac"):
        return "fraction"
    if "bytes" in name:
        return "B"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark run")
    ap.add_argument("--workload", required=True, help="checked by workload.py")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    started = time.monotonic()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work_root = os.path.join(HERE, "work")
    work = os.path.join(work_root, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    child_log = os.path.join(work, "child.log")
    nproc = os.cpu_count() or 1
    witness_start = cpu_witness(nproc)

    with open(child_log, "w") as out:
        child = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "workload.py"),
                "--workload", a.workload, "--seed", str(a.seed),
                "--trace", str(a.trace), "--seconds", str(a.seconds), "--work", work, "--result", result_path,
            ],
            stdout=out, stderr=out, start_new_session=True,
            # temporary files, and the JVMs' perf-data files, stay out of /tmp
            env={**os.environ, "TMPDIR": work, "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData"},
        )
    sampler = PeakSampler(child.pid)
    sampler.start()
    try:
        rc = child.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        rc = None
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    finally:
        sampler.done.set()
        sampler.join()
    stop_group(child.pid)
    with open(child_log) as fh:
        lines = fh.read().splitlines()
    if rc != 0 or not os.path.exists(result_path):
        log(f"run failed ({'timeout' if rc is None else f'exit {rc}'}); last lines of the run's log:")
        for line in lines[-40:]:
            print(line, file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)
    res["cpu_witness_meps"] = {"procs": nproc, "start": witness_start, "end": cpu_witness(nproc)}
    res["seconds"] = a.seconds

    if a.trace:
        res["layers"]["spark.accum_update_errors"] = accumulator_errors(lines) / res["passes"]
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in res["layers"].items()}
    else:
        metrics = dict(res["e2e"])
        metrics["peak_rss_mb"] = {"value": sampler.peak, "unit": "MB"}
        res["e2e"] = metrics
    with open(os.path.join(work_root, f"{tag}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    log(f"host {json.dumps(res['host'])} cpu_witness {json.dumps(res['cpu_witness_meps'])}")
    log(f"inputs {json.dumps(res['inputs'])}")
    log(f"{res['passes']} timed passes: {json.dumps([round(p, 3) for p in res['pass_s']])}")
    log(f"median seconds per op: {json.dumps({k: round(v, 3) for k, v in res['op_s'].items()})}")
    for f in res["failures"]:
        log(f"failed op {f['op']}: {f['cause']}")
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
