"""kgforge benchmark entry point.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 20 --trace 0

Run from the repository root. Starts one worker process
(perfbench/worker.py) that calls kgforge's public API in a closed loop,
samples the resident memory of that worker's whole process tree (the
Spark JVM and its Python workers) from outside, stops every process the
worker left behind, and prints two lines: a detail record (timings with
percentiles and sample counts, settings, load average, op_failure_ratio,
check failures) and, last, the result line
{"correct", "attempted", "failed", "metrics"}.

Exits non-zero without a result line when the worker fails or the
repository is incomplete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import proc  # perfbench/proc.py, next to this script

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
# Sized for a 4-core / 16 GB box shared with other jobs. The inputs are
# a few MB; with a 2g heap the whole process tree peaks near 2.7 GB.
# Measured on that box, a 4g heap was not faster (600-page base build
# 30 s vs 22 s, incremental merges 39-49 s vs 27-40 s). Spill goes to
# the checkout's disk, not to RAM-backed /dev/shm.
HEAP = "2g"
TIMEOUT_S = 170  # plus at most 2 x 4 s to stop what is left: under 180 s
SAMPLE_S = 0.2


class Sampler(threading.Thread):
    """Peak summed RSS of the worker's process tree; remembers every
    process seen so stragglers can be stopped after the worker exits."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self.seen: dict[int, int] = {}
        self.done = threading.Event()

    def run(self):
        while not self.done.is_set():
            pids = proc.tree(self.pid)
            for p, st in pids.items():
                self.seen.setdefault(p, st[1])
            self.peak = max(self.peak, sum(proc.rss_bytes(p) for p in pids))
            self.done.wait(SAMPLE_S)


def _stop_all(seen: dict[int, int]) -> None:
    """SIGTERM, then SIGKILL, every remembered process still alive (same
    pid and start time), and wait until each is gone."""
    def alive():
        return [p for p, t in seen.items() if (proc.stat(p) or (0, None))[1] == t]

    for sig, grace in ((signal.SIGTERM, 4.0), (signal.SIGKILL, 4.0)):
        for p in alive():
            try:
                os.kill(p, sig)
            except OSError:
                pass
        t_end = time.monotonic() + grace
        while alive() and time.monotonic() < t_end:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "kgforge")):
        print("perfbench: kgforge/ not found next to perfbench/", file=sys.stderr)
        return 2

    tag = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(WORK, tag)
    result = work + ".json"
    tmp = os.path.join(WORK, "tmp", tag)
    local = os.path.join(WORK, "spark-local", tag)
    for d in (work, tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("KGF_DRIVER_MEM", HEAP)
    env.update(
        KGF_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        # Spark's Python workers import kgforge whatever their cwd
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker", "--workload", a.workload,
        "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--result", result,
    ]
    # the worker's stdout is diagnostics: keep this process's stdout for
    # the result lines only
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    sampler = Sampler(child.pid)
    sampler.start()
    try:
        code = child.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.done.set()
        sampler.join()
        _stop_all(sampler.seen)
    try:
        with open(result) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = None
    for d in (work, tmp, local):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(result):
        os.remove(result)
    if code != 0 or res is None:
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1

    detail = res.pop("detail")
    detail["peak_rss_mb"] = sampler.peak / 1e6
    print(json.dumps({"detail": detail}, default=float))
    print(json.dumps(res, default=float))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
