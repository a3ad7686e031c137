#!/usr/bin/env python3
"""Extraction benchmark launcher — run from any working directory.

    python3 extractbench/run.py --workload bulk_extract --seed 1 \
        --seconds 10 --trace 0

Sets up the environment the measured process needs and starts it
(``workloads.py``) in a session of its own:

* ``PYTHONPATH`` points at the repo root, so Spark's Python workers can
  import the engine whatever the caller's cwd is;
* Spark runs on ``local[N]`` with N = the CPUs this process may use,
  and the driver heap is stated (``SPARK_GRAFT_DRIVER_MEM``) instead of
  the session's 16g default;
* every scratch directory (Spark local dirs, JVM and Python temp dirs)
  lives under ``.extractbench_work/`` at the repo root.

While it runs, the launcher samples the resident memory of the whole
process tree (the Python driver, the JVM, Spark's Python workers) from
``/proc`` and adds the high-water mark to the traced run's result as
``process.peak_rss_mb``. When the measured process ends, every process left in
its session is stopped and waited for, and the work directory removed
(traces are kept under ``.extractbench_work/traces``).

The last line of stdout is the result JSON; exit code 0 only when the
run completed and its outputs checked correct.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402

DRIVER_MEM = "1g"
CHILD_TIMEOUT_S = 170
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024 * 1024)


def _session_pids(sid: int) -> list:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp session
        fields = stat[stat.rindex(b")") + 2:].split()
        if int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def _tree_rss_mb(sid: int) -> float:
    total = 0
    for pid in _session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * _PAGE_MB


class RssSampler(threading.Thread):
    def __init__(self, sid: int, period_s: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.sid, self.period_s = sid, period_s
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(self.sid))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _stop_session(sid: int, grace_s: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, every process left in the session; return
    once none is left."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, grace_s)):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while _session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[n for n, _ in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "credit_ocr_backend_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".extractbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    for sub in ("spark-local", "tmp", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)

    ncpu = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--traces", os.path.join(work_root, "traces"),
    ]
    child = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    sampler = RssSampler(child.pid)
    sampler.start()
    try:
        out, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"measured process exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        out = ""
    finally:
        sampler.stop()
        _stop_session(child.pid)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if child.returncode != 0 or not lines:
        print(f"measured process failed (exit {child.returncode})", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if args.trace:
        result["metrics"]["process.peak_rss_mb"] = {
            "value": sampler.peak_mb, "unit": spec.UNITS["process.peak_rss_mb"],
        }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
