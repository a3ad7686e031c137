#!/usr/bin/env python
"""Per-document core probes — the round-6 optimization sessions'
measurement instrument for Python-core changes — and a per-task Spark
floor probe.

Three modes:

* single (default): one process warms the operator caches on docs
  [0, warm), then times three DISTINCT unseen 5k-doc ranges (mirrors
  pipeline steady state: every doc unseen, cache vocabulary warm).
  Stable to ~±3% on this host where Spark-leg walls swing ±20-100%.
* wide: N worker processes (multiprocessing, no Spark), each warming
  then timing its own unseen range — the Spark executor's compute
  environment minus Spark. ``--freeze`` additionally applies the fused
  stage's one-shot gc.freeze, matching the worker heap state exactly.
* tasks: the fixed per-task cost of a Python task on ``local[nproc]``.
  A trivial ``mapInPandas`` over nproc partitions runs several times,
  first bare, then calling the engine stages' per-task archive pin
  (``operators.stages._pin_spark_archives``). Per run it reports the
  stage's ``executorRunTime`` minus the UDF's own wall, per task, and
  prints the median of each variant. A Python or Spark upgrade that
  brings back the per-task zip re-read shows up in the pinned number.

Usage:
    python BENCH/core_probe.py                 # single-process
    python BENCH/core_probe.py --wide 32       # 32-process probe
    python BENCH/core_probe.py --wide 32 --freeze
    python BENCH/core_probe.py --tasks         # per-task Spark floor
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_TIME = 4000
TASK_RUNS = 6  # per variant; the first of each is a warm-up


def _process_range(lo: int, n: int, freeze_after_warm: bool = False) -> float:
    from credit_ocr_backend_spark.core.config import default_config
    from credit_ocr_backend_spark.core.document import process_document
    from credit_ocr_backend_spark.operators.stages import _extracted_row
    from credit_ocr_backend_spark.sources.pages import build_page

    cfg = default_config()

    def run(start: int, count: int) -> None:
        for k in range(start, start + count):
            p = build_page(k)
            r = process_document(p["url"], p["html"], cfg)
            _extracted_row(p["url"], 0, r["status"], r["error"],
                           r["extracted_text"], r["extraction"], 0.0)

    run(0, 2000)  # warm the operator caches
    if freeze_after_warm:
        from credit_ocr_backend_spark.operators.stages import _freeze_worker_heap
        _freeze_worker_heap()
    pages = [build_page(k) for k in range(lo, lo + n)]
    t0 = time.perf_counter()
    for p in pages:
        r = process_document(p["url"], p["html"], cfg)
        _extracted_row(p["url"], 0, r["status"], r["error"],
                       r["extracted_text"], r["extraction"], 0.0)
    return (time.perf_counter() - t0) * 1000 / n


def _wide_worker(args) -> float:
    proc_id, freeze = args
    return _process_range(10_000 + proc_id * N_TIME, N_TIME, freeze)


def _task_udf(pin: bool):
    def udf(batches):
        import pandas as pd

        t0 = time.perf_counter()
        if pin:
            from credit_ocr_backend_spark.operators.stages import (
                _pin_spark_archives,
            )
            _pin_spark_archives()
        for _ in batches:
            pass
        yield pd.DataFrame({"udf_ms": [(time.perf_counter() - t0) * 1000.0]})

    return udf


def _task_probe() -> None:
    """Median per-task ms outside the UDF body, bare and pinned."""
    from statistics import median

    # Spark's Python workers inherit the environment: they import the
    # engine from the repo root whatever the caller's cwd is.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from credit_ocr_backend_spark.plans.session import get_spark

    n = len(os.sched_getaffinity(0))
    spark = get_spark("core-probe-tasks", parallelism=n,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    try:
        for pin in (False, True):
            per_task = []
            for run in range(TASK_RUNS):
                group = f"tasks-{pin}-{run}"
                sc.setJobGroup(group, "core_probe --tasks")
                rows = (
                    spark.range(0, n * 1000, numPartitions=n)
                    .mapInPandas(_task_udf(pin), "udf_ms double")
                    .collect()
                )
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                run_ms = tasks = 0
                for job in sc.statusTracker().getJobIdsForGroup(group):
                    for stage in sc.statusTracker().getJobInfo(job).stageIds:
                        data = store.lastStageAttempt(stage)
                        run_ms += data.executorRunTime()
                        tasks += data.numCompleteTasks()
                if run:  # the first run starts the workers
                    udf_ms = sum(r["udf_ms"] for r in rows)
                    per_task.append((run_ms - udf_ms) / tasks)
            print(f"{'pinned' if pin else 'bare'}: median "
                  f"{median(per_task):.0f} ms/task outside the UDF body on "
                  f"local[{n}] ({' '.join(f'{v:.0f}' for v in per_task)})")
    finally:
        spark.stop()


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--wide", type=int, default=0,
                        help="process count for the multiprocessing probe")
    parser.add_argument("--freeze", action="store_true",
                        help="apply the stage's one-shot gc.freeze after warm")
    parser.add_argument("--tasks", action="store_true",
                        help="per-task Spark floor of a trivial mapInPandas")
    args = parser.parse_args()

    if args.tasks:
        _task_probe()
    elif args.wide:
        from multiprocessing import Pool

        with Pool(args.wide) as pool:
            res = pool.map(_wide_worker,
                           [(i, args.freeze) for i in range(args.wide)])
        mean = sum(res) / len(res)
        print(f"{args.wide}-proc per-proc mean {mean:.3f} ms/doc "
              f"(min {min(res):.3f} max {max(res):.3f})")
    else:
        vals = [_process_range(lo, 5000) for lo in (3000, 8000, 13000)]
        print(" ".join(f"{v:.3f}" for v in vals), "ms/doc over 3 unseen ranges")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
