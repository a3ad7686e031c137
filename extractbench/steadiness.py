#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same code, per-metric spread.

    python3 extractbench/steadiness.py

Each of the SETS sets runs every workload RUNS times, each run with
another seed (set k uses seeds k*1000+1 .. k*1000+RUNS; the workloads
take turns, so a slow spell of the machine hits them alike). For every
end-to-end metric it records, per set, the median and the spread — the
distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median — and
how much worse the second set's median is than the first's, as a share
of the first. A metric is steady when every set's spread stays within
its bound (``setup_s`` excepted) and that drift, ``setup_s`` included,
stays within its bound too. The summary is written to STEADINESS.json
next to this file; the exit code is 0 only when every metric is steady.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402

RUNS = 10
SETS = 2
OUT = os.path.join(HERE, "STEADINESS.json")


def one_run(workload: str, seed: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec.RUN_SECONDS), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    values = {k: v["value"] for k, v in result["metrics"].items()}
    print(f"{workload:15s} seed {seed:5d} {wall:6.1f} s  "
          + "  ".join(f"{k}={v:.4g}" for k, v in values.items()), flush=True)
    return values


def spread(values: list) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    workloads = [n for n, _ in spec.WORKLOADS]
    runs = {w: [[] for _ in range(SETS)] for w in workloads}
    for k in range(SETS):
        for i in range(RUNS):
            for w in workloads:
                runs[w][k].append(one_run(w, k * 1000 + i + 1))

    summary, steady = {}, True
    for w, sets in runs.items():
        summary[w] = {}
        for name, _, better, bound in spec.END_TO_END:
            per_set = [[r[name] for r in set_] for set_ in sets]
            medians = [statistics.median(v) for v in per_set]
            spreads = [spread(v) for v in per_set]
            sign = 1 if better == "lower" else -1
            drift = sign * (medians[1] - medians[0]) / medians[0]
            ok = drift <= bound and (name == "setup_s" or max(spreads) <= bound)
            steady &= ok
            summary[w][name] = {
                "bound": bound, "medians": medians, "spreads": spreads,
                "drift": drift, "steady": ok,
            }
            print(f"{w:15s} {name:16s} spreads "
                  + " ".join(f"{s:.3f}" for s in spreads)
                  + f"  drift {drift:+.3f}  bound {bound}  {'ok' if ok else 'UNSTEADY'}")
    with open(OUT, "w", encoding="utf-8") as fh:
        json.dump({"runs_per_set": RUNS, "run_seconds": spec.RUN_SECONDS,
                   "cpus": len(os.sched_getaffinity(0)), "workloads": summary}, fh, indent=2)
        fh.write("\n")
    return 0 if steady else 1


if __name__ == "__main__":
    raise SystemExit(main())
