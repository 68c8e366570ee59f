#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload corpus_dedup --seeds 1-10 [--trace 0]

Runs perfbench/run.py once per seed, one run at a time, and prints for
every metric the median, the quartiles and the spread: the distance
between the first and third quartile as a share of the median
(statistics.quantiles(values, n=4)). Also prints each run's wall time.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    values, walls = {}, []
    for seed in seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if out.returncode == 0 and lines else None
        if result is None or not result["correct"] or result["failed"]:
            print(f"seed {seed}: FAILED (exit {out.returncode})\n{out.stdout}")
            continue
        print(f"seed {seed}: {walls[-1]:.1f} s wall, attempted {result['attempted']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:34s} median {statistics.median(vs):.5g}  q1 {q1:.5g}  q3 {q3:.5g}  "
              f"spread {spread:.3f}")


if __name__ == "__main__":
    main()
