#!/usr/bin/env python3
"""Run one workload several times, each with its own seed, and print each
metric's median, quartiles and spread (interquartile range / median).

    python3 perfbench/steady.py --workload log-surface --runs 10 --first-seed 1

The bounds in BENCHMARK.json were set from this output. Seeds 1-10 are the
tuning seeds; seed 1001 is held out for confirming a claimed gain.
"""
import argparse
import json
import statistics
import subprocess
import sys
import os
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]
    values, shares, walls = {}, [], []
    for i in range(a.runs):
        seed = a.first_seed + i
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}", flush=True)
            continue
        res = json.loads(lines[-1])
        shares.append(res["failed"] / res["attempted"])
        for k, m in res["metrics"].items():
            values.setdefault(k, (m["unit"], []))[1].append(m["value"])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} run={walls[-1]:.1f}s", flush=True)
    print(f"{'metric':28} {'unit':8} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8}")
    for k, (unit, xs) in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:28} {unit:8} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:8.4f}")
    if walls:
        print(f"failed share per run: {sorted(set(shares))}; "
              f"run time median {statistics.median(walls):.1f}s max {max(walls):.1f}s")


if __name__ == "__main__":
    main()
