#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly and summarise each metric.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--sets 1]
                                [--first-seed 1]

Runs `perfbench/run.py` for BENCHMARK.json's run_seconds, one run at a
time: per workload, --sets sets of --runs runs, each run with its own seed
(first-seed, first-seed+1, ...). For every set it prints per end-to-end
metric the median, the first and third quartiles (statistics.quantiles,
n=4), the quartile spread as a share of the median, and the metric's bound
with whether the spread is within a third of it, plus the failed share of
operations and the load average at the start and end of the set. With two
or more sets it also prints, per metric, how much worse each later set's
median is than the first set's, as a share of it, against the bound. The
bounds in BENCHMARK.json are derived from this output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def load():
    try:
        return " ".join(f"{x:.2f}" for x in os.getloadavg())
    except OSError:
        return "n/a"


def run_set(bench, workload, seeds):
    """Runs one set; returns per-metric values and prints its table."""
    metrics = bench["end_to_end"]
    start_load = load()
    values = {m["name"]: [] for m in metrics}
    shares, walls = [], []
    for seed in seeds:
        t = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        walls.append(time.time() - t)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{workload} seed {seed}: exit {proc.returncode}, no result")
            continue
        r = json.loads(lines[-1])
        if not r["correct"]:
            print(f"{workload} seed {seed}: outputs incorrect")
        shares.append(r["failed"] / r["attempted"])
        for k in values:
            values[k].append(r["metrics"][k]["value"])
    print(f"\n{workload} seeds {seeds[0]}..{seeds[-1]}: {len(shares)} runs, "
          f"load {start_load} -> {load()}, run time median "
          f"{statistics.median(walls):.1f} s, failed shares "
          f"{sorted(set(shares))}")
    print(f"  {'metric':16} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for m in metrics:
        v = values[m["name"]]
        if len(v) < 2:
            continue
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q3 - q1) / med
        flag = "ok" if spread <= m["bound"] / 3 else "WIDE"
        print(f"  {m['name']:16} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{spread:7.3f} {m['bound']:6} {flag}")
    return values


def main():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    for w in a.workloads.split(","):
        sets = []
        for k in range(a.sets):
            first = a.first_seed + k * a.runs
            sets.append(run_set(bench, w, list(range(first, first + a.runs))))
        for k in range(1, len(sets)):
            print(f"  set {k + 1} against set 1 (worse by, as a share of "
                  f"set 1's median):")
            for m in bench["end_to_end"]:
                a1, b1 = sets[0][m["name"]], sets[k][m["name"]]
                if not a1 or not b1:
                    continue
                m1, m2 = statistics.median(a1), statistics.median(b1)
                worse = (m2 - m1) / m1 if m["better"] == "lower" \
                    else (m1 - m2) / m1
                flag = "ok" if worse <= m["bound"] else "WORSE"
                print(f"  {m['name']:16} {m1:12.4f} {m2:12.4f} {worse:7.3f} "
                      f"{m['bound']:6} {flag}")


if __name__ == "__main__":
    main()
