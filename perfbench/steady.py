#!/usr/bin/env python3
"""Steadiness check: runs every workload of BENCHMARK.json in two sets of ten
untraced runs, each run with its own seed, and prints for every end-to-end
metric whether the two sets agree within the metric's bound.

    python3 perfbench/steady.py

A metric agrees when each set's spread (first-to-third quartile distance as
a share of the median, from statistics.quantiles(n=4)) is within the bound,
and the two sets' medians differ, either way, by no more than the bound as a
share of the first set's median. The spread of setup_s is printed but not
held to its bound: set-up is one JVM start and warm-up per run, so its
spread follows the host's load from run to run and no longer run narrows
it; its medians are held to the bound like every other metric's. The share
of failed operations must be the same in both sets. Exit status 0 when
everything agrees, 1 otherwise.
"""
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
RUNS = 10
SEEDS = ([1 + i for i in range(RUNS)], [1001 + i for i in range(RUNS)])


def run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2, q2


def main():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ok = True
    for workload in (w["name"] for w in spec["workloads"]):
        sets = [[run(workload, seed, spec["run_seconds"]) for seed in seeds] for seeds in SEEDS]
        shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in sets]
        same_share = shares[0] == shares[1]
        ok &= same_share and all(r["correct"] for rs in sets for r in rs)
        print(f"{workload}: failed share {shares[0]:.6f} vs {shares[1]:.6f} "
              f"{'same' if same_share else 'DIFFERENT'}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            (sp1, med1), (sp2, med2) = (spread([r["metrics"][name]["value"] for r in rs]) for rs in sets)
            shift = (med2 - med1) / med1
            agree = abs(shift) <= bound and (name == "setup_s" or max(sp1, sp2) <= bound)
            ok &= agree
            print(f"  {name:18s} median {med1:12.4f} {med2:12.4f}  spread {sp1:6.3f} {sp2:6.3f}  "
                  f"shift {shift:+.3f}  bound {bound}  {'agree' if agree else 'DISAGREE'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
