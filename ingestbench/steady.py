#!/usr/bin/env python3
"""Steadiness report: run one workload N times, each with another seed,
with the command and run_seconds of BENCHMARK.json, and print for every
metric its median, quartiles, IQR/median and (max-min)/median.

    python3 ingestbench/steady.py --workload batch-analytics --runs 10
    python3 ingestbench/steady.py --workload stream-ingest --runs 3 --trace both

`--trace both` alternates untraced and traced runs and also prints the
tracing overhead: median traced wall minus median untraced wall_s.
Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import spread  # noqa: E402


def run(bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"seed {seed}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def report(title, results):
    print(title)
    print(f"  {'metric':26s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'iqr/med':>8s} {'range/med':>9s}")
    for name in results[0]["metrics"]:
        s = spread([r["metrics"][name]["value"] for r in results])
        print(f"  {name:26s} {s['median']:14.4f} {s['q1']:14.4f} {s['q3']:14.4f} "
              f"{s['iqr_rel']:8.4f} {s['range_rel']:9.4f}")
    print(f"  correct {sum(r['correct'] for r in results)}/{len(results)}, "
          f"failed per run {[r['failed'] for r in results]}, "
          f"ops per run {[r['attempted'] for r in results]}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", choices=("0", "1", "both"), default="0")
    a = p.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    modes = [0, 1] if a.trace == "both" else [int(a.trace)]
    results = {m: [] for m in modes}
    for i in range(a.runs):
        for m in modes:
            results[m].append(run(bench, a.workload, a.first_seed + i, m))
    for m in modes:
        report(f"{a.workload}, trace {m}, {a.runs} runs", results[m])
    if a.trace == "both":
        plain = statistics.median(r["metrics"]["wall_s"]["value"] for r in results[0])
        traced = statistics.median(r["metrics"]["trace.wall_s"]["value"] for r in results[1])
        print(f"tracing overhead: {traced - plain:+.3f} s wall ({(traced - plain) / plain:+.1%})")


if __name__ == "__main__":
    main()
