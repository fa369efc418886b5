#!/usr/bin/env python3
"""Per-layer diff of two sets of traced runs.

    python3 ingestbench/layerdiff.py <dir-or-file A> <dir-or-file B>

Each side is a run record saved by run.py under ingestbench/results/ (a
directory of them, or single files). For every workload present on both
sides it prints each per-layer metric's median on A and on B and the
relative change, then the layers (the metric prefix: build, plan, exec,
stream, e1/e2, driver) whose metrics moved by more than MOVED (10%).
Traced runs only; untraced records are skipped.
"""
import argparse
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

MOVED = 0.1


def load(side):
    files = sorted(glob.glob(os.path.join(side, "*.json"))) if os.path.isdir(side) else [side]
    runs = defaultdict(list)
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") == 1:
            runs[r["workload"]].append(r["per_layer"])
    return runs


def medians(runs):
    return {k: statistics.median(r[k]["value"] for r in runs) for k in runs[0]}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("a")
    p.add_argument("b")
    a = p.parse_args()
    side_a, side_b = load(a.a), load(a.b)
    common = sorted(set(side_a) & set(side_b))
    if not common:
        sys.exit("no workload has traced runs on both sides")
    for w in common:
        ma, mb = medians(side_a[w]), medians(side_b[w])
        print(f"{w}: {len(side_a[w])} runs A, {len(side_b[w])} runs B")
        print(f"  {'metric':26s} {'median A':>16s} {'median B':>16s} {'change':>8s}")
        moved = defaultdict(list)
        for k in sorted(ma.keys() & mb.keys()):
            rel = (mb[k] - ma[k]) / ma[k] if ma[k] else (0.0 if mb[k] == 0 else float("inf"))
            print(f"  {k:26s} {ma[k]:16.3f} {mb[k]:16.3f} {rel:+8.1%}")
            if abs(rel) > MOVED:
                moved[k.split(".")[0]].append(f"{k} {rel:+.1%}")
        if moved:
            for layer, ks in sorted(moved.items()):
                print(f"  moved: {layer}: {', '.join(ks)}")
        else:
            print(f"  moved: none beyond {MOVED:.0%}")


if __name__ == "__main__":
    main()
