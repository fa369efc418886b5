#!/usr/bin/env python3
"""Per-op layer counters of two traced ingestbench run records, side by side.

    python3 scripts/op_layers.py <record A> <record B> [metric,metric,...]

Each record is a traced run saved by ingestbench/run.py under
ingestbench/results/. For every op present in both, prints the op's wall
milliseconds and the chosen per-op layer counters (default: exec.stages,
exec.shuffle_write_bytes, build.jobs, exec.jobs) as A > B. layerdiff.py
gives the workload totals; this names the op that moved.
"""
import json
import sys

DEFAULT = ["exec.stages", "exec.shuffle_write_bytes", "build.jobs", "exec.jobs"]


def ops(path):
    with open(path) as fh:
        r = json.load(fh)
    if r.get("trace") != 1:
        sys.exit(f"{path}: not a traced run")
    return {o["name"]: o for o in r["run"]["ops"]}


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b = ops(sys.argv[1]), ops(sys.argv[2])
    keys = sys.argv[3].split(",") if len(sys.argv) > 3 else DEFAULT
    print(f"{'op':<30} {'ms A':>8} {'ms B':>8}  " + "  ".join(f"{k:>27}" for k in keys))
    for name in sorted(a.keys() & b.keys()):
        x, y = a[name], b[name]
        cells = (f"{x['layers'].get(k, 0):>13.0f} > {y['layers'].get(k, 0):<11.0f}" for k in keys)
        print(f"{name:<30} {x['ms']:>8.0f} {y['ms']:>8.0f}  " + "  ".join(cells))


if __name__ == "__main__":
    main()
