#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 ingestbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1> [--cores 4 --xmx 3g --shuffle-partitions 4]

Run from the repository root. The first run builds the program and the
harness with sbt (`ingestbench/build.sbt`); later runs reuse the build
until a source file changes. Each run:

1. generates the input tables (gen.py; fixed content per scale, made once
   per checkout) and, for stream-ingest, stages the E1 envelopes made from
   the seed; the staging time counts in `setup_s`;
2. starts one JVM (Main.scala) that resets the program's scratch, starts
   a `local[k]` session, warms up, and runs the seed-permuted op list
   once. `--seconds` is accepted and ignored: a run always does the same
   fixed work, however fast the program runs it;
3. checks the outputs, untimed (check.py): the DuckDB oracle, or the
   generated distinct records for the E1 pass;
4. prints a table and, as the last line, the result JSON with the metrics
   BENCHMARK.json declares (end-to-end, or per-layer under `--trace 1`).

`failed` counts ops that threw or failed the output check; `correct` is false when any op that did not throw produced output
that does not match its reference. The full run record, with per-op
spans under `--trace 1`, is kept under ingestbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import MIN_TAIL, metric, percentile  # noqa: E402

SCALE = {"batch-analytics": 0.1, "llm-curation": 0.01, "stream-ingest": 0.01}
DEADLINE_S = 165


def fail(msg):
    print(f"ingestbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    ) + f" -Djava.io.tmpdir={tmp}"
    return env


def source_stamp():
    """A digest of every input of the build, to decide when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """(module options, classpath) of the built harness."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp()
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                           cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
        if r.returncode != 0 or not os.path.exists(launch):
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    opts, cp = open(launch).read().split("\n")[:2]
    return opts.split(), cp


def tables(sf):
    """The input tables at a scale, generated once per checkout and kept
    read-only: their content depends only on gen.py and the scale."""
    d = os.path.join(HERE, ".data", f"sf{sf}")
    with open(gen.__file__, "rb") as fh:
        stamp = hashlib.sha256(fh.read() + str(sf).encode()).hexdigest()
    if not os.path.exists(d + ".stamp") or open(d + ".stamp").read() != stamp:
        shutil.rmtree(d, ignore_errors=True)
        gen.write(d, sf)
        for f in os.listdir(d):
            os.chmod(os.path.join(d, f), 0o444)
        with open(d + ".stamp", "w") as fh:
            fh.write(stamp)
    return d


def harness(a, launcher, run_dir, data, e1_input, deadline):
    """Runs the harness JVM once; returns its run record."""
    opts, cp = launcher
    out = os.path.join(run_dir, "run.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{a.xmx}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_dir}"] + opts +
           ["-cp", cp, "ingestbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--trace", str(a.trace), "--cores", str(a.cores),
            "--shuffle-partitions", str(a.shuffle_partitions),
            "--data", data, "--e1-input", e1_input, "--run-dir", run_dir,
            "--out", out])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("run exceeded its deadline")
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        fail(f"harness JVM exited with {rc}")
    with open(out) as fh:
        rec = json.load(fh)
    os.remove(out)
    return rec


def summarize(a, rec, statuses, e1_rows_in):
    """(end-to-end values, per-layer values, extra figures, failed count)."""
    ops = rec["ops"]
    failed = sum(1 for o in ops if statuses[o["name"]] != "ok")
    e2e = {"setup_s": rec["setup_s"] + rec["setup_parts"]["stage_e1_s"],
           "wall_s": rec["wall_s"], "cpu_s": rec["cpu_s"],
           "heap_retained_mb": rec["heap_retained_mb"]}
    lat = [o["ms"] for o in ops]
    extra = {"ops": len(ops),
             "latency_p50_ms": percentile(lat, 50), "latency_p90_ms": percentile(lat, 90),
             "error_rate": failed / len(ops)}
    e1 = [o for o in ops if o["name"] == "e1_e2_pass" and o["error"] is None]
    if e1:
        extra["ingest_rows_per_s"] = e1_rows_in / (e1[0]["ms"] / 1e3)
    layers = {}
    if a.trace:
        per = [o["layers"] for o in ops]
        layers = {k: sum(p[k] for p in per) for k in per[0]}
        build_ms = sum(o["children"][0]["ms"] for o in ops)
        action_ms = sum(o["children"][1]["ms"] for o in ops)
        layers.update({
            "build.ms": build_ms, "action.ms": action_ms,
            "build.share": build_ms / (build_ms + action_ms),
            "exec.slot_busy_share": layers["exec.task_run_ms"] / (a.cores * (build_ms + action_ms)),
            "driver.heap_after_op_mb": max(p["driver.heap_after_op_mb"] for p in per),
            "e1.rows_in": e1_rows_in if e1 else 0,
            "trace.wall_s": e2e["wall_s"]})
    return e2e, layers, extra, failed


def declared(values, metrics):
    """The declared metrics, each with its declared unit."""
    missing = [m["name"] for m in metrics if m["name"] not in values]
    if missing:
        fail(f"no value for declared metrics {missing}")
    return {m["name"]: metric(m["name"], values[m["name"]], m["unit"]) for m in metrics}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SCALE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="accepted and ignored: a run is the fixed op list, once")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--xmx", default="3g")
    p.add_argument("--shuffle-partitions", type=int, default=4)
    a = p.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources under {ROOT}")
    import check  # the output check uses the program's oracle canonicalization
    launcher = build()
    deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        data = tables(SCALE[a.workload])
        e1_input = os.path.join(run_dir, "e1")
        t = [time.time()]
        e1_rows_in, distinct = (gen.envelopes(e1_input, a.seed)
                                if a.workload == "stream-ingest" else (0, None))
        t.append(time.time())
        rec = harness(a, launcher, run_dir, data, e1_input, deadline)
        rec["setup_parts"]["stage_e1_s"] = t[1] - t[0]
        t.append(time.time())
        statuses = check.check(run_dir, data, rec, distinct)
        t.append(time.time())
        rec["runner_s"] = {k: t[i + 1] - t[i] for i, k in enumerate(("stage_e1", "jvm", "check"))}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        check.clear_program_scratch()
    e2e, layers, extra, failed = summarize(a, rec, statuses, e1_rows_in)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = declared(e2e, bench["end_to_end"])
    layers = declared(layers, bench["per_layer"]) if a.trace else {}
    print(f"workload {a.workload}  seed {a.seed}  ops {extra['ops']}")
    for k, m in e2e.items():
        print(f"  {k:22s} {m['value']:14.4f} {m['unit']}")
    for k in ("latency_p50_ms", "latency_p90_ms", "error_rate", "ingest_rows_per_s"):
        if k in extra:
            v = extra[k]
            print(f"  {k:22s} " + (f"{v:14.4f}" if v is not None else
                                   f"{'n/a':>14s} (< {MIN_TAIL} ops above it)"))
    for n, s in sorted(statuses.items()):
        if s != "ok":
            print(f"  check {n}: {s}")
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(HERE, "results",
                           f"{a.workload}-trace{a.trace}-seed{a.seed}-{stamp}.json"), "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "end_to_end": e2e, "extra": extra, "per_layer": layers,
                   "checks": statuses, "run": rec}, fh)
    correct = all(s in ("ok", "threw") for s in statuses.values())
    print(json.dumps({"correct": correct, "attempted": extra["ops"], "failed": failed,
                      "metrics": layers if a.trace else e2e}))


if __name__ == "__main__":
    main()
