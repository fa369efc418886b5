#!/usr/bin/env python3
"""Child processes a JVM started, from a JFR recording.

    python3 scripts/jfr_forks.py <recording.jfr> [<recording.jfr> ...]

Reads the `jdk.ProcessStart` events with the JDK's `jfr` tool and prints,
per recording, the total and the counts by command (the program name; a
`sh -c`/`bash -c` script counts as its first word) and by call site: the
innermost stack frame in `graft.` or `org.apache.spark`, or else the
innermost frame outside the JDK (a Hadoop-only stack, or one cut at the
stack depth). Record a benchmark run with, for example,

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/abs/run.jfr \\
      -XX:FlightRecorderOptions=stackdepth=256" python3 ingestbench/run.py ...

(an absolute filename: the run's JVM starts in a directory it deletes).
"""
import json
import os
import subprocess
import sys
from collections import Counter

OWN = ("graft.", "org.apache.spark")


def events(path):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "256",
                          "--events", "jdk.ProcessStart", path],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)["recording"]["events"]


def command(cmd):
    words = cmd.split()
    if not words:
        return "?"
    prog = os.path.basename(words[0])
    if prog in ("sh", "bash") and len(words) > 2 and words[1] == "-c":
        return os.path.basename(words[2])
    return prog


def site(stack):
    frames = [(f["method"]["type"]["name"].replace("/", ".") + "." + f["method"]["name"])
              for f in (stack or {}).get("frames", [])]
    own = next((f for f in frames if f.startswith(OWN)), None)
    if own:
        return own
    other = next((f for f in frames if not f.startswith(("java.", "jdk."))), None)
    return f"{other or '?'} (no graft/spark frame)"


def report(path):
    evs = events(path)
    by_cmd = Counter(command(e["values"]["command"]) for e in evs)
    by_site = Counter(site(e["values"].get("stackTrace")) for e in evs)
    print(f"{path}: {len(evs)} jdk.ProcessStart")
    for title, counts in (("command", by_cmd), ("first graft./org.apache.spark frame", by_site)):
        print(f"  by {title}:")
        for k, n in counts.most_common():
            print(f"    {n:6d}  {k}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for p in sys.argv[1:]:
        report(p)
