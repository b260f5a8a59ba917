#!/usr/bin/env python3
"""Summarize a JFR recording: process starts, thread starts, hot frames.

Usage:

    python3 tools/jfr-summary.py <file.jfr> [--top N]

Prints three tables read with the JDK's `jfr print --json`:

- process starts (jdk.ProcessStart) grouped by command name and by the
  first stack frame outside the JDK and outside the class that runs the
  command, i.e. the library code that asked for the fork;
- thread starts (jdk.ThreadStart) grouped by thread name with its digits
  folded, so thousands of `Thread-N` stream readers read as one line;
- the top N sampled frames (jdk.ExecutionSample, top of stack).

A recording of a perfbench run comes from the JVM's own flag, for example:

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/ingest.jfr,settings=profile \\
        python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0
"""
import argparse
import collections
import json
import os
import re
import shutil
import subprocess
import sys

JDK_PREFIXES = ("java.", "javax.", "jdk.", "sun.", "com.sun.")


def events(path, name, depth):
    """The `name` events of the recording, each with `depth` stack frames."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", str(depth), "--events", name, path],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(ev):
    """`pkg.Class.method` for each frame of the event's stack, top first."""
    st = ev["values"].get("stackTrace") or {}
    return [f["method"]["type"]["name"].replace("/", ".") + "." + f["method"]["name"]
            for f in st.get("frames", [])]


def caller(ev):
    """The first frame outside the JDK and outside the class that runs the
    command (Hadoop's Shell, say): the code that asked for the process."""
    fs = [f for f in frames(ev) if not f.startswith(JDK_PREFIXES)]
    if not fs:
        return "(jdk only)"
    launcher = fs[0].rsplit(".", 1)[0].split("$")[0]
    return next((f for f in fs if f.rsplit(".", 1)[0].split("$")[0] != launcher), fs[0])


def table(title, counts, top=None):
    total = sum(counts.values())
    print(f"\n{title}: {total}")
    for key, n in counts.most_common(top):
        print(f"{n:>9}  {key}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("jfr")
    ap.add_argument("--top", type=int, default=20, help="sampled frames to list")
    a = ap.parse_args()
    if not os.path.isfile(a.jfr):
        sys.exit(f"no such recording: {a.jfr}")
    if shutil.which("jfr") is None:
        sys.exit("the JDK's `jfr` tool is not on PATH")

    procs = collections.Counter()
    for ev in events(a.jfr, "jdk.ProcessStart", 64):
        cmd = os.path.basename((ev["values"].get("command") or "?").split(" ")[0])
        procs[f"{cmd:<12} {caller(ev)}"] += 1
    table("process starts (command, caller)", procs)

    threads = collections.Counter()
    for ev in events(a.jfr, "jdk.ThreadStart", 1):
        t = ev["values"].get("thread") or {}
        threads[re.sub(r"\d+", "N", t.get("javaName") or t.get("osName") or "?")] += 1
    table("thread starts (name, digits folded)", threads, a.top)

    samples = collections.Counter()
    for ev in events(a.jfr, "jdk.ExecutionSample", 1):
        top = frames(ev)
        samples[top[0] if top else "?"] += 1
    table(f"execution samples (top {a.top} frames)", samples, a.top)


if __name__ == "__main__":
    main()
