#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload {ingest,cold_start} \
        --seed N --seconds S --trace {0,1}

The first run in a checkout builds the program and the benchmark with sbt
(offline) and caches the classpath in the build-output dir ($CARGO_TARGET_DIR
when set, else `.bench_build`), keyed on a digest of every source and build
file. Each run
then gets its own data root under `.bench_run/`: java.io.tmpdir (the
program's signature stores), SPARK_LOCAL_DIRS, sink and checkpoint dirs. The
root is deleted when the run ends. Traced runs also write their spans to
`.bench_out/trace-<workload>-<seed>.jsonl`.

The last line of stdout is the result object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics untraced, per-layer traced).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "cold_start")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "fingerprints.txt")
# Fixed heap and young generation: peak RSS then depends on the work, not on
# how G1 happened to size its generations in a given run.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: both build definitions and all sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(build_dir, dig):
    """Compile with sbt once per source digest; returns the runtime classpath."""
    os.makedirs(build_dir, exist_ok=True)
    cp_file = os.path.join(build_dir, "classpath.txt")
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as fh:
                stamp, cp = fh.read().split("\n", 1)
            if stamp == dig:
                return cp.strip()
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
        log = os.path.join(build_dir, "build.log")
        with open(log, "w") as out:
            rc, _ = run_child(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                BUILD_TIMEOUT_S, "build", cwd=HERE, env=env, stdout=out,
                stderr=subprocess.STDOUT)
        with open(log) as fh:
            lines = fh.read().splitlines()
        if rc != 0:
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
            die(f"build failed (sbt exit {rc}); log: {log}")
        cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
        if not cps:
            die(f"build printed no classpath; log: {log}")
        with open(cp_file, "w") as fh:
            fh.write(dig + "\n" + cps[-1].strip())
        return cps[-1].strip()


def run_child(cmd, timeout, what, **kw):
    """Runs cmd in its own process group and always reaps it: on timeout, on
    SIGTERM/SIGINT to this script, or on any error the whole group is killed."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)

    def kill():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def on_term(*_):
        raise KeyboardInterrupt

    old = signal.signal(signal.SIGTERM, on_term)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        p.communicate()
        die(f"{what} exceeded {timeout:.0f} s", 1)
    except BaseException:
        kill()
        p.communicate()
        raise
    finally:
        signal.signal(signal.SIGTERM, old)
    return p.returncode, out


def run_jvm(cp, jvm_args, data_root):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(data_root, "local"))
    env.pop("SPARK_HOME", None)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           JVM_MEMORY + ["-Djava.io.tmpdir=" + os.path.join(data_root, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main"] + jvm_args)
    return run_child(cmd, RUN_TIMEOUT_S, "run", cwd=data_root, env=env,
                     stdout=subprocess.PIPE, text=True)


def expected_metric_names(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        b = json.load(fh)
    return {m["name"] for m in b["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write fingerprints of every listed "
                    "query to this file instead of benchmarking")
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
                 SF_DIR, EXPECTED):
        if not os.path.exists(need):
            die(f"missing {os.path.relpath(need, ROOT)}: run from a full checkout")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    dig = digest()
    cp = build(build_dir, dig)

    runs = os.path.join(ROOT, ".bench_run")
    data_root = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(data_root, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(data_root, d))
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data-root", data_root, "--sf", SF_DIR, "--expected", EXPECTED,
                "--digest", dig]
    if a.trace:
        jvm_args += ["--trace-file", os.path.join(
            ROOT, ".bench_out", f"trace-{a.workload}-{a.seed}.jsonl")]
    if a.record:
        jvm_args += ["--record", os.path.abspath(a.record)]
    try:
        rc, out = run_jvm(cp, jvm_args, data_root)
    finally:
        shutil.rmtree(data_root, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    lines = [l for l in out.splitlines() if l.strip()]
    if a.record:
        sys.exit(rc)
    if rc != 0 or not lines:
        sys.stderr.write(out)
        die(f"benchmark JVM exited with {rc}", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die("malformed result line", 1)
    names = expected_metric_names(a.trace)
    if names is not None and set(result["metrics"]) != names:
        die(f"metric names differ from BENCHMARK.json: "
            f"{sorted(set(result['metrics']) ^ names)}", 1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
