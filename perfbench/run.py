#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as the last line.

    python3 perfbench/run.py --workload queries_light --seed 1 --seconds 10 --trace 0

Builds the benchmark (and with it the program under test, from the
sources beside it) on first use, then runs one JVM per call in a fresh
directory under perfbench/.runs that holds the JVM's temp directory,
Spark's local and warehouse directories and the pipeline catalogs. The
directory is removed when the run ends. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
RUNS = os.path.join(BENCH, ".runs")
TRACES = os.path.join(BENCH, ".traces")

HEAP = "4g"
YOUNG = "768m"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# What the build reads: a change to any of these rebuilds.
BUILD_INPUTS = [
    (ROOT, ["build.sbt", "project/build.properties", "src/main"]),
    (BENCH, ["build.sbt", "project/build.properties", "src/main"]),
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for base, entries in BUILD_INPUTS:
        for entry in entries:
            path = os.path.join(base, entry)
            if not os.path.exists(path):
                fail(f"missing {os.path.relpath(path, ROOT)}: the benchmark "
                     "must run from a checkout that holds the program's sources")
            files = [path] if os.path.isfile(path) else sorted(
                os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
            for f in files:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt once per source state; returns the classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the build's temporary files stay inside the checkout too
    env = dict(os.environ, TMPDIR=tmp)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", f"-Dsbt.offline=true -Xmx2g -Djava.io.tmpdir={tmp}")
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    if proc.returncode != 0:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"build failed; see {log}")
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if not cp:
        fail(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    data = os.path.join(BENCH, "data", "sf0.1")
    fingerprints = os.path.join(BENCH, "fingerprints.tsv")
    for p in (data, fingerprints):
        if not os.path.exists(p):
            fail(f"missing {os.path.relpath(p, ROOT)}")
    classpath = build()

    run_dir = os.path.join(RUNS, f"{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local", "warehouse", "checkpoints", "catalog"):
        os.makedirs(os.path.join(run_dir, sub))
    trace_out = os.path.join(TRACES, f"{args.workload}-seed{args.seed}.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--run-dir", run_dir, "--fingerprints", fingerprints,
            "--trace-out", trace_out if args.trace else ""]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               TMPDIR=os.path.join(run_dir, "tmp"))
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        cmd += ["--launched-ns", str(time.time_ns())]
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}", 4)
    result = json.loads(lines[-1])
    expected = declared_metrics(args.trace)
    if expected is not None and list(result["metrics"]) != expected:
        fail(f"printed metrics {list(result['metrics'])} differ from "
             f"BENCHMARK.json {expected}", 5)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
