#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one
workload in a fresh JVM and prints its result as the last stdout line.

Run from the repository root:

    python3 perfbench/run.py --workload kg_flagship --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the program's sources together
with the benchmark driver (sbt, project in perfbench/); later runs reuse
the build while no source file changed. Everything the run writes goes
under .perfbench/ at the repository root.
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
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(BENCH, "data", "sf0.1_documents.parquet")
PROGRAM_SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
                   os.path.join(ROOT, "src", "main", "resources")]
BUILD_INPUTS = PROGRAM_SOURCES + [os.path.join(BENCH, "src"),
                                  os.path.join(BENCH, "build.sbt"),
                                  os.path.join(BENCH, "project", "build.properties")]
# whole-command limits: a run that had to build first gets the longer one
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 890
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(limit_s):
    """Compiles once per source state; returns (runtime classpath, built)."""
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read(), False
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=limit_s, stdin=subprocess.DEVNULL)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()

    missing = [p for p in PROGRAM_SOURCES + [DATA] if not os.path.exists(p)]
    if missing:
        fail(f"missing {', '.join(os.path.relpath(p, ROOT) for p in missing)}; "
             "run from the root of a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    os.makedirs(WORK, exist_ok=True)
    # one build / input generation at a time per checkout
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp, built = build(BUILD_RUN_LIMIT_S - 120)
        fcntl.flock(lock, fcntl.LOCK_UN)
    limit = BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn768m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", WORK, "--data", DATA]
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log = os.path.join(WORK, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    result = None
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10, limit - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(tmp, ignore_errors=True)
            fail(f"run exceeded {limit} s; see {log}")
    shutil.rmtree(tmp, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("perfbench:"):
            print(line)
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if proc.returncode != 0 or result is None:
        fail(f"JVM exited {proc.returncode} without a result; see {log}")
    want = declared_metrics(a.trace == 1)
    got = set(result["metrics"])
    if got != want:
        fail(f"metrics {sorted(got ^ want)} do not match BENCHMARK.json")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
