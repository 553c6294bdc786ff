#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 graftbench/run.py --workload ops_fixedcost --seed 1 --seconds 10 --trace 0

builds the program from source when needed (graftbench/build.py), runs the
workload in one JVM, prints every metric by name and unit, and ends with
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
`--trace 1` the metrics are the per-layer ones and a span file is written.
Artifacts go to graftbench/results/ only, under names unique to the run.

`--self-test` runs the benchmark's self-tests (graftbench/tests) instead.

ops_fixedcost reads graftbench/tables/sf0.01, a copy of the seed=42 sf0.01
test tables described in TESTDATA.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["ops_fixedcost", "cqrs_rw"]
RUN_BUDGET_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def git_head():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], env=env,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def jvm_cmd(classes, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    heap = os.environ.get("SPARK_DRIVER_MEM", "4g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return ([build.java(), "-XX:-UsePerfData", "-Xss64m", f"-Xmx{heap}"] + opens +
            ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-cp", cp, main] + args)


def run_jvm(cmd, budget_s):
    """Run the JVM, echoing its stdout; return (exit code, final JSON line)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
    timer = threading.Timer(max(1.0, budget_s), proc.kill)
    timer.start()
    final = None
    try:
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                final = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        rc = proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        timer.cancel()
    if rc != 0 and not timer.is_alive() and final is None:
        print(f"graftbench: JVM stopped after the {RUN_BUDGET_S} s budget or failed", file=sys.stderr)
    return rc, final


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    # turn SIGTERM into an exit, so the JVM is killed and the scratch
    # directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classes = build.build()
    except build.BuildError as e:
        die(f"build failed: {e}")
    started = time.monotonic()

    data = os.path.join(HERE, "tables", "sf0.01")
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        die(f"test tables not found at {data}")

    work = os.path.join(HERE, ".build", "work", f"{os.getpid()}-{int(time.time())}")
    os.makedirs(work)
    try:
        common = ["--data", data, "--work", work,
                  "--digests", os.path.join(HERE, "digests")]
        if a.self_test:
            cmd = jvm_cmd(classes, work, "graftbench.SelfTest", common + ["--root", ROOT])
        else:
            cmd = jvm_cmd(classes, work, "graftbench.Main", common + [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--results", os.path.join(HERE, "results"),
                "--git", git_head(), "--build", os.path.basename(classes)])
        budget = RUN_BUDGET_S - (time.monotonic() - started)
        rc, final = run_jvm(cmd, budget)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        die(f"run failed (exit code {rc})", 1)
    if final:
        print(final)
    elif not a.self_test:
        die("run printed no result", 1)


if __name__ == "__main__":
    main()
