#!/usr/bin/env python3
"""Benchmark of record for the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record-digests <verifyOut>  # digests.tsv lines

Builds the engine and the benchmark from source on first use (see
build.py), runs one workload in a fresh JVM on local[<cores>], and prints
one JSON result line last on stdout. Everything it writes goes under
`.bench_build/` in the checkout. Exits nonzero, without a result line, when
the build or the run fails, and nonzero with a result line
(`"correct": false`) when an output differs from its oracle.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of build products
import build  # noqa: E402

WORKLOADS = ("etl_replay", "query_passes")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (same list as the engine's sbt build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload", choices=WORKLOADS)
    mode.add_argument("--record-digests", metavar="VERIFY_OUT")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes, classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    start_ms = int(time.time() * 1000)
    work = os.path.join(build.BUILD_DIR, "work", args.workload or "maintenance")
    tmp = os.path.join(build.BUILD_DIR, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-Xss8m",
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join([classes, classpath]),
        "graft.perfbench.Main",
    ]
    if args.record_digests:
        cmd += ["--record-digests", os.path.abspath(args.record_digests)]
        return subprocess.run(cmd, cwd=build.BUILD_DIR).returncode
    cmd += [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--bench-dir", build.BENCH_DIR,
        "--start-ms", str(start_ms),
    ]
    # The JVM's own output goes to stderr: stdout carries only the result.
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, cwd=build.BUILD_DIR,
                              timeout=RUN_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    result_path = os.path.join(work, "result.json")
    if not os.path.exists(result_path):
        print(f"perfbench: no result (exit {code})", file=sys.stderr)
        return code or 4
    with open(result_path) as f:
        line = f.read().strip()
    json.loads(line)
    print(line, flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
