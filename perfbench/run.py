#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload plumb_avro|plumb_csv|board_loops \
      --seed N --seconds S --trace 0|1 [--smoke] [--corrupt]

Builds the program and the harness from source (perfbench/build.py),
generates the stream lanes' inputs from the seed in a separate process
(perfbench.Gen, cached per seed), then runs the harness JVM
(perfbench.Harness). Everything it writes stays under .bench_build/.
The last line is {"correct", "attempted", "failed", "metrics"}; the
line before it stamps the run (cpus, -Xmx, sha, load, steal).
Exit status: 0 when every output checked out, 1 when a check failed,
2 on a usage or build error; no result line is printed unless the
harness produced one.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORK = os.path.join(".bench_build", "perfbench", "work")
# Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 175      # a run must end within 180 s ...
BUILD_RUN_LIMIT_S = 890  # ... or 900 s when it also builds


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def git_sha(tag):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "nogit-src-" + tag


def java(classpath, main, args, deadline, log):
    """Run one JVM to completion within the deadline; return (rc, stdout)."""
    left = deadline - time.monotonic()
    if left <= 5:
        fail("no time left to run " + main)
    cmd = (["java", "-Xmx2g", "-Xss8m",
            "-Djava.io.tmpdir=" + os.path.abspath(os.path.join(WORK, "tmp"))]
           + ADD_OPENS + ["-cp", classpath, main] + args)
    with open(log, "a") as err:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=left)
        except subprocess.TimeoutExpired:
            fail(f"{main} did not finish in time; see {log}")
    return p.returncode, p.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one output before the check (must fail)")
    a = ap.parse_args()
    start = time.monotonic()
    os.chdir(ROOT)
    try:
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    try:
        classpath, tag = build.build()
    except subprocess.CalledProcessError as e:
        fail(f"build failed: {e}")
    limit = RUN_LIMIT_S if time.monotonic() - start < 30 else BUILD_RUN_LIMIT_S
    deadline = start + limit
    for d in ("tmp", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    log = os.path.join(WORK, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    if os.path.exists(log):
        os.remove(log)

    common = ["--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--work", WORK] + \
             (["--smoke"] if a.smoke else [])
    extra = []
    if a.workload.startswith("plumb_"):
        rc, out = java(classpath, "perfbench.Gen", common, deadline, log)
        if rc != 0 or not out.strip():
            fail(f"input generation failed; see {log}")
        extra = ["--input", out.strip().splitlines()[-1]]

    rc, out = java(classpath, "perfbench.Harness",
                   common + ["--trace", str(a.trace), "--sha", git_sha(tag)] + extra +
                   (["--corrupt"] if a.corrupt else []), deadline, log)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        stamp = json.loads(lines[-2])
    except (IndexError, ValueError):
        fail(f"harness printed no result (exit {rc}); see {log}")
    declared = spec["per_layer" if a.trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    print(json.dumps(stamp))
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
