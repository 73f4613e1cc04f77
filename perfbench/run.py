#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark from source with sbt (once per source
change; the classpath is cached under perfbench/target), then runs one
workload in a single JVM on local[k], k = min(4, cores). Human-readable
figures go to stdout prefixed with "[perfbench]"; the last stdout line is
one JSON object with the keys correct, attempted, failed and metrics.
Exits non-zero, printing no result, when the build, the run or its
result line fails.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCHER = os.path.join(TARGET, "launcher.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("migrate", "curate")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
# a fixed heap (-Xms = -Xmx) keeps peak RSS from following GC timing
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine and benchmark unless the sources are unchanged
    since the last build; returns the JVM options and classpath, and
    whether it built."""
    want = stamp()
    built = False
    have = open(STAMP).read().strip() if os.path.exists(STAMP) else ""
    if want != have or not os.path.exists(LAUNCHER):
        env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
        try:
            # sbt's own output goes to stderr: stdout carries only results
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "writeLauncher"], cwd=HERE, env=env,
                               stdin=subprocess.DEVNULL, stdout=sys.stderr,
                               timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        if r.returncode != 0:
            fail(f"build failed with code {r.returncode}")
        with open(STAMP, "w") as fh:
            fh.write(want + "\n")
        built = True
    with open(LAUNCHER) as fh:
        return [line for line in fh.read().splitlines() if line], built


def java(jvm_args, args, limit_s):
    """Runs the benchmark JVM; returns (exit code, stdout lines)."""
    work = os.path.join(HERE, "work")
    os.makedirs(work, exist_ok=True)
    # the JVM's own temporary files (native libraries unpacked by
    # compression codecs) stay inside the checkout, and go with the run
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=work)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", *jvm_args, "perfbench.Main", *args]
    # Spark prefers SPARK_LOCAL_DIRS over the session's spark.local.dir;
    # dropping it keeps shuffle files in the run's own directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        # a killed JVM cannot remove its own scratch directory, which is
        # named after its pid
        for d in glob.glob(os.path.join(work, f"*-{p.pid}")):
            shutil.rmtree(d, ignore_errors=True)
        fail(f"run exceeded {limit_s:.0f} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return p.returncode, out.splitlines()


def result_line(line):
    """The parsed result object, or None if the line is not one."""
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found: {need} missing under {ROOT}")

    t0 = time.monotonic()
    jvm_args, built = build()
    if a.self_test:
        code, lines = java(jvm_args, ["selftest"], BUILD_LIMIT_S)
        print("\n".join(lines))
        sys.exit(code)
    # a run that built may take the build's time on top of the per-run
    # limit; any other run keeps its whole time under that limit
    limit = RUN_LIMIT_S if built else RUN_LIMIT_S - (time.monotonic() - t0)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    code, lines = java(jvm_args, args, limit)
    result = result_line(lines[-1]) if lines else None
    print("\n".join(lines[:-1] if result else lines))
    if code != 0 or result is None:
        fail(f"run failed (exit code {code})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
