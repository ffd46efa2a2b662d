#!/usr/bin/env python3
"""Benchmark entry point: build the benchmark against the checked-out
library, then run one workload in a fresh JVM.

    python3 perfbench/run.py --workload serve-memory --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds with sbt (offline) and
caches the classpath under the build directory ($CARGO_TARGET_DIR, default
.bench_build); later runs rebuild only when a source or build file changed.
The JVM's stdout is passed through, and the run's JSON result is the last
line. Exit code: the JVM's (0 when every answer was correct), or 2 when
the library sources or the build are missing.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 175
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the library build and the benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath(build_dir):
    """The benchmark's runtime classpath, rebuilt when any source changed."""
    stamp = os.path.join(build_dir, "classpath.txt")
    fp = fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached_fp, cp = f.read().split("\n", 1)
        if cached_fp == fp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.override.build.repos=true",
                                "-Dsbt.server.autostart=false", "-XX:-UsePerfData"]).strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(fp + "\n" + cp + "\n")
    return cp


def commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("library sources (src/main/scala/graft) not found beside the benchmark")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = classpath(build_dir)

    # Spark scratch space and the index directories go in a per-run
    # directory under the build directory, removed when the run ends
    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a fixed-size heap: a growing one makes the first minute of every run
    # slower than the rest, and by a varying amount
    jvm = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--out", build_dir,
              "--commit", commit()])
    try:
        p = subprocess.run(jvm, cwd=run_dir, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    # the result line is the JVM's last JSON line; anything else it printed
    # goes first
    lines = p.stdout.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if result:
        print(result[-1])
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
