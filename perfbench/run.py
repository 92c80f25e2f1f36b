#!/usr/bin/env python3
"""Runs one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the benchmark with sbt
(the benchmark's own build in this directory depends on the program's build
one level up); later runs reuse the build until a source file changes.
Each run gets a fresh JVM with a stated heap and its own scratch directory
under this directory's target/, cleared first, so runs share no tables,
warehouse, Spark local dirs or temp files with each other or with the
program's own tests. The last line printed is the result object.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORK = os.path.join(TARGET, "run")
# the star-schema tables query_suite reads (the TPC-H-like seed-42 set at
# scale factor 0.01 the program's correctness oracle runs on)
DATA = os.path.join(HERE, "testdata", "sf0.01")
HEAP = "1536m"
RUN_TIMEOUT_S = 170


def source_hash():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(stamp):
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"], cwd=HERE, env=env,
                         stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if res.returncode != 0 or not os.path.isfile(LAUNCH):
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["etl_full", "query_suite"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(os.path.join(ROOT, "src", "main")):
        sys.exit("perfbench: the program's sources are not next to the benchmark")
    stamp = source_hash()
    build(stamp)

    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], lines[1:]
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = {k: os.path.join(WORK, k) for k in ("tables", "warehouse", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ, SPARK_LOCAL_DIRS=dirs["local"])
    # a fixed, pre-touched heap keeps resident memory from following GC timing
    # answers are checked as text, and dates print in the JVM's time zone
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + dirs["tmp"],
            "-Dgraft.tables.root=" + dirs["tables"], "-Dperfbench.source=" + stamp,
            "-Dperfbench.commit=" + commit()] + jvm_opts +
           ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK, "--data", DATA])
    # the program's scratch paths are relative to the working directory
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        sys.exit("perfbench: run failed (exit %d)" % proc.returncode)
    print("\n".join(lines[-2:]))


if __name__ == "__main__":
    main()
