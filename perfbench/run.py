#!/usr/bin/env python3
"""Benchmark runner.

    python3 perfbench/run.py --workload pipe|board|tables --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the library and the benchmark with
sbt on first use (outputs under .bench_build/), then runs one workload in
a fresh JVM. The JVM prints a report line and, last, the result line
{"correct", "attempted", "failed", "metrics"}; this script passes both
through and exits non-zero, without a result line, if anything fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIBRARY = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_sha1():
    """Digest of every source file the benchmark builds from."""
    h = hashlib.sha1()
    for top in (os.path.dirname(LIBRARY), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def commit_id():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def build(out, sha):
    """Compiles with sbt unless the build for these sources exists."""
    stamp = os.path.join(out, "build.sha1")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == sha:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-Dsbt.offline=true", f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
         "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(sha)
    with open(cp_file) as fh:
        return fh.read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["pipe", "board", "tables"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIBRARY, "graft")):
        fail(f"library sources not found under {os.path.relpath(LIBRARY, os.getcwd())}")
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    sha = source_sha1()
    classpath = build(out, sha)

    work = os.path.join(out, "work")
    tmp = os.path.join(out, "tmp")
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--commit", commit_id(), "--source-sha", sha])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(os.path.join(work, f"{a.workload}-{a.seed}"), ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(stdout)
        fail(f"run failed (exit {proc.returncode})")
    print("\n".join(lines[-2:]))


if __name__ == "__main__":
    main()
