#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload session_hg --seed 1 --seconds 6 --trace 0

Builds the library and the benchmark main from source with sbt (once per
source state; the stamp and classpath live in .bench_build/), then runs the
main on the JVM directly from the exported classpath, so its stdout carries
bare metric lines. Every file it writes stays under .bench_build/ and
.bench_work/ in the current directory.

Extra flags: --smoke 1 (tiny sizes, for the benchmark's own test),
--corrupt 1 (corrupt the outputs before checking them, which must fail the
check).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("session_hg", "registry_slice")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the library's build and main sources and
    the benchmark's own build and sources."""
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala is missing here")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, cp_file):
        if os.path.exists(f):
            os.remove(f)
    # the build needs only local caches: the Spark jars and scala-library
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the default JIT and the heap limit of the library's own forked runs
    # (build.sbt javaOptions); the heap starts at 3 GB so that its growth
    # does not vary between runs
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    initial = "3g" if heap[-1:] in "gG" and float(heap[:-1]) >= 3 else heap
    cmd = (["java", *ADD_OPENS, f"-Xms{initial}", f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--smoke", str(a.smoke), "--corrupt", str(a.corrupt),
            "--work", work,
            "--results", os.path.join(WORK, "results"),
            "--expected", os.path.join(BENCH, "registry_expected.tsv")])
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark main exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        fail(f"benchmark main exited {proc.returncode} without a result")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
