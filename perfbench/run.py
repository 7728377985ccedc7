#!/usr/bin/env python3
"""Benchmark of the medallion pipeline and the heavy query suite.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --selftest

It compiles the library (src/main/scala) and the benchmark (perfbench/src)
with the Scala compiler that ships in $SPARK_HOME/jars, generates the
seeded inputs of the workload unless they are already on disk, then runs
the workload on a fresh JVM. The last stdout line is the result object
(`correct`, `attempted`, `failed`, `metrics`); the line before it is the
run's artifact. Everything it writes stays under perfbench/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
DATA = os.path.join(HERE, ".data")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("pipeline_daily", "suite_heavy")
RUN_TIMEOUT_S = 170  # input generation plus the measured run, after the build
KEEP_INPUTS = 40  # generated input sets kept per workload (least recently used go)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found")
    return exe


def sources():
    if not os.path.isdir(LIB_SRC) or not os.path.isdir(BENCH_SRC):
        fail("run from the repository root: src/main/scala and perfbench/src are needed")
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not files:
        fail("no sources to build")
    return files


def build(jars):
    """Compile library + benchmark into perfbench/.build/classes, once per
    source state."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def jvm(classes, jars, args, timeout):
    """Run the benchmark JVM for at most `timeout` seconds; returns its stdout
    lines, or exits on failure."""
    tmp = os.path.join(WORK, "jtmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java()] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx4g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", os.pathsep.join([classes, LIB_RES, os.path.join(jars, "*")]),
        "graft.bench.PerfBench"] + args
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail(f"timed out after {timeout} s: {' '.join(args[:3])}")
    if p.returncode != 0:
        sys.stderr.write(out[-5000:] + err[-20000:])
        fail(f"exit code {p.returncode}: {' '.join(args[:3])}")
    return out.splitlines()


def prune_inputs(data, workload, keep_dir):
    dirs = [d for d in glob.glob(os.path.join(data, workload + "-seed*")) if d != keep_dir]
    dirs.sort(key=lambda d: os.path.getmtime(d))
    for d in dirs[:max(0, len(dirs) - (KEEP_INPUTS - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def input_root():
    """Inputs are cached per generator version: a changed generator never
    reuses data written by an older one."""
    with open(os.path.join(BENCH_SRC, "graft", "bench", "Inputs.scala"), "rb") as fh:
        return os.path.join(DATA, hashlib.sha256(fh.read()).hexdigest()[:12])


def bench(a, classes, jars):
    deadline = time.monotonic() + RUN_TIMEOUT_S
    data = input_root()
    common = ["--workload", a.workload, "--seed", str(a.seed), "--data", data]
    if a.scale != "1":
        common += ["--scale", a.scale]
    tag = "" if a.scale == "1" else "-x" + a.scale
    in_dir = os.path.join(data, f"{a.workload}-seed{a.seed}{tag}")
    if not os.path.exists(os.path.join(in_dir, "meta.json")):
        for old in glob.glob(os.path.join(DATA, "*")):
            if old != data:
                shutil.rmtree(old, ignore_errors=True)
        prune_inputs(data, a.workload, in_dir)
        jvm(classes, jars, ["gen"] + common, deadline - time.monotonic())
    os.utime(in_dir)
    work = os.path.join(WORK, "run")
    args = ["run"] + common + [
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
        "--out", OUT, "--expected", EXPECTED]
    if a.record:
        args += ["--record", "1"]
    if a.plant:
        args += ["--plant", a.plant]
    lines = jvm(classes, jars, args, max(1, deadline - time.monotonic()))
    shutil.rmtree(work, ignore_errors=True)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="1", help="input size factor (toy runs use < 1)")
    ap.add_argument("--record", action="store_true",
                    help="add this seed's input and result fingerprints to perfbench/expected.json")
    ap.add_argument("--plant", default="", help=argparse.SUPPRESS)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    jars = spark_jars()
    classes = build(jars)
    if a.selftest:
        import selftest
        sys.exit(selftest.run(lambda **kw: bench(argparse.Namespace(**{**vars(a), **kw}), classes, jars),
                              lambda args: jvm(classes, jars, args, RUN_TIMEOUT_S)))
    if not a.workload:
        ap.error("--workload is required")
    for line in bench(a, classes, jars):
        print(line)


if __name__ == "__main__":
    main()
