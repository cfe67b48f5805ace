#!/usr/bin/env python3
"""Build the library and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Class files, generated inputs and Spark's
scratch space all live under `.bench_build/` (or $CARGO_TARGET_DIR when set)
inside the checkout. The JVM prints a `detail` JSON line and then the result
line, which is the last line on stdout.
"""

import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("medallion_etl", "corpus_curation", "gate_suite")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The Spark jar directory the library builds against (build.sbt's
    unmanagedBase), or $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    candidates = []
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(f.startswith("spark-core") for f in os.listdir(c)):
            return c
    fail("no Spark jars found (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_if_stale(name, srcs, classpath, jars, stamp_extra=""):
    """Compile `srcs` into <build>/<name> unless its stamp matches."""
    out = os.path.join(build_dir(), name)
    stamp = digest(srcs, stamp_extra)
    stamp_file = out + ".stamp"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    r = subprocess.run(cmd + srcs, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compiling %s failed" % name, 3)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out, stamp


def build():
    if not os.path.isdir(LIB_SRC) or not sources(LIB_SRC):
        fail("library sources not found under src/main/scala")
    jars = spark_jars()
    os.makedirs(build_dir(), exist_ok=True)
    lib, lib_stamp = compile_if_stale("lib-classes", sources(LIB_SRC), [], jars)
    bench, _ = compile_if_stale("bench-classes", sources(BENCH_SRC), [lib], jars, lib_stamp)
    return jars, [lib, bench]


def heap():
    """Half the box's memory, between 2 and 8 GB (the rule the repo's test
    command uses for SPARK_DRIVER_MEM)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def java_cmd(jars, classes, work, main, args):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx" + heap(), "-XX:ReservedCodeCacheSize=1g"] + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + os.path.join(work, "local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", os.pathsep.join(classes + [os.path.join(jars, "*")]),
        main] + args)


def run_jvm(cmd, cwd):
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=sys.stderr)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("workload exceeded %d s" % JVM_TIMEOUT_S, 4)
    return proc.returncode, out.decode()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    jars, classes = build()
    name = "selftest" if a.selftest else "%s-%d-%d" % (a.workload, a.seed, os.getpid())
    work = os.path.join(build_dir(), "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            cmd = java_cmd(jars, classes, work, "perfbench.SelfTest", [work])
        else:
            cmd = java_cmd(jars, classes, work, "perfbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--gates", os.path.join(HERE, "gates.txt")])
        code, out = run_jvm(cmd, work)
        sys.stdout.write(out)
        sys.stdout.flush()
        sys.exit(code)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
