#!/usr/bin/env python3
"""Pipeline benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload backfill|cron --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the program's main sources and the benchmark's Scala sources with
the Scala compiler that ships in Spark's jar directory (no sbt, no
change to build.sbt), caching the jars and a class-data archive under
.bench_build/ by source hash, then runs one workload in one JVM. The JVM
prints a report and, as its last stdout line, the JSON result, which this
script passes through.
"""

import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names as
    `unmanagedBase`, where the program's build takes Spark from."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


JARS = spark_jars()
HEAP = "3g"
RUN_TIMEOUT_S = 170
TRAIN_TIMEOUT_S = 600
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def jars():
    return sorted(os.path.join(JARS, j) for j in os.listdir(JARS) if j.endswith(".jar"))


def compile_jar(out, files, classpath):
    """Compiles `files` into `out`/classes.jar unless that build is done."""
    jar = os.path.join(out, "classes.jar")
    if os.path.exists(jar):
        return jar
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", os.path.join(JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(classpath), "@" + argfile]
    print(f"perfbench: compiling {len(files)} files into {os.path.relpath(out, ROOT)}",
          file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compilation failed ({r.returncode})")
    # a jar, not a directory: the class-data archive only covers jars
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    return jar


def build():
    """Returns the run classpath and the class-data archive."""
    if not os.path.isdir(MAIN_SRC):
        fail(f"no program sources at {MAIN_SRC}; run from the repository root")
    if not os.path.isdir(JARS):
        fail(f"no Spark jars at '{JARS}'; set SPARK_HOME")
    main_files, bench_files = sources(MAIN_SRC), sources(BENCH_SRC)
    mh = digest(main_files)
    main_out = os.path.join(BUILD, "main-" + mh)
    bench_out = os.path.join(BUILD, f"bench-{mh}-{digest(bench_files)}")
    spark = jars()
    main_jar = compile_jar(main_out, main_files, spark)
    bench_jar = compile_jar(bench_out, bench_files, [main_jar] + spark)
    for d in os.listdir(BUILD):  # keep only the current build
        if os.path.join(BUILD, d) not in (main_out, bench_out):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    classpath = [bench_jar, main_jar] + spark
    archive = os.path.join(bench_out, "classes.jsa")
    if not os.path.exists(archive):
        # one training run loads every class a run needs; the JVM dumps
        # them at exit into an archive later runs map instead of loading
        # (cuts several seconds of cold start from every run)
        print("perfbench: dumping the class-data archive", file=sys.stderr)
        work = os.path.join(WORK, "train")
        shutil.rmtree(work, ignore_errors=True)
        code, out = run_jvm(classpath, ["--train", "1", "--work", work], work,
                            [f"-XX:ArchiveClassesAtExit={archive}.tmp"], TRAIN_TIMEOUT_S)
        shutil.rmtree(work, ignore_errors=True)
        if code != 0 or not os.path.exists(archive + ".tmp"):
            sys.stderr.write(out)
            fail("training run failed")
        os.replace(archive + ".tmp", archive)
    return classpath, archive


def run_jvm(classpath, args, work, jvm_opts, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += jvm_opts + [
        f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join(classpath), "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["backfill", "cron"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classpath, archive = build()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            args = ["--selftest", "1", "--work", work]
        else:
            args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--work", work, "--out", os.path.join(WORK, "traces")]
        code, out = run_jvm(classpath, args, work, [f"-XX:SharedArchiveFile={archive}"],
                            RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if code != 0:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {code}")
    if not a.selftest and not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail("benchmark JVM printed no result")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
