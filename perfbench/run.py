#!/usr/bin/env python3
"""Run one benchmark workload against the product built from this checkout.

    python3 perfbench/run.py --workload web_pages --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the product sources
(src/main/scala) together with the benchmark program (perfbench/src) with the Scala
compiler that ships with Spark into one jar, then writes a JVM class-data
archive of the classes the workloads load; later runs reuse both while the
sources are unchanged. Everything a run writes goes under the build directory
($CARGO_TARGET_DIR, default .bench_build): the jar and archive, Spark scratch,
temp files, and the run records and span files in <build>/perfbench/runs.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import zipfile

RUN_TIMEOUT_S = 170
ARCHIVE_TIMEOUT_S = 600
# The heap starts at 1 GB and grows up to 3 GB only when the data the program
# keeps needs it: the parallel collector with a fixed sizing policy resizes
# the heap from the live data after a collection, not from GC timing, so
# peak_rss_mb follows the program's memory rather than the host's speed.
HEAP = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms1g", "-Xmx3g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Jars of the Spark installation: $SPARK_HOME, else the first
    spark-submit on PATH whose installation ships a Scala 2.13 compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")):
            return jars
    fail("no Spark installation with a Scala 2.13 compiler: set SPARK_HOME")


def sources():
    prod = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not prod:
        fail("no product sources under src/main/scala: run from the root of a checkout")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return prod + bench


def build(build_dir, jars):
    """Compile product + benchmark once per source digest; return the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    jar = os.path.join(build_dir, "perfbench-" + h.hexdigest()[:16] + ".jar")
    if os.path.exists(jar):
        return jar
    tmp = jar + ".classes"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = ":".join(glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar"))
                     + glob.glob(os.path.join(jars, "scala-library-2.13*.jar"))
                     + glob.glob(os.path.join(jars, "scala-reflect-2.13*.jar")))
    print(f"perfbench: compiling {len(srcs)} sources into {jar}", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", scala, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs)
    if r.returncode != 0:
        fail("compilation failed")
    # a jar, not a directory: the JVM's class-data archive accepts only jars
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.replace(jar + ".tmp", jar)
    return jar


def run_java(jar, jars, build_dir, jvm_args, main_class, args, timeout_s):
    """Run a benchmark class in its own process group with its scratch and temp
    dirs under the build dir; relay its stdout except the result line.
    Returns (exit code, parsed result or None)."""
    scratch = os.path.join(build_dir, "scratch", str(os.getpid()))
    tmpdir = os.path.join(scratch, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch, TMPDIR=tmpdir)
    cmd = (["java"] + HEAP + jvm_args
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmpdir}",
              "-cp", jar + ":" + os.path.join(jars, "*"), main_class] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    timer = threading.Timer(timeout_s, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    return code, result


def make_archive(jar, jars, build_dir, archive):
    """Class-data archive of every class the workloads load (shorter JVM and
    Spark start-up in every run). Every run maps it (-Xshare:on: a JVM that
    cannot map it fails), so setup_s always measures the same start-up;
    without it the benchmark stops."""
    print("perfbench: writing the class-data archive", file=sys.stderr)
    code, _ = run_java(jar, jars, build_dir, [f"-XX:ArchiveClassesAtExit={archive}.tmp"],
                       "perfbench.Archive", [], ARCHIVE_TIMEOUT_S)
    if code != 0 or not os.path.exists(archive + ".tmp"):
        fail(f"could not write the class-data archive (exit {code})")
    os.replace(archive + ".tmp", archive)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    build_dir = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                             "perfbench"))
    jars = spark_jars()
    jar = build(build_dir, jars)

    archive = jar + ".jsa"
    if not os.path.exists(archive):
        make_archive(jar, jars, build_dir, archive)
    code, result = run_java(jar, jars, build_dir, ["-Xshare:on", f"-XX:SharedArchiveFile={archive}"],
                            "perfbench.Main",
                            ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", a.trace,
                             "--out", os.path.join(build_dir, "runs")], RUN_TIMEOUT_S)
    if code != 0 or result is None:
        fail(f"benchmark exited with code {code} and {'a' if result else 'no'} result")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
