#!/usr/bin/env python3
"""Build the engine plus the benchmark from source and run one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

The Scala sources of the engine (src/main/scala) and of the benchmark
(perfbench/src) are compiled with the Scala compiler that ships in the Spark
distribution ($SPARK_HOME/jars) into .bench_build/classes-<source hash>; a
checkout compiles once and later runs reuse the classes. The benchmark then
runs in one JVM with a local[n] Spark session, n = min(4, cores). Every file
it writes lives under .bench_build/ and the per-run directory is deleted when
the run ends.

The last line of standard output is the result JSON:
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
import time

WORKLOADS = ("extract", "timejoin")
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find the Spark distribution (set SPARK_HOME)")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no scala-compiler jar under " + jars)
    return jars


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala (run from the repo root)")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return engine + bench


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = "%s.tmp-%d" % (classes, os.getpid())
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp] + srcs
    t0 = time.time()
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile timed out")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed")
    os.rename(tmp, classes)
    print("perfbench: compiled %d sources in %.1f s" % (len(srcs), time.time() - t0),
          file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)

    run_dir = os.path.abspath(os.path.join(
        BUILD_DIR, "run-%d-%d" % (os.getpid(), int(time.time() * 1000))))
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    result_path = os.path.join(run_dir, "result.json")
    trace_path = os.path.abspath(os.path.join(
        BUILD_DIR, "spans-%s-seed%d.jsonl" % (args.workload, args.seed)))
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m",
            "-Djava.io.tmpdir=" + tmp_dir,
            "-Dlog4j2.level=ERROR"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.path.abspath(classes) + os.pathsep + os.path.join(jars, "*"),
              "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", repr(args.seconds), "--trace", str(args.trace),
              "--run-dir", run_dir, "--result", result_path,
              "--spans", trace_path])
    proc = subprocess.Popen(cmd, stdout=sys.stdout, stderr=sys.stderr)

    def stop(signum, frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("stopped by signal %d" % signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    result = None
    if code == 0 and os.path.isfile(result_path):
        with open(result_path) as f:
            result = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        fail("benchmark JVM exited with code %d and no result" % code)
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
