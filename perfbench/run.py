#!/usr/bin/env python3
"""Runs one workload of the spark-graft benchmark and prints its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 12 --trace 0

The first run builds the engine and the benchmark code from the
checkout's sources with sbt (offline) and caches the classpath under
perfbench/target; later runs reuse it while the sources are unchanged.
Each run starts one JVM, which generates the workload's inputs from the
seed, measures, checks every op's output and prints the metrics. The last
line of standard output is the JSON result; the run's files (state,
outputs, report.txt, result.json, trace.json, the Spark log) stay in
perfbench/out/<workload>-<seed>-<trace>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = "perfbench"
WORKLOADS = ("etl_upsert", "corpus_clean", "stream_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JVM_HEAP = "3g"
# Matches the engine build's javaOptions (Spark 4 on JDK 17 outside spark-submit).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = ["src/main/scala", os.path.join(BENCH_DIR, "src/main")]
    files = [os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project/build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    cache = os.path.join(BENCH_DIR, "target", "bench-classpath.json")
    stamp = source_stamp()
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == stamp:
            return c["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if "target/scala-2.13/classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    classpath = lines[-1].strip()
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def expected_metrics(trace):
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir("src/main/scala/graft") or not os.path.isfile(
            os.path.join(BENCH_DIR, "build.sbt")):
        fail("run from the root of a spark-graft checkout (src/main/scala/graft not found)")
    classpath = build()

    out = os.path.abspath(os.path.join(
        BENCH_DIR, "out", f"{args.workload}-{args.seed}-{args.trace}"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.abspath(os.path.join(BENCH_DIR, 'log4j2.properties'))}",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out,
           # Set-up is timed from the JVM launch; the build is not part of it.
           "--start-ms", str(int(time.time() * 1000))]
    with open(os.path.join(out, "spark.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {out}/spark.log", 4)
    lines = stdout.rstrip("\n").splitlines()
    for l in lines[:-1]:
        print(l)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0 or result is None:
        if lines:
            print(lines[-1])
        fail(f"run failed (exit {proc.returncode}); see {out}/spark.log", 1)
    missing = set(expected_metrics(args.trace)) ^ set(result["metrics"])
    if missing:
        fail(f"metrics differ from BENCHMARK.json: {sorted(missing)}", 5)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
