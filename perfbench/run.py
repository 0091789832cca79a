#!/usr/bin/env python3
"""Runs one benchmark run of one workload and prints its result.

    python3 perfbench/run.py --workload <ingest|join_dedup>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine sources and
the harness with sbt (offline) and reuses the classes until a source file
changes. The benchmark JVM writes a raw record (timings, checks, spans,
Spark listener records); this script derives the metrics from it, keeps the
raw record and the result under .bench_build/results/, and prints the
result as the last line of standard output.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ingest", "join_dedup")
BUILD = ".bench_build"
CLASSES = os.path.join("perfbench", "target", "scala-2.13", "classes")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600
HEAP = "1g"

# Spark on JDK 17 outside spark-submit (same list as the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join("perfbench", "build.sbt"),
           os.path.join("perfbench", "project", "build.properties")]
    for top in (os.path.join("src", "main", "scala"),
                os.path.join("perfbench", "src")):
        for d, _, files in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def find_spark_home():
    """The Spark installation: SPARK_HOME, else the first directory on PATH
    holding a spark-submit next to a `jars` directory."""
    candidates = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.abspath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("Spark installation not found; set SPARK_HOME", 2)


def build(spark_home):
    """Compiles with sbt when the sources differ from the last build."""
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp_path = os.path.join(BUILD, "build.stamp")
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "compile"],
                cwd="perfbench", env=env, stdout=lf, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed (rc={rc}), see {log}", 3)
    with open(stamp_path, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; "
             "run from the repository root", 2)
    spark_home = find_spark_home()
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    build(spark_home)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.abspath(os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}"))
    for sub in ("work", "tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    raw_path = os.path.join(run_dir, "raw.json")
    log_path = os.path.join(BUILD, "results", f"{tag}.log")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dspark.local.dir=" + os.path.join(run_dir, "local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-cp", os.path.abspath(CLASSES) + os.pathsep
        + os.path.join(spark_home, "jars", "*"),
        "graft.perfbench.PerfBench",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(len(os.sched_getaffinity(0))),
        "--work", os.path.join(run_dir, "work"), "--out", raw_path,
    ]
    try:
        spawn_ms = time.time() * 1000.0
        with open(log_path, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(raw_path):
            fail(f"benchmark JVM failed ({rc}), see {log_path}", 1)
        with open(raw_path) as f:
            raw = json.load(f)
        res = metrics.result(raw, spawn_ms)
        for span, self_us in zip(raw["spans"], stats.self_times(raw["spans"]).values()):
            span["self_us"] = self_us
        with open(os.path.join(BUILD, "results", f"{tag}.raw.json"), "w") as f:
            json.dump(raw, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    line = json.dumps(res)
    with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
