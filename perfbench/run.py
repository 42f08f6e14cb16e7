#!/usr/bin/env python3
"""Benchmark of the MapReduce job service and the query suites.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the program and the load generator from source with sbt (once per
source change; the build lives in perfbench/target), then starts one JVM
that generates the inputs from the seed, sets up, warms up, measures for
the given seconds and checks every output. The last stdout line is the
result object; the run record and, for traced runs, the spans are also
written to .bench_out/. Scratch files go to .bench_work/ and are removed
when the run ends. Needs java, sbt and SPARK_HOME.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["mr_gateway", "mr_bulk", "queries"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
HEAP = "2g"

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files.extend(os.path.join(d, n) for n in sorted(names))
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(src_digest):
    """Compile unless the last build was of these sources; returns the
    classpath file."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == src_digest:
                return cp_file
    print("perfbench: building", file=sys.stderr)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(src_digest)
    return cp_file


def commit(src_digest):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "sources-sha256:" + src_digest[:16]


def java_cmd(cp_file, work, main, args):
    with open(cp_file) as fh:
        cp = fh.read().strip()
    opens = [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # C1 only: under C2 the per-job paths keep getting faster for ~25 s of
    # load, longer than a run can afford, so short runs measured different
    # points of the JIT's progress. C1 reaches its level within the warm-up.
    return (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + opens +
            ["-cp", cp, main] + args)


def run_jvm(cmd, work, limit_s):
    """Run the JVM, echo its stdout, return (exit code, last stdout line)."""
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both inside.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # The JVM halts when its stdin closes, so it never outlives this process.
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            text=True, env=env)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    expired = threading.Event()

    def expire():
        expired.set()
        proc.kill()
    timer = threading.Timer(max(1.0, limit_s), expire)
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            if line.strip():
                last = line.strip()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    sys.stdout.flush()
    if expired.is_set():
        fail("run exceeded its time limit", 3)
    return code, last


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    t_start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name a Spark installation")
    src_digest = digest(sources())
    t_build = time.monotonic()
    cp_file = build(src_digest)
    build_s = time.monotonic() - t_build

    # Scratch dirs of runs that were killed outright.
    for d in glob.glob(os.path.join(ROOT, ".bench_work", "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    expected = os.path.join(HERE, "expected", "queries.tsv")
    try:
        if a.self_test:
            code, _ = run_jvm(java_cmd(cp_file, work, "perfbench.SelfTest",
                                       [expected, work]), work, RUN_LIMIT_S)
            sys.exit(code)
        # A build's time does not count against the run's limit.
        limit = RUN_LIMIT_S - (time.monotonic() - t_start - build_s)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
                "--out", out, "--expected", expected, "--commit", commit(src_digest)]
        code, last = run_jvm(java_cmd(cp_file, work, "perfbench.Main", args), work, limit)
        if code != 0:
            fail(f"benchmark JVM exited with {code}", code)
        try:
            res = json.loads(last)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
        except (ValueError, AssertionError):
            fail("the benchmark did not end with a result object", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
