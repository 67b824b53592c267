#!/usr/bin/env python3
"""Benchmark entry point; run from the repository root:

    python3 perfbench/run.py --workload <ref_etl|governed_ingest|ann_serve>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source with sbt when the sources
changed (output under perfbench/target, stamp under .bench_build), then
runs the harness in one JVM sized like the tier-1 test run: local[nproc]
and a heap of half the machine's memory, clamped to 2-8 GiB. Every run
starts from an empty work directory, .bench_build/run. The last stdout
line is the result JSON; the exit code is non-zero when the run failed.
"""
import argparse
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
STATE = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ref_etl", "governed_ingest", "ann_serve")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 outside spark-submit needs these (the launcher's
# default module options).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names
                      if n.endswith(".scala")]
    return sorted(files)


def jvm_env():
    """Every JVM started here skips the hsperfdata file in the system temp
    directory, so a run writes only inside the checkout."""
    opts = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData")
    return dict(os.environ, JAVA_TOOL_OPTIONS=opts.strip())


def build():
    """Compiles with sbt unless the stamp matches the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found; "
             "run from the repository root")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(STATE, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.isdir(classes):
        return classes
    os.makedirs(STATE, exist_ok=True)
    t0 = time.time()
    # keep sbt's global state and temp files inside the checkout
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "--no-server",
           f"-Dsbt.global.base={os.path.join(STATE, 'sbt-global')}",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           f"-Dsbt.ipcsocket.tmpdir={tmp}", "compile"]
    # sbt's own output goes to stderr: stdout carries only the result
    r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                       env=jvm_env(), timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def heap():
    """Half of MemTotal in GiB, clamped to [2, 8], as the tier-1 run."""
    g = 2
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"{min(8, max(2, g))}g"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classes = build()
    jars = spark_jars()
    run = os.path.join(STATE, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    cmd = ["java", f"-Xmx{heap()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(run, "work"), "--cpus", str(cpus())]
    proc = subprocess.Popen(cmd, cwd=run, stdout=subprocess.PIPE, text=True,
                            env=jvm_env(), start_new_session=True)
    # a watchdog, not a read timeout: a hung JVM may print nothing at all
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                result = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
    if timed_out.is_set():
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    if result is None:
        fail(f"harness exited {proc.returncode} without a result", 1)
    names = expected_metrics(a.trace == 1)
    got = json.loads(result)
    if sorted(got["metrics"]) != sorted(names):
        fail(f"metrics {sorted(got['metrics'])} differ from BENCHMARK.json "
             f"{sorted(names)}", 1)
    print(result, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
