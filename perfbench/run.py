#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this tree.

    python3 perfbench/run.py --workload extract_small --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark on first use (see build.py), starts
one JVM at local[nproc], and forwards its standard output. The last line
is the result: {"correct", "attempted", "failed", "metrics"}; the line
before it is the run record (host, JVM flags, canary, gates, per-pass
figures). See perfbench/README.md for workloads and metrics.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ("extract_small", "extract_markup", "curate")
JVM_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when a session starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    return r.stdout.decode().strip() or "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp, digest = build.ensure()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    launch_ms = int(time.time() * 1000)  # set-up time starts after the build

    work = os.path.join(build.build_dir(), "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java_bin(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--launch-ms", str(launch_ms),
            "--git", git_commit(), "--src-digest", digest[:16]]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        rc = "timeout"
    finally:
        stop()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")


if __name__ == "__main__":
    main()
