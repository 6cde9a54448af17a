#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload bidlog_dag --seed 1 --seconds 10 --trace 0

Builds the engine plus the benchmark sources (perfbench/build.py) on first
use, then runs one JVM (`graft.perfbench.Main`) on local[N], N = the
process's CPU count. The JVM generates the workload's inputs from the seed,
runs round(seconds / the workload's nominal iteration time) measured
iterations (at least one), checks every output, and prints one JSON
object as the last line of stdout; this script relays that line and the
JVM's exit code. All run data lives under `.bench_out/` in the working
tree and is removed at exit; traces and output digests are kept there,
the digests keyed by a hash of perfbench/src.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the tree
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("bidlog_dag", "query_suite", "store_daily")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (the same list as the
# engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    out = os.path.join(build.ROOT, ".bench_out")
    work = os.path.join(out, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.callstack.depth=64",
            "-cp", build.classpath(), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--work", work, "--out", out,
            "--bench-id", build.bench_id()]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: the run exceeded {JVM_TIMEOUT_S} s and was stopped")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(stdout)
        sys.exit(proc.returncode or 1)
    for l in lines[:-1]:
        sys.stderr.write(l + "\n")
    print(lines[-1])


if __name__ == "__main__":
    main()
