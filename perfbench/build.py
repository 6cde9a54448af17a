#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's main sources
together with the benchmark's own sources (perfbench/src) into one class
directory, with the Scala compiler that ships among the Spark jars.

    python3 perfbench/build.py            # from the repository root

The output goes to `.bench_build/perfbench/classes` (or under
`$CARGO_TARGET_DIR` when set). A stamp over every source file's path,
size and mtime makes a repeat build a no-op. Exits non-zero, printing
the reason to stderr, when the engine sources or the Spark jars are
missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench build: SPARK_HOME must name a Spark install with a jars/ dir")
    return os.path.join(home, "jars", "*")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"perfbench build: source dir {os.path.relpath(d, ROOT)} is missing")
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    if not os.path.isdir(RESOURCES):
        sys.exit("perfbench build: src/main/resources is missing")
    return sorted(out)


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([os.path.join(build_dir(), "classes"), RESOURCES, spark_jars()])


def bench_id():
    """Hash of the benchmark's own sources (generators and checks)."""
    h = hashlib.sha256()
    for p in sources():
        if p.startswith(SOURCE_DIRS[1] + os.sep):
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def build():
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    out = build_dir()
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench build: scalac exited {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
