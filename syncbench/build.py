#!/usr/bin/env python3
"""Build file of the sync benchmark: compiles the engine's main sources
(src/main/scala) together with the benchmark's own sources
(syncbench/src) into one class directory with the Scala compiler that
ships in the Spark distribution's jars.

    python3 syncbench/build.py            # from the repository root

The output goes to $CARGO_TARGET_DIR/syncbench (default .bench_build/
syncbench) and is reused while no source file changes.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "syncbench", "src")]


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    directory on the PATH holding spark-submit beside a jars directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars_dir = os.path.join(home, "jars")
        if home and os.path.isdir(jars_dir):
            jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
            if any(os.path.basename(j).startswith("spark-core") for j in jars):
                return jars
    raise SystemExit("syncbench: no Spark distribution found; set SPARK_HOME")


def build_dir():
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, target, "syncbench")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"syncbench: source directory missing: {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; returns the class directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars)] + srcs
    print(f"syncbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.call(cmd, stdout=sys.stderr) != 0:
        raise SystemExit("syncbench: compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
