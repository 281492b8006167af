#!/usr/bin/env python3
"""Builds the program and the benchmark from source.

Compiles the program's Scala sources (src/main/scala) together with the
benchmark's (perfbench/src) using the Scala compiler that ships with Spark
($SPARK_HOME/jars), into .bench_build/classes under the checkout. A stamp of
the sources' content hash skips the build when nothing changed.

Usage: python3 perfbench/build.py      (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RuntimeError("SPARK_HOME must point at a Spark 4 installation")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise RuntimeError("no java found (set JAVA_HOME or PATH)")
    return exe


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                            "*.scala"), recursive=True))
    if not program:
        raise RuntimeError("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**",
                                          "*.scala"), recursive=True))
    return program + bench


def build():
    """Returns the classes directory, compiling first if sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        sys.exit(str(e))
