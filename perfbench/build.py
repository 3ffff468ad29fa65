#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) into .bench_build/perfbench/classes with the
Scala 2.13 compiler that ships with the Spark distribution. The build is
skipped when a stamp of every source file's path, size and content hash
matches the previous build.

Usage: python3 perfbench/build.py        (from the repository root)
Exit code 0 on success; the classpath line is printed on stdout.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "build.stamp")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the project build's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        where = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open("build.sbt").read() if os.path.exists("build.sbt") else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        where = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars found (set SPARK_HOME; looked in '{where}')")
    return jars


def sources():
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"build: library sources missing at {LIB_SRC}")
    files = []
    for top in (LIB_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return os.pathsep.join([CLASSES, LIB_RES] + jars)


def build():
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath(jars)
    os.makedirs(CLASSES, exist_ok=True)
    for d, _, names in os.walk(CLASSES, topdown=False):
        for n in names:
            os.remove(os.path.join(d, n))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp:false",
           "-classpath", os.pathsep.join(jars), "-d", CLASSES,
           "-nowarn", "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "@" + argfile]
    r = subprocess.run(cmd)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    print(build())
