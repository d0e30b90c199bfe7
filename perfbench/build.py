#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark sources
(perfbench/src) with the Scala compiler that ships in the Spark distribution,
into .bench_build/perfbench/classes under the checkout root. A stamp of every
source's contents makes repeated builds a no-op. Nothing is fetched: the
compiler and the Spark jars come from $SPARK_HOME/jars, or else from the
first Spark distribution on PATH (a `bin/spark-submit` with a `jars`
directory holding the compiler beside it).

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    def has_compiler(jars):
        return os.path.isdir(jars) and any(n.startswith("scala-compiler") for n in os.listdir(jars))
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if has_compiler(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark distribution with a Scala compiler "
                     "(set SPARK_HOME or put its bin/ on PATH)")


def sources():
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source tree {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return CLASSES, jars
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    return CLASSES, jars


def classpath():
    classes, jars = build()
    return os.pathsep.join([classes, PROGRAM_RES, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build()[0])
