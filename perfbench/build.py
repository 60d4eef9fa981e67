#!/usr/bin/env python3
"""Build the benchmark: compile the program's sources (src/main/scala) and
the benchmark's own (perfbench/src) with the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars), into .bench_build/classes.

The build is skipped when a stamp of every source file and the compiler's
jar names matches the last build. Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; it must name a Spark 4 install")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise BuildError(f"no jars under {home}/jars")
    return jars


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}/graft")
    out = []
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath of the built benchmark."""
    return os.pathsep.join([CLASSES, PROGRAM_RES] + spark_jars())


def build(log=sys.stderr):
    jars = spark_jars()
    srcs = sources()
    stamp = stamp_of(srcs, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        raise BuildError("scala-compiler/library/reflect jars not found with Spark's jars")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        os.makedirs(OUT, exist_ok=True)
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
