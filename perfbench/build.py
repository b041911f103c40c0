#!/usr/bin/env python3
"""Compile graft (src/main/scala) together with the benchmark driver
(perfbench/src) into .bench_build/classes with the Scala compiler that
ships in the Spark distribution's jars directory.

The build is skipped when a stamp over every source file's path and
content matches the last successful build. The compiler is invoked
directly, not through sbt, so that building reads only the checkout and
the Spark jars and writes only under .bench_build.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")


class BuildError(Exception):
    pass


def jars_dir() -> str:
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` the
    repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars directory: set SPARK_HOME")


def sources() -> list:
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"missing source directory {os.path.relpath(r, ROOT)}")
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(srcs: list) -> str:
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compiler_classpath(jars: str) -> str:
    names = os.listdir(jars)
    picked = []
    for lib in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(n for n in names if n.startswith(lib + "-") and n.endswith(".jar"))
        if not hits:
            raise BuildError(f"{lib} jar not found in the Spark jars directory")
        picked.append(os.path.join(jars, hits[-1]))
    return os.pathsep.join(picked)


def build() -> str:
    """Build if needed; returns the classes directory."""
    srcs = sources()
    stamp = stamp_of(srcs)
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return CLASSES
    jars = jars_dir()
    if os.path.isfile(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_classpath(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
