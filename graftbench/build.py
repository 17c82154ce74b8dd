#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own sources with the Scala compiler that ships in Spark's
jar directory ($SPARK_HOME/jars, or the one beside spark-submit on PATH;
no sbt, no network), into a class directory keyed by a hash
of every source, so an unchanged tree is built once.

Usage (from the repository root):  python3 graftbench/build.py
Prints the class directory. Exits non-zero when the sources are missing.
"""
import functools
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = "graftbench"
PROGRAM_SRC = os.path.join("src", "main", "scala")
RESOURCES = os.path.join("src", "main", "resources")
SCALA = "2.13.17"


@functools.lru_cache(maxsize=None)
def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit(f"{BENCH}: no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def sources():
    out = []
    for top in (PROGRAM_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_dir():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), BENCH)


def classpath(classes):
    return os.pathsep.join([classes, RESOURCES, os.path.join(spark_jars(), "*")])


def build():
    """Returns the class directory, compiling first when needed."""
    if not os.path.isdir(PROGRAM_SRC) or not os.path.isdir(os.path.join(BENCH, "src")):
        raise SystemExit(f"{BENCH}: run from the repository root; {PROGRAM_SRC} is missing")
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = [os.path.join(spark_jars(), f"scala-{j}-{SCALA}.jar")
            for j in ("compiler", "library", "reflect")]
    for j in jars:
        if not os.path.isfile(j):
            raise SystemExit(f"{BENCH}: Scala compiler jar {j} not found")
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(spark_jars(), "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"{BENCH}: compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    # older builds of other trees are stale
    for d in os.listdir(build_dir()):
        p = os.path.join(build_dir(), d)
        if d.startswith("classes-") and p != classes and os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
