#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, into .bench_build/classes.

Usage: python3 perfbench/build.py   (from the repository root)

The compile is skipped when neither the sources nor the jar set changed
since the last build. Spark's jar directory is $SPARK_HOME/jars, or found
from `spark-submit` on PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no scala-compiler jar under {jars}")
    return jars


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([os.path.join(BUILD, "classes"),
                            os.path.join("src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def build():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                  glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not any(s.startswith("src/") for s in srcs):
        sys.exit("build: no engine sources under src/main/scala "
                 "(run from the repository root)")
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    out = os.path.join(BUILD, "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", out, "-classpath", cp, "@" + args_file],
                   check=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
