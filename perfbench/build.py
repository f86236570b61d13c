#!/usr/bin/env python3
"""Builds the engine and the benchmark from source into one class directory.

Usage: python3 perfbench/build.py [build_dir]

Compiles src/main/scala and perfbench/src with the Scala compiler that ships
in Spark's jar directory ($SPARK_HOME/jars), so no build tool or network is
needed. The output is keyed by a hash of every source file: an unchanged
tree is not compiled again.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sys.exit("perfbench: set SPARK_HOME to the Spark 4 install")
    return os.path.join(home, "jars", "*")


def sources():
    main = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
    bench = glob.glob(os.path.join(HERE, "src", "*.scala"))
    return sorted(main) + sorted(bench)


def build(build_dir):
    """Returns the class directory, compiling first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(build_dir, 'tmp')}",
           "-cp", spark_jars(), "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", spark_jars()] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(key)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
