#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/src) into one class directory with the Scala
compiler that ships among the Spark jars. No sbt, no network.

The Spark jar directory is the repo's own (`unmanagedBase` in build.sbt),
unless SPARK_JARS names another. A build is reused while the sources and the
JVM are unchanged.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars(root=ROOT):
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt at the checkout root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no Spark jar directory (unmanagedBase)")
    return m.group(1)


def sources(root=ROOT):
    eng = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(eng):
        raise BuildError("no engine sources at src/main/scala")
    srcs = sorted(glob.glob(os.path.join(eng, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not any(s.startswith(eng) for s in srcs):
        raise BuildError("src/main/scala holds no Scala sources")
    return srcs


def java():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def ensure():
    """Return the class directory, compiling first when it is stale."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    h.update(subprocess.run([java(), "-XX:-UsePerfData", "-version"],
                            capture_output=True).stderr)
    h.update(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(
        [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"), "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
         "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BuildError("compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit(f"build: {e}")
