#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's own sources
(`src/main/scala` of the checkout) together with the benchmark's
sources (`perfbench/src`) into `.bench_build/perfbench/classes`, using
the Scala compiler that ships with the Spark distribution.

Usage (from the checkout root): python3 perfbench/build.py
The build is skipped when the inputs hash to the recorded stamp.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars() -> str:
    """The Spark jars graft's own build compiles against (`unmanagedBase`
    in the root build.sbt), else `$SPARK_HOME/jars`."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no Spark jars: set unmanagedBase in build.sbt or SPARK_HOME")


def inputs():
    files = []
    for base in (PROGRAM_SRC, PROGRAM_RES, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp_of(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath() -> str:
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr) -> None:
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"perfbench: graft sources not found under {PROGRAM_SRC}")
    files = inputs()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    sources = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    print("perfbench: compiling %d sources" % len(sources), file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    if os.path.isdir(PROGRAM_RES):
        shutil.copytree(PROGRAM_RES, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
