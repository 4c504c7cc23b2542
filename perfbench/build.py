#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala` of the checkout) together
with the benchmark's own (`perfbench/src`) into `perfbench/.work/classes`,
with the Scala compiler that ships among Spark's jars, so the build needs
no dependency resolution and writes nothing outside the checkout. A stamp
of the sources' contents skips the build when nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(WORK, "build.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        raise BuildError("no Spark jars with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "ExstreamPipeline.scala")):
        raise BuildError(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    cp = [CLASSES] + jars
    if os.path.isfile(STAMP) and open(STAMP).read() == want:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jar_cp = os.pathsep.join(jars)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", jar_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jar_cp, "-d", CLASSES] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(STAMP, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"build: {e}")
    print(f"built into {os.path.relpath(CLASSES, ROOT)}")
