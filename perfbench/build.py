#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark driver (`perfbench/scala`) into
`.bench_build/classes`, using the Scala compiler that ships in Spark's
jars directory, $SPARK_HOME/jars (the same jars the repo's sbt build
compiles against).

A stamp over every source file's path and bytes makes the build a no-op
when nothing changed. Run from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SRC_DIRS = ["src/main/scala", "perfbench/scala"]
OUT = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME (Spark's jars are the build's classpath)")
    return os.path.join(home, "jars")


def sources():
    files = []
    for d in SRC_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    classes = os.path.abspath(os.path.join(OUT, "classes"))
    cp = classes + os.pathsep + os.path.join(jars, "*")
    files = sources()
    if not any(f.startswith("src/") for f in files):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found; "
                         "run from the repository root")
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, f"{n}-2.13.17.jar")
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    # scalac does not expand classpath wildcards: list the jars
    libs = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", libs] + files
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: compile failed (exit {rc})")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    print(build())
