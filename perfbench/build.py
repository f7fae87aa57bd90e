#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM harness (perfbench/scala) in one scalac pass against the
Spark jars, with the Scala compiler those jars ship. No sbt, so nothing is
written outside the build directory.

Usage: python3 perfbench/build.py [BUILD_DIR]   (run from the repository root;
BUILD_DIR defaults to .bench_build). Prints the classes directory.
A build is skipped when the sources hash to the stamp of the last build.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """Classpath entry for the Spark jars: $SPARK_HOME/jars, else the
    `unmanagedBase` directory build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as fh:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not found:
            raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
        jars = found.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"build: no engine sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    return engine + bench


def build(root, build_dir):
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    staging = classes + ".partial"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    jars = spark_jars(root)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build_dir}", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", staging, "-classpath", jars] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with exit code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
