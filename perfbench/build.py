#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
with the Scala compiler that ships among the Spark jars, into
`$CARGO_TARGET_DIR/perfbench/classes` (default `.bench_build`). A build is
reused while no source file changes.

    python3 perfbench/build.py        # build (or reuse) and print the classes dir
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def out_dir():
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, target, "perfbench")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the program's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources not found at src/main/scala (run from a full checkout)")
    files = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for path in files + sorted(glob.glob(os.path.join(PROGRAM_RES, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; returns the classpath entries for a run."""
    jars = spark_jars()
    files = sources()
    out = out_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    want = stamp(files)
    have = open(stamp_file).read().strip() if os.path.exists(stamp_file) else ""
    if have != want or not os.path.isdir(classes):
        staging = classes + ".tmp"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(files) + "\n")
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", staging, "-classpath", cp, "@" + argfile]
        print("[perfbench] compiling %d sources" % len(files), file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            raise BuildError("compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(staging, classes)
        with open(stamp_file, "w") as f:
            f.write(want + "\n")
    return [classes, PROGRAM_RES, os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
