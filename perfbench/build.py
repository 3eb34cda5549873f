#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark sources (perfbench/src) in one scalac pass against the Spark
jars the repository builds against, into perfbench/.build/<source hash>/.

Run on its own (`python3 perfbench/build.py`) or through run.py, which
calls it before every run; an unchanged source tree is not recompiled.
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
BUILD = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory build.sbt names as `unmanagedBase`, else
    $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not program:
        raise BuildError("no engine sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return program + bench


def build():
    """Return the classes directory, compiling first if the sources changed."""
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD, key)
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "done")):
        return classes, jars
    if os.path.isdir(BUILD):
        shutil.rmtree(BUILD)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    open(os.path.join(out, "done"), "w").close()
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
