#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (``src/main/scala``) together with the harness
(``vbench/src``) with the Scala compiler that ships in Spark's jar
directory (``$SPARK_HOME/jars``), against Spark's jars only: no
dependency resolution, no network, nothing written outside
``vbench/work``. A build is reused
while no source file changes (keyed by a hash of every source).

    python3 vbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")


def _spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install whose
    ``bin`` is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(os.path.abspath(d)), "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    return "jars"


SPARK_JARS = _spark_jars()
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCE_DIR = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def _sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError(f"engine sources not found at {os.path.relpath(SOURCE_DIRS[0], ROOT)}")
    files = []
    for d in SOURCE_DIRS:
        for ext in ("scala", "java"):
            files += glob.glob(os.path.join(d, "**", f"*.{ext}"), recursive=True)
    return sorted(files)


def _compiler_classpath():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(SPARK_JARS, f"{name}-2.13*.jar")))
        if not found:
            raise BuildError(f"{name} jar not found in {SPARK_JARS}")
        jars.append(found[-1])
    return jars


def build(timeout=900):
    """Returns the directory holding the compiled classes."""
    sources = _sources()
    compiler = _compiler_classpath()
    h = hashlib.sha256()
    for f in compiler + sources:
        h.update((os.path.basename(f) if f in compiler else os.path.relpath(f, ROOT)).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(WORK, f"classes-{key}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(WORK, exist_ok=True)
    for old in glob.glob(os.path.join(WORK, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(SPARK_JARS, "*"), "-d", tmp, "@" + argfile]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        raise BuildError(f"scalac did not finish within {timeout} s")
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    if os.path.isdir(RESOURCE_DIR):
        shutil.copytree(RESOURCE_DIR, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
