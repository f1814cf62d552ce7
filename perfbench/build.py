#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (``src/main/scala``) together with the
benchmark's own (``perfbench/scala``) with the Scala compiler that ships in
Spark's ``jars`` directory, so no build tool or network is needed. Classes
land in ``perfbench/.build/<source hash>/``; an unchanged tree reuses them.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark's jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError("engine sources not found at src/main/scala: run from a checkout")
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files, jars):
    h = hashlib.sha256()
    compiler = sorted(j for j in os.listdir(jars) if j.startswith("scala-compiler"))
    h.update(repr(compiler).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read() + b"\0")
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Returns (build dir, source hash), compiling when the tree changed.
    The classes are in the build dir's ``classes``."""
    jars = spark_jars()
    files = sources()
    digest = source_hash(files, jars)
    out = os.path.join(BUILD, digest)
    if os.path.exists(os.path.join(out, "BUILT")):
        return out, digest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", os.path.join(tmp, "classes"), "@" + argfile]
    done = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if done.returncode != 0:
        raise BuildError(f"scalac failed with exit code {done.returncode}")
    for old in os.listdir(BUILD):
        if old != os.path.basename(tmp):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, "BUILT"), "w").close()
    return out, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
