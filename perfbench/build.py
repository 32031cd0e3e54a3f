#!/usr/bin/env python3
"""Compiles the library (src/main/scala) and the benchmark (perfbench/src)
with the Scala compiler shipped in Spark's jars directory.

The classes go to .bench_build/perfbench/classes-<hash>, keyed by a hash of
every source file and of this script, so an unchanged tree is not rebuilt.
Spark's jars are found through $SPARK_HOME, else through the installed
pyspark package.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    candidates = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark  # noqa: F401  (only its location is used)
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BuildError("no Spark jars found: set SPARK_HOME")


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"library sources missing: {LIB_SRC}")
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns (classpath entries, source hash); compiles if needed."""
    files = sources()
    digest = source_hash(files)
    jars = spark_jars()
    classes = os.path.join(OUT, "classes-" + digest[:16])
    classpath = [classes, LIB_RESOURCES, os.path.join(jars, "*")]
    if os.path.exists(os.path.join(classes, ".complete")):
        return classpath, digest
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        if ".tmp-" not in old:  # another build may be writing a .tmp- directory
            shutil.rmtree(old, ignore_errors=True)
    tmp = f"{classes}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(OUT, f"sources-{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    finally:
        os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.rename(tmp, classes)
    except OSError:  # a concurrent build of the same sources finished first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(classes, ".complete")):
            raise
    return classpath, digest


if __name__ == "__main__":
    try:
        print(build()[0][0])
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
