#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine (src/main/scala, resources from src/main/resources) and
the benchmark's own Scala sources (perfbench/src) with the Scala compiler
that ships in Spark's jars directory ($SPARK_HOME/jars), into
.bench_build/perfbench/classes under the checkout root. A stamp over every
source file skips the compile when nothing changed; a file lock keeps
concurrent runs from compiling at the same time.

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")
OUT = os.path.join(".bench_build", "perfbench")
COMPILE_TIMEOUT_S = 700  # with the run after it, inside a first run's 900 s


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark jars the engine compiles and runs against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark  # noqa: F401  (only to locate its bundled jars)
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jars found: set SPARK_HOME")


def sources(root):
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(root, srcs, jars):
    h = hashlib.sha256(jars.encode())
    res = os.path.join(root, ENGINE_RES)
    extra = sorted(glob.glob(os.path.join(res, "**", "*"), recursive=True))
    for p in srcs + [e for e in extra if os.path.isfile(e)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root="."):
    """Compiles if needed; returns the runtime classpath."""
    root = os.path.abspath(root)
    if not os.path.isdir(os.path.join(root, ENGINE_SRC, "graft")):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    jars = spark_jars()
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes")
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        srcs = sources(root)
        want = stamp(root, srcs, jars)
        stamp_file = os.path.join(out, "stamp")
        if os.path.isdir(classes) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == want:
                    return cp
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
        print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        try:
            r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, text=True,
                               timeout=COMPILE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BuildError("compile timed out")
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise BuildError("compile failed")
        res = os.path.join(root, ENGINE_RES)
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(want)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
