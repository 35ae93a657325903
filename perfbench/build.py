#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/scala) using the Scala compiler that ships in
Spark's jar directory, into .bench_build/perfbench/classes under the
current directory (the root of a checkout). It rebuilds only when a
source file changed, and writes nowhere else.

Usage: python3 perfbench/build.py   (run from the root of a checkout)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
OUT_DIR = ".bench_build/perfbench"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else that of the first
    spark-submit on PATH whose jars include the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise FileNotFoundError("no Spark with a Scala compiler: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise FileNotFoundError(f"source directory {d} not found under {root}")
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root, log=sys.stderr):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    out = os.path.join(root, OUT_DIR)
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "classes.stamp")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args_file = os.path.join(out, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-Ybackend-parallelism", "4", "-d", tmp, "@" + args_file]
        print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
        # run from the empty output directory: scalac puts the working
        # directory on its class path, where perfbench/ would shadow the
        # scala package
        r = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-20000:], file=log)
            raise RuntimeError("compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except (FileNotFoundError, RuntimeError) as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(1)
