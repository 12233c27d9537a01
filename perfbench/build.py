#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark harness (perfbench/scala) into .bench_build/classes-<hash>
with the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars, default /opt/spark/jars). A build whose sources hash the
same is reused.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

BUILD_DIR = ".bench_build"


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a repository checkout")
    own = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    return main + own


def build(root):
    """Return (classes_dir, seconds spent compiling; 0 when reused)."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out, 0.0
    t0 = time.monotonic()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-cp", tmp, "-d", tmp] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out, time.monotonic() - t0


if __name__ == "__main__":
    print(build(os.getcwd())[0])
