#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main/scala of the checkout this directory sits in)
and the benchmark harness (perfbench/scala) with the Scala compiler that
ships in Spark's jars, into the build directory (CARGO_TARGET_DIR if set,
else .bench_build, relative to the checkout root). A content fingerprint of
every source file skips the build when nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "scala")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """Spark's jars: $SPARK_HOME, else the installation of spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", classpath]
    subprocess.run(cmd + files, check=True, stdout=sys.stderr)


def ensure():
    """Build if needed; return the run-time classpath entries."""
    engine = sources(ENGINE_SRC)
    harness = sources(HARNESS_SRC)
    if not engine:
        sys.exit(f"perfbench: no engine sources under {ENGINE_SRC}")
    if not harness:
        sys.exit(f"perfbench: no harness sources under {HARNESS_SRC}")
    jars = spark_jars()
    out = build_dir()
    engine_cls = os.path.join(out, "classes", "engine")
    bench_cls = os.path.join(out, "classes", "bench")
    stamp = os.path.join(out, "classes", "fingerprint")
    fp = fingerprint(engine + harness)
    current = open(stamp).read().strip() if os.path.exists(stamp) else ""
    if current != fp:
        shutil.rmtree(os.path.join(out, "classes"), ignore_errors=True)
        print("perfbench: compiling engine and harness", file=sys.stderr)
        scalac(jars, None, engine_cls, engine)
        scalac(jars, engine_cls, bench_cls, harness)
        with open(stamp, "w") as f:
            f.write(fp + "\n")
    return [bench_cls, engine_cls, RESOURCES, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(ensure()))
