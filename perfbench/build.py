#!/usr/bin/env python3
"""Build file of the benchmark package.

Usage (from the repository root): python3 perfbench/build.py

Compiles the engine (src/main/scala) together with the benchmark's JVM
side (perfbench/scala) with the Scala compiler that ships in the Spark
distribution ($SPARK_HOME, or the one whose spark-submit is on PATH),
against the Spark jars.
Classes go to $CARGO_TARGET_DIR/perfbench/classes (default
.bench_build/perfbench/classes) and are rebuilt only when a source
file changes.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SCALA_VERSION = "2.13.17"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, ROOT)}")
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark distribution: set SPARK_HOME")
    return jars


def build():
    """Compile once per source state; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    out = os.path.join(ROOT, out) if not os.path.isabs(out) else out
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    shutil.rmtree(out, ignore_errors=True)
    staging = classes + ".tmp"
    os.makedirs(staging)
    compiler = ":".join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                        for m in ("compiler", "library", "reflect"))
    cp = ":".join(sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", staging, "-classpath", cp] + srcs) + "\n")
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", compiler,
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built {len(srcs)} sources in {time.time() - t0:.1f} s")
    return classes


if __name__ == "__main__":
    print(build())
