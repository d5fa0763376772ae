#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into one jar with the Scala
compiler that ships with Spark, in the jars directory the repository's
build.sbt names (or $SPARK_JARS). The output lives in .bench_build/ at the
root of the checkout (or $CARGO_TARGET_DIR when set) and is rebuilt only
when a source file changes. A rebuild also drops the class-data-sharing
archives that run.py keeps beside the jar (cds/), since they are only valid
for the jar they were dumped from.

Usage: python3 perfbench/build.py     (prints the jar)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_ROOTS = [os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(ROOT, "perfbench", "src")]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The Spark jars directory: $SPARK_JARS, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(sbt).read() if os.path.isfile(sbt) else "")
    if not m:
        raise SystemExit("build: no Spark jars directory (set SPARK_JARS)")
    return m.group(1)


def classpath(jar):
    return jar + os.pathsep + os.path.join(spark_jars(), "*")


def cds_dir():
    return os.path.join(build_dir(), "cds")


def sources():
    out = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"build: missing source root {os.path.relpath(root, ROOT)}")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile if stale; return the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    out = build_dir()
    jar = os.path.join(out, "perfbench.jar")
    stamp = os.path.join(out, "perfbench.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isfile(jar):
        return jar
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(cds_dir(), ignore_errors=True)
    for f in (stamp, jar):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, tmp))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jar


if __name__ == "__main__":
    print(build())
