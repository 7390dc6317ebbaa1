#!/usr/bin/env python3
"""Compiles graft's sources together with the benchmark's own Scala files.

The Scala compiler is the one shipped among Spark's jars ($SPARK_HOME/jars,
else the jar directory build.sbt uses), so no build tool or network is
needed. The classes land in <build dir>/classes-<hash>, keyed
by a hash of every source file, and are reused while the sources are
unchanged.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt uses."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Returns (classes directory, source hash), compiling when needed."""
    files = sources()
    if not any(f.endswith(os.path.join("graft", "SparkEntry.scala")) for f in files):
        raise SystemExit("perfbench: graft's sources (src/main/scala) are not here")
    key = source_hash(files)
    bdir = build_dir()
    out = os.path.join(bdir, "classes-" + key)
    if os.path.exists(os.path.join(out, ".complete")):
        return out, key
    os.makedirs(bdir, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(bdir, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print(f"perfbench: compiling {len(files)} source files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    for old in os.listdir(bdir):
        if old.startswith("classes-") and old != os.path.basename(out):
            shutil.rmtree(os.path.join(bdir, old), ignore_errors=True)
    return out, key


if __name__ == "__main__":
    print(build()[0])
