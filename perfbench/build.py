#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources and the
benchmark's own sources into one class directory with the Scala compiler
that ships among the Spark jars.

The engine is compiled from source on every checkout, so a benchmark run
always measures the tree it sits in. The compile is skipped while the
SHA-256 over all inputs matches the stamp left by the last build.

    python3 perfbench/build.py          # build (or confirm up to date)

Layout it expects, relative to the repository root:
    src/main/scala/**.scala             engine sources
    src/test/scala/graft/oracle/*.scala the scalar Oracle, if it has moved
                                        to test scope (optional)
    perfbench/src/**.scala              benchmark sources

Output goes under the build dir (CARGO_TARGET_DIR if set, else
.bench_build): classes/ and classes.sha256.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the project's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources():
    """Engine and benchmark sources, sorted; fails when the engine is absent."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit("perfbench: no engine sources at src/main/scala")
    roots = [engine, os.path.join(ROOT, "src", "test", "scala", "graft", "oracle"),
             os.path.join(HERE, "src")]
    out = []
    for r in roots:
        for dirpath, _, files in os.walk(r):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns (classpath, source digest), compiling when out of date."""
    files = sources()
    sha = digest(files)
    jars = spark_jars()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(stamp) and open(stamp).read().strip() == sha:
        return cp, sha
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join('"%s"' % f for f in files))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed (exit %d)" % r.returncode)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(sha + "\n")
    return cp, sha


if __name__ == "__main__":
    print(build()[0])
