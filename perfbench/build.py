#!/usr/bin/env python3
"""Build file of the CLI-job benchmark.

Compiles the program's sources (`src/main/scala`) together with the
benchmark harness (`perfbench/src`) in one scalac pass, with the Spark
jars of the toolchain on the classpath — the same compiler and jars the
repository's sbt build uses, without sbt's start-up or its caches. The
classes land in `.bench_build/classes` of the checkout, keyed by a hash
of every source, so a checkout compiles once and later runs start
straight into the JVM.

    python3 perfbench/build.py          # build if the sources changed

Exits non-zero when the program's sources are missing or do not compile.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.sha256")


def spark_jars():
    """The `unmanagedBase` the sbt build compiles against, else
    `$SPARK_HOME/jars`."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m:
        jars = m.group(1)
    elif "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        raise SystemExit("build: no unmanagedBase in build.sbt and no SPARK_HOME")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark/Scala jars under {jars}")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("build: the program's sources (src/main/scala) are missing")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/*.scala")))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"),
                                      recursive=True) if os.path.isfile(p))
    return prog + bench, res


def digest(files, jars):
    h = hashlib.sha256()
    h.update(os.path.realpath(jars).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure():
    """Compile unless `.bench_build/classes` matches the sources; returns
    the classpath to run the harness with."""
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    scala, res = sources()
    key = digest(scala + res, jars)
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == key:
                return cp
    tmp = f"{CLASSES}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala))
    print(f"build: compiling {len(scala)} sources", file=sys.stderr, flush=True)
    rc = subprocess.call(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-Djava.io.tmpdir=" + OUT,
         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        stdout=sys.stderr, cwd=ROOT)
    if rc != 0:
        raise SystemExit(f"build: scalac failed with exit code {rc}")
    base = os.path.join(ROOT, "src/main/resources")
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(key + "\n")
    return cp


if __name__ == "__main__":
    ensure()
