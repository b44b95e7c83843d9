"""Build for the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/src`) with the Scala compiler that
ships among the Spark jars, into `.bench_build/classes`.

The build is skipped when a stamp of every source file's path and
content matches the last build. Run it alone with
`python3 perfbench/build.py` from the repository root.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the repository's own
    build compiles against (`unmanagedBase` in build.sbt)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            sbt = open(os.path.join(ROOT, "build.sbt")).read()
        except OSError:
            raise SystemExit("no build.sbt: run from the repository root")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise SystemExit("build.sbt names no unmanagedBase; set SPARK_HOME")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(ROOT, d)):
            raise SystemExit(f"missing source directory {d}: run from the "
                             "repository root")
        files += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    files = sources()
    tag = stamp(files)
    cp = f"{CLASSES}:{jars}/*"
    if os.path.exists(STAMP) and open(STAMP).read() == tag:
        return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"building {len(files)} sources into {os.path.relpath(CLASSES)}",
          file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", tmp, "-classpath", f"{jars}/*"] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("build failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(tag)
    return cp


if __name__ == "__main__":
    build()
