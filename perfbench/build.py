"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into one class directory.

The benchmark calls `private[graft]` members (PlanStats), so its runner
lives in the `graft.bench` package and is compiled with the program rather
than against a packaged jar. The Scala compiler and Spark come from the
jar directory the repository's sbt build names (`unmanagedBase` in
build.sbt), or from `$SPARK_HOME/jars`. A build is skipped when a stamp of
every source file matches the last successful one.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    """The Spark distribution's jar directory, which also holds scalac."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def sources():
    out = []
    for d in SOURCE_DIRS:
        out += sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))
    return out


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the class directory."""
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars}")
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in files):
        raise SystemExit("build: graft sources (src/main/scala) not found; "
                         "run from the repository root")
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want and os.path.isdir(CLASSES):
        return CLASSES
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes.", dir=BUILD)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-cp", cp, "-d", tmp] + files
    print(f"build: compiling {len(files)} sources", file=log, flush=True)
    try:
        subprocess.run(cmd, check=True, stdout=log, stderr=log)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(want)
    return CLASSES


if __name__ == "__main__":
    print(build())
