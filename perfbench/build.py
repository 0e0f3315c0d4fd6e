"""Builds the program and the benchmark from source.

Compiles the program's main sources (`src/main/scala` at the checkout root)
together with the benchmark's sources (`perfbench/src`) into one class
directory under `.bench_build/perfbench`, with the Scala compiler that ships
in Spark's jar directory. A stamp of the sources' hash skips the compile
when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(PROGRAM):
        fail(f"program sources not found: {PROGRAM}")
    files = sorted(glob.glob(os.path.join(PROGRAM, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build():
    """Returns (class directory, Spark jar directory), compiling if needed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(WORK, "classes")
    stamp = os.path.join(WORK, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(WORK, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(["-usejavacp", "-nowarn", "-d", tmp] + files) + "\n")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    proc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                           "-cp", os.path.join(jars, "*"),
                           "scala.tools.nsc.Main", "@" + args])
    if proc.returncode != 0:
        fail("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
