"""Build file of the benchmark: compiles the engine and the benchmark.

The engine's sources (``src/main/scala``) and the benchmark's own
(``perfbench/src``) are compiled in one ``scalac`` pass with the Scala
compiler that ships in Spark's ``jars`` directory, against the same jars
the engine's sbt build uses. The classes land in
``.bench_build/perfbench/classes`` inside the checkout, next to a stamp
holding a hash of every source file, so a second run in the same checkout
skips the compile.

    python3 perfbench/build.py          # prints the classes directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory, from SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jars directory with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(ROOT, "perfbench", "src")
    if not os.path.isdir(engine):
        raise BuildError("engine sources not found: src/main/scala")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(bench, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def stamp_of(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed; return (classes dir, Spark jars dir)."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return CLASSES, jars
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp] + files
    print("[perfbench] compiling %d sources" % len(files), file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return CLASSES, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
