"""Builds the benchmark harness together with the engine it measures.

The engine's sources (`src/main/scala`) and the harness sources
(`perfbench/src`) are compiled in one scalac invocation against the
Spark distribution's jars (which include the matching Scala 2.13
compiler; see spark_jars), into `.bench_build/classes`. A digest of
every source file is kept next to the classes; an unchanged tree is not
rebuilt.

Run directly to build: python3 perfbench/build.py
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The Spark distribution's jar directory: `$SPARK_HOME/jars`, or
    the one next to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.exit("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars")


def sources():
    files = []
    for top in (ENGINE_SRC, HARNESS_SRC):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath(jars):
    return CLASSES + os.pathsep + os.path.join(jars, "*")


def build():
    """Compiles if needed and returns the runtime classpath. Raises
    SystemExit when the engine sources or the toolchain are missing."""
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"engine sources not found at {ENGINE_SRC}")
    jars = spark_jars()
    compiler = glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar"))
    if not compiler:
        sys.exit(f"no Scala 2.13 compiler jar under {jars}")
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) \
            and open(stamp).read() == digest.hexdigest():
        return classpath(jars)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tool_cp = os.pathsep.join(compiler + glob.glob(os.path.join(jars, "scala-library-2.13*.jar"))
                              + glob.glob(os.path.join(jars, "scala-reflect-2.13*.jar")))
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", tool_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", os.path.join(jars, "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        sys.exit("scalac failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classpath(jars)


if __name__ == "__main__":
    print(build())
