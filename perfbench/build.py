"""Compile the program (`src/main/scala`) and the benchmark
(`perfbench/src`) with the Scala compiler shipped in Spark's jar dir,
into `.bench_build/classes`. A stamp of the sources' hash skips the
compile when nothing changed. No dependency is fetched: the class path
is Spark's jar dir: `$SPARK_HOME/jars`, or, without SPARK_HOME, the
`jars` dir of the installed `pyspark` package."""
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    return os.path.join(home, "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    found = []
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(log):
    """Compile if stale; returns False (after logging why) on failure."""
    if not os.path.isdir(PROGRAM_SRC):
        log(f"no program sources at {PROGRAM_SRC}")
        return False
    if not os.path.isdir(spark_jars()):
        log("no Spark jar dir: set SPARK_HOME or install pyspark")
        return False
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return True
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
        "scala-reflect-2.13.17.jar"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        return False
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return True


if __name__ == "__main__":
    sys.exit(0 if build(lambda m: print(m, file=sys.stderr)) else 1)
