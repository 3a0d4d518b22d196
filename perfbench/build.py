"""Build file of the benchmark: compiles graft's main sources together with
the benchmark driver under perfbench/src into .bench_build/classes, using
the Scala compiler that ships among the Spark jars (no sbt, no network).

    python3 perfbench/build.py        # from the root of a checkout

A build is skipped when the sources and the Spark jar set are unchanged
since the last one (a stamp file holds their hash).
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
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    """Jars of the Spark install: $SPARK_HOME, else the installs whose
    spark-submit is on PATH; the first one that ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark install with a Scala compiler among its jars; set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: graft sources not found at {main}")
    files = []
    for d in (main, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    """Runtime classpath: the compiled classes, then the Spark jars."""
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


if __name__ == "__main__":
    build()
