"""Compile the engine (src/main/scala) and the benchmark (perfbench/src)
into .bench_build/classes with the Scala compiler that ships in Spark's
jars directory. Skips the compile when no source changed since the last
build (a content hash is kept in .bench_build/stamp).

Usage: python3 perfbench/build.py   (from the root of the checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"
ENGINE_SRC = "src/main/scala"
BENCH_SRC = "perfbench/src"


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory the engine's own
    build.sbt names as its `unmanagedBase`, so both builds compile against
    the same Spark."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if not m:
            sys.exit("build: set SPARK_HOME to a Spark installation")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        sys.exit(f"build: no Spark jars under {jar_dir}")
    return jars


def sources():
    files = []
    for root in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return ":".join([os.path.join(OUT, "classes"), "src/main/resources"]
                    + spark_jars())


def build():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"build: {ENGINE_SRC}/graft not found; run from the root "
                 "of a full checkout")
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.abspath(OUT)}", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", ":".join(jars), "@" + argfile]
    r = subprocess.run(cmd)
    if r.returncode != 0:
        sys.exit(f"build: scalac exited {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(digest)


if __name__ == "__main__":
    build()
