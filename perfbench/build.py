"""Build file of the benchmark: compiles the engine's main sources and the
benchmark harness with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py        # from the root of a checkout

The classes land in perfbench/.build/classes; a stamp of the sources'
hash skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
ORACLE = os.path.join(BUILD, "oracle.json")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark installation with a Scala "
                         "compiler found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True))
    if not main:
        raise SystemExit("perfbench: the engine's sources (src/main/scala) "
                         "are not in this checkout")
    return main + bench


def classpath():
    return CLASSES + os.pathsep + spark_jars()


def build(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.exists(ORACLE):
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
                    "-classpath", jars] + srcs, check=True, stdout=log,
                   stderr=log)
    subprocess.run(["java", "-cp", classpath(), "perfbench.Harness",
                    "--dump", ORACLE], check=True, stdout=log, stderr=log)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
