"""Build file of the benchmark: compiles the engine and the benchmark.

The engine sources (``src/main/scala`` of the checkout) and the
benchmark's own Scala sources (``perfbench/src``) are compiled together
with the Scala compiler that ships in Spark's jar directory, and packed
into ``.bench_build/bench.jar`` of the checkout. A stamp of every source's
path and content skips the compile when nothing changed. The launcher
later adds a class-data-sharing archive for that jar (``run.py``), which
the JVM can only build from jars.

    python3 perfbench/build.py        # build if stale, print the jar
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
BUILD = os.path.join(CHECKOUT, ".bench_build")
JAR = os.path.join(BUILD, "bench.jar")
STAMP = JAR + ".stamp"


def spark_jars():
    """Spark's jar directory: under $SPARK_HOME, else the one the installed
    pyspark package carries."""
    homes = [os.environ.get("SPARK_HOME")]
    if not homes[0]:
        try:
            import pyspark
            homes.append(os.path.dirname(pyspark.__file__))
        except ImportError:
            pass
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("benchmark build: no Spark jars found; set SPARK_HOME")


def sources():
    engine = os.path.join(CHECKOUT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"benchmark build: engine sources not found at {engine}")
    found = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return found


def ensure():
    """Compile if the sources changed; return the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, CHECKOUT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return JAR
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("benchmark build failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    shutil.rmtree(tmp, ignore_errors=True)
    os.replace(JAR + ".tmp", JAR)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return JAR


if __name__ == "__main__":
    print(ensure())
    sys.exit(0)
