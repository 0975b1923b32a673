#!/usr/bin/env python3
"""Build file of the platform benchmark.

Compiles the platform's sources (`src/main/scala`) together with the
benchmark's own harness (`perfbench/src`) with the Scala compiler that ships
in the Spark distribution, packs them into `.bench_build/app.jar`, and records
a class-data-sharing archive (`.bench_build/app.jsa`) from a short training
run (`perfbench.Train`), so that each benchmark JVM loads Spark's classes
from the archive instead of from the jars. The build is skipped when a stamp
of the source contents matches the last build.

    python3 perfbench/build.py          # build if needed
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "app.jar")
ARCHIVE = os.path.join(BUILD, "app.jsa")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
# what a SparkSession created outside spark-submit needs on JDK 17
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, or else of the
    installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no Spark distribution with a Scala compiler; set SPARK_HOME")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("build: the platform sources (src/main/scala) are missing")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def java(work, *args, archive=True):
    """The command line of a benchmark JVM whose scratch files stay in `work`.

    The JIT stops at C1: a run lasts well under a minute, and with C2 the
    pass and trigger times were still falling when the run ended (batch
    passes 4.6 -> 3.3 s, triggers 2.7 -> 2.4 s on a 4-core box); with C1
    they were flat within 12% from the first timed one."""
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if archive and os.path.exists(ARCHIVE) else []
    return ["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", *cds, *ADD_OPENS,
            f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath(), *args]


def compile_jar(files):
    tmp = os.path.join(BUILD, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-8000:])
        raise SystemExit("build: scalac failed")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, tmp))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(tmp, ignore_errors=True)


def train():
    """Records the class-data-sharing archive; the benchmark runs without one
    if this fails."""
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        cmd = java(work, "perfbench.Train", FIXTURES, work, archive=False)
        cmd.insert(1, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
        try:
            ok = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                timeout=400).returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
    if not ok and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    shutil.rmtree(work, ignore_errors=True)


def build():
    """Compiles and trains unless the sources are unchanged since the last
    build."""
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want and os.path.exists(JAR):
        return
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    compile_jar(files)
    train()
    with open(stamp_file, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    build()
