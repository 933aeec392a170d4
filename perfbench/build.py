#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repository root)
together with the benchmark's own sources (`perfbench/src`) with the Scala
compiler that ships in the Spark distribution's jars, and packages the classes
as `.bench_build/perfbench.jar`. It then makes the JVM's class-data-sharing
archive `.bench_build/perfbench.jsa` in one untimed JVM run that starts Spark
and warms up every workload, so every measured run maps the same archive.
Nothing outside the checkout is written.

A stamp of the source contents makes a rebuild happen only when a source
changed:

    python3 perfbench/build.py   # build if stale, print the jar
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
STAMP = os.path.join(BUILD, "perfbench.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
ARCHIVE_TIMEOUT_S = 300

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions injects.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jars the program builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory the repository's build.sbt names.
    """
    home = os.environ.get("SPARK_HOME")
    where = os.path.join(home, "jars") if home else ""
    sbt = os.path.join(ROOT, "build.sbt")
    if not home and os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        where = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(where, "*.jar"))) if where else []
    if not jars:
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not out:
        raise SystemExit("build: no Scala sources found")
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def java(cp, work, share, main, args):
    """The JVM command of a benchmark process: `share` is the class-data
    sharing option, `work` the directory it may write to.
    """
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:+UseParallelGC", share,
           "-Xlog:disable", "-Xlog:all=error:stderr",
           f"-Djava.io.tmpdir={work}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", os.pathsep.join(cp)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [main] + args


def cores():
    """The cores this process may run on: Spark runs at local[cores]."""
    return len(os.sched_getaffinity(0))


def make_archive(cp):
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix="archive-", dir=runs)
    cmd = java(cp, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}", "perfbench.ArchiveRun",
               ["--cores", str(cores()), "--work", work])
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=ARCHIVE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"build: class-data-sharing archive run exceeded {ARCHIVE_TIMEOUT_S}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.isfile(ARCHIVE):
        raise SystemExit(f"build: class-data-sharing archive run failed with code {r.returncode}")


def build():
    """Compile, package and archive if stale; return the classpath."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files)
    cp = [JAR] + jars
    fresh = (os.path.isfile(STAMP) and os.path.isfile(JAR) and os.path.isfile(ARCHIVE)
             and open(STAMP).read().strip() == stamp)
    if not fresh:
        for p in (STAMP, JAR, ARCHIVE):
            if os.path.exists(p):
                os.remove(p)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", CLASSES] + files
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(CLASSES, ignore_errors=True)
            raise SystemExit(f"build: scalac failed with code {r.returncode}")
        # a jar, not a class directory: the class-data-sharing archive only
        # covers classes loaded from jars
        with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
            for base, _, names in sorted(os.walk(CLASSES)):
                for n in sorted(names):
                    p = os.path.join(base, n)
                    z.write(p, os.path.relpath(p, CLASSES))
        os.replace(JAR + ".tmp", JAR)
        shutil.rmtree(CLASSES)
        make_archive(cp)
        with open(STAMP, "w") as fh:
            fh.write(stamp + "\n")
    return cp


if __name__ == "__main__":
    print(build()[0])
