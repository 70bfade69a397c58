#!/usr/bin/env python3
"""Build file of the benchmark. From the repository root:

    python3 perfbench/build.py

1. Compiles the program (src/main/scala) and the benchmark (perfbench/src,
   perfbench/test) with the Scala compiler that ships in the Spark
   distribution, into .bench_build/classes.
2. Packs the classes and src/main/resources into .bench_build/perfbench.jar.
3. Runs every workload once at a small scale with
   -XX:ArchiveClassesAtExit, writing a class-data-sharing archive
   (.bench_build/perfbench.jsa) that cuts JVM and Spark start-up in the
   benchmark runs.

A stamp of every source file's path and content skips all of this when
nothing changed. Exits non-zero when the program sources are missing.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
ARCHIVE = os.path.join(BUILD_DIR, "perfbench.jsa")
STAMP = os.path.join(BUILD_DIR, "build.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/src", "perfbench/test"]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_home():
    """$SPARK_HOME, else the Spark installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("perfbench: no Spark found; set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap():
    """Half the host memory in GiB, clamped to 2..8, like the tier-1 command."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return "%dg" % max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_command(main_class, args, tmp, cds):
    """The JVM command of a benchmark run; `cds` is "use" or "dump"."""
    share = ("-XX:SharedArchiveFile=" + ARCHIVE if cds == "use"
             else "-XX:ArchiveClassesAtExit=" + ARCHIVE + ".tmp")
    return (["java", "-Xmx" + heap(), "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData", share,
             "-Xlog:disable", "-Xlog:all=error:stderr",
             "-Djava.awt.headless=true", "-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
            + ["-cp", os.pathsep.join([JAR, os.path.join(spark_home(), "jars", "*")]),
               main_class] + args)


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile, pack and train when the sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: src/main/scala not found; run from the repository root")
    if not os.path.isdir(os.path.join(spark_home(), "jars")):
        sys.exit("perfbench: no Spark distribution at %s (set SPARK_HOME)" % spark_home())
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    if os.path.exists(STAMP):
        os.remove(STAMP)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + BUILD_DIR,
           "-cp", os.path.join(spark_home(), "jars", "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for base in (CLASSES, RESOURCES):
            for d, _, fs in os.walk(base):
                for f in sorted(fs):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), base))
    os.replace(JAR + ".tmp", JAR)
    train()
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    # flush the ~200 MB just written, so its write-back does not overlap
    # the first timed run
    os.sync()


def train():
    """Write the class-data-sharing archive from a small run of every workload."""
    tmp = os.path.join(BUILD_DIR, "tmp", "train")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print("perfbench: writing the class-data-sharing archive", file=sys.stderr)
    cmd = java_command("perfbench.Main", [
        "--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "0",
        "--cores", str(cores()), "--repo", ROOT, "--tmp", tmp, "--scale", "0.05"], tmp, "dump")
    r = subprocess.run(cmd, stdout=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE + ".tmp"):
        sys.exit("perfbench: training run failed")
    os.replace(ARCHIVE + ".tmp", ARCHIVE)


if __name__ == "__main__":
    build()
