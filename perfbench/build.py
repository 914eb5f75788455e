#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft library (`src/main`) and
the benchmark's own Scala sources into one jar, and records a class-data
sharing (CDS) archive for it.

Usage: python3 perfbench/build.py            (from the root of a checkout)

It calls the Scala 2.13 compiler that ships with Spark
(`$SPARK_HOME/jars/scala-compiler-*.jar`), so it needs no build tool and
no network. Output goes to `.bench_build/`; a stamp of the source hashes
skips the build when nothing changed.

The CDS archive comes from one short training run of `mor_mixed`
(`-XX:ArchiveClassesAtExit`). Runs that map it start the JVM and the
Spark session about twice as fast, which keeps each benchmark run short.
If the training run fails, runs go on without the archive.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
STAMP = os.path.join(BUILD, "build.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def mem_total_gb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1048576.0
    return 8.0


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """A quarter of the box's memory, between 2 and 8 GB."""
    return max(2, min(8, int(mem_total_gb() // 4)))


def jvm(work, args, archive_flag=None):
    """The benchmark JVM's command line: `perfbench.Main <args>`, with its
    temp files under `work` and, when given, a CDS archive flag."""
    # a fixed set of JIT compiler threads, so that their CPU can be told
    # apart from the program's (see Jvm.serviceCpuNs)
    flags = [f"-Xmx{heap_gb()}g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-XX:-UseDynamicNumberOfCompilerThreads",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    if archive_flag:
        flags.append(archive_flag)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ([java_bin()] + flags + opens +
            ["-cp", JAR + os.pathsep + spark_jars(), "perfbench.Main"] + args +
            ["--cpus", str(cpus()), "--work", work])


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: SPARK_HOME with Spark jars "
                         "(incl. scala-compiler) is required")
    return os.path.join(jars, "*")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {d}")
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def resources():
    """The files copied into the jar beside the classes, such as the
    service file that registers `format("graft")`."""
    out = []
    for dirpath, _, files in os.walk(RESOURCES):
        out += [os.path.join(dirpath, f) for f in files]
    return sorted(out)


def digest(paths):
    """Hash of the sources, the resources and this file, whose JVM flags
    the CDS archive depends on."""
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_jar(srcs):
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = spark_jars()
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jars, "-d", CLASSES,
           "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, CLASSES))


def train_archive():
    work = os.path.join(BUILD, "cds-train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm(work, ["--workload", "mor_mixed", "--seed", "0", "--seconds", "1",
                     "--trace", "0"], f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    try:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=400)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)


def build():
    """Build the jar and the CDS archive if the sources changed. Returns the
    flag that maps the archive, or None when there is none."""
    srcs = sources()
    stamp = digest(srcs + resources() + [os.path.abspath(__file__)])
    if not (os.path.exists(STAMP) and open(STAMP).read() == stamp):
        for f in (STAMP, ARCHIVE):
            if os.path.exists(f):
                os.remove(f)
        compile_jar(srcs)
        train_archive()
        with open(STAMP, "w") as f:
            f.write(stamp)
    return f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE) else None


if __name__ == "__main__":
    build()
