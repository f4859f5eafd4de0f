#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/src) into one class directory.

Usage: python3 perfbench/build.py        (from the repository root)

The compiler is the Scala 2.13 compiler that ships with the Spark jars,
driven directly rather than through sbt, so a build writes nothing outside
the checkout. The classes are packed into one jar, and one smoke-size run
of every workload in a single JVM records the classes a run loads into a
class-data-sharing archive (`-XX:ArchiveClassesAtExit`), which every later
run maps instead of loading and verifying those classes again. The output
is keyed by a digest of every source file: an unchanged tree reuses the
previous build, a changed one rebuilds from scratch.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
JAR = os.path.join(BUILD_DIR, "program.jar")
ARCHIVE = os.path.join(BUILD_DIR, "program.jsa")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
TRAIN_TIMEOUT_S = 600
HEAP = "4g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jars the program compiles against: $SPARK_HOME/jars, else
    the `unmanagedBase` directory that the program's build.sbt names."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if os.path.exists("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit(f"build: no Spark jars with a Scala compiler in {candidates}")


def sources():
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/*.scala"))
    if not prog:
        raise SystemExit("build: program sources (src/main/scala) not found; "
                         "run from the repository root")
    return prog + bench


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: the program jar, then every Spark jar."""
    return os.path.abspath(JAR) + os.pathsep + os.path.join(spark_jars(), "*")


def java_cmd(run_dir):
    """The JVM command line of a run in `run_dir`, up to the main class.

    A fixed-size heap: no heap-growth ramp inside the window. No
    hsperfdata file, which the JVM would write outside the checkout. The
    class-data-sharing archive, once the build has made it.
    """
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dderby.stream.error.file=" + os.path.join(run_dir, "derby.log")]
    if os.path.exists(ARCHIVE):
        cmd.append("-XX:SharedArchiveFile=" + os.path.abspath(ARCHIVE))
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath()]


def is_built():
    """True when the class directory matches the current sources."""
    if not os.path.exists(STAMP):
        return False
    with open(STAMP) as fh:
        return fh.read().strip() == digest(sources())


def ensure_built(log=sys.stderr):
    """Compile unless the stamp matches the current sources."""
    if is_built():
        return
    files = sources()
    jars = spark_jars()
    want = digest(files)
    shutil.rmtree(CLASSES, ignore_errors=True)
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(CLASSES)
    print(f"build: compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    pack_jar()
    shutil.rmtree(CLASSES)
    train_archive(log)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


def pack_jar():
    """Packs the class directory into JAR (class-data sharing archives
    classes from jars only)."""
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as jar:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                path = os.path.join(d, f)
                jar.write(path, os.path.relpath(path, CLASSES))


def train_archive(log):
    """Writes ARCHIVE from one smoke-size run of every workload."""
    run_dir = os.path.abspath(os.path.join(BUILD_DIR, "train"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = java_cmd(run_dir) + [
        "-XX:ArchiveClassesAtExit=" + os.path.abspath(ARCHIVE),
        "graft.perfbench.Main", "--train"]
    print("build: recording the class-data-sharing archive", file=log, flush=True)
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as out:
            r = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=out,
                               timeout=TRAIN_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(ARCHIVE):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                log.write(fh.read()[-4000:])
            if os.path.exists(ARCHIVE):
                os.remove(ARCHIVE)
            raise SystemExit(f"build: archive run failed with code {r.returncode}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    ensure_built()
