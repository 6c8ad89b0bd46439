#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) with the Scala 2.13 compiler that ships in
Spark's jars directory, into .bench_build/perfbench/classes-<hash>. The
hash covers every source file, so an unchanged tree is not rebuilt.

Usage, from the repository root:  python3 perfbench/build.py
Prints the class directory. Spark is found through $SPARK_HOME, or else
through `spark-submit` on PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(".bench_build", "perfbench")

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("Spark jars not found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found (set JAVA_HOME or PATH)")
    return exe


def sources(root):
    program = os.path.join(root, "src", "main", "scala")
    own = os.path.join(BENCH_DIR, "src")
    if not os.path.isdir(os.path.join(program, "graft")):
        raise BuildError(f"program sources missing under {program}")
    found = []
    for base in (program, own):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files
                      if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Returns the class directory for the current sources, compiling
    them first if no build of exactly these sources exists."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13.*.jar"))
                for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler jars in {jars}")
    # earlier builds, and the outcomes runs of them kept (perfbench.Ctx)
    for old in glob.glob(os.path.join(out, "classes-*")) + \
            glob.glob(os.path.join(out, "outcomes-classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + srcs
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {proc.returncode}")
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, classes)
    return classes


def java_command(root, classes, heap):
    tmp = os.path.join(root, OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return [java()] + opens + [
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
    ]


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
