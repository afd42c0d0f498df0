#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the checked-out engine
(src/main/scala) together with the harness (perfbench/src) into
perfbench/.build/classes with the Scala compiler that ships with Spark.

A stamp of the sources' SHA-256 skips the compile when nothing changed.
Compile time counts toward no metric.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SCALA = "2.13.17"


def spark_jars(root=None):
    """Spark's jar directory: $SPARK_JARS, else $SPARK_HOME/jars, else the
    directory the repository's build.sbt names as unmanagedBase."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root or os.getcwd(), "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise FileNotFoundError("Spark's jars not found: set SPARK_JARS or SPARK_HOME")
    return m.group(1)


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return engine, harness


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if the sources changed; return (classes dir, source digest)."""
    engine, harness = sources(root)
    if not engine:
        raise FileNotFoundError(f"no engine sources under {root}/src/main/scala")
    sha = digest(root, engine + harness)
    out = os.path.join(BENCH, ".build")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read().strip() == sha:
        return classes, sha
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars(root)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(engine + harness) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(engine)} engine + {len(harness)} harness sources",
          file=log, flush=True)
    proc = subprocess.run(cmd, stdout=log, stderr=log)
    if proc.returncode != 0:
        raise RuntimeError(f"scalac exited with {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(sha + "\n")
    return classes, sha


if __name__ == "__main__":
    print(build(os.getcwd())[0])
