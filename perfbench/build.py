"""Builds the program and the benchmark harness into .bench_build/.

Usage: python3 perfbench/build.py   (from the repository root)

Compiles the repository's `src/main/scala` together with
`perfbench/harness/*.scala` with the Scala compiler that ships in the
Spark distribution's jar directory, so no build tool has to start or
resolve anything. Spark's jar directory is `$SPARK_HOME/jars` when
SPARK_HOME is set, else the `unmanagedBase` that the repository's
build.sbt names. A stamp of the sources' digest makes a rebuild of
unchanged sources a no-op.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
