#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the repo's main Scala
sources together with the harness under perfbench/scala into
.bench_build/perfbench/classes, with the Scala compiler and Spark jars
of the repo's own build (`unmanagedBase` in build.sbt; $SPARK_HOME/jars
when build.sbt does not name one).

Run from the root of a checkout: `python3 perfbench/build.py`.
A build is skipped when the sources hash to the stamp of the last one.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def _jars():
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    base = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    return os.path.join(base, "*")


JARS = _jars()


def sources():
    return sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)
                  + glob.glob("perfbench/scala/*.scala"))


def classpath():
    return os.pathsep.join([CLASSES, "src/main/resources", JARS])


def build():
    srcs = sources()
    if not srcs or not os.path.isdir("src/main/scala"):
        raise SystemExit("perfbench: run from the root of a checkout that holds src/main/scala")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", JARS, "scala.tools.nsc.Main", "-usejavacp",
           "-nowarn", "-d", CLASSES, "-classpath", JARS, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())


if __name__ == "__main__":
    build()
