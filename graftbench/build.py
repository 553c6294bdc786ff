#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program under src/main/scala
together with the benchmark's own Scala sources, with the Scala compiler
that ships in Spark's jars, into graftbench/.build/classes-<hash>.

The hash covers every source file, so a build is reused only for the exact
sources it was made from.

Usage: python3 graftbench/build.py    (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src"), os.path.join(HERE, "tests")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def sources():
    main = SOURCE_DIRS[0]
    if not os.path.isdir(main):
        raise BuildError(f"program sources missing: {os.path.relpath(main, ROOT)}")
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java(), "-XX:-UsePerfData", "-Xss64m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    print(f"graftbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    open(os.path.join(out, "BUILD_OK"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
