#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program under test
(src/main/scala, src/main/java) together with the benchmark harness
(perfbench/src) into .bench_build/<hash>/classes with the Scala compiler that
ships among the Spark distribution's jars. <hash> covers every input, so classes of an
older tree are never reused and an unchanged tree is built once.

Usage: python3 perfbench/build.py      (prints the class directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_ROOT = os.path.join(ROOT, ".bench_build")


def jars():
    """The Spark distribution's jars: the directory build.sbt names as its
    `unmanagedBase`, unless SPARK_JARS is set."""
    jar_dir = os.environ.get("SPARK_JARS")
    if not jar_dir:
        try:
            sbt = open(os.path.join(ROOT, "build.sbt")).read()
        except OSError:
            raise SystemExit("no build.sbt: nothing to benchmark")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise SystemExit("build.sbt names no unmanagedBase jar directory")
        jar_dir = m.group(1)
    found = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not found:
        raise SystemExit(f"no Spark jars under {jar_dir}")
    return found


def sources():
    out = []
    for base in ("src/main/scala", "src/main/java", "perfbench/src"):
        for ext in ("scala", "java"):
            out += glob.glob(os.path.join(ROOT, base, "**", f"*.{ext}"), recursive=True)
    program = [s for s in out if not s.startswith(os.path.join(ROOT, "perfbench"))]
    if not program:
        raise SystemExit("no program sources under src/main: nothing to benchmark")
    return sorted(out)


def classes_dir():
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars()).encode())
    out = os.path.join(BUILD_ROOT, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "done")):
        return classes
    shutil.rmtree(BUILD_ROOT, ignore_errors=True)
    os.makedirs(classes)
    cp = jars()
    compiler = [j for j in cp if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(cp), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"compile failed (exit {r.returncode})")
    open(os.path.join(out, "done"), "w").close()
    return classes


if __name__ == "__main__":
    print(classes_dir())
