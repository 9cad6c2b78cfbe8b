#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources
(src/main/scala) together with the benchmark's own sources (graftbench/src)
against the Spark distribution's jars, with the Scala compiler that ships
in those jars. Output goes to .bench_build/classes; a stamp of the
sources' hash skips the compile when nothing changed.

    python3 graftbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = ".bench_build"
SOURCES = ("src/main/scala", "graftbench/src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("graftbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources(root):
    files = []
    for d in SOURCES:
        if not os.path.isdir(os.path.join(root, d)):
            sys.exit(f"graftbench: {d} not found under {root}; run from the repository root")
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root):
    """Compile if the sources changed; return the classes directory."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-cp", os.path.join(jars, "*"), "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        sys.exit("graftbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
