#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the harness
(perfbench/src) using the Scala compiler that ships among the Spark
distribution's jars, into .bench_build/perfbench/<source hash>/classes.
A finished build with the same source hash is reused.

Usage, from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join("perfbench", "src")
BUILD_ROOT = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME, else the
    installation that holds the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")
    return jars


def sources(root):
    out = []
    for base in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, log=sys.stderr):
    """Return the classes directory, compiling it first if needed."""
    if not os.path.isdir(os.path.join(root, PROGRAM_SRC)):
        raise SystemExit(f"perfbench: {PROGRAM_SRC} not found; run from the repository root")
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_ROOT, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", os.path.join(tmp, "classes"), "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=log)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compile failed\n" + r.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, "ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
