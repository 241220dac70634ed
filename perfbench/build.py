#!/usr/bin/env python3
"""Builds the program and the benchmark from source with scalac.

Compiles the repository's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) against the Spark distribution's
jars, into .bench_build/classes-<hash> at the repository root. The hash
covers every source file and the jar list, so an unchanged tree is not
rebuilt. Usage: python3 perfbench/build.py (prints the classes directory).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark distribution with a Scala compiler found "
                 "(set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not main:
        sys.exit("perfbench: no program sources under src/main/scala")
    return main + bench


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out, jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "javatmp"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(tmp, "javatmp"),
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", tmp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    shutil.rmtree(os.path.join(tmp, "javatmp"), ignore_errors=True)
    os.remove(argfile)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    print(build()[0])
