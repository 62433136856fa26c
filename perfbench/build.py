#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark.

    python3 perfbench/build.py          # from the root of a checkout

Compiles every .scala file under src/main/scala (the program) and
perfbench/src (the benchmark) in one scalac pass, with the Scala 2.13
compiler and the jars of the Spark distribution the program builds
against ($SPARK_HOME, else the one whose spark-submit is on PATH, else
the jar directory build.sbt names). The classes go to
.bench_build/classes-<hash of the sources>, so an unchanged tree is
not rebuilt and a changed one never runs stale classes. Prints the
class directory.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars(root="."):
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(submit))), "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("perfbench: no Spark distribution with a Scala compiler found "
             "(set SPARK_HOME); tried %s" % candidates)


def sources(root):
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(os.path.join(root, top)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Returns the absolute class directory, compiling if needed."""
    if not os.path.isdir(os.path.join(root, PROGRAM_SRC)):
        sys.exit("perfbench: %s not found under %s; run from the root of a "
                 "graft checkout" % (PROGRAM_SRC, root))
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, BENCH_SRC)) for s in srcs):
        sys.exit("perfbench: no benchmark sources under %s" % BENCH_SRC)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = spark_jars(root)
    tmp = out + ".tmp-%d" % os.getpid()
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            sys.exit("perfbench: compilation failed")
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
