#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(src/main/scala) together with the benchmark (perfbench/src) with the
Scala compiler that ships in the Spark distribution; later runs reuse
the classes while the sources are unchanged. All build output, run
scratch space and per-run artifacts stay under .bench_build/ in the
checkout. Each run generates its inputs from --seed (gen.py), then
starts one JVM that warms up, runs the workload for --seconds and checks
its outputs. The last line of stdout is the result JSON.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("forecast_chain", "vector_store", "corpus_prep")
# the program's run settings (build.sbt): JDK 17 module opens for Spark
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
# Spark task threads: fewer than the host's cores, so the driver, JIT and
# GC threads do not take turns with the tasks
CORES = 2


def warm_seed(seed):
    """Warm-up inputs come from another seed (and gen.py gives them
    disjoint keys and vocabulary)."""
    return seed ^ 0x5DEECE66D


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.build(root)  # exits non-zero if the program is not here
    jars = build.spark_jars(root)
    work = os.path.join(build.BUILD_DIR, "work-%d" % os.getpid())
    out = os.path.join(build.BUILD_DIR, "results")
    logs = os.path.join(build.BUILD_DIR, "logs")
    for d in (work, out, logs):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    wdir = os.path.join(root, work)
    tmp = os.path.join(wdir, "tmp")
    os.makedirs(tmp, exist_ok=True)

    cmd = ["java", "-Xss8m", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # set-up is timed from here: the build above is not part of it
    started_ms = int(time.time() * 1000)
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(min(CORES, os.cpu_count() or 1)), "--started-ms", str(started_ms),
            "--work", wdir, "--out", os.path.join(root, out)]

    log_path = os.path.join(root, logs, "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(wdir, "local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=wdir, stdout=subprocess.PIPE, stderr=log, env=env,
                                text=True)
        try:
            # the JVM starts its session while the inputs are written
            gen.generate(a.workload, os.path.join(wdir, "in"), a.seed, warm=False)
            gen.generate(a.workload, os.path.join(wdir, "warm"), warm_seed(a.seed), warm=True)
            open(os.path.join(wdir, "inputs.ready"), "w").close()
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            print("perfbench: run exceeded %ds and was stopped" % RUN_TIMEOUT_S, file=sys.stderr)
            return 3
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            shutil.rmtree(wdir, ignore_errors=True)
    sys.stdout.write(stdout)
    if proc.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print("perfbench: run failed (exit %d); log %s:\n%s" % (proc.returncode, log_path, tail),
              file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
