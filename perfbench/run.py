#!/usr/bin/env python3
"""Benchmark launcher for the triple engine.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 20 --trace 0

Run from a checkout of the repository. It compiles the engine's sources
together with the harness in perfbench/src, once per source state, with the
Scala compiler that ships in the Spark installation's jars, so the build
needs no build tool, no dependency cache and nothing under the user's home.
It then runs the harness on a JVM sized from this host: cores from the CPUs
this process may use, heap from MemTotal by the same rule as the tier-1 test
line (half of MemTotal, 2 to 8 GiB), and the fixed, pre-touched ParallelGC
heap of tools/graft-env.sh. It writes only under .bench_build/ in the
checkout. The last stdout line is the result object; the exit code is
non-zero when the build, a run or a check fails.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = []
    for d in [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def spark_home():
    """SPARK_HOME, else the installation that owns spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail(2, "no Spark installation: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(spark):
    """Compiles once per source state; concurrent launches wait on a lock."""
    os.makedirs(OUT, exist_ok=True)
    srcs = sources()
    jars = os.path.join(spark, "jars")
    h = hashlib.sha256(spark.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "build.stamp")
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
            return
        if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
            fail(3, f"no Scala compiler among the jars in {jars}")
        fresh = CLASSES + ".new"
        shutil.rmtree(fresh, ignore_errors=True)
        os.makedirs(fresh)
        args = os.path.join(OUT, "sources.txt")
        with open(args, "w") as fh:
            fh.write("".join(os.path.relpath(f, ROOT) + "\n" for f in srcs))
        log = os.path.join(OUT, "build.log")
        with open(log, "w") as fh:
            try:
                rc = subprocess.run([java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
                                     "scala.tools.nsc.Main", "-usejavacp", "-d", fresh, f"@{args}"],
                                    cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                    timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0:
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(3, f"build failed (exit {rc}); log in {log}")
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(fresh, CLASSES)
        with open(stamp, "w") as fh:
            fh.write(digest)


def run_timeout(seconds, trace):
    """A set-up allowance (JVM, session, kernel, checks, inputs, warm-up) plus
    a multiple of the measured time; a traced run sets up four workloads."""
    return (110 if trace else 90) + 3 * seconds


def host():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_g = min(8, max(2, mem_kb // 2097152))
    return cores, f"{heap_g}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(2, f"no engine sources under {ROOT}/src/main/scala; run from a full checkout")
    spark = spark_home()
    build(spark)

    cores, heap = host()
    work = os.path.join(OUT, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    tag = f"{a.workload}-{a.seed}-trace{a.trace}"
    cmd = ([java()] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
        f"-Xms{heap}", f"-Xmx{heap}", f"-Xlog:gc:file={os.path.join(work, 'gc-' + tag + '.log')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", f"{CLASSES}:{os.path.join(spark, 'jars')}/*", "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", ROOT, "--work", work, "--cores", str(cores)])
    log = os.path.join(work, f"jvm-{tag}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        timeout = run_timeout(a.seconds, a.trace)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(4, f"run exceeded {timeout} s; log in {log}")
    lines = out.splitlines()
    for line in lines:
        print(line)
    if p.returncode != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(p.returncode if p.returncode > 0 else 5, f"run failed (exit {p.returncode}); log in {log}")


if __name__ == "__main__":
    main()
