#!/usr/bin/env python3
"""The repository benchmark: one command, run from the root of a checkout.

    python3 perfbench/run.py --workload backfill|live --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

It builds the program with its own sbt build (only when a source is newer
than the jar), compiles the benchmark's Scala sources against that jar,
and runs one workload in one engine JVM. The engine checks every output
against answers computed from the seeded inputs, then prints the
operation counts and, as the last line, the result object. `--trace 1`
reports the per-layer metrics instead of the end-to-end ones and also
writes them to .bench_build/perfbench/trace-<workload>.json.
`--selftest` shows that each correctness check fails on a planted wrong
answer.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(ROOT, "target", "scala-2.13", "carbonclickhousespark_2.13-0.1.0.jar")
ENGINE_TIMEOUT_S = 170

# the JDK 17 module opens Spark needs outside spark-submit (as build.sbt)
ADD_OPENS = [
    x for p in [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    ] for x in ("--add-opens", p + "=ALL-UNNAMED")
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The unmanaged jar directory build.sbt compiles against (Spark and
    the Scala compiler ship there)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build_program():
    """`sbt package`, skipped when the jar is newer than every source."""
    build_sbt = os.path.join(ROOT, "build.sbt")
    src = os.path.join(ROOT, "src", "main")
    if not os.path.isfile(build_sbt) or not os.path.isdir(src):
        fail("no program sources here (build.sbt, src/main): run from the root of a checkout")
    inputs = [build_sbt] + [os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs]
    inputs += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    if os.path.isfile(JAR) and os.path.getmtime(JAR) >= max(map(os.path.getmtime, inputs)):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx3g"))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"], cwd=ROOT, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.isfile(JAR):
        fail("sbt package failed")


def compile_bench(jars):
    """Compile perfbench/src/*.scala against the jar; reuse when unchanged."""
    srcs = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    key = hashlib.sha256()
    for s in srcs:
        with open(s, "rb") as f:
            key.update(f.read())
    key.update(str(os.path.getmtime(JAR)).encode())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.isfile(stamp) and open(stamp).read() == key.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scala = [glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))[0] for n in ("compiler", "library", "reflect")]
    cp = ":".join([JAR] + sorted(glob.glob(os.path.join(jars, "*.jar"))))
    r = subprocess.run(["java", "-Xmx1g", "-cp", ":".join(scala), "scala.tools.nsc.Main", "-nowarn",
                        "-cp", cp, "-d", classes] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL, timeout=600)
    if r.returncode != 0:
        fail("benchmark sources do not compile")
    with open(stamp, "w") as f:
        f.write(key.hexdigest())
    return classes


def run_engine(jars, classes, workload, seed, seconds, trace, selftest):
    work = os.path.join(BUILD, f"work-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *ADD_OPENS, "-Xmx2g", "-Dfile.encoding=UTF-8", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", ":".join([classes, JAR, os.path.join(jars, "*")]), "perfbench.Engine",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--work", work,
           "--generator", os.path.join(HERE, "gen_live.py")] + (["--selftest"] if selftest else [])
    # own process group, so a timeout also stops the engine's generator
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=ENGINE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"engine did not finish within {ENGINE_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return p.returncode, out.strip().splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["backfill", "live"], default="backfill")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    build_program()
    jars = spark_jars()
    classes = compile_bench(jars)
    rc, lines = run_engine(jars, classes, a.workload, a.seed, a.seconds, a.trace == 1, a.selftest)
    for line in lines:
        print(line)
    if rc != 0:
        fail(f"engine exited with {rc}")
    if not a.selftest:
        try:
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
        except (IndexError, ValueError, AssertionError):
            fail("engine printed no result")


if __name__ == "__main__":
    main()
