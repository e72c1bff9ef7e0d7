#!/usr/bin/env python3
"""Pipeline benchmark launcher.

Run from the repository root:

    python3 perfbench/run.py --workload full_sync --seed 1 --seconds 20 --trace 0

It builds the loader and the benchmark from source with sbt (once per
source state; the build is reused while no source file changes), then
starts one JVM running perfbench.PerfBench and relays its output. The
last line of stdout is the run's JSON result. Build logs and Spark logs
go to stderr.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "bench-build.stamp")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
WORK = os.path.join(ROOT, ".perfbench")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, as paths relative to the root."""
    roots = [os.path.join("src", "main"), os.path.join("perfbench", "src", "main")]
    files = [os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(os.path.join(ROOT, r)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution: set SPARK_HOME")
    return home


def build(env):
    want = stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt is not on PATH")
    print("perfbench: building the loader and the benchmark", file=sys.stderr)
    try:
        r = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"],
            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        die(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["full_sync", "incremental_sync", "report_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    for need in [os.path.join("src", "main", "scala", "graft", "Main.scala"),
                 os.path.join("perfbench", "build.sbt"),
                 os.path.join("perfbench", "tally-bench.yaml")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} is missing: run from the root of a full checkout")

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    build(env)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        die("no java")
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]

    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    signal.signal(signal.SIGALRM, stop)
    signal.alarm(RUN_TIMEOUT_S)
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
    finally:
        signal.alarm(0)
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        # a killed JVM leaves its work dir behind
        shutil.rmtree(os.path.join(WORK, f"run-{a.workload}-{proc.pid}"),
                      ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
