#!/usr/bin/env python3
"""Ingest benchmark entry point.

    python3 perfbench/run.py --workload dense --seed 1 --seconds 1 --trace 0

Builds the benchmark package (perfbench/build.sbt: the repository's
library sources plus perfbench/src) with sbt when its sources changed,
then runs one measurement in a fresh JVM. Everything the run writes stays
under perfbench/.work and perfbench/target. The last stdout line is the
JSON result; the exit code is non-zero when the run failed or an output
check did not hold.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIBRARY = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "sources.sha256")
WORK = os.path.join(HERE, ".work")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def sources_digest():
    h = hashlib.sha256()
    for top in (LIBRARY, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"]
    # sbt output goes to stderr: stdout carries only the benchmark's result.
    run_child(cmd, cwd=HERE, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    with open(STAMP, "w") as f:
        f.write(digest)


def run_child(cmd, cwd, timeout, stdout):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: %s timed out after %d s" % (cmd[0], timeout))
    if code != 0:
        sys.exit("perfbench: %s exited with %d" % (cmd[0], code))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(LIBRARY, "graft", "Ingester.scala")):
        sys.exit("perfbench: library sources not found under %s" % LIBRARY)
    build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-Djava.io.tmpdir=" + tmp]
    for opt in ADD_OPENS:
        cmd += ["--add-opens", opt]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", os.path.join(WORK, "run")]
    sys.stdout.flush()
    run_child(cmd, cwd=HERE, timeout=RUN_TIMEOUT_S, stdout=None)


if __name__ == "__main__":
    main()
