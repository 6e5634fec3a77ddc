#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It compiles the checkout's library
sources together with the harness in perfbench/src (sbt, offline, against
the Spark jars in $SPARK_HOME/jars) into .bench_build/ (or
$CARGO_TARGET_DIR), rebuilding only when a source file changed, then runs
the harness in one JVM. Readable report lines start with '#'; the last
stdout line is the result as one JSON object. Exits non-zero, printing no
result, when the checkout has no library sources, the build fails, the run
fails or it overruns its deadline.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB = os.path.join(ROOT, "src", "main", "scala")
RUN_DEADLINE_S = 170  # the JVM run, after any build
BUILD_DEADLINE_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """$SPARK_HOME, or the first Spark install on PATH that has its jars."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark install: set SPARK_HOME", 3)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    h = hashlib.sha256()
    tops = [LIB, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out):
    classes = os.path.join(out, "sbt-target", "scala-2.13", "classes")
    stamp_file = os.path.join(out, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt Compile/products)", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "Compile/products"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_DEADLINE_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build overran its deadline", 3)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail(f"build failed (sbt exit {r.returncode})", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "neardup"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB, "graft")):
        fail(f"no library sources under {LIB}: run from a full checkout", 2)

    out = build_dir()
    os.makedirs(out, exist_ok=True)
    classes = build(out)
    work = os.path.join(out, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = os.path.join(spark_home(), "jars", "*")
    # a fixed heap: grown from the default initial size, with a full GC
    # before each op, the heap stayed small and reps ran up to 40% slower
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, jars]), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=None,
                            text=True, start_new_session=True)
    timed_out = threading.Event()

    def watchdog():
        if proc.poll() is None:
            timed_out.set()
            os.killpg(proc.pid, signal.SIGKILL)

    timer = threading.Timer(RUN_DEADLINE_S, watchdog)
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                result = line
            elif line:
                print(line, flush=True)
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if timed_out.is_set():
        fail(f"run overran its {RUN_DEADLINE_S} s deadline", 4)
    if rc != 0 or result is None:
        fail(f"run failed (exit {rc})", 5)
    parsed = json.loads(result)
    if set(parsed) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    print(result, flush=True)


if __name__ == "__main__":
    main()
