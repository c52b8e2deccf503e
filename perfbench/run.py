#!/usr/bin/env python3
"""Spatial-join benchmark entry point.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload within_probe --seed 1 --seconds 10 --trace 0

Builds the library and the harness from source with sbt when the sources
changed since the last build (the first run in a checkout), then runs one
workload in a fresh JVM. The JVM prints human-readable lines and, as the
last line of stdout, one JSON object with the result. Exits non-zero
without a result when the build, the run or the output is broken.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SOURCES = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("within_probe", "nearest_build", "nearest_grid")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
MAX_CORES = 4
HEAP = "1g"


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every input of the build: library sources, harness sources,
    both builds' files."""
    h = hashlib.sha256()
    roots = [LIB_SOURCES, os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if f.endswith((".scala", ".sbt", ".properties", ".java")))
        for p in paths:
            # build outputs under project/target are not inputs
            if os.sep + "target" + os.sep in os.path.relpath(p, ROOT):
                continue
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    stamp = os.path.join(TARGET, "bench-fingerprint.txt")
    want = fingerprint()
    launch = [os.path.join(TARGET, f) for f in ("bench-classpath.txt", "bench-javaopts.txt")]
    if all(os.path.exists(p) for p in launch) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                return
    log("building library and harness with sbt")
    t0 = time.time()
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                         cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: build failed (sbt exit {res.returncode})")
    with open(stamp, "w") as fh:
        fh.write(want)
    log(f"build took {time.time() - t0:.1f} s")


def sbt_env():
    env = dict(os.environ)
    # the library build sizes the JVM heap (-Xmx/-Xms/-Xmn) from this
    env["SPARK_DRIVER_MEM"] = HEAP
    # and would add a flight recording to the JVM flags if this were set
    env.pop("GRAFT_JFR", None)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def read_lines(path):
    with open(path) as fh:
        return [line for line in fh.read().split("\n") if line]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    if not os.path.isdir(os.path.join(LIB_SOURCES, "graft")):
        raise SystemExit(f"perfbench: library sources not found at {LIB_SOURCES}; "
                         "run from the root of a checkout of the repository")
    env = sbt_env()
    build(env)

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    work = os.path.join(HERE, ".work", str(os.getpid()))
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    # Spark's scratch space (shuffle, spill, local checkpoints) stays
    # inside the work dir, whatever the caller's environment says
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    # JVM and Spark temp files stay inside the work dir too
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ([java] + read_lines(os.path.join(TARGET, "bench-javaopts.txt"))
           + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-cp", ":".join(read_lines(os.path.join(TARGET, "bench-classpath.txt"))),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--cores", str(cores)])

    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(*_):
        kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit("perfbench: stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    started = time.time()
    last = ""
    # stdout is relayed line by line; a watchdog kills a run that
    # outlives its budget
    timer = threading.Timer(RUN_TIMEOUT_S, kill)
    timer.daemon = True
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        code = proc.wait()
    finally:
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)
    log(f"JVM ran {time.time() - started:.1f} s")
    if time.time() - started > RUN_TIMEOUT_S:
        raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was killed")
    if code != 0:
        raise SystemExit(f"perfbench: benchmark JVM exited with {code}")
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        raise SystemExit("perfbench: the benchmark printed no result line")
    return 0


if __name__ == "__main__":
    sys.exit(main())
