#!/usr/bin/env python3
"""Where the executor threads of one spatial-join benchmark run spend their time.

Usage:

    python3 tools/perfbench_profile.py --checkout DIR --workload W --seed N [--threads PREFIX]

Builds DIR's library and harness as `perfbench/run.py` does (without a
recording), then runs `python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0` in DIR under a Java Flight Recorder profile
(`settings=profile`, a method sample every 10 ms per running thread). S is
`--seconds`, by default the `run_seconds` of DIR's BENCHMARK.json. The JVM
flags go in through `JAVA_TOOL_OPTIONS`:

- `-XX:+DebugNonSafepoints` records debug information at every compiled
  instruction, not only at safepoints. Without it, samples in inlined code
  are charged to the nearest safepoint's frame, which can be a method that
  barely runs.
- The recording's repository (its chunk files) is kept in a directory of
  this tool's. JFR's default repository is under `java.io.tmpdir`, which
  the harness points into `perfbench/.work/` and deletes before the JVM
  exits, taking the chunks with it.

Reads the recording's `jdk.ExecutionSample` events with the JDK's `jfr`
tool and prints, over the samples of the threads whose name starts with
`--threads` (by default the executor threads, `Executor task launch worker
...`): the top self frames (the method on top of the stack) and the
inclusive share of every `graft.*` method (the samples with the method
anywhere on the stack). Then the run's own result line. The broadcast
kernel indexes its collected right side and broadcasts it on the driver's
`main` thread, not on an executor thread: `--threads main` shows that
part. The recording stays at `--jfr` (by default in a new temporary
directory) for `jfr print` or JDK Mission Control.
"""

import argparse
import collections
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile

EXECUTOR_THREAD = "Executor task launch worker"


def build(checkout):
    """Builds the checkout as its perfbench/run.py would, with no recording
    flags in the environment, so that sbt is never profiled."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(checkout, "perfbench", "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    env = run.sbt_env()
    env.pop("JAVA_TOOL_OPTIONS", None)
    run.build(env)


def record(checkout, workload, seed, seconds, jfr, repository):
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = " ".join([
        "-XX:+UnlockDiagnosticVMOptions", "-XX:+DebugNonSafepoints",
        f"-XX:FlightRecorderOptions=repository={repository},stackdepth=256",
        f"-XX:StartFlightRecording=filename={jfr},settings=profile,dumponexit=true"])
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True)
    lines = [line for line in res.stdout.split("\n") if line.strip()]
    if res.returncode != 0 or not lines:
        raise SystemExit(f"perfbench_profile: the run failed (exit {res.returncode})")
    if not os.path.exists(jfr):
        raise SystemExit(f"perfbench_profile: the JVM wrote no recording to {jfr}")
    return json.loads(lines[-1])


def samples(jfr):
    """(thread name, [method, ...] from the top frame down) per execution
    sample, streamed from `jfr print`."""
    proc = subprocess.Popen(["jfr", "print", "--events", "jdk.ExecutionSample",
                             "--stack-depth", "256", jfr],
                            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    thread, frames, in_stack = None, [], False
    for line in proc.stdout:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread = "):
            thread = s[len("sampledThread = "):].split('"')[1]
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
            yield thread, frames
        elif in_stack and s != "...":
            frames.append(s.split("(", 1)[0])
    if proc.wait() != 0:
        raise SystemExit(f"perfbench_profile: jfr print failed on {jfr}")


def report(jfr, top, prefix):
    total = 0
    self_count = collections.Counter()
    inclusive = collections.Counter()
    threads = 0
    for thread, frames in samples(jfr):
        threads += 1
        if not thread or not thread.startswith(prefix) or not frames:
            continue
        total += 1
        self_count[frames[0]] += 1
        inclusive.update({f for f in frames if f.startswith("graft.")})
    print(f"samples: {threads} in all, {total} on threads named '{prefix}...'")
    if total == 0:
        return
    print(f"\ntop {top} self frames (share of those samples):")
    for method, n in self_count.most_common(top):
        print(f"  {n / total:6.1%}  {n:6d}  {method}")
    print(f"\ngraft.* inclusive (share of those samples):")
    for method, n in inclusive.most_common(top):
        print(f"  {n / total:6.1%}  {n:6d}  {method}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--checkout", required=True, help="root of a checkout of the repository")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, help="run length; default: BENCHMARK.json's run_seconds")
    ap.add_argument("--top", type=int, default=25, help="rows per table (default 25)")
    ap.add_argument("--threads", default=EXECUTOR_THREAD,
                    help=f"report the threads whose name starts with this (default '{EXECUTOR_THREAD}'; "
                         "'main' for the driver's index build and broadcast)")
    ap.add_argument("--jfr", help="where to write the recording (default: a new temporary directory)")
    args = ap.parse_args()
    checkout = os.path.abspath(args.checkout)
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]
    jfr = os.path.abspath(args.jfr) if args.jfr else os.path.join(
        tempfile.mkdtemp(prefix="perfbench-profile-"), f"{args.workload}-seed{args.seed}.jfr")
    os.makedirs(os.path.dirname(jfr), exist_ok=True)
    repository = tempfile.mkdtemp(prefix="jfr-repository-", dir=os.path.dirname(jfr))

    build(checkout)
    try:
        result = record(checkout, args.workload, args.seed, seconds, jfr, repository)
    finally:
        shutil.rmtree(repository, ignore_errors=True)
    print(f"recording: {jfr}")
    report(jfr, args.top, args.threads)
    print(f"\nrun: correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']}")
    print(json.dumps(result["metrics"], sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
