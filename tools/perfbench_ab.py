#!/usr/bin/env python3
"""A/B of spatial-join benchmark workloads between two checkouts.

Usage:

    python3 tools/perfbench_ab.py --parent DIR --change DIR --workload W[,W...] --pairs N

For seeds 1..N and each workload W, runs `python3 perfbench/run.py
--workload W --seed i --seconds S --trace 0` once in each checkout,
switching which side runs first on each pair, and reads the last JSON
line of each run. Several workloads run interleaved: pair i runs every
workload's pair i before pair i+1 starts, so drift of the host's speed
spreads over all of them. One summary block is printed per workload. S and the
end-to-end metrics are the `run_seconds` and `end_to_end` of the change's
BENCHMARK.json. Records the host's one-minute load average (load1) just
before each run. Prints every run with its load1, then per end-to-end
metric both sides' q1/median/q3, on how many pairs the change was
better, and the change of the median (relative to the parent's median)
beside the metric's `bound`. A metric is marked `WORSE` when its median
moved the wrong way by more than the bound, and `unresolved` when the
parent's own q1-q3 spread (relative to its median) is wider than the
bound, so that the runs cannot tell a change within the bound from
noise, unless every run of the change reads better than every run of
the parent. Then per side it prints how many runs were correct, how many
operations failed and the range of load1 its runs started at. Each checkout builds
its own `target/` on its first run. Exits non-zero when a run gives no
result line.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

def benchmark_of(checkout):
    """The run length and the (name, better, bound) end-to-end metrics of BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return bench["run_seconds"], [(m["name"], m["better"], m["bound"]) for m in bench["end_to_end"]]


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True)
    lines = [line for line in res.stdout.split("\n") if line.strip()]
    if res.returncode != 0 or not lines:
        raise SystemExit(f"perfbench_ab: {checkout} seed {seed} failed (exit {res.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """The relative change of the median and its marks: `WORSE` past the
    bound, `unresolved` when the parent's q1-q3 spread is wider than the
    bound and not every run of the change beats every run of the parent."""
    q1, median, q3 = quartiles(parent)
    if median == 0:
        return float("nan"), ["unresolved"]
    moved = (quartiles(change)[1] - median) / abs(median)
    worse = moved if better == "lower" else -moved
    all_better = max(change) < min(parent) if better == "lower" else min(change) > max(parent)
    marks = []
    if worse > bound:
        marks.append("WORSE")
    if (q3 - q1) / abs(median) > bound and not all_better:
        marks.append("unresolved")
    return moved, marks or ["ok"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True, help="a workload, or a comma list of them")
    ap.add_argument("--pairs", required=True, type=int)
    args = ap.parse_args()
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    seconds, metrics = benchmark_of(sides["change"])
    workloads = [w.strip() for w in args.workload.split(",") if w.strip()]
    if not workloads:
        ap.error("--workload names no workload")
    results = {w: {"parent": [], "change": []} for w in workloads}
    for seed in range(1, args.pairs + 1):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for workload in workloads:
            for side in order:
                load1 = os.getloadavg()[0]
                r = run(sides[side], workload, seed, seconds)
                r["load1"] = load1
                results[workload][side].append(r)
                print(f"{workload} seed {seed} {side:6} load1={load1:.2f} "
                      f"correct={r['correct']} failed={r['failed']}/{r['attempted']} "
                      + " ".join(f"{k}={m['value']:.4g}" for k, m in sorted(r["metrics"].items())),
                      flush=True)
    for workload in workloads:
        summarize(workload, results[workload], metrics, args.pairs)
    return 0


def summarize(workload, results, metrics, pairs):
    """Prints one workload's block: per end-to-end metric both sides'
    quartiles, the change's wins and verdict, then per side its correct
    runs, failed operations and load1 range."""
    print(f"\n{workload}, {pairs} pairs: parent q1/median/q3 -> change q1/median/q3, "
          "change better, median change (bound), verdict")
    for name, better, bound in metrics:
        p = [r["metrics"][name]["value"] for r in results["parent"]]
        c = [r["metrics"][name]["value"] for r in results["change"]]
        wins = sum((cv < pv) if better == "lower" else (cv > pv) for pv, cv in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        moved, marks = verdict(p, c, better, bound)
        print(f"  {name:13} " + "/".join(f"{x:.4g}" for x in pq) + " -> "
              + "/".join(f"{x:.4g}" for x in cq) + f"  {wins}/{pairs}"
              + f"  {moved:+.1%} ({bound:.0%})  {', '.join(marks)}")
    for side in ("parent", "change"):
        rs = results[side]
        loads = [r["load1"] for r in rs]
        print(f"  {side}: {sum(bool(r['correct']) for r in rs)}/{len(rs)} runs correct, "
              f"{sum(r['failed'] for r in rs)} of {sum(r['attempted'] for r in rs)} operations failed, "
              f"load1 {min(loads):.2f}-{max(loads):.2f}")


if __name__ == "__main__":
    sys.exit(main())
