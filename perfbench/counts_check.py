#!/usr/bin/env python3
"""Do the traced run's counts repeat exactly?

    python3 perfbench/counts_check.py --workload W --seed N [--seconds S]

Makes two traced runs of one workload on one seed and compares, for every
operation and probe, the counts of its first traced call: jobs (of
construction and of the action), stages, tasks, input and shuffle records,
physical plan nodes and pinned RDDs. A count that differs between the two
runs is listed as not claimable: a change may not rest a claim on it.
Exits 1 when any count differs.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(os.getcwd(), ".bench_build", "perfbench", "runs")


def traced_counts(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"traced run failed:\n{p.stderr[-3000:]}")
    with open(os.path.join(RUNS, f"{workload}-s{seed}-t1.json")) as f:
        return json.load(f)["counts"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    a = ap.parse_args()
    first = traced_counts(a.workload, a.seed, a.seconds)
    second = traced_counts(a.workload, a.seed, a.seconds)
    unstable = {}
    for op in sorted(set(first) | set(second)):
        x, y = first.get(op, {}), second.get(op, {})
        for k in sorted(set(x) | set(y)):
            if x.get(k) != y.get(k):
                unstable.setdefault(k, []).append(f"{op}: {x.get(k)} vs {y.get(k)}")
    keys = sorted({k for c in first.values() for k in c})
    for k in keys:
        if k in unstable:
            print(f"{k:24s} NOT CLAIMABLE  " + "; ".join(unstable[k]))
        else:
            print(f"{k:24s} repeats exactly over {len(first)} operations")
    report = {"workload": a.workload, "seed": a.seed, "first": first, "second": second,
              "not_claimable": unstable}
    with open(os.path.join(RUNS, f"counts-{a.workload}-s{a.seed}.json"), "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(1 if unstable else 0)


if __name__ == "__main__":
    main()
