#!/usr/bin/env python3
"""Paired A/B of two commits on the benchmark's end-to-end metrics.

    python3 perfbench/ab.py BASE CHANGE [--workloads w1,w2] [--pairs 10]
                            [--seconds S] [--seed N]

Exports each commit's tree (git archive) into .bench_build/perfbench/ab/,
puts the current perfbench/ and BENCHMARK.json into both, so both sides run
identical benchmark code, and runs the alternating-pairs protocol: pair i
runs BASE then CHANGE when i is even and CHANGE then BASE when it is odd,
both on seed N+i. For every workload and end-to-end metric it prints each
side's median and quartiles, the share of pairs CHANGE wins (ties count for
neither) and a verdict:

  improved    CHANGE wins at least 9 pairs in 10 and the medians differ by
              more than BASE's own spread (its interquartile distance);
  no worse    CHANGE's median is not worse than BASE's by more than the
              metric's bound from BENCHMARK.json;
  worse       CHANGE's median is worse by more than the bound;
  unresolved  BASE's spread is wider than the bound, and not every CHANGE
              run beats every BASE run.

Runs whose 1-minute load at start exceeded half the CPUs are counted and
reported per side. The full result is written next to the trees as JSON.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
AB = os.path.join(ROOT, ".bench_build", "perfbench", "ab")


def export(commit):
    """A tree of `commit` with the current benchmark code in it."""
    sha = subprocess.run(["git", "rev-parse", "--verify", commit + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    tree = os.path.join(AB, sha[:12])
    if not os.path.isdir(tree):
        tmp = tree + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        os.rename(tmp, tree)
    shutil.rmtree(os.path.join(tree, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(tree, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "target", ".bsp"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tree)
    return sha, tree


def run(tree, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed in {tree}: {' '.join(cmd)}\n{p.stderr[-3000:]}")
    result = json.loads(lines[-1])
    result["under_load"] = any(l.startswith("# started under load") for l in lines)
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(base, change, better, bound):
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
    q1, mb, q3 = quartiles(base)
    mc = statistics.median(change)
    worse_by = sign * (mb - mc) / abs(mb) if mb else 0.0
    if wins >= 0.9 * len(base) and abs(mc - mb) > q3 - q1:
        v = "improved"
    elif (q3 - q1) / abs(mb if mb else 1) > bound:
        beats_all = (min(change) > max(base)) if sign > 0 else (max(change) < min(base))
        v = "no worse" if beats_all else "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "no worse"
    return wins, v


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--seed", type=int, default=1000)
    a = ap.parse_args()
    (sha_a, tree_a), (sha_b, tree_b) = export(a.base), export(a.change)
    report = {"base": sha_a, "change": sha_b, "pairs": a.pairs, "seconds": a.seconds,
              "workloads": {}}
    print(f"base {sha_a[:12]}  change {sha_b[:12]}  {a.pairs} pairs, {a.seconds} s runs")
    for w in a.workloads.split(","):
        runs = {"base": [], "change": []}
        for i in range(a.pairs):
            order = [("base", tree_a), ("change", tree_b)]
            for side, tree in (order if i % 2 == 0 else order[::-1]):
                runs[side].append(run(tree, w, a.seed + i, a.seconds))
        rows = {}
        for m in spec["end_to_end"]:
            base = [r["metrics"][m["name"]]["value"] for r in runs["base"]]
            change = [r["metrics"][m["name"]]["value"] for r in runs["change"]]
            wins, v = verdict(base, change, m["better"], m["bound"])
            rows[m["name"]] = {"base": base, "change": change, "base_q": quartiles(base),
                               "change_q": quartiles(change), "wins": wins, "verdict": v}
            print(f"{w:16s} {m['name']:14s} base {quartiles(base)[1]:.4g} "
                  f"[{quartiles(base)[0]:.4g}, {quartiles(base)[2]:.4g}]  change "
                  f"{quartiles(change)[1]:.4g} [{quartiles(change)[0]:.4g}, "
                  f"{quartiles(change)[2]:.4g}] {m['unit']}  wins {wins}/{a.pairs}  {v}")
        loaded = {s: sum(r["under_load"] for r in rs) for s, rs in runs.items()}
        failed = {s: sum(r["failed"] for r in rs) for s, rs in runs.items()}
        print(f"{w:16s} runs started under load: base {loaded['base']}, change "
              f"{loaded['change']}; failed calls: base {failed['base']}, change {failed['change']}")
        report["workloads"][w] = {"metrics": rows, "under_load": loaded, "failed": failed}
    out = os.path.join(AB, f"{sha_a[:12]}-{sha_b[:12]}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"written {out}")


if __name__ == "__main__":
    main()
