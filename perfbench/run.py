#!/usr/bin/env python3
"""Benchmark of the graft DP engine: one command, one workload per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout, with sbt on PATH. The first run
builds the harness package (perfbench/build.sbt), which compiles the engine
through the repository's own build.sbt; later runs rebuild only when a
source or build file is newer than the last build. The query mixes read
the sf0.1 tables in perfbench/sf0.1; dp_large_skewed reads a table that
gendata.py generates from the seed. Inputs and run records stay under
.bench_build/perfbench/.

Prints the run's metrics one per line, then, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. See
perfbench/README.md for what each workload and metric is.
"""
import argparse
import contextlib
import glob
import importlib.util
import io
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

WORKLOADS = ("dp_small_mix", "dp_large_skewed", "corpus_mix")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


# One vCPU stays free for the driver, GC and the OS. On all four vCPUs of
# the 4-vCPU VM this was measured on, a run slowed by up to 30% whenever
# the hypervisor stole a few percent of CPU time; on three it did not.
CORES = max(1, min(4, os.cpu_count() or 1) - 1)
DEADLINE_S = 170           # a run must end within 180 s
KEEP_SEEDS = 3             # generated input sets kept in the checkout
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---------------------------------------------------------------- build --

def newest_mtime(root, patterns):
    return max((os.path.getmtime(p) for pat in patterns
                for p in glob.glob(os.path.join(root, pat), recursive=True)), default=0.0)


def build():
    """Builds the harness and the engine with sbt unless no source or build
    file changed since the last build; returns the run's class path."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True):
        fail("no build.sbt and engine sources here: run from the root of a checkout")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    stamp = os.path.join(WORK, "classpath.txt")
    inputs_mtime = max(newest_mtime(ROOT, ["build.sbt", "project/*.*", "src/main/**/*"]),
                       newest_mtime(HERE, ["build.sbt", "project/*.*", "scala/**/*.scala"]))
    classpath = ""
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= inputs_mtime:
        with open(stamp) as f:
            classpath = f.read().strip()
    if not classpath or not all(os.path.exists(p) for p in classpath.split(":")):
        os.makedirs(WORK, exist_ok=True)
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as f:
            p = subprocess.run(["sbt", "-batch", "export Runtime/fullClasspath"], cwd=HERE,
                               stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, text=True)
            f.write(p.stdout)
        lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-3000:])
            fail(f"build failed (log: {log})")
        classpath = lines[-1].strip()
        with open(stamp, "w") as f:
            f.write(classpath)
    return classpath


# ----------------------------------------------------------------- data --

def contrib_inputs(seed):
    """The dp_large_skewed table for `seed`, generated once and kept for the
    last few seeds."""
    data = os.path.join(WORK, "data", f"seed-{seed}")
    if not os.path.isdir(data):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gendata.py"), str(seed), tmp],
                       check=True, stdout=subprocess.DEVNULL)
        os.rename(tmp, data)
        kept = sorted(glob.glob(os.path.join(WORK, "data", "seed-*")), key=os.path.getmtime)
        for old in kept[:-KEEP_SEEDS]:
            shutil.rmtree(old, ignore_errors=True)
    os.utime(data)
    with open(os.path.join(data, "stats.json")) as f:
        return data, json.load(f)


# ---------------------------------------------------------- environment --

def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def env_sample():
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"load1": load1, "cpu": cpu_times()}


def steal_frac(a, b):
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except OSError:
        return None


# -------------------------------------------------------------- oracle --

def oracle_failures(tables, out_dir):
    """Runs tools/oracle_check.py (the repo's DuckDB oracle rule) on the
    first-pass outputs and returns the names it did not pass."""
    path = os.path.join(ROOT, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(tables, out_dir)
    verdicts = dict(re.findall(r"^  (\S+): (.*)$", buf.getvalue(), re.M))
    names = [n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))]
    return {n: verdicts.get(n, "MISSING") for n in names
            if not verdicts.get(n, "").startswith("PASS")
            and "PASS(rows>0)" not in verdicts.get(n, "")}


# ------------------------------------------------------------- metrics --

def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_op(calls):
    """Latencies (construct + plan + execute) of the successful calls, by operation."""
    by = {}
    for c in calls:
        if c["ok"]:
            by.setdefault(c["name"], []).append(c["build_s"] + c["run_s"])
    return by


def mix_median(by):
    """Median latency of a call drawn from the mix with every operation
    equally likely: each call weighs 1 / (operations x its operation's
    calls), so a partial last pass does not tilt the mix."""
    pts = sorted((x, 1.0 / (len(by) * len(xs))) for xs in by.values() for x in xs)
    acc = 0.0
    for i, (x, w) in enumerate(pts):
        acc += w
        if acc >= 0.5 - 1e-12:
            # exactly half below: average with the next value, as a median does
            return (x + pts[i + 1][0]) / 2 if abs(acc - 0.5) < 1e-12 and i + 1 < len(pts) else x
    return pts[-1][0] if pts else 0.0


def end_to_end(rec, stats):
    # The loop stops at a deadline, so the last pass is partial. Summarizing
    # per operation first keeps the metrics independent of which operations
    # that partial pass reached.
    by = per_op(rec["calls"])
    lat = sorted(x for xs in by.values() for x in xs)
    medians = [median(xs) for xs in by.values()]
    m = {
        "setup_s": (rec["setup_s"], "s"),
        "query_gmean_s": (math.exp(mean([math.log(x) for x in medians])) if medians else 0.0, "s"),
        "queries_per_s": (len(medians) / sum(medians) if medians else 0.0, "1/s"),
    }
    extra = {"query_p50_s": (mix_median(by), "s"),
             "retained_storage_mb": (rec["retained_storage_mb"], "MB")}
    if len(lat) >= 100:
        extra["query_p90_s"] = (statistics.quantiles(lat, n=10)[-1], "s")
    if rec["workload"] == "dp_large_skewed":
        extra["input_rows_per_s"] = (stats["rows"] * m["queries_per_s"][0], "rows/s")
        errs = [c["figures"]["rel_error"] for c in rec["calls"]
                if c["ok"] and "rel_error" in c["figures"]]
        extra["rel_error_p50"] = (median(errs), "ratio")
    return m, extra, len(lat)


def per_layer(rec, stats):
    tr = [c for c in rec["calls"] if c.get("traced") and c["ok"]]
    large = rec["workload"] == "dp_large_skewed"

    def avg(key):
        return mean([c.get(key, 0.0) for c in tr])

    def lap(key):
        return mean([c["laps"].get(key, 0.0) for c in tr])

    # every traced call has an untraced twin in the same pass
    twins = {True: 0.0, False: 0.0}
    for c in rec["calls"]:
        twins[bool(c.get("traced"))] += c["build_s"] + c.get("run_s", 0.0)
    skew_den = sum(c.get("stage_mean_run_s", 0) for c in tr)
    acct = [c["laps"]["accounting"] for c in tr if "accounting" in c["laps"]]
    m = {
        "entry.construct_s": (lap("entry"), "s"),
        "entry.construct_jobs": (avg("build_jobs"), "count"),
        "catalyst.analysis_s": (avg("analysis_s"), "s"),
        "catalyst.optimization_s": (avg("optimization_s"), "s"),
        "catalyst.planning_s": (avg("planning_s"), "s"),
        "catalyst.physical_nodes": (avg("physical_nodes"), "count"),
        "exec.jobs": (avg("jobs"), "count"),
        "exec.stages": (avg("stages"), "count"),
        "exec.tasks": (avg("tasks"), "count"),
        "exec.driver_gap_s": (mean([c["run_s"] - c["job_union_s"] for c in tr]), "s"),
        "exec.task_overhead_s": (avg("task_overhead_s"), "s"),
        "exec.action_s": (avg("run_s"), "s"),
        "exec.input_records": (avg("input_records"), "count"),
        "exec.shuffle_write_records": (avg("shuffle_write_records"), "count"),
        "exec.shuffle_read_records": (avg("shuffle_read_records"), "count"),
        "exec.shuffle_write_bytes": (avg("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (avg("spill_bytes"), "bytes"),
        "exec.executor_cpu_s": (avg("executor_cpu_s"), "s"),
        "exec.gc_s": (avg("gc_s"), "s"),
        "exec.task_skew": (sum(c.get("stage_max_run_s", 0) for c in tr) / skew_den
                           if skew_den > 0 else 1.0, "ratio"),
        "pin.rdds_persisted": (avg("pins_added"), "count"),
        "pin.storage_mb_added": (avg("storage_mb_added"), "MB"),
        "pin.rdds_alive_end": (rec["rdds_alive_end"], "count"),
        "dp.call_s": (lap("dp"), "s"),
        "dp.release_exec_s": (avg("run_s") if large else 0.0, "s"),
        "dp.partitions_released_frac": (
            mean([c["figures"].get("released_frac", 0.0) for c in tr]) if large else 0.0, "ratio"),
        "dp.shuffle_records_per_input_row": (
            avg("shuffle_write_records") / stats["rows"] if large else 0.0, "ratio"),
        "accounting.compute_budgets_s": (
            mean(acct) if acct else (rec.get("accounting_probe_s") or 0.0), "s"),
        "trace.overhead_frac": (twins[True] / twins[False] - 1 if twins[False] else 0.0, "ratio"),
    }
    # fixed cost: construction, Catalyst and the driver's time between jobs
    busy = sum(c["build_s"] + c["run_s"] for c in tr)
    fixed = sum(c["laps"].get("entry", 0) + c.get("analysis_s", 0) + c.get("optimization_s", 0)
                + c.get("planning_s", 0) + c["run_s"] - c["job_union_s"] for c in tr)
    extra = {"fixed_cost_share": (fixed / busy if busy else 0.0, "ratio")}
    return m, extra


COUNT_KEYS = ("build_jobs", "jobs", "stages", "tasks", "shuffle_write_records",
              "shuffle_read_records", "input_records", "physical_nodes", "pins_added")


def exact_counts(rec):
    """Counts of the first traced call of each operation and of each probe."""
    counts = {}
    for c in rec["calls"] + [dict(p, name="probe:" + p["name"]) for p in rec["probes"]]:
        if (c.get("traced") or c["name"].startswith("probe:")) and c["name"] not in counts \
                and "jobs" in c:
            counts[c["name"]] = {k: c.get(k) for k in COUNT_KEYS}
    return counts


# ---------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    t_start = time.time()
    env0 = env_sample()

    classpath = build()
    t_built = time.time()  # the 180 s limit excludes a first run's build
    if a.workload == "dp_large_skewed":
        data, stats = contrib_inputs(a.seed)
    else:
        data, stats = os.path.join(HERE, "sf0.1"), {}
    out = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    log = out + ".log"
    launched = time.time()  # set-up is timed from the JVM's launch
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss8m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              "-cp", classpath, "perfbench.PerfBench",
              "--workload", a.workload, "--data", data, "--out", out, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(CORES),
              "--launched-at", repr(launched)])
    try:
        with open(log, "w") as f:
            proc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                  timeout=max(10, DEADLINE_S - (time.time() - t_built)))
    except subprocess.TimeoutExpired:
        fail(f"the run did not finish within {DEADLINE_S} s (log: {log})")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(os.path.join(out, "record.json")):
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"the JVM exited with {proc.returncode} (log: {log})")
    with open(os.path.join(out, "record.json")) as f:
        rec = json.load(f)

    # attempted: every loop call, plus every operation of the first pass
    # (the mixes' outputs for the DuckDB oracle) and of the warm round
    first = {f["name"]: f["error"] for f in rec["first_pass"] if f.get("error")}
    if a.workload != "dp_large_skewed":
        first.update(oracle_failures(data, os.path.join(out, "oracle")))
    warm = {f["name"]: f["error"] for f in rec["warm_round"] if f.get("error")}
    loop_failed = [c for c in rec["calls"] if not c["ok"]]
    attempted = len(rec["calls"]) + len(rec["first_pass"]) + len(rec["warm_round"])
    failed = len(loop_failed) + len(first) + len(warm)
    failures = {f"{n} (first pass)": e for n, e in first.items()}
    failures.update({f"{n} (warm round)": e for n, e in warm.items()})
    failures.update({f"{c['name']} (loop)": c["error"] for c in loop_failed})

    if a.trace:
        metrics, extra = per_layer(rec, stats)
        samples = sum(1 for c in rec["calls"] if c.get("traced"))
    else:
        metrics, extra, samples = end_to_end(rec, stats)
    extra["failed_frac"] = (failed / attempted if attempted else 1.0, "ratio")

    env1 = env_sample()
    env = {
        "nproc": os.cpu_count(), "cores_used": CORES,
        "load1_start": env0["load1"], "load1_end": env1["load1"],
        "steal_frac": steal_frac(env0, env1),
        "started_under_load": env0["load1"] > 0.5 * (os.cpu_count() or 1),
        "git_commit": git_commit(), "seed": a.seed,
        "java_version": rec["java_version"], "spark_version": rec["spark_version"],
        "wall_s": time.time() - t_start,
    }
    summary = {
        "workload": a.workload, "trace": a.trace, "env": env, "input": stats,
        "metrics": {k: v[0] for k, v in metrics.items()},
        "extra": {k: v[0] for k, v in extra.items()},
        "samples": samples, "passes": rec["passes"],
        "prepare_s": rec["prepare_s"], "failures": failures,
        "counts": exact_counts(rec) if a.trace else {},
        "probes": rec["probes"],
    }
    with open(out + ".json", "w") as f:
        json.dump(summary, f, indent=1)

    if env["started_under_load"]:
        print(f"# started under load: 1-min load {env0['load1']} on {os.cpu_count()} CPUs")
    print("# env " + json.dumps(env))
    if stats:
        print(f"# input {json.dumps(stats)}")
    for k, (v, unit) in list(metrics.items()) + list(extra.items()):
        print(f"{k} {v:.6g} {unit}")
    for p in rec["probes"]:
        print(f"probe {p['name']}: exec.jobs={p.get('build_jobs', 0) + p.get('jobs', 0)} "
              f"(construct {p.get('build_jobs', 0)}) shuffle_write_records="
              f"{p.get('build_shuffle_write_records', 0) + p.get('shuffle_write_records', 0)} "
              f"shuffle_read_records="
              f"{p.get('build_shuffle_read_records', 0) + p.get('shuffle_read_records', 0)}")
    for n, e in sorted(failures.items()):
        print(f"# FAILED {n}: {e}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
