#!/usr/bin/env python3
"""Benchmark of the graft validation engine.

One run (what BENCHMARK.json's command does):

    python3 perfbench/run.py --workload validate --seed 1 --seconds 3 --trace 0

builds the program and the benchmark from source if needed (build.py), starts
one JVM with one Spark session at nproc task threads, makes the seeded inputs,
runs the workload's operations for --seconds and prints one JSON result line
last. --trace 1 prints the per-layer metrics instead and writes the spans and
Spark jobs to .bench_build/trace-<workload>-<seed>.json.

Steadiness mode runs every workload ten times, one seed per run, and prints
each metric's run-to-run median, quartiles and spread, then runs the first
seed once more traced and prints the tracing overhead against its untraced
run:

    python3 perfbench/run.py --steadiness --seconds 3
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import build

WORKLOADS = ["validate", "append-revalidate", "corpus-clean"]
RUN_TIMEOUT_S = 170
STEADINESS_RUNS = 10


def run_once(workload, seed, seconds, trace, threads):
    out = build.build()
    work = os.path.join(build.BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java(out, "perfbench.Main", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--threads", str(threads), "--work", work,
        "--repo", build.ROOT,
        "--trace-out", os.path.join(build.BUILD, f"trace-{workload}-{seed}.json"),
    ], [f"-XX:SharedArchiveFile={build.archive(out)}"])
    try:
        return subprocess.run(cmd, timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_child(workload, seed, seconds, trace):
    """One run in a child process: (exit code, stdout lines, stderr)."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=RUN_TIMEOUT_S + 60)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def steadiness(seconds, seed0):
    """Runs each workload STEADINESS_RUNS times with seeds seed0, seed0+1,
    ... and prints, per metric, median, quartiles and (Q3 - Q1) / median.
    Then runs seed0 traced and prints, per end-to-end metric, the traced
    value against the untraced one of the same seed."""
    for w in WORKLOADS:
        values, phases, fails, walls, steal = {}, {}, [], [], []
        first = None
        for i in range(STEADINESS_RUNS):
            t0, c0 = time.time(), cpu_ticks()
            code, lines, err = run_child(w, seed0 + i, seconds, 0)
            walls.append(time.time() - t0)
            c1 = cpu_ticks()
            steal.append((c1[0] - c0[0]) / max(1, c1[1] - c0[1]))
            if code != 0 or not lines:
                print(f"{w} seed {seed0 + i}: exit {code}\n{err[-2000:]}")
                continue
            res = json.loads(lines[-1])
            if i == 0:
                first = res["metrics"]
            fails.append((res["correct"], res["attempted"], res["failed"]))
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            for line in lines:
                if line.startswith("phases "):
                    for k, v in json.loads(line[len("phases "):]).items():
                        phases.setdefault(k, []).append(v)
        print(f"== {w}: {len(fails)} runs, (correct, attempted, failed) = {fails}")
        print(f"run wall s: median {statistics.median(walls):.1f} max {max(walls):.1f}; "
              f"CPU time stolen by the host: {[f'{x:.1%}' for x in steal]}")
        for kind, table in (("metric", values), ("phase", phases)):
            for k, vs in sorted(table.items()):
                if len(vs) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vs, n=4)
                print(f"{kind} {k:20s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                      f"spread {(q3 - q1) / med:7.4f}  values {[round(v, 4) for v in vs]}")
        code, lines, err = run_child(w, seed0, seconds, 1)
        traced = [json.loads(x[len("e2e "):]) for x in lines if x.startswith("e2e ")]
        if code != 0 or not traced or first is None:
            print(f"{w} seed {seed0} traced: exit {code}\n{err[-2000:]}")
        else:
            for k, v in sorted(traced[0].items()):
                print(f"overhead {k:20s} traced {v:12.4f}  untraced {first[k]['value']:12.4f}  "
                      f"{v / first[k]['value'] - 1:+.1%}")
        sys.stdout.flush()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=3)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--threads", type=int, default=build.threads(),
                    help="Spark task threads, at most nproc (default nproc)")
    ap.add_argument("--steadiness", action="store_true")
    a = ap.parse_args()
    try:
        if a.steadiness:
            steadiness(a.seconds, a.seed)
            return 0
        if not a.workload:
            ap.error("--workload is required")
        if not 1 <= a.threads <= build.threads():
            ap.error(f"--threads must be 1 to {build.threads()}")
        return run_once(a.workload, a.seed, a.seconds, a.trace, a.threads)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
