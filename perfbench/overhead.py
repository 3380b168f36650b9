#!/usr/bin/env python3
"""Tracing overhead: run a workload untraced and traced on the same seeds.

    python3 perfbench/overhead.py --workload <name> --seeds 1,2,3 [--seconds 18]

For each seed it runs perfbench/run.py with --trace 0 and then --trace 1,
and compares the traced twins (trace.build_s, trace.read_p50_s) with the
untraced figures (build_s, read_p50_s). It prints one line per seed and
the median overhead in percent, and exits non-zero if any run failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
PAIRS = [("build_s", "trace.build_s"), ("read_p50_s", "trace.read_p50_s")]


def run(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", trace],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"overhead: {workload} seed {seed} trace {trace} exited {out.returncode}")
    return {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, default=18)
    a = ap.parse_args()
    shares = {plain: [] for plain, _ in PAIRS}
    for seed in (int(s) for s in a.seeds.split(",")):
        plain, traced = run(a.workload, seed, a.seconds, "0"), run(a.workload, seed, a.seconds, "1")
        cells = []
        for p, t in PAIRS:
            share = traced[t] / plain[p] - 1
            shares[p].append(share)
            cells.append(f"{p} {plain[p]:.3f} -> {traced[t]:.3f} s ({100 * share:+.1f}%)")
        print(f"seed {seed}: " + "; ".join(cells) +
              f"; listener {traced['trace.listener_s']:.3f} s", flush=True)
    for p, xs in shares.items():
        print(f"{a.workload} {p}: median tracing overhead {100 * statistics.median(xs):+.1f}% "
              f"over {len(xs)} seed(s)")


if __name__ == "__main__":
    main()
