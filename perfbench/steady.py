#!/usr/bin/env python3
"""Steadiness evidence for the benchmark.

Runs each workload `--runs` times with seeds 1..runs (untraced), then
`--traced` more times with tracing on, and prints for every end-to-end
metric its median, first and third quartile (statistics.quantiles,
n=4) and the spread (q3 - q1) / median, next to the bound in
BENCHMARK.json and a third of it, the target a steady metric meets. The
traced runs give the tracing overhead: the traced median of each
end-to-end metric against the untraced one. Run from the root of a
checkout:

    python3 perfbench/steady.py --runs 10 --traced 2
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

LINE = re.compile(r"^(\S+)\s+(\S+)\s+(-?[0-9.]+)\s+(\S+)\s+n=(\d+)$")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out:
        sys.stderr.write(p.stderr[-3000:] + p.stdout[-3000:])
        sys.exit(f"{workload} seed {seed}: exit code {p.returncode}")
    res = json.loads(out[-1])
    every = {m.group(2): float(m.group(3)) for m in map(LINE.match, out[:-1]) if m}
    return res, every


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    seconds = spec["run_seconds"]
    for w in [w["name"] for w in spec["workloads"]]:
        vals = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in range(1, args.runs + 1):
            res, every = run(w, seed, seconds, 0)
            assert res["correct"], f"{w} seed {seed}: {res}"
            for k in vals:
                vals[k].append(res["metrics"][k]["value"])
            print(f"{w} seed={seed} " + " ".join(f"{k}={v[-1]:.4g}" for k, v in vals.items()) +
                  f" steal={every['host.steal_share']:.3f}", flush=True)
        traced = {m["name"]: [] for m in spec["end_to_end"]}
        covers = []
        for seed in range(1, args.traced + 1):
            res, every = run(w, seed, seconds, 1)
            assert res["correct"], f"{w} seed {seed} traced: {res}"
            for k in traced:
                traced[k].append(every[k])
            covers.append(every["trace.cover_share"])
            print(f"{w} seed={seed} traced cover={covers[-1]:.3f}", flush=True)
        print(f"\n{w}: {args.runs} runs of {seconds} s")
        if covers:
            print(f"  trace.cover_share: min {min(covers):.3f} over {len(covers)} traced runs")
        print(f"  {'metric':12s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} "
              f"{'bound':>6s} {'bound/3':>8s} {'traced':>9s}")
        for m in spec["end_to_end"]:
            xs = vals[m["name"]]
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            over = ""
            if traced[m["name"]]:
                over = f"{statistics.median(traced[m['name']]) / med - 1:+.1%}"
            flag = "" if spread < m["bound"] / 3 or m["name"] == "setup_s" else "  WIDE"
            print(f"  {m['name']:12s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.2%} "
                  f"{m['bound']:6.2f} {m['bound'] / 3:8.3f} {over:>9s}{flag}")
        print(flush=True)


if __name__ == "__main__":
    main()
