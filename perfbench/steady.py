#!/usr/bin/env python3
"""Steadiness check for one workload of the benchmark.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--seed 1]

Runs the workload `--runs` times untraced, each with its own seed and the
`run_seconds` of BENCHMARK.json, and prints every end-to-end metric's
median, quartiles and spread ((q3 - q1) / median, from
statistics.quantiles(n=4)) against its bound. A spread must stay within a
third of the bound; setup_s is reported but exempt. Then makes two traced
runs with the first two seeds, asserts that the count metrics repeat
exactly, and prints the tracing overhead (traced minus untraced run_s,
medians). Exits nonzero when a run fails or is incorrect, a spread exceeds
its allowance, or a count moves.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT_PREFIXES = ("queries.construct_jobs", "jobs.construct_jobs",
                  "sinks.jobs", "sinks.output_files", "streaming.input_rows",
                  "streaming.flagged_rows", "dim.")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        sys.exit(f"{workload} seed {seed}: incorrect or failed: {lines[-1][:300]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    seconds = bench["run_seconds"]
    seeds = range(args.seed, args.seed + args.runs)
    ok = True

    untraced = [run(args.workload, s, seconds, 0) for s in seeds]
    print(f"{args.workload}: {args.runs} untraced runs, seeds {seeds.start}..{seeds.stop - 1}")
    for m in bench["end_to_end"]:
        vals = [r[m["name"]] for r in untraced]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        spread = (q3 - q1) / med
        allowance = m["bound"] / 3
        exempt = m["name"] == "setup_s"
        verdict = "exempt" if exempt else ("ok" if spread <= allowance else "TOO WIDE")
        ok &= exempt or spread <= allowance
        print(f"  {m['name']:16s} median {med:9.4f} {m['unit']:3s} q1 {q1:9.4f} "
              f"q3 {q3:9.4f} spread {spread:6.3f} bound {m['bound']:.2f} "
              f"(allow {allowance:.3f}) {verdict}")
        print("    values " + " ".join(f"{v:.3f}" for v in vals))

    traced = [run(args.workload, s, seconds, 1) for s in list(seeds)[:2]]
    moved = [k for k in sorted(traced[0]) if k.startswith(EXACT_PREFIXES)
             and len({t[k] for t in traced}) != 1]
    for k in moved:
        print(f"  count {k} moved across runs: {[t[k] for t in traced]}")
    ok &= not moved
    overhead = (statistics.median(t["trace.run_s"] for t in traced)
                - statistics.median(r["run_s"] for r in untraced))
    print(f"  tracing overhead (traced - untraced run_s): {overhead:+.3f} s")
    print("  counts " + ("moved, see above" if moved else "repeat exactly"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
