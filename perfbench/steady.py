#!/usr/bin/env python3
"""Run each workload repeatedly and report every metric's median and quartiles.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workloads a,b]
                                [--seconds S] [--trace 0|1] [--json out.json]

Run from the repository root. Each run uses the next seed. For each
workload and metric it prints the median, the first and third quartiles
(as `statistics.quantiles(values, n=4)` gives them) and the spread: the
distance between the quartiles as a share of the median, beside the
metric's bound from BENCHMARK.json. It also prints the share of failed
operations of every run, which must be the same in all of them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="also write every run's result to this file")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    record = {}
    worst = 0.0
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds),
                                "--trace", str(a.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                sys.exit(f"{w} seed {seed}: run failed with code {p.returncode}")
            detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
            if not result["correct"]:
                sys.exit(f"{w} seed {seed}: a correctness check failed")
            runs.append({"seed": seed, "result": result, "detail": detail})
            share = result["failed"] / result["attempted"]
            print(f"{w} seed {seed}: {time.monotonic() - t0:.1f} s, attempted {result['attempted']}, "
                  f"failed {result['failed']} (share {share:.6f}), "
                  f"external load {detail['external_load_cores']:.2f} cores", file=sys.stderr)
        record[w] = runs
        print(f"\n{w}  ({a.runs} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1})")
        print(f"  {'metric':40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for name in runs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds.get(name) if a.trace == 0 else None
            if bound is not None:
                worst = max(worst, spread / bound)
            print(f"  {name:40} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.4f} "
                  f"{'' if bound is None else bound:>6}")
        shares = sorted({r["result"]["failed"] / r["result"]["attempted"] for r in runs})
        print(f"  failed share per run: {', '.join(f'{s:.6f}' for s in shares)}")
    if a.trace == 0:
        print(f"\nlargest spread as a share of its bound: {worst:.3f}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
