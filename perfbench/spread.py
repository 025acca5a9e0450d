#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

  python3 perfbench/spread.py <workload> <seeds> [--seconds S] [--first-seed N]

Runs the benchmark once per seed (seeds N .. N+seeds-1, one after
another), then prints for each end-to-end metric its median and the
distance between the first and third quartile as a share of the median,
next to the metric's bound in BENCHMARK.json. A spread above a third of
its bound is flagged. Run from the root of a checkout.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("seeds", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {}
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           capture_output=True, text=True)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: exit {p.returncode} correct {last['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else "  <-- above bound/3"
        print(f"{k:14s} median {med:10.4g}  iqr/median {spread:6.3f}  bound {b}{flag}")


if __name__ == "__main__":
    main()
