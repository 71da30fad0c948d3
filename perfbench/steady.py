#!/usr/bin/env python3
"""Steadiness check: run one workload K times with different seeds and
report, per end-to-end metric, the median, the quartiles and the
quartile spread as a share of the median.

Usage:
  python3 perfbench/steady.py --workload W [--runs 10] [--seconds S]
                              [--first-seed 1] [--json out.json]

A metric is steady when its spread is within a tenth of its median;
the table also shows the spread against the metric's bound from
BENCHMARK.json: a run set passes under the bound, and a third of it
leaves room. Quartiles are Python's statistics.quantiles(n=4).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--json")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    values, failures = {}, 0
    for i in range(args.runs):
        seed = args.first_seed + i
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            failures += 1
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            if not lines:
                continue
        res = json.loads(lines[-1])
        failures += 0 if res["correct"] else 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              file=sys.stderr)

    rows = {}
    print(f"{args.workload}: {args.runs} runs of {seconds:g} s, {failures} failed")
    print(f"{'metric':<22} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}  steady")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        verdict = "yes" if spread <= 0.1 else "no"
        if b is not None and k != "setup_s":
            verdict += "" if spread <= b / 3 else (" (under bound)" if spread <= b else " (OVER bound)")
        rows[k] = {"values": vs, "median": med, "q1": q1, "q3": q3, "spread": spread}
        print(f"{k:<22} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {spread:>7.3f} {b if b is not None else '-':>6}  {verdict}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"workload": args.workload, "seconds": seconds, "failed_runs": failures,
                       "metrics": rows}, fh, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
