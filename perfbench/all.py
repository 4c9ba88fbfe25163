#!/usr/bin/env python3
"""Run every benchmarked workload once and print its end-to-end metrics.

    python3 perfbench/all.py [--seed N] [--trace 0|1]

From the root of a graft checkout. Prints one row per metric with its
unit and the value on each workload, then the error rate (failed ÷
attempted operations) and whether every output check passed. Exits
non-zero if any workload fails or reports an incorrect output.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import metrics  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    results = {}
    for w in metrics.WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(metrics.RUN_SECONDS),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            print(f"{w}: run failed (exit {out.returncode})", file=sys.stderr)
            return 1
        results[w] = json.loads(out.stdout.strip().splitlines()[-1])
    defs = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    print("| metric | unit | " + " | ".join(metrics.WORKLOADS) + " |")
    print("|---|---|" + "---|" * len(metrics.WORKLOADS))
    for name, unit, *_ in defs:
        vals = [f"{results[w]['metrics'][name]['value']:.6g}" for w in metrics.WORKLOADS]
        print(f"| {name} | {unit} | " + " | ".join(vals) + " |")
    rates = [f"{r['failed'] / r['attempted']:.6g}" for r in results.values()]
    print("| error_rate | share | " + " | ".join(rates) + " |")
    print("| correct | - | " + " | ".join(str(r["correct"]) for r in results.values()) + " |")
    return 0 if all(r["correct"] and r["failed"] == 0 for r in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
