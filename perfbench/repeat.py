#!/usr/bin/env python3
"""Run one workload N times, one seed each, and print every metric's median
and quartiles: what the bounds in BENCHMARK.json are set from and checked
against.

Usage, from the root of a checkout:

    python3 perfbench/repeat.py --workload <name> [--runs 10] [--seed0 1]
        [--seconds 30] [--trace 0]

Each metric line gives the median, the first and third quartiles
(statistics.quantiles, n=4) and the spread (q3 - q1) / median. The last
line is the same as one JSON object, with the share of failed ops.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()

    values, units, attempted, failed, correct = {}, {}, 0, 0, True
    for k in range(args.runs):
        seed = args.seed0 + k
        t = time.monotonic()
        proc = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", args.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.exit(f"run with seed {seed} exited {proc.returncode} without a result")
        r = json.loads(lines[-1])
        correct &= r["correct"]
        attempted += r["attempted"]
        failed += r["failed"]
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        print(f"seed {seed}: {time.monotonic() - t:.1f} s, correct={r['correct']}, " +
              ", ".join(f"{n}={m['value']:.4g}" for n, m in r["metrics"].items()
                        if args.trace == "0"), flush=True)

    summary = {}
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                         "unit": units[name]}
        print(f"{name:32s} median {med:12.5g} {units[name]:6s} "
              f"q1 {q1:12.5g} q3 {q3:12.5g} spread {spread:7.2%}")
    print(json.dumps({"workload": args.workload, "runs": args.runs, "correct": correct,
                      "failed_share": failed / attempted if attempted else 0.0,
                      "metrics": summary}))


if __name__ == "__main__":
    main()
