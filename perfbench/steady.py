#!/usr/bin/env python3
"""Steadiness check: run one workload N times back to back, one seed each.

    python3 perfbench/steady.py --workload live --runs 10 [--first-seed 1]
        [--seconds 5] [--trace 0] [--out FILE]

Prints, for every metric, the median, the first and third quartiles
(statistics.quantiles, n=4) and the quartile spread as a share of the
median, then each run's host steal, wall time and failed operations.
With --out, every run's result line is also written there as JSON lines.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    results, notes = [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True)
        elapsed = time.monotonic() - t0
        if p.returncode != 0:
            sys.exit("seed %d failed (%d):\n%s" % (seed, p.returncode,
                                                   p.stderr[-2000:]))
        res = json.loads(p.stdout.strip().splitlines()[-1])
        for tag, label in (("wall-clock", "(wall) "), ("server-cpu", "(cpu) ")):
            line = re.search(r"^%s (.*)$" % tag, p.stderr, re.M)
            if line:
                for k, v in json.loads(line.group(1)).items():
                    res["metrics"][label + k] = {"value": v}
        steal = re.search(r"host steal ([0-9.]+)%", p.stderr)
        results.append(res)
        notes.append((seed, float(steal.group(1)) if steal else float("nan"),
                      elapsed, res["attempted"], res["failed"], res["correct"]))
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(dict(res, seed=seed, wall_s=elapsed)) + "\n")
    print("%-28s %12s %12s %12s %8s" % ("metric", "median", "q1", "q3",
                                        "iqr/med"))
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                     else (med, med, med))
        print("%-28s %12.4f %12.4f %12.4f %8.3f" % (
            name, med, q1, q3, (q3 - q1) / med if med else float("nan")))
    print("\nseed  steal%%   wall_s  attempted  failed  correct")
    for seed, steal, wall, att, fail, ok in notes:
        print("%4d  %6.1f  %7.1f  %9d  %6d  %s" % (seed, steal, wall, att,
                                                    fail, ok))


if __name__ == "__main__":
    main()
