#!/usr/bin/env python3
"""Run a workload on several seeds and report each metric's spread.

Usage, from the root of a checkout:

    python3 perfbench/spread.py --workload elt_stream --seeds 1 2 3 4 5 --seconds 20

Prints, per end-to-end metric, the median and the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of the
median. Result lines are also appended to --log when given.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--log")
    a = ap.parse_args()
    runner = Path(__file__).resolve().parent / "run.py"
    values = {}
    for seed in a.seeds:
        r = subprocess.run([sys.executable, str(runner), "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(a.seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}")
            continue
        line = r.stdout.strip().splitlines()[-1]
        if a.log:
            with open(a.log, "a") as f:
                f.write(line + "\n")
        res = json.loads(line)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}",
              flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:12s} median {statistics.median(vs):10.4f}  iqr/median {(q3 - q1) / statistics.median(vs):.3f}  n={len(vs)}")


if __name__ == "__main__":
    main()
