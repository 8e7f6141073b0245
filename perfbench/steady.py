#!/usr/bin/env python3
"""Steadiness check: runs workloads on several seeds and reports, per
end-to-end metric, the median and the spread (interquartile range as a
share of the median, as `statistics.quantiles(values, n=4)` gives it)
next to a third of the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py [--seeds 10] [--first-seed 1] [--out FILE] [workload ...]

Run from the root of a checkout.  Each run is one `run.py` invocation.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("workloads", nargs="*", default=metrics.WORKLOADS)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads:
        values = {k: [] for k in bounds}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            line = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.returncode == 0 else None
            if not line or not line["correct"]:
                sys.exit(f"{w} seed {seed} failed:\n{proc.stderr[-3000:]}")
            for k in bounds:
                values[k].append(line["metrics"][k]["value"])
            print(w, seed, {k: round(v[-1], 4) for k, v in values.items()}, flush=True)
        report[w] = {}
        for k, v in values.items():
            report[w][k] = {"median": statistics.median(v), "spread": metrics.spread(v),
                            "third_of_bound": bounds[k] / 3, "values": v}
            print(f"  {w:14s} {k:12s} median {statistics.median(v):12.5g}  "
                  f"spread {metrics.spread(v):.4f}  (bound/3 {bounds[k] / 3:.4f})", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
