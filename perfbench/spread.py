#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--workload suite ...] [--out FILE]

Runs the benchmark once per seed (1..runs) for each workload, one process
after another, and reports for each metric its median and the distance
between the first and third quartile (statistics.quantiles, n=4) as a share
of the median, next to the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "runs": a.runs, "workloads": {}}
    for w in a.workload or [w["name"] for w in spec["workloads"]]:
        values = {m: [] for m in bounds}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            line = json.loads(out.stdout.strip().splitlines()[-1])
            if not line["correct"]:
                sys.exit(f"{w} seed {seed}: incorrect output\n{out.stderr[-2000:]}")
            for m in bounds:
                values[m].append(line["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + " ".join(f"{m}={v[-1]:.4g}" for m, v in values.items()), flush=True)
        rows = {}
        for m, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            rows[m] = {"median": statistics.median(v), "iqr_share": (q3 - q1) / statistics.median(v),
                       "bound": bounds[m], "values": v}
            print(f"  {m:14s} median {rows[m]['median']:10.4g}  spread {rows[m]['iqr_share']:.3f}"
                  f"  bound {bounds[m]}", flush=True)
        report["workloads"][w] = rows
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=2)
            f.write("\n")


if __name__ == "__main__":
    main()
