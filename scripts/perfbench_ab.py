#!/usr/bin/env python3
"""Interleaved parent/change A/B over perfbench.

    python3 scripts/perfbench_ab.py --parent DIR --change DIR \
        --workload point_scan [--workload dml_mixed ...] --seeds 1-10 [--seconds 10] [--trace 0] [--out FILE]

DIR is a checkout of each side. Each side runs `perfbench/run.py` from its
own checkout, so each builds and keeps its own `.bench_build/`: sharing one
would run one side's classes on both, because the cached classpath holds the
absolute `target/` paths of the checkout that built it. Pair i runs both
sides on seed i, back to back; the side that runs first alternates from pair
to pair, so host drift between epochs does not favour either side.

For each workload and metric it prints the median change/parent ratio, how
many pairs the change won (by the metric's `better` in BENCHMARK.json), the
median and quartiles of both sides, and whether the change's median beats
the parent's by more than the parent's quartile spread (q3 - q1). `correct` is
true when every run of that side checked out. `--out` writes the same as
JSON, with every run's values.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_side(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-3000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}, "seconds": time.time() - t0}
    line = json.loads(lines[-1])
    line["seconds"] = time.time() - t0
    return line


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def summarize(runs, better):
    """runs: list of (parent_line, change_line) for one workload."""
    rows = {}
    names = sorted({m for p, c in runs for m in p["metrics"]} & {m for p, c in runs for m in c["metrics"]})
    for m in names:
        pairs = [(p["metrics"][m]["value"], c["metrics"][m]["value"]) for p, c in runs
                 if m in p["metrics"] and m in c["metrics"]]
        lower = better.get(m, "lower") == "lower"
        ratios = [c / p for p, c in pairs if p > 0]
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        pv, cv = [p for p, _ in pairs], [c for _, c in pairs]
        pq, cq = quartiles(pv), quartiles(cv)
        spread = pq[1] - pq[0]
        gap = statistics.median(pv) - statistics.median(cv)
        rows[m] = {"median_ratio": statistics.median(ratios) if ratios else None, "wins": wins,
                   "pairs": len(pairs), "parent_median": statistics.median(pv),
                   "change_median": statistics.median(cv), "parent_quartiles": pq,
                   "change_quartiles": cq, "parent_spread": spread,
                   "beats_spread": (gap if lower else -gap) > spread, "parent": pv, "change": cv}
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 11-14,21-26")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    if sides["parent"] == sides["change"]:
        sys.exit("parent and change must be different checkouts")
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}

    report = {}
    for w in a.workload:
        runs = []
        for i, seed in enumerate(parse_seeds(a.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {s: run_side(sides[s], w, seed, a.seconds, a.trace) for s in order}
            runs.append((got["parent"], got["change"]))
            print(f"{w} seed {seed} ({order[0]} first): " + "  ".join(
                f"{s} {got[s]['seconds']:.1f}s correct={got[s]['correct']}" for s in ("parent", "change")),
                flush=True)
        rows = summarize(runs, better)
        correct = {s: all(r[k]["correct"] for r in runs) for k, s in enumerate(("parent", "change"))}
        fails = {s: sum(r[k]["failed"] for r in runs) for k, s in enumerate(("parent", "change"))}
        print(f"== {w}: {len(runs)} pairs, correct parent={correct['parent']} change={correct['change']}, "
              f"failed ops parent={fails['parent']} change={fails['change']}")
        for m, r in rows.items():
            ratio = "n/a" if r["median_ratio"] is None else f"{r['median_ratio']:.3f}"
            pq, cq = r["parent_quartiles"], r["change_quartiles"]
            print(f"  {m:12s} ratio {ratio:>6s}  wins {r['wins']}/{r['pairs']}"
                  f"  parent {r['parent_median']:.4g} [{pq[0]:.4g}, {pq[1]:.4g}]"
                  f"  change {r['change_median']:.4g} [{cq[0]:.4g}, {cq[1]:.4g}]"
                  f"  beats parent q3-q1 {r['beats_spread']}")
        report[w] = {"correct": correct, "failed": fails, "metrics": rows}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=2)
            f.write("\n")


if __name__ == "__main__":
    main()
