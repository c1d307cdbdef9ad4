#!/usr/bin/env python3
"""Steadiness mode: run one workload repeatedly and print each metric's spread.

    python3 perfbench/steady.py --workload era5_scan --runs 10 --first-seed 1

Each run gets its own seed. For every metric the script prints the
median and the distance between the first and third quartiles
(Python's statistics.quantiles(n=4)) as a share of the median, next to
the metric's bound in BENCHMARK.json and a third of it. A spread above
the bound fails (setup_s is shown but not gated, as its bound only
limits the median). Runs whose artifacts report a different `cores`
are refused. The values are saved to perfbench/out/ for compare.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = bench["end_to_end"]
    values = {m["name"]: [] for m in specs}
    cores, failed = set(), 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print("seed %d: exit %d" % (seed, p.returncode))
            failed += 1
            continue
        res = json.loads(lines[-1])
        with open(os.path.join(HERE, "out", "%s_seed%d_trace0.json" % (a.workload, seed))) as f:
            cores.add(json.load(f)["cores"])
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print("seed %d: correct=%s %s" % (seed, res["correct"], " ".join(
            "%s=%.5g" % (k, res["metrics"][k]["value"]) for k in values)), flush=True)
    if len(cores) > 1:
        print("refusing to summarise: runs report different core counts %s" % sorted(cores))
        return 1
    worst = 1 if failed else 0
    print("\n%-28s %12s %9s %9s %9s  %s" % ("metric", "median", "spread", "bound", "bound/3", "verdict"))
    for m in specs:
        v = values[m["name"]]
        if len(v) < 2:
            continue
        s = spread(v)
        bound = m["bound"]
        if m["name"] == "setup_s":
            verdict = "not gated"
        elif s <= bound / 3:
            verdict = "steady"
        elif s <= bound:
            verdict = "within bound"
        else:
            verdict = "OVER BOUND"
            worst = 1
        print("%-28s %12.6g %9.4f %9s %9s  %s" % (m["name"], statistics.median(v), s,
              "%.3f" % bound, "%.3f" % (bound / 3), verdict))
    out = os.path.join(HERE, "out", "steady_%s_seeds%d-%d.json" % (
        a.workload, a.first_seed, a.first_seed + a.runs - 1))
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "cores": sorted(cores)[0] if cores else None,
                   "values": values}, f)
    print("\nsaved %s" % os.path.relpath(out, ROOT))
    return worst


if __name__ == "__main__":
    sys.exit(main())
