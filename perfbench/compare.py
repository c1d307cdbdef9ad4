#!/usr/bin/env python3
"""Compare two benchmark artifacts, refusing any pair measured at different core counts.

    python3 perfbench/compare.py BASE.json NEW.json

Either file may be a run artifact (perfbench/out/<workload>_seed<n>_trace<t>.json)
or a steady.py summary (perfbench/out/steady_*.json, compared by medians).
For each end-to-end metric present in both, the script prints both values
and NEW relative to BASE, flagging a change for the worse beyond the
metric's bound in BENCHMARK.json. Comparing an untraced artifact with a
traced one of the same workload and seed gives the tracing overhead.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as f:
        d = json.load(f)
    if "values" in d:  # steady.py summary
        vals = {k: statistics.median(v) for k, v in d["values"].items() if v}
    else:
        vals = {k: v["value"] for k, v in d["end_to_end"].items()}
        vals.update({k: v["value"] for k, v in d.get("classes", {}).items()})
    if not isinstance(d.get("cores"), int) or d["cores"] < 1:
        raise SystemExit("%s: missing or invalid integer `cores` stamp" % path)
    return d, vals


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    (a, va), (b, vb) = load(argv[1]), load(argv[2])
    if a["cores"] != b["cores"]:
        print("refusing to compare: %s ran on %d cores, %s on %d cores"
              % (argv[1], a["cores"], argv[2], b["cores"]))
        return 1
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        specs = {m["name"]: m for m in json.load(f)["end_to_end"]}
    print("cores %d; %s vs %s" % (a["cores"], a.get("workload"), b.get("workload")))
    worse = 0
    for k in va:
        if k not in vb:
            continue
        rel = (vb[k] - va[k]) / va[k] if va[k] else float("nan")
        spec = specs.get(k)
        flag = ""
        if spec:
            bad = rel if spec["better"] == "lower" else -rel
            if bad > spec["bound"]:
                flag = "  WORSE beyond bound %.2f" % spec["bound"]
                worse = 1
        print("%-28s %14.6g %14.6g %+8.2f%%%s" % (k, va[k], vb[k], 100 * rel, flag))
    return worse


if __name__ == "__main__":
    sys.exit(main(sys.argv))
