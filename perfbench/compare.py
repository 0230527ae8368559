#!/usr/bin/env python3
"""Per-seed wall-time difference between two steadiness reports of one
workload (files written by steady.py --out): tracing overhead (untraced
vs traced) or the cost of the query fingerprint (--no-observe vs
default).

    python3 perfbench/compare.py BASE.json OTHER.json [--out FILE.json]
"""

import argparse
import json
import statistics


def walls(report):
    key = "trace.wall_s" if report["trace"] else "wall_s"
    part = "per_layer" if report["trace"] else "end_to_end"
    return {r["seed"]: r[part][key] for r in report["runs"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("other")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(args.base) as fh:
        base = json.load(fh)
    with open(args.other) as fh:
        other = json.load(fh)
    a, b = walls(base), walls(other)
    seeds = sorted(set(a) & set(b))
    if not seeds:
        raise SystemExit("no seed in common")
    diffs = [b[s] - a[s] for s in seeds]
    base_spread = statistics.quantiles([a[s] for s in seeds], n=4)
    result = {
        "workload": base["workload"], "seeds": seeds,
        "base": {"trace": base["trace"], "observe": base.get("observe", True),
                 "median_wall_s": statistics.median(a[s] for s in seeds)},
        "other": {"trace": other["trace"],
                  "observe": other.get("observe", True),
                  "median_wall_s": statistics.median(b[s] for s in seeds)},
        "median_diff_s": statistics.median(diffs),
        "diffs_s": diffs,
        "base_iqr_s": base_spread[2] - base_spread[0],
    }
    result["median_diff_share"] = (result["median_diff_s"]
                                   / result["base"]["median_wall_s"])
    print(json.dumps(result, indent=1))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
