#!/usr/bin/env python3
"""Steadiness report: run one workload k times with k seeds and print, per
metric, the median, the quartiles and the spread (q3 - q1) / median
against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload queries --runs 10 [--seed0 1]
        [--seconds N] [--trace] [--no-observe]
        [--out perfbench/results/FILE.json]

Gated end-to-end metrics are judged against their bound (a spread above a
third of it is flagged); the workload's other reported metrics are listed
for information. With --trace the runs are traced and the report covers
the per-layer metrics and the traced wall time. Run from the root of a
checkout.
"""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import accounting as acc  # noqa: E402


def load_bench():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def one_run(workload, seed, seconds, trace, extra):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(int(trace))]
                       + extra, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"run with seed {seed} failed ({r.returncode})")
    line = json.loads(r.stdout.strip().splitlines()[-1])
    summary = os.path.join(build_dir(), "runs",
                           f"{workload}-seed{seed}-trace{int(trace)}.summary.json")
    with open(summary) as fh:
        full = json.load(fh)
    return line, full, time.time() - t0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None)
    ap.add_argument("--no-observe", action="store_true",
                    help="query workloads: plain noop write (observe cost)")
    args = ap.parse_args()
    extra = ["--no-observe"] if args.no_observe else []
    bench = load_bench()
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for k in range(args.runs):
        seed = args.seed0 + k
        line, full, took = one_run(args.workload, seed, seconds, args.trace,
                                   extra)
        runs.append({"seed": seed, "line": line, "extended": full["extended"],
                     "end_to_end": full["end_to_end"],
                     "per_layer": full["per_layer"],
                     "failures": full["failures"],
                     "chunk_cache": full.get("chunk_cache"),
                     "provenance": full["provenance"], "run_s": took})
        print(f"seed {seed}: correct={line['correct']} "
              f"failed={line['failed']}/{line['attempted']} "
              f"({took:.0f} s)", flush=True)

    def column(get):
        vals = [get(r) for r in runs]
        return [v for v in vals if v is not None]

    table = {}
    if args.trace:
        names = [(k, None, lambda r, k=k: r["per_layer"][k])
                 for k in runs[0]["per_layer"]]
    else:
        names = [(k, bounds.get(k), lambda r, k=k: r["end_to_end"][k])
                 for k in runs[0]["end_to_end"]]
        names += [(k, None, lambda r, k=k: r["extended"][k])
                  for k in runs[0]["extended"]]
    print(f"\n{args.workload}: {len(runs)} runs, seeds {args.seed0}.."
          f"{args.seed0 + len(runs) - 1}")
    print(f"{'metric':<28}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}"
          f"{'bound':>7}  verdict")
    steady = True
    for name, bound, get in names:
        vals = column(get)
        if len(vals) < 2:
            print(f"{name:<28}  n/a ({len(vals)} values)")
            continue
        q1, med, q3, sp = acc.spread(vals)
        verdict = ""
        if bound is not None:
            if sp > bound:
                verdict, steady = "OVER BOUND", False
            elif sp > bound / 3:
                verdict = "above bound/3"
            else:
                verdict = "ok"
        table[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                       "bound": bound, "values": vals}
        b = f"{bound:>7.2f}" if bound is not None else f"{'-':>7}"
        print(f"{name:<28}{med:>12.6g}{q1:>12.6g}{q3:>12.6g}{sp:>9.3f}{b}  "
              f"{verdict}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "trace": args.trace,
                       "observe": not args.no_observe, "seconds": seconds,
                       "metrics": table, "runs": runs},
                      fh, indent=1)
            fh.write("\n")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
