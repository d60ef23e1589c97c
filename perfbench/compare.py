#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl [--trace 0|1]

Each file holds one JSON record per run, as `run.py` appends them to
`.bench_build/results/runs.jsonl` (copy that file aside between the two
commits). For every metric of BENCHMARK.json and every workload, one row
gives the number of runs, the median and quartiles on each side, and the
ratio of the medians (new / base), flagged when it is worse than the
metric's bound. Quartiles are `statistics.quantiles(values, n=4)`.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str, trace: int) -> dict:
    """{(workload, metric): [values]} over the file's runs."""
    out = {}
    for line in open(path):
        if not line.strip():
            continue
        rec = json.loads(line)
        if rec["context"]["trace"] != trace:
            continue
        wl = rec["context"]["workload"]
        for name, m in rec["result"]["metrics"].items():
            out.setdefault((wl, name), []).append(m["value"])
    return out


def summary(xs: list) -> tuple:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    base, new = load(args.base, args.trace), load(args.new, args.trace)
    workloads = [w["name"] for w in spec["workloads"]]
    print(f"{'metric':<30} {'workload':<16} {'n':>5} {'base q1/med/q3':>30} "
          f"{'new q1/med/q3':>30} {'ratio':>7}")
    worse = 0
    for m in metrics:
        for wl in workloads:
            b, n = base.get((wl, m["name"])), new.get((wl, m["name"]))
            if not b or not n:
                continue
            sb, sn = summary(b), summary(n)
            ratio = sn[1] / sb[1] if sb[1] else float("nan")
            flag = ""
            if "bound" in m:
                bad = ratio > 1 + m["bound"] if m["better"] == "lower" \
                    else ratio < 1 - m["bound"]
                if bad:
                    flag, worse = "  WORSE", worse + 1
            fmt = lambda s: "/".join(f"{v:.4g}" for v in s)
            print(f"{m['name']:<30} {wl:<16} {len(b):>2}/{len(n):<2} {fmt(sb):>30} "
                  f"{fmt(sn):>30} {ratio:>7.3f}{flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
