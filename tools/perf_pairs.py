#!/usr/bin/env python3
"""Alternating benchmark pairs of two checkouts.

    python3 tools/perf_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N
        [--seed0 S]

Each pair runs `perfbench/run.py --trace 0` once in each checkout, with
the same seed (S + pair index) and the run length `run_seconds` of the
change's `BENCHMARK.json`, and flips which side goes first from one
pair to the next, so drift in machine load falls on both sides alike.
The records each run appends to its checkout's
`.bench_build/results/runs.jsonl` are collected into `parent.jsonl` and
`change.jsonl` in `.bench_build/pairs/W` of CHANGE_DIR (git ignores it).
Then it prints one line per pair, `perfbench/compare.py parent.jsonl
change.jsonl` (the change's copy), and how many pairs the change was
faster in on `wall_s`.
Exits 1 when any run was not correct or had a failed operation.
"""
import argparse
import json
import os
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    """One benchmark run in `checkout`; returns the record it appended."""
    results = os.path.join(checkout, ".bench_build", "results", "runs.jsonl")
    seen = len(open(results).readlines()) if os.path.exists(results) else 0
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                       text=True)
    new = open(results).readlines()[seen:] if os.path.exists(results) else []
    if r.returncode != 0 or len(new) != 1:
        sys.exit(f"perf_pairs: run in {checkout} failed (exit {r.returncode}):\n"
                 + r.stderr[-2000:])
    return json.loads(new[0])


def wall(rec: dict) -> float:
    return rec["result"]["metrics"]["wall_s"]["value"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    out = os.path.join(sides["change"], ".bench_build", "pairs", args.workload)
    os.makedirs(out, exist_ok=True)
    recs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {side: run_once(sides[side], args.workload, seed, seconds) for side in order}
        for side in order:
            recs[side].append(pair[side])
        p, c = wall(pair["parent"]), wall(pair["change"])
        print(f"pair {i + 1} seed {seed} ({order[0]} first): wall_s parent {p:.3f}, "
              f"change {c:.3f} ({c / p:.2f}x)", flush=True)
    paths = {}
    for side, rs in recs.items():
        paths[side] = os.path.join(out, f"{side}.jsonl")
        with open(paths[side], "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rs)
    subprocess.run([sys.executable, os.path.join(sides["change"], "perfbench", "compare.py"),
                    paths["parent"], paths["change"]], check=False)
    faster = sum(wall(c) < wall(p) for p, c in zip(recs["parent"], recs["change"]))
    print(f"faster in {faster} of {args.pairs} pairs (wall_s)")
    bad = [(side, r["context"]["seed"]) for side, rs in recs.items() for r in rs
           if not r["result"]["correct"] or r["result"]["failed"] != 0]
    if bad:
        print(f"perf_pairs: runs not correct or with failed operations: {bad}")
        sys.exit(1)


if __name__ == "__main__":
    main()
