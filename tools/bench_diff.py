#!/usr/bin/env python3
"""Compare two graft.Bench artifacts query by query.

Usage: python3 tools/bench_diff.py <base artifact> <new artifact>

A query's figure is its median divided by its artifact's box_factor (as
make_band.py banks it), and its ratio is new / base: below 1 is faster.
Prints the median and quartiles of the per-query ratios, the 10 largest
ratios, and the ratio of the two `value_normalized` totals. Refuses
(exit 2) two artifacts whose `sf` or query sets differ: their totals
would be sums over different work. A query with a negative (failed)
median in either artifact is counted but left out of the ratios.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        art = json.load(f)
    if not isinstance(art, dict) or not {"queries", "value"} <= art.keys():
        print(f"bench_diff: {path} is not a graft.Bench artifact "
              "(no queries/value)", file=sys.stderr)
        sys.exit(2)
    bf = art.get("box_factor") or 1.0
    total = art.get("value_normalized") or art["value"] / bf
    return art, bf, total


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    (a, abf, atot), (b, bbf, btot) = load(argv[1]), load(argv[2])
    asf, bsf = str(a.get("sf", "")).rstrip("/"), str(b.get("sf", "")).rstrip("/")
    if asf != bsf:
        print(f"bench_diff: sf differs: {asf!r} vs {bsf!r}", file=sys.stderr)
        return 2
    if set(a["queries"]) != set(b["queries"]):
        only_a = sorted(set(a["queries"]) - set(b["queries"]))
        only_b = sorted(set(b["queries"]) - set(a["queries"]))
        print(f"bench_diff: query sets differ: only in base {only_a[:10]}, "
              f"only in new {only_b[:10]}", file=sys.stderr)
        return 2
    ratios = {q: (b["queries"][q] / bbf) / (a["queries"][q] / abf)
              for q in a["queries"]
              if a["queries"][q] > 0 and b["queries"][q] >= 0}
    for label, art, bf in (("base", a, abf), ("new", b, bbf)):
        print(f"{label}: {argv[1] if label == 'base' else argv[2]} sf={art.get('sf')} "
              f"cpus={art.get('cpus')} git_sha={art.get('git_sha')} box_factor={bf}")
    q1, med, q3 = statistics.quantiles(ratios.values(), n=4, method="inclusive")
    print(f"per-query ratio (new/base, normalized) over {len(ratios)} of "
          f"{len(a['queries'])} queries: median {med:.3f}, quartiles {q1:.3f}-{q3:.3f}")
    print("largest 10:")
    for q, r in sorted(ratios.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {q:<40} {r:.3f}  ({a['queries'][q]:.3f} s -> {b['queries'][q]:.3f} s)")
    print(f"value_normalized: {atot:.3f} -> {btot:.3f}  ratio {btot / atot:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
