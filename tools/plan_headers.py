#!/usr/bin/env python3
"""Compare the physical-plan operator headers of two graft.ExplainDump runs.

Usage: python3 tools/plan_headers.py DIR_A DIR_B [q1,q2,...]

Each DIR is an ExplainDump output directory (`<query>_<suffix>.txt`
files; the query name is the file name up to its last `_`). A directory
that holds more than one suffix per query, such as `plans/rNN/` with its
`_before`/`_after` pair, is named `DIR:SUFFIX` to pick one.

From each file the operator header lines of the formatted plan, `(n)
Name`, are read in order, with expression ids (`#123`) and absolute or
`file:` paths normalized away. Per query it prints whether the two header
lists are equal, and where they are not, the first header that differs.
Without a query list every query present in either directory is
compared. Exit status: 0 when every compared query is equal, 1 when any
differs or is missing on one side, 2 on a usage error.
"""
import os
import re
import sys

HEADER = re.compile(r"^\(\d+\) ")
IDS = re.compile(r"#\d+L?")
PATHS = re.compile(r"(?:file:)?/[^\s,\]\)]+")


def plans(spec):
    """{query: path} for one `DIR` or `DIR:SUFFIX` argument."""
    d, want = spec, ""
    if not os.path.isdir(spec) and ":" in spec:
        d, _, want = spec.rpartition(":")
    if not os.path.isdir(d):
        print(f"plan_headers: not a directory: {d}", file=sys.stderr)
        sys.exit(2)
    out = {}
    for name in sorted(os.listdir(d)):
        stem, ext = os.path.splitext(name)
        query, sep, suffix = stem.rpartition("_")
        if ext != ".txt" or not sep or (want and suffix != want):
            continue
        if query in out:
            print(f"plan_headers: {d} holds {query} under more than one "
                  "suffix; name one as DIR:SUFFIX", file=sys.stderr)
            sys.exit(2)
        out[query] = os.path.join(d, name)
    return out


def headers(path):
    with open(path) as f:
        return [PATHS.sub("<path>", IDS.sub("#", line.rstrip()))
                for line in f if HEADER.match(line)]


def main(argv):
    if len(argv) not in (3, 4):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    queries = argv[3].split(",") if len(argv) == 4 else sorted(a.keys() | b.keys())
    bad = 0
    for q in queries:
        if q not in a or q not in b:
            side = "A" if q not in a else "B"
            print(f"{q}: missing in {side}")
            bad += 1
            continue
        ha, hb = headers(a[q]), headers(b[q])
        if ha == hb:
            print(f"{q}: equal ({len(ha)} headers)")
            continue
        bad += 1
        i = next((i for i, (x, y) in enumerate(zip(ha, hb)) if x != y),
                 min(len(ha), len(hb)))
        show = lambda h: repr(h[i]) if i < len(h) else "<end>"
        print(f"{q}: differ at header {i + 1} "
              f"({len(ha)} vs {len(hb)} headers): A {show(ha)} vs B {show(hb)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
