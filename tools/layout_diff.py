#!/usr/bin/env python3
"""Compare two persisted layouts (index or model directories) file group by
file group.

Usage: python3 tools/layout_diff.py DIR_A DIR_B [sub1,sub2,...]

Each DIR is a layout root such as an IVF index path, holding `data/`,
`centroids/`, `meta/` and the like. Without a sub list, every subdirectory
of either root that holds parquet files (at any depth) is compared. A file
group is one directory of parquet files: the sub's root, or one `k=v/...`
partition directory below it. For each sub it compares

  1. the set of file-group directories (the partition values);
  2. each group's parquet schema, field nullability and nested element
     nullability included;
  3. each group's rows as a multiset, order-free. Float values compare by
     their exact bits.

Files Spark's reader skips are skipped here too: names starting with `_` or
`.` (`_SUCCESS`, `.crc` checksums, `_temporary`). Per sub it prints `equal`
or the first differences. Exit status: 0 when every sub is equal, 1 on any
difference (a sub present on one side only included), 2 on a usage error.
"""
import collections
import os
import sys

import pyarrow.parquet as pq


def hidden(name):
    return name.startswith("_") or name.startswith(".")


def groups(sub_root):
    """{relative dir: [parquet file paths]} under one sub's root."""
    out = {}
    for d, dirs, files in os.walk(sub_root):
        dirs[:] = sorted(x for x in dirs if not hidden(x))
        parts = sorted(f for f in files
                       if not hidden(f) and f.endswith(".parquet"))
        if parts:
            rel = os.path.relpath(d, sub_root)
            out[rel] = [os.path.join(d, f) for f in parts]
    return out


def subs(root):
    """The subdirectories of `root` that hold parquet files."""
    return {s for s in os.listdir(root)
            if not hidden(s) and os.path.isdir(os.path.join(root, s))
            and groups(os.path.join(root, s))}


def canon(v):
    """A hashable, exact form of one parquet value."""
    if isinstance(v, float):
        return ("f", v.hex())
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in sorted(v.items()))
    return v


def short(v, width=160):
    text = repr(v)
    return text if len(text) <= width else text[:width] + "..."


def schema_of(path):
    s = pq.read_schema(path)
    return tuple((f.name, str(f.type), f.nullable) for f in s)


def group_facts(files):
    """(set of schemas, Counter of rows) over one file group."""
    schemas = {schema_of(f) for f in files}
    rows = collections.Counter()
    for f in files:
        for r in pq.read_table(f).to_pylist():
            rows[tuple(canon(r[k]) for k in sorted(r))] += 1
    return schemas, rows


def compare(a_root, b_root):
    """The differences of one sub, as printable lines."""
    ga, gb = groups(a_root), groups(b_root)
    diffs = []
    if set(ga) != set(gb):
        diffs.append(f"partition dirs only in A: {sorted(set(ga) - set(gb))[:5]}, "
                     f"only in B: {sorted(set(gb) - set(ga))[:5]}")
    for g in sorted(set(ga) & set(gb)):
        sa, ra = group_facts(ga[g])
        sb, rb = group_facts(gb[g])
        if sa != sb:
            diffs.append(f"{g}: schema A {short(sorted(sa), 400)} != "
                         f"B {short(sorted(sb), 400)}")
        if ra != rb:
            only_a = list((ra - rb).elements())
            only_b = list((rb - ra).elements())
            diffs.append(f"{g}: {len(only_a)} rows only in A, {len(only_b)} "
                         f"only in B; first A-only {short(only_a[:1])}, "
                         f"first B-only {short(only_b[:1])}")
    return diffs


def main(argv):
    if len(argv) not in (3, 4):
        print("usage: layout_diff.py DIR_A DIR_B [sub1,sub2,...]", file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    for d in (a, b):
        if not os.path.isdir(d):
            print(f"layout_diff: not a directory: {d}", file=sys.stderr)
            return 2
    names = (sorted(s for s in argv[3].split(",") if s) if len(argv) == 4
             else sorted(subs(a) | subs(b)))
    if not names:
        print("layout_diff: no parquet subdirectory to compare", file=sys.stderr)
        return 2
    differ = False
    for s in names:
        da, db = os.path.join(a, s), os.path.join(b, s)
        missing = [side for side, p in (("A", da), ("B", db))
                   if not os.path.isdir(p)]
        if missing:
            print(f"{s}: missing in {' and '.join(missing)}")
            differ = True
            continue
        diffs = compare(da, db)
        if diffs:
            differ = True
            print(f"{s}: differs")
            for line in diffs[:10]:
                print(f"  {line}")
        else:
            print(f"{s}: equal")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
