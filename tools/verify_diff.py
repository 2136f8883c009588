#!/usr/bin/env python3
"""Compare two graft.Verify output directories exactly.

Usage: python3 tools/verify_diff.py A B

A and B are directories that `graft.Verify <sfDir> <outDir>` wrote, for
example one from a parent checkout and one from a change, both at the
same scale factor. The check fails unless:

  - both hold the same entry directories;
  - their oracle_sql.json files are equal as maps;
  - each entry's dump has the same schema (column names, order and
    types) and the same rows, value for value with no tolerance
    (floats are compared by repr, so -0.0 differs from 0.0 and NaN
    equals NaN). Rows are compared as sorted lists, because an entry
    with no final ORDER BY may write its rows in any order.

Prints one line per differing entry and exits 1 if there is any,
else prints a one-line summary and exits 0.
"""
import json
import os
import sys

import pyarrow.parquet as pq


def entries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def dump(path):
    t = pq.read_table(path)
    rows = sorted(repr(tuple(r.values())) for r in t.to_pylist())
    return t.schema.remove_metadata(), rows


def compare(name, a, b):
    sa, ra = dump(os.path.join(a, name))
    sb, rb = dump(os.path.join(b, name))
    if not sa.equals(sb):
        return f"schema {sa.to_string()!r} vs {sb.to_string()!r}"
    if len(ra) != len(rb):
        return f"{len(ra)} rows vs {len(rb)}"
    for x, y in zip(ra, rb):
        if x != y:
            return f"first differing row (sorted): {x} vs {y}"
    return None


def main(a, b):
    diffs = []
    ea, eb = entries(a), entries(b)
    for n in sorted(ea - eb):
        diffs.append((n, f"only in {a}"))
    for n in sorted(eb - ea):
        diffs.append((n, f"only in {b}"))
    with open(os.path.join(a, "oracle_sql.json")) as f:
        oa = json.load(f)
    with open(os.path.join(b, "oracle_sql.json")) as f:
        ob = json.load(f)
    for n in sorted(set(oa) | set(ob)):
        if oa.get(n) != ob.get(n):
            diffs.append((n, "oracle_sql.json differs"))
    for n in sorted(ea & eb):
        why = compare(n, a, b)
        if why:
            diffs.append((n, why))
    for n, why in diffs:
        print(f"DIFF {n}: {why}")
    if diffs:
        print(f"{len({n for n, _ in diffs})} entries differ")
        return 1
    print(f"identical: {len(ea)} entry dumps, {len(oa)} oracles")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
