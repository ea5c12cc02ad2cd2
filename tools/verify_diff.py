#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query by query.

Usage: verify_diff.py <verifyOutA> <verifyOutB>

Every query result (a `q*` parquet dir) present in either dir is read on
both sides and put in tools/check.py's canonical form (columns sorted by
name, rows sorted); two results agree only when those frames are equal,
dtypes included. Prints each query whose result differs or exists on one
side only, then a summary line; exits 1 if any query is listed, else 0.
Reads nothing but the two dirs (no oracle, no Spark).
"""
import glob
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon  # noqa: E402


def queries(out_dir):
    return {os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "q*"))
            if os.path.isdir(p)}


def load(out_dir, q):
    return canon(pd.read_parquet(os.path.join(out_dir, q)))


def diff(a_dir, b_dir):
    """(query, reason) for every query whose results are not identical."""
    qa, qb = queries(a_dir), queries(b_dir)
    out = [(q, "only in A") for q in sorted(qa - qb)]
    out += [(q, "only in B") for q in sorted(qb - qa)]
    for q in sorted(qa & qb):
        try:
            a, b = load(a_dir, q), load(b_dir, q)
        except Exception as e:  # an unreadable result is a difference too
            out.append((q, f"unreadable: {e}"))
            continue
        if list(a.columns) != list(b.columns):
            out.append((q, f"columns {list(a.columns)} vs {list(b.columns)}"))
        elif len(a) != len(b):
            out.append((q, f"rows {len(a)} vs {len(b)}"))
        elif not a.equals(b):
            bad = [c for c in a.columns if not a[c].equals(b[c])]
            out.append((q, f"values or dtypes differ in {bad}"))
    return sorted(out), len(qa | qb)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    diffs, n = diff(sys.argv[1], sys.argv[2])
    for q, why in diffs:
        print(f"DIFF {q}: {why}")
    print(f"\n{len(diffs)} differing of {n} queries")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
