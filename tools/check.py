#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: compare each
Verify-dumped parquet result against its DuckDB oracle on the same tables.
Usage: check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob
import pandas as pd
import numpy as np


def canon(df):
    """Canonical form of a result: columns sorted by name, datetimes at
    microseconds, object columns as strings, rows sorted."""
    df = df.copy()
    df.columns = [c for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main():
    import duckdb
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for p in glob.glob(f"{sfdir}/*.parquet"):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

    oracle = json.load(open(f"{outdir}/oracle_sql.json"))

    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        res_dir = f"{outdir}/{name}"
        if not os.path.isdir(res_dir):
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            spark_df = pd.read_parquet(res_dir)
        except Exception as e:
            print(f"FAIL {name}: read spark output: {e}"); n_fail += 1; continue
        try:
            duck_df = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}"); n_fail += 1; continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}"); n_fail += 1; continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}"); n_fail += 1; continue
        mismatches = []
        for c in a.columns:
            x, y = a[c], b[c]
            if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
                eq = (x.isna() & y.isna()) | (x.astype(float).values == y.astype(float).values)
            else:
                eq = (x.isna() & y.isna()) | (x.values == y.values)
            if not eq.all():
                bad = (~eq).idxmax()
                mismatches.append(f"{c}[row{bad}]: {x[bad]!r} vs {y[bad]!r} (n={int((~eq).sum())})")
        # dtype comparison (informational; exact-match goal)
        dt = [f"{c}: {a[c].dtype} vs {b[c].dtype}" for c in a.columns
              if str(a[c].dtype) != str(b[c].dtype)]
        if mismatches:
            print(f"FAIL {name}: " + "; ".join(mismatches[:4])); n_fail += 1
        else:
            note = f"  [dtype diff: {'; '.join(dt)}]" if dt else ""
            print(f"PASS {name} ({len(a)} rows){note}"); n_pass += 1

    # rows-only queries (no oracle)
    for d in sorted(glob.glob(f"{outdir}/q*")):
        name = os.path.basename(d)
        if name not in oracle and os.path.isdir(d):
            try:
                n = len(pd.read_parquet(d))
                print(f"ROWS {name}: {n}")
            except Exception as e:
                print(f"ROWS {name}: ERROR {e}")

    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
