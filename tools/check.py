#!/usr/bin/env python3
"""Local pre-commit harness mirroring the driver's t2 check.

Runs DuckDB on each oracle_sql.json entry over the same parquet tables and
compares against the Spark results that graft.Verify dumped. Columns are
sorted by name, then rows by all columns, then values compared EXACTLY
(the driver hash-compares, so exact equality is the bar; float tolerance
is reported separately for diagnosis only).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    # Every oracle key must have an output: a query whose dump is missing
    # fails here instead of silently dropping out of the count.
    results = sorted(set(oracle) | {d for d in os.listdir(out_dir)
                                    if os.path.isdir(os.path.join(out_dir, d))})
    for name in results:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        if name not in oracle:
            print(f"SKIP {name}: rows-only ({len(got)} rows)")
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        ok, msg = compare(got, exp)
        if ok:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        else:
            print(f"FAIL {name}: {msg}"); n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {len(results)} total")
    return 1 if n_fail else 0

def compare(got, exp):
    import pandas as pd
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return False, f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rows {len(got)} != {len(exp)}"
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    for c in got.columns:
        g, e = got[c], exp[c]
        try:
            import numpy as np
            # Driver's hash stringifies values, so an int64-vs-float64
            # dtype split ("3" vs "3.0") hash-mismatches even when the
            # values are numerically equal (e.g. DuckDB SUM(BIGINT) ->
            # HUGEINT -> float64 in pandas). Fail it here too.
            if (np.issubdtype(g.dtype, np.floating)
                    != np.issubdtype(e.dtype, np.floating)) and \
                    (np.issubdtype(g.dtype, np.number)
                     and np.issubdtype(e.dtype, np.number)):
                return False, (f"col {c} dtype split: spark={g.dtype} "
                               f"oracle={e.dtype} (driver hash would differ; "
                               f"CAST the oracle column)")
            if np.issubdtype(g.dtype, np.floating) or np.issubdtype(e.dtype, np.floating):
                g = g.astype(float); e = e.astype(float)
                eq = (g.isna() & e.isna()) | (g == e)
                if not eq.all():
                    bad = (~eq).idxmax()
                    diff = abs(g - e).max()
                    return False, (f"col {c} differs at row {bad}: "
                                   f"{g[bad]!r} != {e[bad]!r} (maxdiff {diff})")
            else:
                gs, es = g.astype(str), e.astype(str)
                if not (gs == es).all():
                    bad = (gs != es).idxmax()
                    return False, f"col {c} differs at row {bad}: {g[bad]!r} != {e[bad]!r}"
        except Exception as ex:
            return False, f"col {c} compare error: {ex}"
    return True, ""

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
