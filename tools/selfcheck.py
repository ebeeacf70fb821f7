#!/usr/bin/env python3
"""Local stand-in for the driver's t2 gate: load Verify's per-query
parquet dumps, run the dumped oracle_sql.json in DuckDB over the same
testdata tables, and diff (column-name-sorted, row-sorted, exact).

Usage: python3 tools/selfcheck.py <sfDir> <outDir> [name ...]
(run `sbt "runMain graft.Verify <sfDir> <outDir> [name ...]"` first)

Every oracle in oracle_sql.json must have an output dir: a query whose
Spark build threw in Verify leaves none, and counts as bad. Trailing
names, as Verify takes them for a dev subset, check only those queries
(each of which must then have an output dir).
"""
import sys, os, json, glob
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sf_dir, out_dir, names=()):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    dirs = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    n_ok = n_bad = 0
    for name in sorted(set(names) if names else set(oracle) | dirs):
        d = os.path.join(out_dir, name)
        if name not in dirs:
            print(f"✗ {name}: no Verify output"); n_bad += 1; continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        if files:
            got = pd.concat([pd.read_parquet(f) for f in files])
        elif name in oracle:
            # empty Spark result wrote no part files: build an empty
            # frame with the oracle's columns so the diff is honest
            try:
                got = con.execute(oracle[name]).fetchdf().iloc[0:0]
            except Exception:
                got = pd.DataFrame()
        else:
            got = pd.DataFrame()
        if name not in oracle:
            print(f"  [rows-only] {name}: {len(got)} rows")
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"✗ {name}: ORACLE SQL ERROR: {e}"); n_bad += 1; continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"✗ {name}: columns differ spark={list(g.columns)} duck={list(e.columns)}"); n_bad += 1; continue
        if len(g) != len(e):
            print(f"✗ {name}: rowcount spark={len(g)} duck={len(e)}"); n_bad += 1; continue
        try:
            # rounded doubles can differ in the last ulp across
            # engines' round() on boundary representations: compare
            # with a tolerance far below the rounding quantum
            pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                          check_exact=False, rtol=0, atol=1e-9)
            print(f"✓ {name}: {len(g)} rows"); n_ok += 1
        except AssertionError as ex:
            print(f"✗ {name}: VALUES differ\n{str(ex)[:600]}"); n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
