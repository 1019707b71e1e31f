#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Reads each <outDir>/<name> parquet (Spark result), runs the matching SQL
from <outDir>/oracle_sql.json in DuckDB with the sf tables registered as
views, and compares: schema (column names, sorted), row count, and a hash
of the value matrix with columns sorted by name and rows sorted by all
columns (order-insensitive compare, like the driver).

Every oracle_sql.json name is accounted for. A name that graft.Verify's
<outDir>/verify.json lists under "refused" (a capacity guard's designed
refusal) prints REFUSED and is counted apart; one it lists under "failed",
or one with no result dir, prints FAIL with the recorded cause. Exit 1 on
any FAIL.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize timestamps to UTC-naive microseconds
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    # optional filters for huge-fixture runs: --skip n1,n2 / --only n1,n2
    skip, only = set(), set()
    argv = sys.argv[3:]
    while argv:
        if argv[0] == "--skip":
            skip = set(argv[1].split(","))
            argv = argv[2:]
        elif argv[0] == "--only":
            only = set(argv[1].split(","))
            argv = argv[2:]
        else:
            raise SystemExit(f"unknown arg {argv[0]}")
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table dir (e.g. TenXFixture)
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    rec_path = f"{out_dir}/verify.json"
    rec = json.load(open(rec_path)) if os.path.exists(rec_path) else {}
    failed, refused = rec.get("failed", {}), rec.get("refused", {})
    dirs = {os.path.basename(d) for d in glob.glob(f"{out_dir}/*")
            if os.path.isdir(d)}
    n_pass = n_fail = n_skip = n_refused = 0
    for name in sorted(dirs | set(oracle) | set(failed) | set(refused)):
        if name in skip or (only and name not in only):
            continue
        # a recorded outcome outranks a result dir, which may be stale
        if name in refused:
            print(f"REFUSED {name:26s} {refused[name]}")
            n_refused += 1
            continue
        if name in failed or name not in dirs:
            cause = failed.get(name) or (
                "no result dir" if rec else f"no result dir (no {rec_path})")
            print(f"FAIL  {name:28s} {cause}")
            n_fail += 1
            continue
        d = f"{out_dir}/{name}"
        spark_df = pd.concat(
            [pd.read_parquet(f) for f in sorted(glob.glob(f"{d}/*.parquet"))],
            ignore_index=True)
        if name not in oracle:
            print(f"SKIP  {name:28s} rows={len(spark_df)} (no oracle; rows-only)")
            n_skip += 1
            continue
        try:
            duck_df = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL  {name:28s} oracle SQL error: {e}")
            n_fail += 1
            continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name:28s} schema: spark={list(a.columns)} duck={list(b.columns)}")
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"FAIL  {name:28s} rows: spark={len(a)} duck={len(b)}")
            n_fail += 1
            continue
        if a.equals(b):
            print(f"PASS  {name:28s} rows={len(a)}")
            n_pass += 1
        else:
            neq = (a != b) & ~(a.isna() & b.isna())
            bad_cols = [c for c in a.columns if neq[c].any()]
            print(f"FAIL  {name:28s} values differ in cols {bad_cols}")
            for c in bad_cols[:3]:
                i = neq[c].idxmax()
                print(f"      row {i} col {c}: spark={a[c][i]!r} duck={b[c][i]!r}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_refused} refused, "
          f"{n_skip} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
