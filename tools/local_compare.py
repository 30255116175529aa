#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness compare.

Usage: python3 tools/local_compare.py <sfDir> <verifyOutDir>

For each query dumped by graft.Verify: load the Spark parquet result,
run the oracle SQL in DuckDB over the same fixture tables, sort columns
by name + rows by all columns, and hash-compare values (mirrors the
driver's CORRECTNESS_r{N}.json procedure as described in VERDICT.md).

Also writes <verifyOutDir>/hashes.json: each query's canonical Spark
frame hash (`canon` + `frame_hash`, oracle or not), so two dumps of the
same fixture compare with `diff a/hashes.json b/hashes.json`.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    import hashlib
    h = hashlib.md5()
    for col in df.columns:
        s = df[col]
        if s.dtype == object:
            vals = s.astype(str)
        elif s.dtype.kind == "f":
            vals = s.round(6).astype(str)
        else:
            vals = s.astype(str)
        h.update(col.encode())
        h.update("\x1f".join(vals.tolist()).encode())
    return h.hexdigest()


def main(sf_dir: str, out_dir: str) -> None:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_noora = 0
    hashes = {}
    import glob
    names = sorted(p.split("/")[-1] for p in glob.glob(f"{out_dir}/q*"))
    for name in names:
        try:
            spark_df = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark read: {e}")
            n_fail += 1
            continue
        hashes[name] = frame_hash(canon(spark_df))
        if name not in oracle:
            print(f"  -- {name}: no_oracle ({len(spark_df)} rows)")
            n_noora += 1
            continue
        try:
            ora_df = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        a, b = canon(spark_df), canon(ora_df)
        rows_ok = len(a) == len(b)
        schema_ok = list(a.columns) == list(b.columns)
        hash_ok = rows_ok and schema_ok and frame_hash(a) == frame_hash(b)
        if hash_ok:
            print(f"PASS {name} ({len(a)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: rows {len(a)}vs{len(b)} "
                  f"schema_ok={schema_ok} cols {list(a.columns)} vs "
                  f"{list(b.columns)}")
            if rows_ok and schema_ok:
                diff = (a != b) & ~(a.isna() & b.isna())
                bad = diff.any(axis=1)
                print(a[bad].head(3))
                print(b[bad].head(3))
            n_fail += 1
    with open(f"{out_dir}/hashes.json", "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noora} no_oracle")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
