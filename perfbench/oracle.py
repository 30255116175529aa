#!/usr/bin/env python3
"""DuckDB oracle for the catalog workloads.

Each query's untimed result dump is compared with DuckDB running
`SparkEntry.oracleSql` over the same fixture, by the canon/hash
convention of tools/local_compare.py (columns by name, rows sorted by
all columns, floats rounded to 6 places, md5 over the values).

The DuckDB side is cached, keyed by query name, SQL text and a content
fingerprint of the fixture directory, because a few oracles take most of
a minute. `oracle_cache.json` is the committed cache; a key it lacks (the
query's oracle SQL changed) is computed on the spot and kept in the
ignored `.work/oracle_cache.json`.

Rebuild the committed cache (needs the harness build and DuckDB):

    python3 perfbench/oracle.py
"""
import hashlib
import json
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, "oracle_cache.json")
LOCAL_CACHE = os.path.join(HERE, ".work", "oracle_cache.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
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


def summary(df: pd.DataFrame) -> dict:
    df = canon(df)
    return {"rows": len(df), "columns": list(df.columns),
            "hash": frame_hash(df)}


def fixture_fingerprint(fixture: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(fixture)):
        h.update(name.encode())
        with open(os.path.join(fixture, name), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def cache_key(name: str, sql: str, fingerprint: str) -> str:
    return hashlib.sha256(
        "\0".join([name, sql, fingerprint]).encode()).hexdigest()


def _load(path):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def _duckdb(fixture):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(fixture, t)}.parquet'")
    return con


def expected(queries: dict, fixture: str) -> dict:
    """{name: summary} for every query in {name: sql}; cache misses run
    DuckDB now and are kept in the local cache."""
    fp = fixture_fingerprint(fixture)
    cache = {**_load(CACHE), **_load(LOCAL_CACHE)}
    out, missing = {}, {}
    for name, sql in queries.items():
        hit = cache.get(cache_key(name, sql, fp))
        if hit is not None:
            out[name] = hit
        else:
            missing[name] = sql
    if missing:
        local = _load(LOCAL_CACHE)
        con = _duckdb(fixture)
        for name, sql in missing.items():
            out[name] = {"query": name, **summary(con.execute(sql).df())}
            local[cache_key(name, sql, fp)] = out[name]
        os.makedirs(os.path.dirname(LOCAL_CACHE), exist_ok=True)
        with open(LOCAL_CACHE, "w") as f:
            json.dump(local, f, indent=1, sort_keys=True)
    return out


def compare(dump_dir: str, want: dict):
    """(ok, detail) for one query's Spark dump against its oracle."""
    try:
        got = summary(pd.read_parquet(dump_dir))
    except Exception as e:  # noqa: BLE001 - a missing dump is a failure
        return False, f"spark result unreadable: {e}"
    if all(got[k] == want[k] for k in ("rows", "columns", "hash")):
        return True, f"{got['rows']} rows"
    return False, (f"rows {got['rows']} vs {want['rows']}, columns "
                   f"{got['columns']} vs {want['columns']}, hash "
                   f"{got['hash']} vs {want['hash']}")


def rebuild():
    """Recompute the committed cache from the current oracle SQL."""
    import run
    cp = run.build()
    sql = json.loads(run.java_output(cp, "perfbench.OracleSql"))
    fixture = run.FIXTURE
    fp = fixture_fingerprint(fixture)
    con = _duckdb(fixture)
    cache = {}
    for name in sorted(sql):
        entry = {"query": name, **summary(con.execute(sql[name]).df())}
        cache[cache_key(name, sql[name], fp)] = entry
        print(f"{name}: {entry['rows']} rows", file=sys.stderr)
    with open(CACHE, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    rebuild()
