#!/usr/bin/env python3
"""Oracle check of the query_mix outputs.

Each query's output (parquet written by the harness) is compared with
DuckDB running the query's registered oracle SQL over the same tables:
columns sorted by name, rows sorted, cells compared exactly, and float
columns also compared as strings.

Usage: python3 benchmark/check_mix.py <data_dir> <out_dir>
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)


def cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if hasattr(a, "__len__") and hasattr(b, "__len__") and not isinstance(a, str):
        return len(a) == len(b) and all(cell_eq(x, y) for x, y in zip(a, b))
    try:
        if a != a and b != b:
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def compare(got, want):
    """Return None when equal, else a one-line reason."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for col in g.columns:
        kinds = {g[col].dtype.kind, w[col].dtype.kind}
        if len(kinds) > 1 and kinds != {"i", "u"}:
            return f"dtype drift col={col} {g[col].dtype} vs {w[col].dtype}"
        if "f" in kinds:
            for i, (a, b) in enumerate(zip(g[col].astype(str), w[col].astype(str))):
                if a != b:
                    return f"float drift col={col} row={i} {a} != {b}"
        for i, (a, b) in enumerate(zip(g[col], w[col])):
            if not cell_eq(a, b):
                return f"col={col} row={i} {a!r} != {b!r}"
    return None


def check(data_dir, out_dir, perturb="none"):
    """Compare every query output; return {query: reason or None}."""
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{out_dir}/duckdb_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    results = {}
    for name, sql in oracles.items():
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:  # a missing or unreadable output is a failure
            results[name] = f"load/exec error: {e}"
            continue
        if perturb == "drop_event" and len(got) and not results:
            got = got.iloc[1:]
        if perturb == "wrong_score" and len(got) and not results:
            col = next((c for c in got.columns if got[c].dtype.kind in "if"), None)
            if col is not None:
                got = got.copy()
                got.loc[got.index[0], col] = got[col].iloc[0] + 1
        if len(want) == 0:
            results[name] = "oracle returned no rows: the check would be vacuous"
            continue
        results[name] = compare(got, want)
    return results


if __name__ == "__main__":
    res = check(sys.argv[1], sys.argv[2])
    for k, v in res.items():
        print(("PASS " if v is None else "FAIL ") + k + ("" if v is None else f": {v}"))
    sys.exit(1 if any(v is not None for v in res.values()) else 0)
