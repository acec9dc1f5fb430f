#!/usr/bin/env python3
"""Compare the shapes of two query_mix table directories.

Prints, as a markdown table, the figures the registered queries depend
on: row counts, key and date distributions, document lengths, vocabulary
and near-duplicate pairs, embedding cluster structure. Used to fit
gen_tables.py to the project's test data (RECEIPT.md).

Usage: python3 benchmark/compare_tables.py <reference_dir> <generated_dir>
"""
import sys

import duckdb
import numpy as np


def shapes(d):
    con = duckdb.connect()

    def one(sql):
        for t in ("customer", "supplier", "part", "orders", "lineitem", "events",
                  "documents", "embeddings"):
            sql = sql.replace(f"{{{t}}}", f"'{d}/{t}.parquet'")
        return con.execute(sql).fetchone()

    f = {}
    for t in ("customer", "supplier", "part", "orders", "lineitem", "events", "documents",
              "embeddings"):
        f[f"rows {t}"] = one(f"select count(*) from {{{t}}}")[0]
    f["orders with lines"] = one("select count(distinct l_orderkey) from {lineitem}")[0]
    f["lines per order (max)"] = one(
        "select max(c) from (select count(*) c from {lineitem} group by l_orderkey)")[0]
    f["ship - order days (min, max)"] = one(
        "select min(date_diff('day', o_orderdate, l_shipdate)), "
        "max(date_diff('day', o_orderdate, l_shipdate)) "
        "from {lineitem} join {orders} on l_orderkey = o_orderkey")
    f["l_extendedprice mean"] = round(one("select avg(l_extendedprice) from {lineitem}")[0])
    f["distinct p_retailprice"] = one("select count(distinct p_retailprice) from {part}")[0]
    f["events per user (min, max)"] = one(
        "select min(c), max(c) from (select count(*) c from {events} group by user_id)")
    f["event value p50, p99"] = tuple(round(x, 1) for x in one(
        "select quantile_cont(value, 0.5), quantile_cont(value, 0.99) from {events}"))
    f["docs per source (min, max)"] = one(
        "select min(c), max(c) from (select count(*) c from {documents} group by source)")
    texts = [t for (t,) in con.execute(
        f"select text from '{d}/documents.parquet' order by doc_id").fetchall()]
    words = [len(t.split()) for t in texts]
    f["words per doc (min, mean, max)"] = (min(words), round(float(np.mean(words)), 1), max(words))
    f["vocabulary"] = len({w for t in texts for w in t.split()})
    sh = [{tuple(t.split()[i:i + 5]) for i in range(max(1, len(t.split()) - 4))} for t in texts]
    f["doc pairs with 5-gram Jaccard >= 0.5"] = sum(
        len(sh[i] & sh[j]) / len(sh[i] | sh[j]) >= 0.5
        for i in range(len(sh)) for j in range(i + 1, len(sh)))
    emb = np.array([e for (e,) in con.execute(
        f"select embedding from '{d}/embeddings.parquet' order by vec_id").fetchall()], dtype=float)
    lab = np.array([x for (x,) in con.execute(
        f"select label from '{d}/embeddings.parquet' order by vec_id").fetchall()])
    cos = emb @ emb.T / np.outer(np.linalg.norm(emb, axis=1), np.linalg.norm(emb, axis=1))
    np.fill_diagonal(cos, np.nan)
    same = lab[:, None] == lab[None, :]
    f["cosine, same label"] = round(float(np.nanmean(np.where(same, cos, np.nan))), 3)
    f["cosine, nearest neighbour"] = round(float(np.nanmax(cos, axis=1).mean()), 3)
    return f


if __name__ == "__main__":
    a, b = shapes(sys.argv[1]), shapes(sys.argv[2])
    print(f"| figure | {sys.argv[1]} | {sys.argv[2]} |\n|---|---|---|")
    for k in a:
        print(f"| {k} | {a[k]} | {b[k]} |")
