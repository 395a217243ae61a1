#!/usr/bin/env python
"""Synthesize an sf1-scale corpus for the core-count scaling
spot-check (tools/sf1_scaling.py).

The driver's testdata is read-only and tops out at sf0.1 — too small
for core-count scaling to show (fixed costs dominate; 8c/32c ratios
measure ~1.0 everywhere). This tool replicates sf0.1 10x with
remapped keys into OUT (default /root/testdata_synth/sf1):

* events: event_id remapped to a fresh range per replica; ts shifted
  by <replica> seconds; value perturbed by replica*1e-6 so the
  distinct-value census scales like the row count.
* documents: doc_id remapped; a per-replica suffix token appended so
  shingle/near-dup densities stay corpus-like instead of becoming
  10-way exact-duplicate families.
* embeddings: vec_id remapped, vectors unchanged.
* orders/customer/lineitem/supplier/part/nation/region: key columns
  remapped per replica (dims below customer kept as-is — dimension
  size does not drive the scaling question).

Deterministic (pure arithmetic on the source rows, no RNG). This is
MEASUREMENT tooling only: nothing in the engine reads this corpus
unless pointed at it explicitly.

Usage: python tools/make_sf1.py [src_dir] [out_dir]   (SF1_REPLICAS=10)
"""
from __future__ import annotations

import os
import sys

import duckdb

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata_synth/sf1"
REPLICAS = int(os.environ.get("SF1_REPLICAS", "10"))

os.makedirs(OUT, exist_ok=True)
con = duckdb.connect()


def write(table: str, select_sql: str) -> None:
    dst = os.path.join(OUT, f"{table}.parquet")
    con.execute(
        f"COPY ({select_sql}) TO '{dst}' (FORMAT PARQUET, CODEC 'SNAPPY')"
    )
    n = con.execute(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
    print(f"{table}: {n} rows")


def src(table: str) -> str:
    return f"read_parquet('{SRC}/{table}.parquet')"


def replicate(table: str, expr_by_col: dict[str, str]) -> str:
    cols = [
        r[0]
        for r in con.execute(f"DESCRIBE SELECT * FROM {src(table)}").fetchall()
    ]
    sel = ", ".join(expr_by_col.get(c, c) + f" AS {c}" for c in cols)
    return (
        f"SELECT {sel} FROM {src(table)} "
        f"CROSS JOIN (SELECT unnest(range({REPLICAS})) AS __r) r"
    )


mx = {}
for t, k in [("events", "event_id"), ("documents", "doc_id"),
             ("embeddings", "vec_id"), ("orders", "o_orderkey"),
             ("customer", "c_custkey"), ("lineitem", "l_orderkey")]:
    mx[t] = con.execute(f"SELECT max({k}) + 1 FROM {src(t)}").fetchone()[0]

write("events", replicate("events", {
    "event_id": f"event_id + __r * {mx['events']}",
    "ts": "ts + to_microseconds(__r * 1000000)",
    "value": "value + __r * 0.000001",
}))
write("documents", replicate("documents", {
    "doc_id": f"doc_id + __r * {mx['documents']}",
    "text": "CASE WHEN __r = 0 THEN text ELSE text || ' r' || __r END",
}))
write("embeddings", replicate("embeddings", {
    "vec_id": f"vec_id + __r * {mx['embeddings']}",
}))
write("orders", replicate("orders", {
    "o_orderkey": f"o_orderkey + __r * {mx['orders']}",
    "o_custkey": f"o_custkey + __r * {mx['customer']}",
}))
write("customer", replicate("customer", {
    "c_custkey": f"c_custkey + __r * {mx['customer']}",
}))
write("lineitem", replicate("lineitem", {
    "l_orderkey": f"l_orderkey + __r * {mx['orders']}",
}))
for t in ("supplier", "part", "nation", "region"):
    p = os.path.join(SRC, f"{t}.parquet")
    if os.path.exists(p):
        write(t, f"SELECT * FROM {src(t)}")
print("done ->", OUT)
