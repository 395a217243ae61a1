"""Deterministic synthetic corpus in the engine's table layout.

Writes the ten parquet tables the declared queries read (a TPC-H-like
star schema, an ``events`` stream with nanosecond timestamps, a
``documents`` text corpus with planted near-duplicates and an
``embeddings`` table of unit vectors) with the column types,
value domains and row-count ratios of the engine's reference corpora.
The same ``(scale, seed)`` always yields byte-identical values, so a
benchmark run never depends on data outside its own checkout.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.43, 0.14, 0.14, 0.14, 0.15)
N_SOURCES = 20
EMBED_DIM = 64


def table_rows(scale: float) -> dict[str, int]:
    """Row count per table at ``scale`` (1.0 = 6M lineitem rows).
    The text and vector tables keep 500 rows at least, so near-duplicate
    and nearest-neighbour operators have families to find."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(int(150_000 * scale), 50),
        "supplier": max(int(10_000 * scale), 10),
        "part": max(int(200_000 * scale), 50),
        "orders": max(int(1_500_000 * scale), 500),
        "lineitem": max(int(6_000_000 * scale), 2_000),
        "events": max(int(1_000_000 * scale), 1_000),
        "documents": max(int(50_000 * scale), 500),
        "embeddings": max(int(20_000 * scale), 500),
    }


def _ts(start: str, seconds: np.ndarray, unit: str) -> pa.Array:
    base = np.datetime64(start, unit)
    step = {"ms": 1_000, "ns": 1_000_000_000}[unit]
    return pa.array(base + (seconds * step).astype("int64"), pa.timestamp(unit))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # About one doc in twenty repeats an earlier doc with a trailing
    # "dup" token toggled: the near-duplicate families the dedup
    # operators exist to find.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        src = texts[int(rng.integers(0, i))]
        texts[i] = src[:-4] if src.endswith(" dup") else src + " dup"
    ids = np.arange(n, dtype="int64")
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(size=(n, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype("int32"),
        }
    )


def generate(out_dir: str, scale: float, seed: int = 42) -> dict[str, int]:
    """Write every table under ``out_dir`` as ``<table>.parquet``;
    returns the row counts written."""
    rng = np.random.default_rng(seed)
    rows = table_rows(scale)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li, n_ev = rows["orders"], rows["lineitem"], rows["events"]
    day = 86_400
    span_95_01 = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    colours = "red blue old new hot cold small large".split()
    nouns = "bolt gear ring rod plate anvil widget".split()
    built = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
                )[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{colours[a]} {nouns[b]}"
                    for a, b in zip(
                        rng.integers(0, len(colours), n_part),
                        rng.integers(0, len(nouns), n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
                )[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _ts(
                    "1995-01-01", rng.integers(0, span_95_01 + 1, n_ord) * day, "ms"
                ),
                "o_orderpriority": np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                )[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
                "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
                "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _ts(
                    "1995-01-02", rng.integers(0, 2498, n_li) * day, "ms"
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype="int64"),
                # sorted arrival times over 30 days, nanosecond precision
                "ts": _ts(
                    "2024-01-01",
                    np.sort(rng.uniform(0, 30 * day, n_ev)),
                    "ns",
                ),
                "user_id": rng.integers(0, max(n_cust // 10, 10), n_ev).astype("int64"),
                "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                    rng.integers(0, 5, n_ev)
                ],
                "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    for name, table in built.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in built.items()}
