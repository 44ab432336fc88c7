"""Deterministic parquet fixtures for the analytic workloads.

The engine's query surface is written against a TPC-H-ish star schema
plus ``events``, ``documents`` and ``embeddings`` tables (FIXTURES.md
§2), which its test harness reads from seed-42 parquet files. This
module writes those files from the same seed: at sf0.001, sf0.01 and
sf0.1 every table holds the values of the harness files row for row,
with the same column types (timestamps are ``timestamp[us]``), one row
group per file and snappy compression; the only difference is 17 of
the 100,000 ``events.ts`` values at sf0.1 (2 of 10,000 at sf0.01),
which lie 1 µs apart. Table by table it draws from one ``numpy`` generator in
a fixed order, so the order of the draws and of each category list
below is part of the format.

Generation is numpy + pyarrow only, so it runs before any JVM starts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# drawn uniformly, so "en" has weight 3/7
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
DUP_SHARE = 0.05
EMBED_DIM = 64


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """Midnight timestamps (µs) drawn uniformly from [lo, hi]."""
    d0 = np.datetime64(lo, "D").astype(np.int64)
    d1 = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(d0, d1 + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    # one row group per file, like the packed fixture writer
    pq.write_table(
        table,
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=max(1, table.num_rows),
        compression="snappy",
    )


def _documents(rng, n: int) -> dict:
    words = np.array(VOCAB)
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))  # each length is drawn before its words
        texts.append(" ".join(words[rng.integers(0, len(VOCAB), k)]))
    # each duplicate copies any document as it stands at that moment
    # (possibly itself a duplicate, which gives `` dup dup`` chains)
    dup_ids = rng.choice(n, int(n * DUP_SHARE), replace=False)
    for i, src in zip(dup_ids, rng.integers(0, n, len(dup_ids))):
        texts[i] = texts[src] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def corpus_rows(sf: float) -> int:
    """documents/embeddings rows: flat below sf0.1, then linear."""
    return 500 if sf < 0.1 else int(round(50_000 * sf))


def generate(out_dir: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write all ten tables for scale factor ``sf`` under ``out_dir``;
    returns row counts. Same (sf, seed) → byte-identical files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(round(150_000 * sf)))
    n_supp = max(1, int(round(10_000 * sf)))
    n_part = max(1, int(round(200_000 * sf)))
    n_ord = max(1, int(round(1_500_000 * sf)))
    n_li = max(1, int(round(6_000_000 * sf)))
    n_ev = max(1, int(round(1_000_000 * sf)))
    n_users = max(1, n_cust // 10)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng.uniform(1000, 500_000, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng.uniform(900, 105_000, n_li)),
        "l_discount": _cents(rng.uniform(0, 0.10, n_li)),
        "l_tax": _cents(rng.uniform(0, 0.08, n_li)),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    t0, t1 = _us("2024-01-01"), _us("2024-01-31")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(rng.integers(t0, t1, n_ev)).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng.exponential(50.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_docs = corpus_rows(sf)
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_docs if sf < 0.1 else int(round(20_000 * sf))))
    return {t: pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows for t in TABLES}
