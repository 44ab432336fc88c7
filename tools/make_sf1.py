"""Synthesize an sf1 tier (10x sf0.1) for the scaling audit.

The driver ships fixtures up to sf0.1 only, where nearly every
headline query is scheduler/overhead-bound — SCALING.md's "all
sub-linear" verdict was measuring Spark's fixed costs, not the
algorithms (round-3 verdict item 3 / advisor finding). This tool
builds ONE bigger tier so at least one measured step is data-bound.

Construction: deterministic 10x replication of sf0.1 with per-replica
key offsets (FK-consistent within each replica — customer/orders
share the custkey offset, lineitem follows orderkey), and two
decorrelation steps that keep workload CHARACTER linear instead of
quadratic:

- documents: every 2nd token of each replica's text is tagged with
  the replica id, dropping cross-replica Jaccard far below the
  near-dup threshold — the corpus grows 10x, its intra-replica
  duplicate structure is preserved 10x, and no artificial
  cross-replica near-dup cliques appear (those would grow the
  verified pair set quadratically in the replica count, a property
  of the synthesis, not of the engine).
- embeddings: replicas k>0 get seeded unit-scale Gaussian noise
  (cosine to the original ~0.7), so ANN tables grow 10x without
  creating 45-pair near-dup cliques per vector.

Dims (region/nation/part/supplier) copy unchanged: lineitem keeps its
part/supp FKs, so per-part density grows 10x — the realistic shape.

Everything is seeded/arithmetic — rerunning produces byte-identical
tables. Output: $SPARK_GRAFT_SF1_DIR (default /tmp/spark_graft_sf1).

Round 5: generalized to any replica count so the audit can measure a
SECOND data-bound decade — ``python tools/make_sf1.py 100
/tmp/spark_graft_sf10`` builds an sf10 tier (60M lineitem / 10M
events / 500k docs / 200k vectors). The decorrelation constructions
hold for any k (per-replica token tags stay pairwise-disjoint,
per-replica Gaussian seeds stay distinct), and the key offsets leave
int64 headroom past 1000 replicas.

Usage: python tools/make_sf1.py [replicas] [out_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OUT = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
REPLICAS = 10
# key offsets: far above any sf0.1 key, stable across reruns
C_OFF = 10_000_000  # custkey (customer, orders, events.user_id)
O_OFF = 100_000_000  # orderkey (orders, lineitem)
E_OFF = 10_000_000  # event_id
D_OFF = 1_000_000  # doc_id
V_OFF = 1_000_000  # vec_id


def _copy(con, table: str) -> None:
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SRC}/{table}.parquet')) TO "
        f"'{OUT}/{table}.parquet' (FORMAT PARQUET)"
    )


def _replicate(con, table: str, select_k: str) -> None:
    """UNION ALL of ``select_k`` for k in 0..REPLICAS-1. Key offsets
    are precomputed in Python ({ck}/{ok}/{ek}/{dk} = k * *_OFF): an
    inline ``{k} * 100000000`` is typed INT32 by DuckDB and overflows
    at k = 22 — found the first time a 100-replica tier was built."""
    parts = " UNION ALL ".join(
        select_k.format(
            k=k,
            ck=k * C_OFF,
            ok=k * O_OFF,
            ek=k * E_OFF,
            dk=k * D_OFF,
        )
        for k in range(REPLICAS)
    )
    con.execute(
        f"COPY ({parts}) TO '{OUT}/{table}.parquet' (FORMAT PARQUET)"
    )


def main() -> int:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    # a 1000-replica tier chains 1000 UNION ALL branches — DuckDB's
    # default parser depth (1000) trips just under it (found building
    # the sf100 tier); the chain is shallow in planning terms, only
    # the parse is nested
    con.execute("SET max_expression_depth TO 25000")
    # COPY preserves insertion order by default, which BUFFERS the
    # whole union before writing — at 1000 replicas that is 600M
    # lineitem rows (~100 GB resident, observed). Replica order is
    # irrelevant to every consumer (Spark scans are unordered), so
    # stream the write instead.
    con.execute("SET preserve_insertion_order TO false")
    con.execute("SET memory_limit TO '24GB'")
    # spill beside the output, not into the caller's cwd
    con.execute(f"SET temp_directory TO '{OUT}/.duck_tmp'")

    for dim in ("region", "nation", "part", "supplier"):
        _copy(con, dim)

    _replicate(
        con,
        "customer",
        f"SELECT c_custkey + {{ck}} AS c_custkey, c_name,"
        f" c_nationkey, c_acctbal, c_mktsegment"
        f" FROM read_parquet('{SRC}/customer.parquet')",
    )
    _replicate(
        con,
        "orders",
        f"SELECT o_orderkey + {{ok}} AS o_orderkey,"
        f" o_custkey + {{ck}} AS o_custkey, o_orderstatus,"
        f" o_totalprice, o_orderdate, o_orderpriority"
        f" FROM read_parquet('{SRC}/orders.parquet')",
    )
    _replicate(
        con,
        "lineitem",
        f"SELECT l_orderkey + {{ok}} AS l_orderkey, l_partkey,"
        f" l_suppkey, l_linenumber, l_quantity, l_extendedprice,"
        f" l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
        f" FROM read_parquet('{SRC}/lineitem.parquet')",
    )
    # ts shifted k seconds: replica users are distinct people, the
    # tiny shift just avoids 10-way exact-tie pileups in global sorts
    _replicate(
        con,
        "events",
        f"SELECT event_id + {{ek}} AS event_id,"
        f" ts + INTERVAL ({{k}}) SECOND AS ts,"
        f" user_id + {{ck}} AS user_id,"
        f" event_type, value, props"
        f" FROM read_parquet('{SRC}/events.parquet')",
    )
    # replica-tag every 2nd token: the engine shingles word 3-grams
    # (dedup.SHINGLE_K = 3), and with alternate words tagged NO
    # 3-window is tag-free, so cross-replica shingle sets are fully
    # disjoint — zero cross-replica LSH candidates, which is what
    # keeps the synthesized corpus's candidate volume linear in the
    # replica count (measured: tagging every 7th word left word-gram
    # Jaccard ~0.4 — under the 0.5 verify threshold but still
    # band-colliding, i.e. a quadratic candidate term the audit would
    # misattribute to the engine).
    _replicate(
        con,
        "documents",
        f"SELECT doc_id + {{dk}} AS doc_id,"
        f" CASE WHEN {{k}} = 0 THEN text ELSE list_aggregate("
        f"   list_transform(string_split(text, ' '), (w, i) ->"
        f"     CASE WHEN i % 2 = 0 THEN 'r{{k}}' || w ELSE w END),"
        f"   'string_agg', ' ') END AS text,"
        f" lang, source, n_chars"
        f" FROM read_parquet('{SRC}/documents.parquet')",
    )

    # embeddings: numpy for the seeded perturbation
    emb = con.execute(
        f"SELECT vec_id, embedding, label FROM"
        f" read_parquet('{SRC}/embeddings.parquet') ORDER BY vec_id"
    ).fetch_arrow_table()
    vec_ids = emb["vec_id"].to_numpy()
    labels = emb["label"].to_numpy()
    mat = np.asarray(emb["embedding"].to_pylist(), dtype=np.float32)
    out_ids, out_vecs, out_labels = [], [], []
    scale = float(np.mean(np.linalg.norm(mat, axis=1)))
    for k in range(REPLICAS):
        if k == 0:
            v = mat
        else:
            rng = np.random.default_rng(1_000 + k)
            noise = rng.standard_normal(mat.shape).astype(np.float32)
            noise *= scale / np.maximum(
                np.linalg.norm(noise, axis=1, keepdims=True), 1e-9
            )
            v = mat + noise
        out_ids.append(vec_ids + k * V_OFF)
        out_vecs.append(v)
        out_labels.append(labels)
    ids = np.concatenate(out_ids)
    vecs = np.concatenate(out_vecs)
    labs = np.concatenate(out_labels)
    tbl = pa.table(
        {
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.array(
                [row for row in vecs.tolist()],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(labs, type=pa.int32()),
        }
    )
    pq.write_table(tbl, f"{OUT}/embeddings.parquet")

    for t in (
        "customer orders lineitem events documents embeddings".split()
    ):
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{OUT}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n}")
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 1:
        REPLICAS = int(sys.argv[1])
    if len(sys.argv) > 2:
        OUT = sys.argv[2]
    sys.exit(main())
