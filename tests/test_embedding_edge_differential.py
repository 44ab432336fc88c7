"""Degenerate-embedding differential for the similarity tier.

The fixture's embeddings are well-behaved unit-ish vectors; a real
embedding batch is not: zero vectors (failed encoder calls) make
cosine 0/0, exact duplicate vectors make ties everywhere, huge
magnitudes stress the fold arithmetic, and a corpus SMALLER than the
trained structures (fewer vectors than centroids / LSH tables assume)
stresses every sampling path. This plants exactly that corpus and
runs the embeddings-only queries against their DuckDB oracles with
the driver's hash compare — both engines must agree on the NaN/tie
behavior, not just on clean data.

Planted facts worth naming: vec 40 is all-zero (norm 0 → 0/0 cosine),
vecs 10/11 are bit-identical (cosine exactly 1 both ways), vec 41 has
magnitude 1e6 components.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pytest

import __spark_entry__ as entrymod
from tools.selfcheck import dtype_drift, value_hash

EMB_QUERIES = [
    "sim_topk_bruteforce",
    "sim_topk_lsh",
    "sim_topk_lsh_multiprobe",
    "sim_topk_ivf",
    "sim_topk_pq",
    "sim_topk_ivf_kmeans",
    "sim_topk_ivfpq",
    "sim_topk_ivf_persisted",
    "sim_kmeans_assign",
    "sim_neardup_cosine",
    "sim_neardup_lsh",
    "sim_neardup_regenerated",
    "sim_semantic_dedup",
    "sim_centroid_outliers",
    "sim_embedding_stats",
    "sim_dim_stats",
]


def _corpus() -> list[tuple[int, list[float], int]]:
    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        v = rng.randn(64).astype(np.float32)
        v /= max(float(np.linalg.norm(v)), 1e-9)
        rows.append((i, [float(x) for x in v], i % 3))
    # exact duplicate pair
    rows[11] = (11, rows[10][1], rows[10][2])
    # all-zero vector (norm 0 -> 0/0 cosine paths)
    rows.append((40, [0.0] * 64, 0))
    # huge-magnitude vector
    rows.append((41, [1e6 * ((j % 5) - 2) for j in range(64)], 1))
    return rows


@pytest.fixture(scope="module")
def emb_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("emb_edge")
    spark.createDataFrame(
        _corpus(), "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def emb_oracle(emb_dir):
    con = duckdb.connect()
    p = os.path.join(emb_dir, "embeddings.parquet", "*.parquet")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", EMB_QUERIES)
def test_degenerate_embeddings_match_oracle(spark, emb_dir, emb_oracle, name):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    sdf = qs[name](spark, emb_dir).toPandas()
    odf = emb_oracle.sql(oracles[name]).df()
    assert len(sdf) == len(odf), f"rows {len(sdf)} != {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)
    if len(sdf):
        assert not (drift := dtype_drift(sdf, odf)), drift
        assert value_hash(sdf) == value_hash(odf), "value hash mismatch"


def test_emb_hot_bucket_cap_bounds_zero_vector_blowup(spark, tmp_path_factory):
    """150 failed-encoder zero vectors share ONE signature per table
    (all sign bits agree on a zero dot), i.e. 32 hot buckets whose
    self-join would be quadratic. The cap must skip them in BOTH
    engines — zero pairs from the zero cluster (their cosines are
    NULL anyway), a genuine near-dup pair with small buckets
    survives, and the oracle replay hash-matches (the cap is
    differential, not asserted)."""
    import duckdb
    import numpy as np

    import __spark_entry__ as entrymod
    from tools.selfcheck import value_hash

    rng = np.random.RandomState(3)
    v = rng.randn(64)
    v /= np.linalg.norm(v)
    w = v + rng.randn(64) * 0.01  # near-duplicate of v
    w /= np.linalg.norm(w)
    rows = [(i, [0.0] * 64, 0) for i in range(150)]
    rows.append((150, [float(x) for x in v], 1))
    rows.append((151, [float(x) for x in w], 1))
    for i in range(152, 182):  # background vectors
        r = rng.randn(64)
        r /= np.linalg.norm(r)
        rows.append((i, [float(x) for x in r], 2))

    d = tmp_path_factory.mktemp("emb_hot")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    sdf = qs["sim_neardup_lsh"](spark, str(d)).toPandas()
    pairs = {(r.vec_id_a, r.vec_id_b) for r in sdf.itertuples()}
    assert (150, 151) in pairs, "small-bucket near-dup pair must survive"
    assert all(a >= 150 and b >= 150 for a, b in pairs), (
        "the zero-vector hot buckets must emit no pairs"
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    odf = con.sql(oracles["sim_neardup_lsh"]).df()
    assert len(sdf) == len(odf)
    assert value_hash(sdf) == value_hash(odf)
    con.close()
