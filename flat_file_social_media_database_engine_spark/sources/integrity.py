"""Referential-integrity dataflows (reference S3 / J5 / J6).

The reference enforces logical FKs by load-time filtering
(buzzdb_lab1.cpp:251-252, :299-302), insert-time probes (:645-661),
and a post-hoc anti-join sweep (``check_no_dangling_post_ids``,
:1063-1070). All three are semi/anti equi-joins whose build side is
the dim's key column — broadcast by AQE while it is small, like the
reference's in-memory ``unordered_set`` build/probe (:524-547) but
shipped to executors. A semi or anti join keeps or drops each probe
row whether its key matches once or many times, so the build side
needs no de-duplication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _keys(dim: DataFrame, dim_key: str, fact_key: str) -> DataFrame:
    """Key projection of the build side, renamed to the fact key. It
    is not de-duplicated: left-semi and left-anti results do not
    depend on duplicate build keys, and a ``distinct`` would cost two
    shuffles of the whole key column before the join. The join
    strategy is left to AQE / autoBroadcastJoinThreshold: it
    broadcasts a small key column (the reference's in-memory
    ``unordered_set`` build, buzzdb_lab1.cpp:524-547) and picks a
    shuffled join once the build side stops fitting (a fact key set
    grows with the data).
    """
    return dim.select(F.col(dim_key).alias(fact_key))


def semi_filter(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Keep fact rows whose key exists in dim (left-semi join).

    Mirrors buzzdb_lab1.cpp:207-213 (build) + :251-252 (probe). The
    build side is the dim's key column alone, never the full dim.
    """
    return fact.join(_keys(dim, dim_key, fact_key), on=fact_key, how="left_semi")


def anti_filter(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Fact rows whose key is missing from dim (dangling FKs)."""
    return fact.join(_keys(dim, dim_key, fact_key), on=fact_key, how="left_anti")


def ri_sweep(pairs: list[tuple[DataFrame, DataFrame, str, str, str]]) -> DataFrame:
    """One-row report of dangling-FK counts for several relationships.

    ``pairs`` items: (fact, dim, fact_key, dim_key, label).
    """
    import functools

    counts = [
        anti_filter(fact, dim, fk, dk)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(label).alias("relationship"), F.col("n").alias("dangling_count"))
        for fact, dim, fk, dk, label in pairs
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), counts)


def validate_batch(
    batch: DataFrame, checks: list[tuple[DataFrame, str, str]]
) -> DataFrame:
    """FK-validate an incoming batch before append (reference J6/M2,
    buzzdb_lab1.cpp:645-661): rows failing any FK probe are dropped
    (the reference silently no-ops; callers wanting observability can
    diff the input against the result)."""
    out = batch
    for dim, batch_key, dim_key in checks:
        out = semi_filter(out, dim, batch_key, dim_key)
    return out
