"""Distributed rank/rank-select (operators/rankselect.py): the
scale-safe replacements for unpartitioned windows, pinned EXACTLY
equal to the single-reducer window formulations they replace —
including the two round-4 consumer rewrites (orders_rfm_segments,
events_value_percentiles) at all three fixture scales (round-3
verdict items 2-3)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flat_file_social_media_database_engine_spark.operators.rankselect import (
    grouped_prefix_sum,
    rank_select,
)

SCALES = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def _synthetic(spark, n=5000, groups=4):
    """Rows with heavy ties in the primary order column (the skew case
    an unpartitioned / per-group window can't split) and a unique
    tiebreak id."""
    return spark.range(n).select(
        (F.col("id") % groups).alias("g"),
        # ~8 distinct values → massive ties; a hot value spans many
        # range partitions only because the composite key includes id
        (F.xxhash64("id") % 8).alias("v"),
        F.col("id").alias("tid"),
    )


def test_rank_select_keeps_null_group(spark):
    df = spark.range(90).select(
        F.when(F.col("id") % 2 == 0, None).otherwise(F.lit("a")).alias("g"),
        (F.col("id") % 5).alias("v"),
        F.col("id").alias("tid"),
    )
    got = rank_select(
        df, ["g"], ["v", "tid"], {"mid": lambda n: F.ceil(n / 2)}
    )
    rows = {r.g: r for r in got.collect()}
    assert set(rows) == {None, "a"}
    assert rows[None].n == 45 and rows["a"].n == 45


def test_rank_select_picks_exact_rows(spark):
    df = _synthetic(spark, n=3001, groups=5)
    cuts = {
        "lo": lambda n: F.lit(1),
        "mid": lambda n: F.ceil(n / 2),
        "hi": lambda n: n,
    }
    got = rank_select(df, ["g"], ["v", "tid"], cuts, total_col="n")
    w = Window.partitionBy("g").orderBy("v", "tid")
    ranked = df.select(
        "g",
        "v",
        "tid",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
    )
    want = ranked.filter(
        (F.col("rn") == 1)
        | (F.col("rn") == F.ceil(F.col("n") / 2))
        | (F.col("rn") == F.col("n"))
    ).collect()
    want_by_g = {}
    for r in want:
        want_by_g.setdefault(r.g, {})[r.rn] = (r.v, r.tid)
    for row in got.collect():
        marks = want_by_g[row.g]
        n = row.n
        assert (row.lo.v, row.lo.tid) == marks[1]
        assert (row.mid.v, row.mid.tid) == marks[-(-n // 2)]
        assert (row.hi.v, row.hi.tid) == marks[n]


def test_rank_select_global_all_cuts_out_of_range(spark):
    """Rows present but EVERY cut outside [1, n]: the ungrouped
    branch must still report the real n (totals come from the
    metadata-sized offsets table, mirroring the grouped spine — the
    round-5 advisor catch), with all cuts null."""
    df = spark.range(17).select(F.col("id").alias("v"), F.col("id").alias("tid"))
    got = rank_select(
        df,
        [],
        ["v", "tid"],
        {"over": lambda n: n + 5, "under": lambda n: F.lit(0)},
    ).collect()
    assert len(got) == 1
    assert got[0].n == 17
    assert got[0].over is None and got[0].under is None


def test_grouped_prefix_sum_matches_window(spark):
    """Exclusive running sum pinned to the monolithic
    partitionBy(group) window formulation, heavy ties included."""
    df = _synthetic(spark, n=4001, groups=3).withColumn(
        "val", (F.xxhash64("tid") % 100 + 100).cast("bigint")
    )
    got = grouped_prefix_sum(
        df,
        ["g"],
        [F.col("v").asc(), F.col("tid").asc()],
        value_col="val",
        out_col="run",
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v", "tid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn("run", F.coalesce(F.sum("val").over(w), F.lit(0)))
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )


@pytest.mark.parametrize("parts", [1, 5, 64])
def test_grouped_prefix_sum_partition_count_invariant(spark, parts):
    df = _synthetic(spark, n=499, groups=2).withColumn(
        "val", (F.col("tid") % 9 + 1).cast("bigint")
    )
    got = sorted(
        map(
            tuple,
            grouped_prefix_sum(
                df,
                ["g"],
                [F.col("v").asc(), F.col("tid").asc()],
                value_col="val",
                out_col="run",
                num_partitions=parts,
            ).select("g", "v", "tid", "val", "run").collect(),
        )
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v", "tid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = sorted(
        map(
            tuple,
            df.withColumn(
                "run", F.coalesce(F.sum("val").over(w), F.lit(0))
            ).collect(),
        )
    )
    assert got == want


def test_grouped_prefix_sum_global_and_null_group(spark):
    """No-group case (sentinel path) and NULL as a real group."""
    df = spark.range(50).select(
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id") % 4).alias("g"),
        F.col("id").alias("tid"),
        (F.col("id") % 6 + 1).cast("bigint").alias("val"),
    )
    got_g = grouped_prefix_sum(
        df, ["g"], [F.col("tid").asc()], value_col="val", out_col="run"
    )
    assert got_g.count() == 50
    w = (
        Window.partitionBy("g")
        .orderBy("tid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want_g = df.withColumn("run", F.coalesce(F.sum("val").over(w), F.lit(0)))
    from collections import Counter

    assert Counter(map(tuple, got_g.select(*want_g.columns).collect())) == Counter(
        map(tuple, want_g.collect())
    )
    got = grouped_prefix_sum(
        df, [], [F.col("tid").asc()], value_col="val", out_col="run"
    )
    wg = (
        Window.partitionBy(F.lit(0))
        .orderBy("tid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn("run", F.coalesce(F.sum("val").over(wg), F.lit(0)))
    assert Counter(map(tuple, got.select(*want.columns).collect())) == Counter(
        map(tuple, want.collect())
    )


@pytest.mark.parametrize("sf_dir", SCALES)
def test_pack_sequences_pins_to_window_formulation(spark, sf_dir):
    """docs_pack_sequences' sharded prefix sum must be row-for-row
    identical to the per-source monolithic window it replaced
    (round-5 verdict item 1)."""
    from flat_file_social_media_database_engine_spark.workloads.text import (
        SEQ_LEN,
        _tokens,
        docs_pack_sequences,
    )
    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
    )

    got = sorted(map(tuple, docs_pack_sequences(spark, sf_dir).collect()))
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.size(_tokens()).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = sorted(
        map(
            tuple,
            tok.withColumn(
                "start_offset",
                (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint"),
            )
            .select(
                "doc_id",
                "source",
                "n_tokens",
                "start_offset",
                F.floor(F.col("start_offset") / SEQ_LEN)
                .cast("bigint")
                .alias("chunk_id"),
            )
            .collect(),
        )
    )
    assert got == want


def test_rank_select_global_empty_input(spark):
    df = spark.range(0).select(
        F.col("id").alias("v"), F.col("id").alias("tid")
    )
    got = rank_select(
        df, [], ["v", "tid"], {"c1": lambda n: F.lit(1)}
    ).collect()
    assert len(got) == 1 and got[0].c1 is None


def test_rank_select_grouped_empty_input(spark):
    df = spark.range(0).select(
        F.lit("g").alias("g"), F.col("id").alias("v"), F.col("id").alias("tid")
    )
    assert (
        rank_select(df, ["g"], ["v", "tid"], {"c1": lambda n: F.lit(1)}).count()
        == 0
    )


# ---------------------------------------------------------------------------
# Consumer pins: the round-4 scale-safe rewrites must be row-for-row
# identical to the single-reducer window formulations they replaced,
# at every fixture scale (round-3 verdict: "pinned hash-identical to
# the current window formulation at all three fixture scales").
# ---------------------------------------------------------------------------


def _old_rfm_window(spark, sf_dir):
    """The replaced round-3 formulation: three unpartitioned ntile
    windows over the reduced per-customer table (workloads/analytics
    history; the oracle SQL still states this spec)."""
    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
    )
    from flat_file_social_media_database_engine_spark.workloads.analytics import (
        _dsum,
    )

    per_cust = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            _dsum("o_totalprice").alias("monetary"),
        )
    )

    def quart(order_cols):
        return (
            F.ntile(4)
            .over(Window.partitionBy(F.lit(0)).orderBy(*order_cols))
            .cast("bigint")
        )

    return per_cust.select(
        "o_custkey",
        "last_order",
        "frequency",
        "monetary",
        quart([F.col("last_order").desc(), F.col("o_custkey")]).alias(
            "r_quartile"
        ),
        quart([F.col("frequency").desc(), F.col("o_custkey")]).alias(
            "f_quartile"
        ),
        quart([F.col("monetary").desc(), F.col("o_custkey")]).alias(
            "m_quartile"
        ),
    )


def _old_percentiles_window(spark, sf_dir):
    """The replaced round-3 formulation: window partitioned by the
    low-cardinality event_type (the oracle SQL still states it)."""
    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
    )

    events = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )

    def pick(p):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")), F.col("value")
            )
        )

    return ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        pick(0.50).alias("p50"),
        pick(0.90).alias("p90"),
        pick(0.99).alias("p99"),
    )


@pytest.mark.parametrize("sf_dir", SCALES)
def test_rfm_segments_pins_to_window_formulation(spark, sf_dir):
    from flat_file_social_media_database_engine_spark.workloads.analytics import (
        orders_rfm_segments,
    )

    got = sorted(map(tuple, orders_rfm_segments(spark, sf_dir).collect()))
    want = sorted(map(tuple, _old_rfm_window(spark, sf_dir).collect()))
    assert got == want


@pytest.mark.parametrize("sf_dir", SCALES)
def test_value_percentiles_pin_to_window_formulation(spark, sf_dir):
    from flat_file_social_media_database_engine_spark.workloads.eventflow import (
        events_value_percentiles,
    )

    got = sorted(
        map(tuple, events_value_percentiles(spark, sf_dir).collect())
    )
    want = sorted(map(tuple, _old_percentiles_window(spark, sf_dir).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# Property differential: random tiny frames (NULL groups, heavy ties,
# varying partition counts) vs a pure-Python rank-lookup model. The fixture
# differentials above pin the two shipped consumers; this pins the
# operator CONTRACT itself across the input space — the same strategy
# that caught the null-group join drop would have caught it pre-ship.
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_row_st = st.tuples(
    st.sampled_from([None, 0, 1, 2]),  # group (NULL is a real group)
    st.integers(min_value=-3, max_value=3),  # heavy-tie order value
)
_frame_st = st.lists(_row_st, min_size=0, max_size=40)


def _mk_df(spark, rows):
    return spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(rows)],
        "g int, v int, tid int",
    )


@given(rows=_frame_st, parts=st.sampled_from([1, 3]))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rank_select_matches_model(spark, rows, parts):
    df = _mk_df(spark, rows)
    got = rank_select(
        df,
        ["g"],
        ["v", "tid"],
        {
            "lo": lambda n: F.lit(1),
            "mid": lambda n: F.ceil(n / 2),
            "hi": lambda n: n,
            "beyond": lambda n: n + 1,  # always out of range -> null
        },
        num_partitions=parts,
    )
    by_g: dict = {}
    for i, (g, v) in enumerate(rows):
        by_g.setdefault(g, []).append((v, i))
    want = {}
    for g, vs in by_g.items():
        vs.sort()
        n = len(vs)
        want[g] = (
            n,
            vs[0],  # lo
            vs[(n + 1) // 2 - 1],  # mid = ceil(n/2)
            vs[n - 1],  # hi
            None,  # beyond
        )
    have = {
        r.g: (
            r.n,
            (r.lo.v, r.lo.tid) if r.lo else None,
            (r.mid.v, r.mid.tid) if r.mid else None,
            (r.hi.v, r.hi.tid) if r.hi else None,
            (r.beyond.v, r.beyond.tid) if r.beyond else None,
        )
        for r in got.collect()
    }
    assert have == want
