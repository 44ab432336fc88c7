"""Headline analytical queries — the A1 conditional-aggregate pattern
(buzzdb_lab1.cpp:745-764) scaled up to multi-join TPC-H-style plans.
These are the bench.py drivers.

Float determinism: double summation is order-dependent, and Spark's
partial aggregation order differs from DuckDB's, so every SUM over a
double expression is computed in DECIMAL (exact, order-independent)
and cast back to DOUBLE for output. Products stay in double (per-row,
deterministic); only the commutative reduction needs the exact type.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rankselect import rank_select
from ..plans.materialize import materialize, shared_pass
from ..sources.catalog import read_table
from . import query


def _dsum(col: Column | str) -> Column:
    """Order-independent sum of a double expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(28,6)")).cast("double")


# ---------------------------------------------------------------------------
# Pricing summary (TPC-H Q1 shape): single-pass grouped multi-aggregate
# — the scaled-up form of the reference's one-scan likes/comments
# count (A1, buzzdb_lab1.cpp:749-762).
# ---------------------------------------------------------------------------
@query(
    "q_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS DOUBLE) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape. Measured cost note (sf0.1, local[32], warm):
    the DECIMAL(28,6) sums ARE the query — 1.6s vs 0.32s for plain
    double sums on the same scan (the >18-digit accumulator leaves
    Spark's compact-long decimal fast path). That 5x is the price of
    cross-engine bit parity (double accumulation is order-dependent;
    see tools/selfcheck's dtype-strict hash), paid deliberately: an
    integer-units shortcut (round(x*1e6) to bigint) matches on clean
    2-decimal inputs but diverges from the oracle's string-based
    decimal cast on product columns like disc/charge, so it is NOT
    safe here."""
    li = read_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-12-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum(disc).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Top-revenue orders (TPC-H Q3 shape): 3-way join, grouped sum, top-k.
# Exercises broadcast dim join + shuffle agg + global top-k — the
# plan shape that must survive 100 TB (dim side broadcast, fact side
# never re-shuffled more than once).
# ---------------------------------------------------------------------------
@query(
    "q_top_revenue_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01'
      AND l_shipdate > TIMESTAMP '1999-01-01'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        li.filter(F.col("l_shipdate") > F.to_timestamp(F.lit("1999-01-01")))
        .join(
            orders.filter(
                F.col("o_orderdate") < F.to_timestamp(F.lit("1999-01-01"))
            ).join(
                F.broadcast(building),
                on=F.col("o_custkey") == F.col("c_custkey"),
                how="left_semi",
            ),
            on=F.col("l_orderkey") == F.col("o_orderkey"),
            how="inner",
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Regional revenue (TPC-H Q5 shape): snowflake join through
# region→nation→customer→orders→lineitem with all dims broadcast.
# ---------------------------------------------------------------------------
@query(
    "q_region_revenue",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    dims = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    on=F.col("n_regionkey") == F.col("r_regionkey"),
                    how="inner",
                )
            ),
            on=F.col("c_nationkey") == F.col("n_nationkey"),
            how="inner",
        )
        .select("c_custkey", "n_name")
    )
    ord_f = orders.filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    ).select("o_orderkey", "o_custkey")
    return (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(
            ord_f.join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "n_name"),
            on=F.col("l_orderkey") == F.col("o_orderkey"),
            how="inner",
        )
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# Correlated-subquery shape, decorrelated: "orders above 1.5x their
# own customer's average" is the classic per-row-vs-own-group
# predicate (TPC-H Q17/Q22 family). The naive form re-aggregates per
# probe row; the engine form is ONE window over the custkey exchange
# — the aggregate and the probe share a single shuffle.
# ---------------------------------------------------------------------------
@query(
    "q_above_customer_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
                    OVER (PARTITION BY o_custkey) AS DOUBLE)
               / count(*) OVER (PARTITION BY o_custkey) AS cust_avg
      FROM orders
    )
    WHERE o_totalprice > 1.5 * cust_avg
    """,
)
def q_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above 1.5x their customer's average order value:
    (o_orderkey, o_custkey, o_totalprice, cust_avg).

    Scale posture: the correlated subquery decorrelates into one
    window over partitionBy(o_custkey) — a single custkey exchange
    computes the per-customer aggregate AND evaluates the per-row
    predicate; no self-join, no second scan. The average divides a
    DECIMAL-exact sum by an exact count, so the 1.5x comparison is
    bit-identical cross-engine. Per-customer partitions are
    order-count-sized (bounded), never corpus-sized."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(28,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        orders.select(
            "o_orderkey", "o_custkey", "o_totalprice", cust_avg.alias("cust_avg")
        )
        .filter(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
    )


# ---------------------------------------------------------------------------
# A1 writ large: single-pass conditional multi-count over one scan.
# ---------------------------------------------------------------------------
@query(
    "a1_conditional_counts",
    oracle="""
    SELECT count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS returned,
           count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS accepted,
           count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS neither,
           count(*) AS total
    FROM lineitem
    """,
)
def a1_conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("returned"),
        F.count(F.when(F.col("l_returnflag") == "A", 1)).alias("accepted"),
        F.count(F.when(F.col("l_returnflag") == "N", 1)).alias("neither"),
        F.count(F.lit(1)).alias("total"),
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence — pairwise part lift within orders
# (the support/lift core of association-rule mining, Agrawal &
# Srikant VLDB'94). Pair generation is the classic quadratic risk:
# a k-item basket yields C(k,2) pairs, so one pathological mega-
# basket (a crawler cart, a bot order) can emit billions of pairs
# from a single group. The guard is the same posture as the LSH
# hot-bucket cap: baskets over _BASKET_CAP items are excluded, in
# BOTH engines, so the bound is part of the verified semantics —
# TPC-H orders top out at 7 lineitems, so the cap never bites on the
# fixtures, but the 100 TB plan carries it structurally.
# Plan shape: ONE data-sized shuffle (groupBy orderkey into a sorted
# distinct-part array), pair expansion map-side from the array
# (collect_set dedups repeated parts within an order), then a
# map-side-combined count on the already-reduced pair stream; part
# frequencies and the basket total ride the same arrays and come
# back as broadcast joins.
# ---------------------------------------------------------------------------
_BASKET_CAP = 32
_MIN_PAIR_ORDERS = 2  # singleton co-occurrences are noise, not rules


@shared_pass
def _baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(okey, parts): each order's sorted distinct part array, orders
    of more than _BASKET_CAP parts dropped. One scan + one shuffle,
    materialized: pairs, part frequencies, and the basket total all
    consume this frame — without the persist each branch re-runs the
    full scan+groupBy (observed: 4 lineitem scans in the first cut's
    executed plan)."""
    li = read_table(spark, sf_dir, "lineitem")
    return materialize(
        li.select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_partkey").alias("pkey"),
        )
        .groupBy("okey")
        .agg(F.sort_array(F.collect_set("pkey")).alias("parts"))
        .filter(F.size("parts") <= _BASKET_CAP)
    )


@query(
    "orders_market_basket",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
    ),
    sized AS (
      SELECT okey FROM baskets GROUP BY okey
      HAVING count(*) <= {_BASKET_CAP}
    ),
    b AS (SELECT baskets.* FROM baskets JOIN sized USING (okey)),
    pairs AS (
      SELECT b1.pkey AS p1, b2.pkey AS p2,
             CAST(count(*) AS BIGINT) AS pair_orders
      FROM b b1 JOIN b b2 ON b1.okey = b2.okey AND b1.pkey < b2.pkey
      GROUP BY 1, 2
    ),
    freq AS (SELECT pkey, CAST(count(*) AS BIGINT) AS n_orders FROM b GROUP BY 1),
    tot AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_baskets FROM b)
    SELECT p1, p2, pair_orders,
           fa.n_orders AS p1_orders, fb.n_orders AS p2_orders,
           CAST(pair_orders * n_baskets AS DOUBLE)
             / CAST(fa.n_orders * fb.n_orders AS DOUBLE) AS lift
    FROM pairs
    JOIN freq fa ON p1 = fa.pkey
    JOIN freq fb ON p2 = fb.pkey
    CROSS JOIN tot
    WHERE pair_orders >= {_MIN_PAIR_ORDERS}
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-pair support + lift over order baskets. lift > 1 means
    the pair co-occurs more than independent part popularity
    predicts. Float determinism: the only double op is one division
    of two exact integer products (both < 2^53), bit-equal
    cross-engine."""
    baskets = _baskets(spark, sf_dir)
    # C(k,2) ordered pairs from the sorted distinct array, map-side:
    # slice is 1-based, so element i (0-based) pairs with everything
    # from position i+2 on — ascending order gives p1 < p2 for free.
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), "
                "y -> struct(x AS p1, y AS p2))))"
            )
        ).alias("pr")
    ).select("pr.p1", "pr.p2")
    pair_counts = pairs.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).alias("pair_orders")
    ).filter(F.col("pair_orders") >= _MIN_PAIR_ORDERS)
    freq = (
        baskets.select(F.explode("parts").alias("pkey"))
        .groupBy("pkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    fa = F.broadcast(
        freq.select(F.col("pkey").alias("p1"), F.col("n_orders").alias("p1_orders"))
    )
    fb = F.broadcast(
        freq.select(F.col("pkey").alias("p2"), F.col("n_orders").alias("p2_orders"))
    )
    return (
        pair_counts.join(fa, "p1")
        .join(fb, "p2")
        .crossJoin(F.broadcast(tot))
        .select(
            "p1",
            "p2",
            "pair_orders",
            "p1_orders",
            "p2_orders",
            (
                (F.col("pair_orders") * F.col("n_baskets")).cast("double")
                / (F.col("p1_orders") * F.col("p2_orders")).cast("double")
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-level aggregation: ROLLUP over (priority, status) — subtotal
# and grand-total rows in one pass (grouping sets), the operator
# class a reporting layer otherwise emulates with N separate scans.
# ---------------------------------------------------------------------------
@query(
    "a2_orders_rollup",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                AS BIGINT) AS gid
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def a2_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan, one shuffle: Spark expands the rollup into grouping
    sets before the exchange, so detail rows, per-priority subtotals,
    and the grand total partial-aggregate together instead of one
    scan per level. ``gid`` disambiguates NULL-as-subtotal from a
    genuinely NULL grouping value on both engines."""
    roll = (
        read_table(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select("o_orderpriority", "o_orderstatus", "n_orders", "gid")
    )
    return _with_standard_grand_total(roll)


@query(
    "a2_orders_cube",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                AS BIGINT) AS gid
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def a2_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE completes the grouping-sets surface next to ROLLUP: all
    four aggregation levels (detail, each single-dimension margin,
    grand total) from one scan and one shuffle — the cross-tab a
    reporting layer otherwise builds with 4 separate scans. Same
    ``gid`` disambiguation as the rollup twin."""
    cube = (
        read_table(spark, sf_dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select("o_orderpriority", "o_orderstatus", "n_orders", "gid")
    )
    return _with_standard_grand_total(cube)


def _with_standard_grand_total(sets: DataFrame) -> DataFrame:
    """SQL-standard empty-input semantics for grouping sets: the
    grand-total set (``GROUP BY ()``) aggregates over an empty input
    to ONE row (count = 0), but Spark's rollup/cube emit ZERO rows
    there (the expand+hash-agg path has no global-aggregate special
    case; DuckDB follows the standard — caught by the zero-row
    differential suite). Repair WITHOUT a second fact scan: drop the
    engine's grand-total row (gid = 3) and re-derive it from the
    finest-level partials (gid = 0) — sum-of-detail-counts IS the
    grand count on non-empty input, and coalesce(…, 0) supplies the
    standard's zero row on empty input. Integer arithmetic, so the
    replacement row is value-identical to the one it replaces."""
    detail_total = (
        sets.filter(F.col("gid") == 0)
        .agg(F.coalesce(F.sum("n_orders"), F.lit(0)).cast("bigint").alias("n_orders"))
        .select(
            F.lit(None).cast("string").alias("o_orderpriority"),
            F.lit(None).cast("string").alias("o_orderstatus"),
            "n_orders",
            F.lit(3).cast("bigint").alias("gid"),
        )
    )
    return sets.filter(F.col("gid") != 3).unionByName(detail_total)


# ---------------------------------------------------------------------------
# RFM segmentation — the classic customer scoring (recency/frequency/
# monetary quartiles), i.e. the reference's per-user engagement
# counting (A2, buzzdb_lab1.cpp:682-700) graduated into the
# segmentation every analytics deployment actually ships.
# ---------------------------------------------------------------------------
@query(
    "orders_rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                 AS monetary
      FROM orders
      GROUP BY o_custkey
    )
    SELECT o_custkey, last_order, frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey)
                AS BIGINT) AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey)
                AS BIGINT) AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey)
                AS BIGINT) AS m_quartile
    FROM per_cust
    """,
)
@shared_pass
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer RFM quartiles (1 = best: most recent / most
    frequent / highest spend; ties broken by custkey so ntile is a
    total order and the cross-engine hash is exact; monetary routes
    through DECIMAL so the sum is order-independent).

    Scale posture (round-3 verdict item 2 — the unpartitioned-ntile
    rewrite): ONE map-side-combined shuffle reduces orders to a
    per-customer row; then, per dimension, a 3-POINT EXACT RANK
    LOOKUP (operators/rankselect.rank_select) finds the tuples at
    ntile's cumulative tile-boundary ranks c_i = i·⌊n/4⌋ + min(i,
    n mod 4), and a map-only when-ladder compares each customer's
    (encoded key, custkey) struct against the three broadcast 1-row
    boundary structs. No unpartitioned window anywhere — the rank
    lookup range-partitions on the composite (key, custkey) so even
    fully tied frequencies split across partitions — and the
    assignment provably REPRODUCES ntile: with a total order,
    tile(row) = #boundaries ≥ row's tuple, which is exactly the
    ladder. The oracle deliberately stays the ntile spec; the pin to
    the old window formulation at all three fixture scales lives in
    tests/test_rankselect.py.

    Descending dims ride ascending encodings (-unix_micros(ts),
    -frequency, -monetary): injective order-reversals, applied
    identically on the lookup and ladder sides."""

    per_cust = materialize(
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            _dsum("o_totalprice").alias("monetary"),
        )
    )
    encs = {
        # last_order is TIMESTAMP_NTZ — encode tz-free (unix_micros
        # demands an instant; an NTZ→instant cast is not monotonic
        # across DST fall-backs): microseconds UNTIL a far-future
        # anchor is strictly decreasing in last_order.
        "r_quartile": F.expr(
            "timestampdiff(MICROSECOND, last_order,"
            " TIMESTAMP_NTZ '3000-01-01 00:00:00')"
        ).cast("bigint"),
        "f_quartile": (-F.col("frequency")).cast("bigint"),
        "m_quartile": -F.col("monetary"),
    }
    cuts = {
        f"c{i}": (
            lambda i: lambda n: F.lit(i).cast("bigint")
            * F.floor(n / 4).cast("bigint")
            + F.least(F.lit(i).cast("bigint"), n % 4)
        )(i)
        for i in (1, 2, 3)
    }
    out = per_cust
    for qname, enc in encs.items():
        keyed = per_cust.select(
            enc.alias("k"), F.col("o_custkey").alias("ck")
        )
        th = rank_select(keyed, [], ["k", "ck"], cuts)
        bounds = th.select(
            *[F.col(f"c{i}").alias(f"__{qname}_c{i}") for i in (1, 2, 3)]
        )
        key = F.struct(enc.alias("k"), F.col("o_custkey").alias("ck"))
        out = out.crossJoin(F.broadcast(bounds)).withColumn(
            qname,
            F.when(key <= F.col(f"__{qname}_c1"), F.lit(1))
            .when(key <= F.col(f"__{qname}_c2"), F.lit(2))
            .when(key <= F.col(f"__{qname}_c3"), F.lit(3))
            .otherwise(F.lit(4))
            .cast("bigint"),
        )
    return out.select(
        "o_custkey",
        "last_order",
        "frequency",
        "monetary",
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )
