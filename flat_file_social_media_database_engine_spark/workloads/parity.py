"""Reference-parity operators instantiated on the driver fixtures
(FIXTURES.md §2 instantiation map). Each query cites the SURVEY.md §2
operator id and the reference lines it mirrors.

Events play the role of engagements, customer of users:
``events.user_id → customer.c_custkey`` is the fixtures' FK edge
(like ``engagements.username → users.username``), and
``event_type ∈ {click,error,purchase,signup,view}`` is the enum
column (like ``type ∈ {like,comment}``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.mutations import apply_view_deltas, rekey_cascade, validated_append
from ..plans.materialize import scratch_dir
from ..sources.catalog import read_table
from ..sources.integrity import anti_filter, semi_filter
from . import query


# ---------------------------------------------------------------------------
# Q1 — point equi-join + conjunctive filter + projection + multi-key sort
# (J3/P1/P3/O1; reference getAllUserComments, buzzdb_lab1.cpp:682-718)
# ---------------------------------------------------------------------------
@query(
    "q1_user_events",
    oracle="""
    SELECT e.event_id AS event_id, e.props AS props
    FROM events e
    JOIN (SELECT c_custkey FROM customer WHERE c_custkey = 42) c
      ON e.user_id = c.c_custkey
    WHERE e.event_type = 'click'
    ORDER BY e.event_id, e.props
    """,
)
def q1_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    customer = read_table(spark, sf_dir, "customer")
    user_row = customer.filter(F.col("c_custkey") == 42).select(
        F.col("c_custkey").alias("user_id")
    )
    return (
        events.filter(F.col("event_type") == "click")
        .join(F.broadcast(user_row), on="user_id", how="inner")
        .select("event_id", "props")
        .orderBy("event_id", "props")
    )


# ---------------------------------------------------------------------------
# Q2 — filtered dim → broadcast semi-join → single-pass conditional counts
# (J4/A1; reference getAllEngagementsByLocation, buzzdb_lab1.cpp:725-766)
# ---------------------------------------------------------------------------
@query(
    "q2_engagements_by_segment",
    oracle="""
    SELECT count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks
    FROM events
    WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def q2_engagements_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    customer = read_table(spark, sf_dir, "customer")
    seg_users = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("user_id")
    )
    return events.join(F.broadcast(seg_users), on="user_id", how="left_semi").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
    )


# ---------------------------------------------------------------------------
# S3/J1 — load-time RI semi-join filter (buzzdb_lab1.cpp:251-252)
# ---------------------------------------------------------------------------
@query(
    "s3_ri_filter_orders",
    oracle="""
    SELECT * FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer)
    """,
)
def s3_ri_filter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    return semi_filter(orders, customer, "o_custkey", "c_custkey")


# ---------------------------------------------------------------------------
# J2 — chained semi-joins: fact valid against *surviving* parent
# (buzzdb_lab1.cpp:258-264,299-302 — order matters)
# ---------------------------------------------------------------------------
@query(
    "j2_chained_ri_lineitem",
    oracle="""
    SELECT * FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer)
    )
    """,
)
def j2_chained_ri_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    orders_ok = semi_filter(orders, customer, "o_custkey", "c_custkey")
    return semi_filter(lineitem, orders_ok, "l_orderkey", "o_orderkey")


# ---------------------------------------------------------------------------
# J5 — anti-join RI sweep (check_no_dangling_post_ids,
# buzzdb_lab1.cpp:1063-1070)
# ---------------------------------------------------------------------------
@query(
    "j5_ri_sweep",
    oracle="""
    SELECT 'lineitem->orders' AS relationship,
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS dangling_count
    UNION ALL
    SELECT 'orders->customer' AS relationship,
           (SELECT count(*) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS dangling_count
    """,
)
def j5_ri_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    a = anti_filter(lineitem, orders, "l_orderkey", "o_orderkey").agg(
        F.count(F.lit(1)).alias("dangling_count")
    ).select(F.lit("lineitem->orders").alias("relationship"), "dangling_count")
    b = anti_filter(orders, customer, "o_custkey", "c_custkey").agg(
        F.count(F.lit(1)).alias("dangling_count")
    ).select(F.lit("orders->customer").alias("relationship"), "dangling_count")
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# P3/P4 — conjunctive equality/range filter + projection
# (buzzdb_lab1.cpp:706, :736)
# ---------------------------------------------------------------------------
@query(
    "p3_filter_project",
    oracle="""
    SELECT event_id, user_id, value FROM events
    WHERE event_type = 'view' AND value > 100.0
    """,
)
def p3_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events.filter(
        (F.col("event_type") == "view") & (F.col("value") > 100.0)
    ).select("event_id", "user_id", "value")


# ---------------------------------------------------------------------------
# P5 — key point lookup (map::find; buzzdb_lab1.cpp:691-693)
# ---------------------------------------------------------------------------
@query(
    "p5_point_lookup",
    oracle="SELECT * FROM customer WHERE c_custkey = 7",
)
def p5_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "customer").filter(F.col("c_custkey") == 7)


# ---------------------------------------------------------------------------
# A2 — group-by count (buzzdb_lab1.cpp:1239-1244,1355-1364)
# ---------------------------------------------------------------------------
@query(
    "a2_orders_per_customer",
    oracle="""
    SELECT o_custkey, count(*) AS order_count
    FROM orders GROUP BY o_custkey
    """,
)
def a2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# A3 — distinct counts (std::set sizes; buzzdb_lab1.cpp:1099-1114)
# ---------------------------------------------------------------------------
@query(
    "a3_distinct_counts",
    oracle="""
    SELECT count(DISTINCT o_custkey) AS distinct_customers,
           count(DISTINCT o_orderpriority) AS distinct_priorities,
           count(*) AS total_orders
    FROM orders
    """,
)
def a3_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.countDistinct("o_orderpriority").alias("distinct_priorities"),
        F.count(F.lit(1)).alias("total_orders"),
    )


# ---------------------------------------------------------------------------
# A3' — approx-distinct scale variant (SURVEY §2 A3 row: countDistinct
# is an exact global dedup — one full shuffle of the key; at the
# 100 TB tier the HLL++ sketch partial-aggregates map-side into
# fixed-size state instead). The differential contract: the Spark
# side emits the sketch estimate's relative error vs the exact count
# as a WITHIN-TOLERANCE boolean (HLL++ at rsd=0.01 is deterministic
# for fixed input), so the oracle — which has no HLL twin — checks
# the exact counts and pins the tolerance verdict to TRUE.
# ---------------------------------------------------------------------------
_A3_RSD = 0.01  # HLL++ target relative standard deviation
_A3_TOL = 0.05  # accepted |approx - exact| / exact (5 sigma)


@query(
    "a3_approx_distinct",
    oracle=f"""
    SELECT count(DISTINCT o_custkey) AS distinct_customers,
           count(DISTINCT o_orderpriority) AS distinct_priorities,
           CAST(TRUE AS BOOLEAN) AS custkey_within_tol,
           CAST(TRUE AS BOOLEAN) AS priority_within_tol,
           CAST({_A3_TOL} AS DOUBLE) AS tolerance
    FROM orders
    """,
)
def a3_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    def within(approx, exact):
        # exact == 0 only on an EMPTY table (both counters run over
        # the same rows) — the relative-error division would raise
        # ANSI DIVIDE_BY_ZERO there; a zero-estimate of zero is
        # trivially within tolerance (pinned by the zero-row
        # differential suite).
        return F.when(exact == 0, approx == 0).otherwise(
            F.abs(approx.cast("double") - exact.cast("double"))
            / exact.cast("double")
            <= F.lit(_A3_TOL)
        )

    return (
        read_table(spark, sf_dir, "orders")
        .agg(
            F.countDistinct("o_custkey").alias("distinct_customers"),
            F.countDistinct("o_orderpriority").alias("distinct_priorities"),
            F.approx_count_distinct("o_custkey", rsd=_A3_RSD).alias("ac"),
            F.approx_count_distinct("o_orderpriority", rsd=_A3_RSD).alias("ap"),
        )
        .select(
            "distinct_customers",
            "distinct_priorities",
            within(F.col("ac"), F.col("distinct_customers")).alias(
                "custkey_within_tol"
            ),
            within(F.col("ap"), F.col("distinct_priorities")).alias(
                "priority_within_tol"
            ),
            F.lit(_A3_TOL).alias("tolerance"),
        )
    )


# ---------------------------------------------------------------------------
# A5 — median (test harness median-of-5; buzzdb_lab1.cpp:1154-1157)
# ---------------------------------------------------------------------------
@query(
    "a5_median_totalprice",
    oracle="""
    SELECT round(median(o_totalprice), 4) AS median_totalprice,
           round(median(o_orderkey), 4) AS median_orderkey
    FROM orders
    """,
)
def a5_median_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT medians by rank-select, not by ``F.median``.

    Why not the builtin: Spark's exact ``median``/``percentile``
    aggregate buffers EVERY value in its aggregation buffer (an
    OpenHashMap of value → count, merged into one final buffer) — at
    the sf100 audit tier (150M orders) the round-9 battery watched
    that buffer grind a 40 GB heap to an OOM'd SparkContext. The
    engine already owns the scale-safe exact machinery
    (``operators.rankselect``, the events_value_percentiles path):
    one range exchange + one map-side-combined count pass LOCATE the
    two middle ranks, and only the one partition slice holding them
    is locally sorted — O(partitions) driver state, no value buffer
    anywhere. Median = mean of the floor/ceil middle ranks (n even →
    average of the two central values), matching DuckDB's
    interpolating ``median`` and the old builtin bit-for-bit on the
    fixtures. Empty table → null cuts → null medians, same as the
    oracle (pinned by the zero-row differential suite)."""
    from ..operators.rankselect import rank_select

    orders = read_table(spark, sf_dir, "orders")
    cuts = {
        "lo": lambda n: (n + F.lit(1)) / 2,  # bigint cast → floor
        "hi": lambda n: (n + F.lit(2)) / 2,  # floor((n+2)/2) = ceil((n+1)/2)
    }

    def med(df: DataFrame, col: str, order_cols: list[str]):
        picked = rank_select(df, [], order_cols, cuts)
        return picked.select(
            F.round(
                (F.col(f"lo.{col}") + F.col(f"hi.{col}")) / 2, 4
            ).alias(f"median_{col.split('_', 1)[1]}")
        )

    # two 1-row selects; the crossJoin is a 1×1 broadcast
    return med(orders, "o_totalprice", ["o_totalprice", "o_orderkey"]).crossJoin(
        med(orders, "o_orderkey", ["o_orderkey"])
    )


# ---------------------------------------------------------------------------
# O1 — multi-key ascending global sort (buzzdb_lab1.cpp:712)
# ---------------------------------------------------------------------------
@query(
    "o1_multikey_sort",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
)
def o1_multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# O3 — the ANSI window-function surface in one driver-checked pass
# (beyond the reference's global sort, which is O1): per-customer
# rank, lag/lead neighbors, quartile bucket, and percent_rank over
# orders. Every window orders by (o_totalprice DESC, o_orderkey) —
# the unique-key tie-break makes all five functions deterministic, so
# the whole suite value-hashes bit-for-bit (percent_rank is
# (rank-1)/(n-1): exact integer inputs, one IEEE division).
# One shuffle on o_custkey serves all functions (same window spec);
# limited to 3 rows/customer to keep the driver payload small.
# ---------------------------------------------------------------------------
@query(
    "o3_window_suite",
    oracle="""
    WITH w AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER win AS rn,
             lag(o_orderkey) OVER win AS prev_orderkey,
             lead(o_orderkey) OVER win AS next_orderkey,
             ntile(4) OVER win AS quartile,
             percent_rank() OVER win AS pct_rank
      FROM orders
      WINDOW win AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey)
    )
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(rn AS BIGINT) AS rn, prev_orderkey, next_orderkey,
           CAST(quartile AS BIGINT) AS quartile, pct_rank
    FROM w WHERE rn <= 3
    """,
)
def o3_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    win = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(win).cast("bigint").alias("rn"),
            F.lag("o_orderkey").over(win).alias("prev_orderkey"),
            F.lead("o_orderkey").over(win).alias("next_orderkey"),
            F.ntile(4).over(win).cast("bigint").alias("quartile"),
            F.percent_rank().over(win).alias("pct_rank"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# E1 — set intersection (std::set_intersection;
# buzzdb_lab1.cpp:1124-1138)
# ---------------------------------------------------------------------------
@query(
    "e1_intersect_custkeys",
    oracle="""
    SELECT c_custkey FROM customer
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def e1_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return customer.select("c_custkey").intersect(
        orders.select(F.col("o_custkey").alias("c_custkey"))
    )


# ---------------------------------------------------------------------------
# M1 — batched point update with clamp (updatePostViews,
# buzzdb_lab1.cpp:603-631). Deltas derived deterministically from the
# key so the oracle can reproduce them.
# ---------------------------------------------------------------------------
@query(
    "m1_apply_price_deltas",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size,
           greatest(CAST(0 AS DOUBLE),
                    p_retailprice + CAST(p_partkey % 7 - 3 AS DOUBLE) * 100.0
           ) AS p_retailprice
    FROM part
    """,
)
def m1_apply_price_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    deltas = part.select(
        F.col("p_partkey"),
        ((F.col("p_partkey") % 7 - 3).cast("double") * 100.0).alias("delta"),
    )
    updated = apply_view_deltas(
        part, deltas, key="p_partkey", target="p_retailprice", delta_col="delta"
    )
    return updated.select(*part.columns)


# ---------------------------------------------------------------------------
# M2 — FK-validated append (addEngagementRecord,
# buzzdb_lab1.cpp:639-673). Half the synthetic batch carries dangling
# user_ids and must be silently dropped.
# ---------------------------------------------------------------------------
@query(
    "m2_validated_append",
    oracle="""
    WITH batch AS (
      SELECT event_id + 1000000 AS event_id, ts,
             CASE WHEN event_id % 2 = 0 THEN user_id
                  ELSE user_id + 1000000 END AS user_id,
             'synthetic' AS event_type, value, props
      FROM events WHERE event_id < 100
    )
    SELECT * FROM events
    UNION ALL
    SELECT * FROM batch
    WHERE user_id IN (SELECT c_custkey FROM customer)
    """,
)
def m2_validated_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    customer = read_table(spark, sf_dir, "customer")
    batch = (
        events.filter(F.col("event_id") < 100)
        .withColumn(
            "user_id",
            F.when(F.col("event_id") % 2 == 0, F.col("user_id")).otherwise(
                F.col("user_id") + 1000000
            ),
        )
        .withColumn("event_id", F.col("event_id") + 1000000)
        .withColumn("event_type", F.lit("synthetic"))
    )
    return validated_append(
        events, batch.select(*events.columns), [(customer, "user_id", "c_custkey")]
    )


# ---------------------------------------------------------------------------
# M3 — cascading re-key across tables (updateUserName,
# buzzdb_lab1.cpp:775-963): customer 7 re-keyed to 1000007, propagated
# to orders.o_custkey; returns the new orders snapshot.
# ---------------------------------------------------------------------------
@query(
    "m3_rekey_cascade_orders",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_custkey = 7 THEN 1000007 ELSE o_custkey END AS o_custkey,
           o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM orders
    """,
)
def m3_rekey_cascade_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    _, facts = rekey_cascade(
        customer, [(orders, "o_custkey")], "c_custkey", 7, 1000007
    )
    return facts[0].select(*orders.columns)


# ---------------------------------------------------------------------------
# M4 — snapshot DELETE + MERGE (beyond the reference's mutation
# surface, completing the lakehouse CRUD set alongside S4/S5/M1-M3):
# file-level copy-on-write delete_where, then a merge_upsert whose
# update batch deterministically rewrites every 97th order and whose
# insert rows use sentinel negative keys. Update keys that the delete
# removed RE-insert (MERGE semantics); the oracle replays
# delete → anti-join → union in plain SQL. Partial-rewrite carry
# behavior (untouched manifest entries by reference) is pinned in
# tests/test_durability.py.
# ---------------------------------------------------------------------------
@query(
    "m4_delete_upsert",
    oracle="""
    WITH kept AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice > 200000)
    ),
    upd AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
             o_totalprice + 10 AS o_totalprice
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    ins(o_orderkey, o_custkey, o_orderstatus, o_totalprice) AS (
      VALUES (CAST(-1 AS BIGINT), CAST(1 AS BIGINT), 'N',
              CAST(1000.5 AS DOUBLE)),
             (CAST(-2 AS BIGINT), CAST(2 AS BIGINT), 'N',
              CAST(2000.5 AS DOUBLE))
    )
    SELECT * FROM (
      SELECT k.* FROM kept k
      WHERE k.o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins
    )
    """,
)
def m4_delete_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.snapshots import SnapshotStore

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    store = SnapshotStore(spark, scratch_dir("snap_m4"))
    # two manifest entries so the delete/merge exercise partial rewrite
    store.commit({"orders": orders.filter(F.col("o_orderkey") % 2 == 0)})
    store.append({"orders": orders.filter(F.col("o_orderkey") % 2 == 1)})
    store.delete_where(
        "orders",
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 200000),
    )
    upd = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 10).alias("o_totalprice"),
    )
    ins = spark.createDataFrame(
        [(-1, 1, "N", 1000.5), (-2, 2, "N", 2000.5)],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double",
    )
    store.merge_upsert("orders", upd.unionByName(ins), ["o_orderkey"])
    return store.read("orders")


# ---------------------------------------------------------------------------
# M5 — snapshot table-diff: reconcile two committed versions of the
# same table into (added / removed / changed) rows — the audit query
# a versioned store owes its operators, and the one FULL OUTER join
# in the surface. v2 is derived deterministically from v1 (delete
# F-status > 300k, bump every 101st totalprice, insert two sentinel
# keys) via the same CRUD primitives m4 exercises; the diff then
# full-outer joins v1↔v2 on the key and classifies by presence and
# value inequality. Unchanged rows are excluded (at 100 TB the diff
# output is change-sized, not table-sized; the join itself is one
# key shuffle, prunable further with partition-aligned versions).
# ---------------------------------------------------------------------------
@query(
    "m5_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice FROM orders
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice > 300000)
      UNION ALL
      SELECT * FROM (VALUES (CAST(-1 AS BIGINT), CAST(10.5 AS DOUBLE)),
                            (CAST(-2 AS BIGINT), CAST(20.5 AS DOUBLE)))
    )
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           v1.o_totalprice AS old_totalprice,
           v2.o_totalprice AS new_totalprice,
           CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR v1.o_totalprice <> v2.o_totalprice
    """,
)
def m5_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.snapshots import SnapshotStore

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    store = SnapshotStore(spark, scratch_dir("snap_m5"))
    v1 = store.commit({"orders": orders})
    store.delete_where(
        "orders",
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000),
    )
    upd = (
        store.read("orders")
        .filter(F.col("o_orderkey") % 101 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.5)
    )
    ins = spark.createDataFrame(
        [(-1, "N", 10.5), (-2, "N", 20.5)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    v2 = store.merge_upsert(
        "orders", upd.unionByName(ins), ["o_orderkey"]
    )

    old = store.read("orders", version=v1).select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_totalprice").alias("old_totalprice"),
    )
    new = store.read("orders", version=v2).select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_totalprice").alias("new_totalprice"),
    )
    joined = old.join(new, old.k1 == new.k2, "full_outer")
    return joined.filter(
        F.col("k1").isNull()
        | F.col("k2").isNull()
        | (F.col("old_totalprice") != F.col("new_totalprice"))
    ).select(
        F.coalesce("k1", "k2").alias("o_orderkey"),
        "old_totalprice",
        "new_totalprice",
        F.when(F.col("k1").isNull(), F.lit("added"))
        .when(F.col("k2").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    )


# ---------------------------------------------------------------------------
# P6/P7 — exact 6-char-class trim + strict cast-or-drop, driver-checked
# (reference trim buzzdb_lab1.cpp:131-141, to_int :144-154; pytest
# covers the CSV loader path, this twin runs the SAME rules through
# the oracle). Dirty strings are synthesized deterministically from
# o_orderkey: every 3rd key gets a corrupting suffix that must fail
# the strict parse; the rest get the full whitespace-class padding
# that must trim away.
# ---------------------------------------------------------------------------
@query(
    "p6_p7_trim_strict_cast",
    oracle="""
    WITH dirty AS (
      SELECT CASE WHEN o_orderkey % 3 = 0
                  THEN '  ' || CAST(o_orderkey AS VARCHAR) || 'x '
                  ELSE chr(9) || chr(11) || CAST(o_orderkey AS VARCHAR)
                       || chr(10) || chr(13) || chr(12) || ' '
             END AS s
      FROM orders
    ),
    parsed AS (
      SELECT TRY_CAST(
               regexp_replace(s, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$',
                              '', 'g')
               AS BIGINT) AS v
      FROM dirty
    )
    SELECT count(*) AS n_total,
           count(v) AS n_valid,
           CAST(sum(v) AS BIGINT) AS sum_valid
    FROM parsed
    """,
)
def p6_p7_trim_strict_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    dirty = orders.select(
        F.when(
            key % 3 == 0, F.concat(F.lit("  "), key.cast("string"), F.lit("x "))
        )
        .otherwise(
            F.concat(
                F.lit("\t\x0b"), key.cast("string"), F.lit("\n\r\f ")
            )
        )
        .alias("s")
    )
    trimmed = F.regexp_replace(
        "s", r"^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$", ""
    )
    parsed = dirty.select(trimmed.try_cast("bigint").alias("v"))
    return parsed.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("v").alias("n_valid"),
        F.sum("v").alias("sum_valid"),
    )


# ---------------------------------------------------------------------------
# S5 — persisted snapshot round-trip, driver-checked: write part
# through the SnapshotStore (commit + pointer swap), read the
# published version back, return its contents. The oracle is the
# original table — equality proves the store is lossless.
# ---------------------------------------------------------------------------
@query(
    "s5_snapshot_roundtrip",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
    FROM part
    """,
)
def s5_snapshot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.snapshots import SnapshotStore

    part = read_table(spark, sf_dir, "part")
    store = SnapshotStore(spark, scratch_dir("snap_rt"))
    store.commit({"part": part})
    return store.read("part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )


# ---------------------------------------------------------------------------
# E2 — set difference (Spark except surface; the complement of E1's
# intersect): customers with finished ('F') orders but no open ('O')
# ones. (Every FK edge in the fixture is fully covered, so a plain
# customers-minus-orderers difference would be empty.)
# ---------------------------------------------------------------------------
@query(
    "e2_except_custkeys",
    oracle="""
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def e2_except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    ck = F.col("o_custkey").alias("c_custkey")
    finished = orders.filter(F.col("o_orderstatus") == "F").select(ck)
    open_ = orders.filter(F.col("o_orderstatus") == "O").select(ck)
    # subtract = EXCEPT (set semantics): one open order disqualifies
    # the customer entirely (exceptAll's bag semantics would not).
    return finished.subtract(open_)


# ---------------------------------------------------------------------------
# A4 — existence/membership probes (reference Test 1 golden-member
# checks, buzzdb_lab1.cpp:1116-1122): specific keys must exist after
# load; returned as one row of boolean-as-count facts.
# ---------------------------------------------------------------------------
@query(
    "a4_existence_checks",
    oracle="""
    SELECT
      (SELECT count(*) FROM customer WHERE c_custkey = 1) AS has_cust_1,
      (SELECT count(*) FROM orders   WHERE o_orderkey = 1) AS has_order_1,
      (SELECT count(*) FROM part     WHERE p_partkey  = 1) AS has_part_1,
      (SELECT count(*) FROM region   WHERE r_name = 'EUROPE') AS has_europe
    """,
)
def a4_existence_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    part = read_table(spark, sf_dir, "part")
    region = read_table(spark, sf_dir, "region")

    def probe(df: DataFrame, cond, alias: str) -> DataFrame:
        return df.filter(cond).agg(F.count(F.lit(1)).alias(alias))

    return (
        probe(customer, F.col("c_custkey") == 1, "has_cust_1")
        .crossJoin(probe(orders, F.col("o_orderkey") == 1, "has_order_1"))
        .crossJoin(probe(part, F.col("p_partkey") == 1, "has_part_1"))
        .crossJoin(probe(region, F.col("r_name") == "EUROPE", "has_europe"))
    )


# ---------------------------------------------------------------------------
# A5' — approx-median scale variant (same contract as A3': the exact
# median needs a full sort/selection; percentile_approx maintains a
# fixed-size sketch that partial-aggregates map-side. The oracle pins
# the exact median and the sketch's within-tolerance verdict.)
# ---------------------------------------------------------------------------
_A5_ACCURACY = 10_000  # percentile_approx accuracy knob
_A5_TOL = 0.01  # accepted |approx - exact| / exact


@query(
    "a5_approx_median",
    oracle=f"""
    SELECT round(median(o_totalprice), 4) AS median_exact,
           CAST(TRUE AS BOOLEAN) AS within_tol,
           CAST({_A5_TOL} AS DOUBLE) AS tolerance
    FROM orders
    """,
)
def a5_approx_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-exact verdict; the EXACT side reuses the rank-select
    median (see a5_median_totalprice — the builtin ``median``'s
    value-buffering aggregate OOMs at the sf100 audit tier), the
    sketch side stays the fixed-size map-side-combined
    percentile_approx whose accuracy the verdict column audits."""
    from ..operators.rankselect import rank_select

    orders = read_table(spark, sf_dir, "orders")
    exact = rank_select(
        orders,
        [],
        ["o_totalprice", "o_orderkey"],
        {
            "lo": lambda n: (n + F.lit(1)) / 2,
            "hi": lambda n: (n + F.lit(2)) / 2,
        },
    ).select(
        ((F.col("lo.o_totalprice") + F.col("hi.o_totalprice")) / 2).alias("m")
    )
    approx = read_table(spark, sf_dir, "orders").agg(
        F.percentile_approx(
            "o_totalprice", F.lit(0.5), F.lit(_A5_ACCURACY)
        ).alias("ma"),
    )
    return (
        exact.crossJoin(approx)  # two 1-row frames
        .select(
            F.round("m", 4).alias("median_exact"),
            # empty table → both medians NULL → trivially within
            # tolerance (the oracle's verdict column is TRUE by
            # construction; NULL here would drift — pinned by the
            # zero-row differential suite)
            F.when(F.col("m").isNull(), F.col("ma").isNull())
            .otherwise(
                F.abs(F.col("ma") - F.col("m")) / F.col("m") <= F.lit(_A5_TOL)
            )
            .alias("within_tol"),
            F.lit(_A5_TOL).alias("tolerance"),
        )
    )


# ---------------------------------------------------------------------------
# S7 — multi-format federation: one logical table served by three
# physical formats in a single plan. The reference is CSV-only
# (buzzdb_lab1.cpp loaders); this engine added JSONL + parquet +
# bucketed sources, and this entry proves the loaders agree: the
# events table is sliced three ways, each slice round-trips through a
# different format (parquet stays put, one slice through the strict
# CSV loader, one through the JSONL loader), and the reunited union
# must aggregate identically to the original — format fidelity is
# differentially checked per round, not assumed.
# ---------------------------------------------------------------------------
@query(
    "s7_multiformat_union",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(min(event_id) AS BIGINT) AS min_event_id,
           CAST(max(event_id) AS BIGINT) AS max_event_id,
           min(ts) AS min_ts,
           max(ts) AS max_ts
    FROM events
    GROUP BY event_type
    """,
)
def s7_multiformat_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice events by event_id % 4 → {parquet, CSV, JSONL, ORC};
    read each slice back through its format's loader; union;
    aggregate.

    Transport notes (the lossless-encoding decisions a federation
    layer owes its formats): ``props`` is JSON-with-commas, and the
    strict CSV dialect is UNQUOTED (reference grammar), so the CSV
    slice carries props base64-encoded — the standard opaque-column
    treatment for delimiter-unsafe payloads; ``ts`` rides as a
    formatted µs string and casts back. JSONL needs neither (its
    writer escapes natively), and ORC — columnar like parquet — is
    lossless for every column type here, so its slice is a plain
    write/read round-trip through Spark's built-in reader. The
    aggregate spans all four slices, so any fidelity loss in any
    loader breaks the differential hash.

    Scale: each slice is one scan + one write + one scan (the
    round-trip is the point of the entry, not a hot path); the final
    union aggregates with ordinary map-side combine. The sum over
    doubles goes through DECIMAL (see analytics._dsum rationale).
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from ..sources.csv_source import read_csv_strict
    from ..sources.json_source import read_jsonl, write_jsonl

    events = read_table(spark, sf_dir, "events")
    tmp = scratch_dir("s7_fed")
    mod = F.col("event_id") % 4

    pq_slice = events.filter(mod == 0)

    # --- CSV slice: unquoted dialect → base64 the JSON column,
    #     stringify the timestamp at µs precision.
    csv_path = f"{tmp}/events_csv"
    (
        events.filter(mod == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("value").cast("string").alias("value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            F.base64(F.col("props").cast("binary")).alias("props_b64"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .option("quote", "")
        .csv(csv_path)
    )
    csv_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("ts", TimestampType()),
            StructField("props_b64", StringType()),
        ]
    )
    csv_slice = read_csv_strict(
        spark, csv_path, csv_schema, int_columns=["event_id", "user_id"]
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts",
        F.unbase64("props_b64").cast("string").alias("props"),
    )

    # --- JSONL slice: native escaping, schema pinned from the source.
    jsonl_slice_src = events.filter(mod == 2)
    jsonl_path = f"{tmp}/events_jsonl"
    write_jsonl(jsonl_slice_src, jsonl_path)
    jsonl_slice = read_jsonl(spark, jsonl_path, schema=jsonl_slice_src.schema)

    # --- ORC slice: columnar, type-complete for this schema — a
    #     plain round-trip through the built-in reader (schema pinned
    #     rather than inferred, same discipline as the other slices).
    orc_path = f"{tmp}/events_orc"
    events.filter(mod == 3).write.mode("overwrite").orc(orc_path)
    orc_slice = spark.read.schema(events.schema).orc(orc_path)

    federated = (
        pq_slice.unionByName(csv_slice)
        .unionByName(jsonl_slice)
        .unionByName(orc_slice)
    )
    return federated.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint"))
        .cast("bigint")
        .alias("sum_k"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# S8 — incrementally-maintained rollup, driver-verified: seed a store
# with 3/4 of orders, fold, append the rest, fold AGAIN (incremental
# path), and return the maintained state. The oracle is the plain
# aggregate over ALL orders — i.e. the differential asserts the
# maintained fold ≡ full recompute, which is the IVM contract itself.
# ---------------------------------------------------------------------------
@query(
    "s8_rollup_maintenance",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
           CAST(min(o_orderkey) AS BIGINT) AS lo_key,
           CAST(max(o_orderkey) AS BIGINT) AS hi_key
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def s8_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaintainedRollup end-to-end under the driver oracle: the
    maintained (fold + incremental fold) state must hash-equal the
    one-shot aggregate over the full fact table.

    The monetary column pre-casts to DECIMAL(28,6) before it enters
    the store, so partial sums and their merge are EXACT decimal
    arithmetic — the fold order (which directories arrived when) can
    never show through to the values, which is precisely what makes
    the incremental fold ≡ full recompute differential meaningful."""
    from ..plans.rollup import MaintainedRollup
    from ..plans.snapshots import SnapshotStore

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(28,6)").alias("price_d"),
    )
    store = SnapshotStore(spark, scratch_dir("rollup_s8"))
    store.commit({"orders": orders.filter(F.col("o_orderkey") % 4 != 0)})
    r = MaintainedRollup(
        store,
        "by_status",
        "orders",
        ["o_orderstatus"],
        {
            "n": ("count", "o_orderkey"),
            "total": ("sum", "price_d"),
            "lo_key": ("min", "o_orderkey"),
            "hi_key": ("max", "o_orderkey"),
        },
    )
    assert r.refresh()["mode"] == "full"
    store.append({"orders": orders.filter(F.col("o_orderkey") % 4 == 0)})
    assert r.refresh()["mode"] == "incremental"
    return r.read().select(
        "o_orderstatus",
        "n",
        F.col("total").cast("double").alias("total"),
        "lo_key",
        "hi_key",
    )
