"""The engine's "everything is also SQL" claim: fixture tables
register as temp views and arbitrary Spark SQL over them matches the
DataFrame operators (the reference's six hard-coded methods widen to
a full SQL surface for free).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flat_file_social_media_database_engine_spark.sources.catalog import read_table

SF = "/root/testdata/sf0.001"


def test_views_register_and_sql_matches_dataframe(spark):
    orders = read_table(spark, SF, "orders")
    orders.createOrReplaceTempView("orders")

    sql = spark.sql(
        """
        SELECT o.o_orderpriority, count(*) AS n
        FROM orders o
        WHERE o.o_totalprice > 1000
        GROUP BY o.o_orderpriority
        """
    )
    df = (
        orders.filter(F.col("o_totalprice") > 1000)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, sql.collect())) == sorted(map(tuple, df.collect()))


def test_sql_join_semi_equivalence(spark):
    for name in ("lineitem", "orders"):
        read_table(spark, SF, name).createOrReplaceTempView(name)
    semi = spark.sql(
        """
        SELECT count(*) AS n FROM lineitem l
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
                      AND o.o_orderstatus = 'F')
        """
    ).collect()[0]["n"]
    from flat_file_social_media_database_engine_spark.sources.integrity import (
        semi_filter,
    )

    li = spark.table("lineitem")
    orders_f = spark.table("orders").filter("o_orderstatus = 'F'")
    assert semi == semi_filter(li, orders_f, "l_orderkey", "o_orderkey").count()


def test_events_view_timestamp_semantics(spark):
    """The nanos→micros conversion must hold through the view path."""
    read_table(spark, SF, "events").createOrReplaceTempView("events")
    row = spark.sql(
        "SELECT min(ts) AS lo, max(ts) AS hi, count(*) AS n FROM events"
    ).collect()[0]
    assert row["n"] > 0
    assert row["lo"].year >= 2023 and row["hi"].year <= 2027
