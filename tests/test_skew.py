"""Hot-key skew: the sharded prefix sum splits one dominant group
across range partitions while matching the monolithic window."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_grouped_prefix_sum_splits_hot_group(spark):
    """The skew the round-6 prefix-sum rewrite exists for: ONE group
    holding ~95% of the rows. The sharded formulation must (a) match
    the monolithic window's answer exactly and (b) actually split the
    hot group across range partitions — every per-(pid, group) slice
    strictly smaller than the hot group itself."""
    from pyspark.sql import Window

    from flat_file_social_media_database_engine_spark.operators.rankselect import (
        grouped_prefix_sum,
    )

    n = 8_000
    df = spark.range(n).select(
        F.when(F.col("id") % 20 != 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("s"), F.pmod(F.col("id"), 5)))
        .alias("g"),
        F.col("id").alias("tid"),
        (F.col("id") % 7 + 1).cast("bigint").alias("val"),
    )
    parts = 16
    got = grouped_prefix_sum(
        df, ["g"], [F.col("tid").asc()], value_col="val", out_col="run",
        num_partitions=parts,
    )
    w = (
        Window.partitionBy("g")
        .orderBy("tid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn("run", F.coalesce(F.sum("val").over(w), F.lit(0)))
    assert sorted(map(tuple, got.select("g", "tid", "val", "run").collect())) == sorted(
        map(tuple, want.collect())
    )
    # the hot group's rows span multiple range partitions (the
    # monolithic window would put all ~7600 in one task)
    slice_sizes = (
        df.repartitionByRange(parts, F.col("g").asc(), F.col("tid").asc())
        .withColumn("pid", F.spark_partition_id())
        .filter(F.col("g") == "hot")
        .groupBy("pid")
        .count()
        .collect()
    )
    hot_total = sum(r["count"] for r in slice_sizes)
    assert len(slice_sizes) > 1
    assert max(r["count"] for r in slice_sizes) < hot_total

