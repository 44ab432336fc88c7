"""SparkSession factory.

One shared session per process (the reference's whole test budget is
smaller than a JVM cold-start — see BASELINE.md). It runs on Spark's
defaults apart from:

- the deployment settings: master and cores from the env, driver
  memory, no UI;
- shuffle partitions = cores, the reducer count AQE starts from and
  coalesces down (AQE, coalescing and skew-join splitting are Spark's
  defaults, so not set here; AQE's empty-side pruning subsumes the
  reference's hand-coded empty-build short-circuit at
  buzzdb_lab1.cpp:741-742);
- Arrow for any pandas_udf / toPandas path;
- the two correctness settings ``read_table`` also sets at runtime in
  a caller's plain session: the UTC timezone the DuckDB oracle
  assumes, and nanosecond parquet timestamps read as long.

A stage that needs a set width repartitions in its own plan (the
dedup verify tails), so no query depends on a session-wide tuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app_name: str = "flat-file-engine-spark") -> SparkSession:
    """Build (or fetch) the shared SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # An events.parquet may carry TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read as long and convert in the
        # catalog (sources/catalog.py) — micros after the convert.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
