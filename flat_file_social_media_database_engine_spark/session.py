"""SparkSession factory.

One shared session per process (the reference's whole test budget is
smaller than a JVM cold-start — see BASELINE.md), configured for the
100 TB design point:

- AQE, partition coalescing and skew-join splitting on — Spark's
  defaults, so not set here (runtime re-plan and empty-side pruning:
  the reference hand-codes its empty-build short-circuit at
  buzzdb_lab1.cpp:741-742; AQE subsumes it).
- Arrow for any pandas_udf / toPandas path.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- shuffle partitions sized from the env (local[32] test harness); on a
  real cluster AQE coalesces them post-shuffle anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(app_name: str = "flat-file-engine-spark") -> SparkSession:
    """Build (or fetch) the shared SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Start every shuffle WIDE and let AQE coalesce down to the
        # data: with the reducer count pinned at `cpus`, a 10x data
        # step grows every shuffle partition 10x until it overflows
        # execution memory — measured at the sf100 tier (5M docs):
        # docs_strip_dup_spans' gram shuffle went 14x on 10x data,
        # all of it TaskMemoryManager page-allocation retries and
        # sort spills. 512 initial partitions keep partitions
        # memory-sized through ~100x the bench tier while AQE's
        # 64MB advisory target coalesces small tiers back to a
        # handful of tasks (same effective parallelism as before).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            "512",
        )
        # AQE's coalescing floor (default 1 MB) is a BYTE grain, but
        # several query tails here are heavy-compute-per-row over tiny
        # bytes — a distinct'd candidate-pair set feeding array_intersect
        # verification is ~16 bytes/row, so the default floor coalesced
        # dedup_containment_pairs' whole verify stage to ONE task at any
        # core count (measured r10: 1.64 s -> 0.63 s at sf0.1 with a 64 KB
        # floor; revert reproduced 1.39-1.70 s). parallelismFirst (Spark
        # default, kept) targets CLUSTER parallelism, so this floor is
        # scale-adaptive, not a local[32] tune: at tiers where shuffles
        # carry real bytes the floor is never the binding constraint, and
        # at the reduction tails it stops serializing compute-dense rows
        # onto one core.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Let AQE coalesce CACHED plans too (default false keeps a
        # cached plan's pre-AQE partitioning "stable" for reuse):
        # with initialPartitionNum=512, every materialize() cache
        # would otherwise pin 512 partitions, and an ITERATIVE
        # consumer pays them again per round — measured on
        # dedup_pagerank at sf0.01: 8 iterations over a persisted
        # 47-node edge table ran 512-1024-task stages per round,
        # 307s wall; with AQE allowed to re-partition the cached
        # plan the same query is seconds. Output partitioning of a
        # cache is not part of any query contract here (the
        # partition-invariance suite pins RESULTS, not layouts).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # An events.parquet may carry TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read as long and convert in the
        # catalog (sources/catalog.py) — micros after the convert.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Small-dim broadcast joins are the engine's bread and butter
        # (reference's build-small/probe-large sets, buzzdb_lab1.cpp:524-547).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Default STAYS Spark's 1g: oversized driver fetches are bugs
        # here (a forced broadcast collecting 80M rows through the
        # driver was caught at sf100 precisely because this limit
        # held). The env knob exists for the correctness battery
        # alone, whose toPandas of a corpus-sized TEXT result (e.g.
        # docs_strip_dup_spans' 5M cleaned documents) is the audited
        # artifact itself, not a plan defect.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "1g"),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
