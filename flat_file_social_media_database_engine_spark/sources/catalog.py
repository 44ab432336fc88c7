"""Parquet fixture catalog.

``read_table`` loads one fixture table with its scan layout
normalized; registering the result as a temp view
(``createOrReplaceTempView``) makes every operator also runnable as
plain Spark SQL (tests/test_sql_surface.py).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from ..schemas import EVENTS


# Spread grain: one spread partition per this many COMPRESSED input
# bytes (~4-5 MB of raw text per task — a few hundred ms of tokenize/
# hash/decode work, comfortably above the ~150 ms an extra AQE stage
# costs in local mode; A/B at 256 KB vs 1 MB showed the finer grain
# losing 0.3s/query at sf0.1 for no sf1 gain). The target grows with
# the data until it hits cluster width: tiny fixtures keep their
# cheap one-task plans, the sf1 tier gets 6-way parallelism, and a
# 100 TB input is already split wider than the cluster so spread()
# no-ops entirely.
_SPREAD_GRAIN_BYTES = 1 << 20


def spread(
    df: DataFrame,
    input_bytes: int | None = None,
    current_parallelism: int | None = None,
) -> DataFrame:
    """Round-robin repartition a NARROW scan toward cluster
    parallelism — adaptive guard for CPU-heavy map stages downstream
    of a packed upstream file.

    Parquet scan parallelism bottoms out at row-group granularity:
    a writer that packs a table into one row group (DuckDB's default
    for <=122k rows — true of the documents/embeddings fixtures at
    every scale tier) yields a scan whose every row lands in ONE task
    no matter how many byte-range splits Spark plans. Any CPU-bound
    narrow chain hanging off that scan (Arrow decode, tokenize +
    explode, broadcast-join scoring) then runs single-core until its
    first shuffle — the sf1 scaling audit measured 4-7x wall on 10x
    data for exactly this reason.

    ``input_bytes`` (when known) caps the target work-proportionally
    at one partition per ``_SPREAD_GRAIN_BYTES``: scheduling 32 tasks
    over 600 KB costs more in fixed stage overhead than the
    parallelism returns (measured +0.2s per query at sf0.1). Without
    the hint the full cluster width is assumed worthwhile.

    ``current_parallelism`` (when the caller knows the scan's real
    task count, e.g. from the parquet footer) skips the ~40 ms
    plan-to-RDD conversion the partition probe otherwise costs."""
    target = _spread_target(df.sparkSession.sparkContext, input_bytes)
    cur = (
        current_parallelism
        if current_parallelism is not None
        else df.rdd.getNumPartitions()
    )
    if cur < target:
        return df.repartition(target)
    return df


def _spread_target(sc, input_bytes: int | None) -> int:
    """The partitions a scan is worth: one per ``_SPREAD_GRAIN_BYTES``
    of ``input_bytes``, at most the cluster's parallelism (all of it
    when the size is unknown)."""
    if input_bytes is None:
        return sc.defaultParallelism
    return min(sc.defaultParallelism, max(1, -(-input_bytes // _SPREAD_GRAIN_BYTES)))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scans are column-pruned and
    predicate-pushed by Catalyst — the 100 TB path needs no code here
    beyond not getting in the optimizer's way.

    events.ts may carry TIMESTAMP(NANOS) in the file (the bundled
    fixtures are ``timestamp[us]``; outside files written with ``ns``
    are not); Spark has no nanosecond timestamp, so such a column is
    read as long (nanosAsLong, see session.py) and truncated to
    microseconds — the same conversion DuckDB applies, so
    the oracle agrees at microsecond precision."""
    # Runtime-settable; must hold in the *caller's* session too (the
    # driver builds its own plain SparkSession, possibly under a
    # non-UTC system timezone — naive-timestamp oracles assume UTC).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")

    def scan() -> DataFrame:
        df = _read_parquet(spark, path)
        if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            df = df.select([f.name for f in EVENTS.fields])
        return df

    if name in ("documents", "embeddings"):
        # The payload tables feed CPU-heavy narrow chains (tokenize,
        # hash, Arrow matmul/decode, scoring folds) in nearly every
        # consumer; spread them HERE so no per-query plan forgets.
        # Filters/pruning still reach the scan — Catalyst pushes both
        # through Repartition (pinned in tests/test_plan_hygiene.py).
        return spread(scan(), **_scan_shape(path))
    return _relayout(spark, sf_dir, name, scan, path)


def file_identity(path: str) -> tuple:
    """The content fingerprint of a parquet file, (size, mtime_ns), or
    of a Spark-written directory, (name, size, mtime_ns) per part file:
    a directory's OWN stat does not change when a part file is
    rewritten in place."""
    if not os.path.isdir(path):
        s = os.stat(path)
        return (s.st_size, s.st_mtime_ns)
    out = []
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            s = os.stat(os.path.join(path, f))
            out.append((f, s.st_size, s.st_mtime_ns))
    return tuple(out)


# Inferred parquet schema per (path, ``file_identity``): inference is
# a Spark job (a footer read), and a fixture is read by many queries
# of a process, each of which re-ran it.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file
    identity and pinning it (``spark.read.schema``) on later reads."""
    key = (path, file_identity(path))
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


# Per-table relayout caches (session_cached keys on (app, sf_dir); the
# table name picks the dict).
_RELAYOUT_CACHES: dict[str, dict] = {}


def _relayout(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    scan: Callable[[], DataFrame],
    path: str,
) -> DataFrame:
    """Session-scoped SCAN-LAYOUT NORMALIZATION for packed fact
    tables: rewrite a table whose parquet layout caps scan parallelism
    far below the session's into a multi-file temp copy, once per
    (application, sf_dir), and serve every consumer from that.

    Why: parquet scan parallelism bottoms out at row-group granularity
    and the fixture writer packs whole tables into ONE row group —
    every lineitem/orders/events consumer ran its scan, filter, and
    (decimal-heavy) partial aggregation on a single core no matter the
    core count (optimization guide §6 "input split size" / §2.5 "input
    skew: fix at the source if you can; otherwise repartition after
    the read"). ``spread()`` fixes this per-plan with a repartition
    exchange, but that re-shuffles the same bytes in EVERY consumer;
    the relayout pays one write per session and gives every consumer a
    genuinely parallel, splittable scan with pushdown and pruning
    intact (it is plain parquet). At 100 TB inputs arrive already
    split wider than the cluster, current >= target, and this no-ops —
    exactly like spread(). No cross-run state: the copy lives in the
    session's temp space and is rebuilt from the source every run
    (reclaimed by reset_session_caches like every materialized pass).

    Assumption made explicit (advisor r9): the repartition changes
    PHYSICAL ROW ORDER for every consumer, which is safe because no
    query or oracle here is row-order-sensitive (the driver's hash is
    order-insensitive and every ordered output orders explicitly); a
    future order-sensitive consumer must bypass read_table or sort."""
    shape = _scan_shape(path)
    target = _spread_target(spark.sparkContext, shape["input_bytes"])
    cur = shape["current_parallelism"]
    if target < 2 or target < 2 * cur:
        return scan()
    from ..plans.materialize import materialize_parquet, session_cached

    def build() -> DataFrame:
        # hash, not round-robin: a round-robin repartition sorts every
        # row of the one-task scan first (spark.sql.execution.
        # sortBeforeRepartition, which keeps a retried task's output
        # deterministic), and hashing whole rows needs no sort
        df = scan()
        return materialize_parquet(
            spark, df.repartition(target, *df.columns), f"relayout_{name}"
        )

    cache = _RELAYOUT_CACHES.setdefault(name, {})
    return session_cached(cache, spark, sf_dir, build)


def _scan_shape(path: str) -> dict:
    """(input_bytes, current_parallelism) of a parquet path, from
    local metadata only. True scan parallelism for a single file is
    bounded by its row-group count (byte-range splits beyond that
    read zero rows) — the footer probe is a local metadata read. For
    a Spark-written DIRECTORY the file count is the (conservative)
    parallelism floor; no footers are opened."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        return {
            "input_bytes": sum(os.path.getsize(p) for p in parts),
            "current_parallelism": max(1, len(parts)),
        }
    return {
        "input_bytes": os.path.getsize(path),
        "current_parallelism": pq.ParquetFile(path).metadata.num_row_groups,
    }
