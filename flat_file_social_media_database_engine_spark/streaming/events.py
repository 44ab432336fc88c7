"""Structured Streaming over the ``events`` table.

The reference has no streaming surface at all — its ``timestamp`` is a
never-interpreted int (buzzdb_lab1.cpp:75). Here event time is real:
the same column expressions as the batch twins in
``workloads/eventflow.py`` run over ``readStream`` so a user can point
the identical rollup at a file drop-zone / Kafka topic and get
incrementally-maintained results with late-data handling.

Design notes (100 TB / always-on posture):
- State is bounded by watermarks: ``withWatermark`` lets Spark expire
  window/session state once event time passes window_end + delay.
- ``sessionize`` ≙ ``events_sessionize``: the batch twin derives
  sessions with two window functions; streaming uses the built-in
  ``session_window`` (gap-close semantics are identical — a session
  extends while successive events arrive within the gap). Equivalence
  is asserted in tests/test_streaming.py on sf0.001.
- File-source streams replay deterministically (maxFilesPerTrigger
  batches the fixture); the tests drive ``Trigger.AvailableNow`` into
  a memory sink and diff against the batch DataFrames.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.materialize import scratch_dir
from ..schemas import EVENTS
from ..sources.catalog import file_identity, read_table
from ..workloads.eventflow import SESSION_GAP_US

SESSION_GAP = "30 minutes"
assert SESSION_GAP_US == 30 * 60 * 1_000_000  # keep twins in lockstep

def read_staged_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a drop-zone directory (see
    ``stage_replay``), schema pinned — never inferred —
    exactly like every batch scan in this engine. The fixture parquet
    carries ``timestamp[us]`` with no UTC adjustment, so ``ts`` scans
    as TIMESTAMP_NTZ (the declared EVENTS type) — but Spark's
    event-time engine (``withWatermark``) accepts only TIMESTAMP, so
    the source casts ``ts`` once at the boundary. Under the pinned-UTC
    session the cast is value-exact, and the batch twins' NTZ results
    collect to the same naive datetimes. The UTC pin is set on the
    session handed in: a drain's child session starts at the JVM's
    default zone, not the parent's runtime setting.

    A single parquet file is read through its own directory, filtered
    to its name: the file stream source takes only a directory (its
    contract is a drop-zone new files arrive into)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream.schema(EVENTS).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path).withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Open the ``events`` fixture, a file or a directory, as a
    file-source stream (``read_staged_events_stream``)."""
    path = os.path.join(sf_dir, "events.parquet")
    return read_staged_events_stream(spark, path, max_files_per_trigger)


SENTINEL_USER = -1  # no fixture user_id is negative


FRAME = "_frame"  # the replay-file index column of a ``stage_replay`` build


def stage_replay(
    spark: SparkSession,
    kind: str,
    src: str,
    build: Callable[[], DataFrame],
) -> tuple[str, int]:
    """Stage a deterministic file-stream replay of the parquet source
    ``src`` (a file or a Spark-written directory): ``build()`` returns
    the replay's rows with an integer ``FRAME`` column, and each
    distinct frame value becomes one file, in ascending value order.
    Returns (directory, number of files).

    The directory is keyed on ``kind``, the stage layout and the
    source's content fingerprint (``file_identity``: per-part-file name,
    size, mtime_ns): a directory's OWN stat does not change when a part
    file is rewritten in place, so keying on it would silently reuse
    stale replays (and stale sentinels that could sit behind a new event
    horizon). A staged directory is returned as it is, with no Spark
    job.

    On a miss ONE Spark write stages every frame: a hash ``repartition``
    on ``FRAME`` puts each frame in one task, and ``partitionBy`` writes
    it as one file (the column itself is not written). Frame k in value
    order is then moved to ``{k:04d}.parquet`` with mtime ``t0 + k``:
    the file source replays oldest-first, so under
    ``maxFilesPerTrigger=1`` frame k is micro-batch k. The files land in
    a temp dir private to this call and are published by one rename, so
    a crash never leaves a partial replay behind, and a stager that
    loses the rename returns the winner's."""
    src = os.path.abspath(src)
    key = f"{kind}:spark-rg4m-partitioned:{src}:{file_identity(src)}"
    name = f"replay_{kind}_{hashlib.sha256(key.encode()).hexdigest()[:12]}"
    stage = os.path.join(tempfile.gettempdir(), name)
    if not os.path.isdir(stage):
        tmp = tempfile.mkdtemp(prefix=f".{name}.")
        try:
            os.chmod(tmp, 0o755)  # mkdtemp's 0700 would hide it from other users
            sub = os.path.join(tmp, ".w")
            # small row groups, deliberately: a one-file-per-frame write
            # defaults to one ~128MB row group per file, and parquet
            # byte-range splits assign each row group to the ONE split
            # holding its midpoint — so the stream's scan saw 4 splits
            # but every row in one of them, and the CPU-heavy Arrow
            # signing of the document replay ran single-threaded per
            # micro-batch (measured: the (3+1)/4 straggler stage
            # dominating the sf10 wall). 4MB groups spread rows across
            # all byte-range splits with zero added exchange.
            build().repartition(FRAME).write.partitionBy(FRAME).option(
                "parquet.block.size", 4 * 1024 * 1024
            ).parquet(sub)
            frames = sorted(
                (int(d.split("=", 1)[1]), d)
                for d in os.listdir(sub)
                if d.startswith(f"{FRAME}=")
            )
            t0 = 1_700_000_000
            for k, (_, d) in enumerate(frames):
                (part,) = glob.glob(os.path.join(sub, d, "part-*.parquet"))
                dst = os.path.join(tmp, f"{k:04d}.parquet")
                os.rename(part, dst)
                os.utime(dst, (t0 + k, t0 + k))
            shutil.rmtree(sub)
            os.rename(tmp, stage)
        except OSError:
            if not os.path.isdir(stage):  # not a lost publish race
                raise
        finally:  # a failed build's or a lost race's files
            shutil.rmtree(tmp, ignore_errors=True)
    return stage, len([f for f in os.listdir(stage) if f.endswith(".parquet")])


def stage_events_with_sentinels(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events fixture as a file-stream drop-zone whose replay
    ends past the real horizon, and return the directory: two files,
    the whole events table plus sentinel 0, then sentinel 1.

    Why: an APPEND-mode streaming aggregation (session_window,
    tumbling windows) only emits state the watermark has CLOSED. A
    finite replay therefore never emits the tail — sessions within
    the watermark delay of the last real event stay open when the
    stream drains. The production-shaped fix is a watermark-advancer:
    inject an event far past the real horizon so every real session
    closes and flushes before termination (the same drain marker an
    always-on pipeline's planned shutdown emits). Sentinel 0 sits 2 h
    past the last real event and rides in the real file, so the
    watermark after batch 0 is 1 h past it (the delay is 1 h); sentinel
    1, 3 h past, is batch 1, which runs at that watermark and so closes
    every real session (each ends within the 30 min gap of its last
    event). The sentinel user is filtered out of results; its id is
    negative, which no fixture user is.

    The whole events table (null-``ts`` rows included) is ONE staged
    file, whatever the source's part-file count: one real file keeps
    the replay exactly two micro-batches — all real rows while the
    watermark is still 0, so none can be dropped as late, then
    sentinel 1. The sentinel timestamps come from the plan (a max over
    the table), not the driver. A table without a non-null ``ts`` has
    no max and no session to close, so it gets no sentinel (an empty
    one stages no file)."""

    def build() -> DataFrame:
        events = read_table(spark, sf_dir, "events")
        sentinels = (
            events.agg(F.max("ts").alias("mx"))
            .where("mx IS NOT NULL")
            .crossJoin(spark.range(2).withColumnRenamed("id", FRAME))
            .selectExpr(
                f"{10**12}L + {FRAME} AS event_id",
                f"mx + (2 + {FRAME}) * INTERVAL 1 HOUR AS ts",
                f"{SENTINEL_USER}L AS user_id",
                "'__sentinel__' AS event_type",
                "0.0D AS value",
                "'{}' AS props",
                FRAME,
            )
        )
        return events.withColumn(FRAME, F.lit(0).cast("bigint")).unionByName(
            sentinels
        )

    src = os.path.join(sf_dir, "events.parquet")
    return stage_replay(spark, "sentinels", src, build)[0]


def sessionize(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of ``events_sessionize``: 30-minute-gap sessions
    per user via the built-in ``session_window`` (stateful merging
    windows; state expires via the watermark instead of growing
    per-user forever — the piece the batch window-function form
    cannot give an always-on pipeline)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def running_net_clamp_micro(
    events: DataFrame,
    watermark: str = "1 hour",
    retention_ms: int = 2 * 60 * 60 * 1000,
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-user
    running net-sum of ``value`` clamped at zero once per micro-batch
    — the STREAMING twin of the M1 mutation's batch-clamp semantics
    (operators/mutations.py: ``greatest(0, state + net_delta)`` per
    batch).

    Built-in windowed aggregates can't express this: the clamp makes
    the fold non-associative, so it needs explicit per-key state
    carried across micro-batches — the documented escape hatch is
    arbitrary stateful processing over Arrow batches.

    Values enter the fold in exact integer MICRO-UNITS,
    ``floor(value * 1e6)`` int64, so the per-batch net-sum is an
    integer (associative, order-free) and the whole trajectory is
    bit-identical to any independent replay of the same batch
    partitioning — the property that makes the operator
    DIFFERENTIALLY CHECKABLE (events_stream_clamp's DuckDB recursive-
    CTE oracle) rather than only model-checkable. A float fold cannot
    offer that: pandas' pairwise summation vs an oracle's sequential
    fold diverge in low bits.

    State is one (int, int) pair per user, and it is BOUNDED: an
    event-time timeout expires users idle past
    ``max(watermark, their own event-time frontier) + retention_ms``
    (the always-on TTL posture; an expired user's counter restarts
    from zero, like any TTL'd running counter — see the timeout
    comment below for why the group frontier participates). Null
    ``value`` rows count toward n_events but contribute 0 to the sum
    (SQL SUM-ignores-NULL semantics, matching the batch twin). Emits
    one updated (user_id, cum_micro, n_events) row per touched user
    per micro-batch — update output mode."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        total = 0
        n = 0
        mx_ms = 0
        for pdf in pdfs:
            # NaN-safe BEFORE the int cast: floor(NaN).astype(int64)
            # is INT64_MIN, which would silently poison the fold —
            # null values must contribute 0 (SQL SUM semantics, and
            # the oracle's COALESCE(..., 0)) while still counting
            # toward n_events (COUNT(*)).
            v = pdf["value"].to_numpy(dtype="float64")
            v = v[~np.isnan(v)]
            total += int(np.floor(v * 1e6).astype("int64").sum())
            n += len(pdf)
            mx = pdf["ts"].max()  # skips NaT; NaT only if ALL are
            if len(pdf) and pd.notna(mx):
                mx_ms = max(mx_ms, int(mx.value // 1_000_000))
        cum, seen = state.get if state.exists else (0, 0)
        cum = max(0, cum + total)
        seen += n
        state.update((cum, seen))
        wm = state.getCurrentWatermarkMs()
        # Schedule expiry relative to the event-time frontier THIS
        # GROUP has reached, not the global watermark alone: in the
        # FIRST micro-batch the watermark is still 0 (it advances
        # between batches), so `wm + retention` lands near the 1970
        # epoch and fires as soon as the watermark jumps to real event
        # time — wiping state for every user absent from the second
        # batch. Found by the chunked-replay differential
        # (events_stream_clamp); pinned in tests/test_streaming.py.
        state.setTimeoutTimestamp(max(wm, mx_ms) + retention_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "cum_micro": [cum], "n_events": [seen]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            "user_id bigint, cum_micro bigint, n_events bigint",
            "cum_micro bigint, n_events bigint",
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stage_events_weekly(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Stage the events fixture as ONE FILE PER ISO WEEK
    (``date_trunc('week')``, Monday-start in Spark and DuckDB alike), in
    week order, and return (directory, n_weeks).

    This is the deterministic replay harness for the stateful
    operators: under ``maxFilesPerTrigger=1`` the file source runs
    the weeks oldest-first, so the micro-batch sequence — and with
    it any per-batch semantics (the clamp fold) — is fully specified
    by the DATA, which is what lets a SQL oracle replay it (one
    recursive-CTE fold step per (user, present-week)). Weeks are
    contiguous time ranges, so no batch ever carries rows behind the
    previous batch's watermark. Weeks, not days, because each local
    micro-batch costs ~1.5s of fixed scheduling overhead: the 30-day
    fixture is 5 batches as weeks but 30 as days, with the identical
    state machinery (carry-across-batch, per-batch clamp,
    absent-then-returning users) exercised either way.

    Null-ts rows are excluded from the replay (an event-time operator
    can neither watermark nor order them); the differential's oracle
    applies the same ``ts IS NOT NULL`` predicate."""

    def build() -> DataFrame:
        events = read_table(spark, sf_dir, "events")
        week = F.unix_date(F.to_date(F.date_trunc("week", "ts")))
        return events.filter(F.col("ts").isNotNull()).withColumn(FRAME, week)

    src = os.path.join(sf_dir, "events.parquet")
    return stage_replay(spark, "weekly", src, build)


# State-partition count for the driver-visible streaming entries
# (``spark.sql.shuffle.partitions`` at stream start — baked into the
# query's checkpoint by Structured Streaming). A stateful operator
# creates its state stores PER shuffle partition (a stream-stream
# join keeps four per partition), and every micro-batch pays a
# commit/snapshot per store regardless of data volume — measured on
# ``events_stream_attribution`` at sf0.1: 7.5 s warm at 32
# partitions vs 2.5 s at 8, identical 371-row result; and round-9
# on ``events_stream_sessionize`` under BOTH drain shapes
# (OPTIMIZATION_r09.md, "Deliberately left alone"): single-batch
# 2.45/1.72/2.02/2.77 s and 7-micro-batch production shape
# 4.13/4.30/5.49/8.43 s across 4/8/16/32 partitions, identical rows at
# every point, on a 32-core host — 8 is the single-shape optimum and
# within noise of the multi-shape one. A host with fewer cores than
# that runs one state partition per core (``_drain_session``): on 4
# cores, 8 partitions are two waves of per-store commits per batch.
# It is set on the drains' child session only, so batch plans keep
# the parent session's ``shuffle.partitions``. At 100 TB this grows
# with stream volume exactly like batch reducer counts — the
# deployment sets it per query.
STREAM_STATE_PARTITIONS = 8

# The drain session of the live SparkContext, as (applicationId,
# session). Every drain reuses it: each new session leaves a
# StreamingQueryListenerBus listener on the context's bus for the life
# of the application, so a session per drain would grow the bus by one
# per drain. Its conf is set once, at creation, and never changed.
_DRAIN_SESSION: tuple[str, SparkSession] | None = None
_DRAIN_SESSION_LOCK = threading.Lock()


def _drain_session(spark: SparkSession) -> SparkSession:
    """The child session (``spark.newSession()``: its own SQL conf, the
    same SparkContext and cached blocks) that every drain of this
    application runs in, created on first use with the drain's
    settings: ``min(STREAM_STATE_PARTITIONS, defaultParallelism)``
    state partitions, no no-data micro-batches and no checkpoint file
    checksums.

    Round-10 (guide §5 — commit cost per micro-batch): a FINITE
    AvailableNow drain terminates right after its last data batch, so
    the engine's zero-row bookkeeping batches (state eviction /
    watermark-close checks with no new input) can emit nothing that
    the sink read-back would see — yet each one still pays query
    planning + a full state-store commit per store per partition
    (~0.4-1.0 s here: the attribution join keeps 4 stores per
    partition). Disabling no-data batches for the drain removes
    exactly those batches; measured at sf0.1 (min-of-3, identical rows
    AND value checksum): attribution 2.4→1.5 s, sessionize 2.1→1.8 s.
    An ALWAYS-ON deployment keeps them enabled (they are what advances
    emission between sparse arrivals) — hence the setting lives in the
    drain's own session only.

    Checkpoint checksums: Spark writes a checksum file beside every
    checkpoint file (state-store deltas, offsets, commits) to detect
    corruption on restart. Every drain checkpoints into its own fresh
    ``scratch_dir`` that no restart ever reads, so the checksums guard
    nothing. Each state-store delta file otherwise carries two more
    (the checksum and the local file system's ``.crc`` of it): one
    attribution batch at 4 state partitions writes 50 checkpoint files
    without them, 82 with them, and 146 with them at 8 partitions."""
    global _DRAIN_SESSION
    app = spark.sparkContext.applicationId
    with _DRAIN_SESSION_LOCK:
        if _DRAIN_SESSION is None or _DRAIN_SESSION[0] != app:
            child = spark.newSession()
            width = min(STREAM_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
            child.conf.set("spark.sql.shuffle.partitions", str(width))
            child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
            child.conf.set(
                "spark.sql.streaming.checkpoint.fileChecksum.enabled", "false"
            )
            _DRAIN_SESSION = (app, child)
        return _DRAIN_SESSION[1]


def run_stream_to_parquet(
    spark: SparkSession,
    make_stream: Callable[[SparkSession], DataFrame],
    prefix: str,
    read_schema: str,
    output_mode: str = "append",
    stamp_epoch: bool = False,
) -> DataFrame:
    """Drain a finite streaming DataFrame (AvailableNow trigger) into
    an append-only parquet log under a fresh ``scratch_dir`` (deleted
    by ``reset_session_caches``) and read it back
    with the pinned schema — the shared sink plumbing of every
    driver-visible streaming entry. ``stamp_epoch=True`` routes
    through ``foreachBatch`` and stamps ``batch_id`` on every row
    (parquet sinks reject update mode; the log-then-reduce read is the
    standard pattern), appending ``batch_id bigint`` to the read
    schema.

    ``make_stream(child)`` builds the stream in the application's drain
    session (``_drain_session``), which carries the drain's settings.
    The sink is read back on ``spark``, whose conf the drain never
    changes, so a query submitted from another thread during the drain
    plans exactly as it would alone. Only the UTC zone is pinned on
    it, because the callers cast the read-back instants to
    TIMESTAMP_NTZ there.

    Precondition: with no-data batches off, an APPEND-mode watermark
    aggregation emits only what the last DATA batch closes — tail
    windows that would close in a trailing no-data batch are lost. A
    caller draining one must stage sentinel rows past the real event
    horizon first, as ``stage_events_with_sentinels`` does."""
    child = _drain_session(spark)
    base = scratch_dir(prefix)
    out_dir = os.path.join(base, "out")
    writer = make_stream(child).writeStream
    if stamp_epoch:

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            (
                batch_df.withColumn("batch_id", F.lit(epoch_id))
                .write.mode("append")
                .parquet(out_dir)
            )

        writer = writer.foreachBatch(sink)
        read_schema = read_schema + ", batch_id bigint"
    else:
        writer = writer.format("parquet").option("path", out_dir)
    (
        writer.option("checkpointLocation", os.path.join(base, "ckpt"))
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.schema(read_schema).parquet(out_dir)


def attribution_join_stream(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-STREAM interval self-join — the streaming twin of
    ``events_range_attribution``'s inner core: every (purchase, click)
    pair of the same user with the click inside the purchase's
    trailing hour.

    Both sides carry a watermark and the join condition bounds
    click_ts to a finite interval around purchase_ts, so Spark can
    compute how long each side's state must be retained and evict
    rows as the watermark passes — bounded state at any volume.
    Inner-join matches emit as found (append mode; only OUTER
    stream-stream joins hold rows back until the watermark seals
    them). Batch equivalence is pinned in tests/test_streaming.py."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            > F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
        ),
        "inner",
    ).select(
        "purchase_id",
        F.col("p_user_id").alias("user_id"),
        "purchase_ts",
        "click_ts",
    )
