"""Streaming-vs-batch equivalence on sf0.001: the Structured
Streaming twins must produce the same results as the batch operators
they mirror (complete-mode memory sink, AvailableNow trigger), and
the stateful clamp (``running_net_clamp_micro``) must follow the
per-batch M1 clamp model exactly, in integer micro-units.
"""

from __future__ import annotations

import pytest


from flat_file_social_media_database_engine_spark.streaming import events as SE
from flat_file_social_media_database_engine_spark.workloads import eventflow as BE

SF = "/root/testdata/sf0.001"


def _run_stream(spark, df, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_sessionize_matches_batch_sessions(spark):
    stream = SE.read_events_stream(spark, SF)
    got = _run_stream(spark, SE.sessionize(stream), "t_sessions")
    want = BE.events_sessionize(spark, SF).select(
        "user_id", "session_start", "session_end", "n_events"
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w
    assert len(g) > 0


def test_multi_batch_incremental_equals_batch(spark, tmp_path):
    """Split events into 3 files and stream them one file per
    trigger: 3 micro-batches of incremental session-window state
    updates must land on the same sessions as one batch pass. The %3
    split is not time-ordered, so a session's events arrive in
    several batches and must merge in state; the watermark is set
    huge to keep late-row filtering out of the picture
    (test_watermark_drops_too_late_events covers it)."""
    from pyspark.sql import functions as F

    import glob
    import shutil

    events = BE.read_table(spark, SF, "events")
    d = tmp_path / "drop_zone"
    (d / "events.parquet").mkdir(parents=True)
    for i in range(3):
        # the file source lists a FLAT directory (non-partition
        # subdirs are ignored) — stage each batch as one file in it
        staging = tmp_path / f"stage_{i}"
        (
            events.filter(F.col("event_id") % 3 == i)
            .withColumn("ts", F.col("ts").cast("timestamp_ntz"))  # fixture dtype
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(staging))
        )
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.copy(part, str(d / "events.parquet" / f"batch_{i}.parquet"))
    # read the staged directory as a stream, one file per trigger
    stream = SE.read_events_stream(spark, str(d), max_files_per_trigger=1)
    got = _run_stream(
        spark, SE.sessionize(stream, watermark="3650 days"), "t_incremental"
    )
    want = BE.events_sessionize(spark, SF).select(
        "user_id", "session_start", "session_end", "n_events"
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_watermark_drops_too_late_events(spark, tmp_path):
    """Append-mode + watermark: an event arriving after the watermark
    has passed its session's close must neither reopen that session
    nor start a new one. File 1 advances event time far ahead; file 2
    carries the straggler."""
    import time as _t

    from pyspark.sql import functions as F

    d = tmp_path / "late_zone" / "events.parquet"
    rows_on_time = [(1, "2024-01-01 00:10:00"), (2, "2024-01-01 06:00:00")]
    rows_late = [(3, "2024-01-01 00:20:00")]  # 6h late, watermark is 1h

    def write(rows, name):
        import glob
        import shutil

        df = spark.createDataFrame(rows, "event_id long, ts_s string").select(
            "event_id",
            F.to_timestamp("ts_s").cast("timestamp_ntz").alias("ts"),
            F.lit(7).cast("long").alias("user_id"),
            F.lit("click").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        staging = d.parent / f"stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(staging))
        d.mkdir(parents=True, exist_ok=True)
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.copy(part, str(d / f"{name}.parquet"))  # flat file drop

    write(rows_on_time, "f0")
    stream = SE.read_events_stream(spark, str(d.parent), max_files_per_trigger=1)
    agg = SE.sessionize(stream, watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # let the first file commit and the watermark advance past 05:00
        for _ in range(60):
            if q.lastProgress and q.lastProgress["batchId"] >= 1:
                break
            _t.sleep(0.5)
        write(rows_late, "f1")  # straggler arrives
        for _ in range(60):
            # all three rows read: the straggler's batch has committed
            if sum(p["numInputRows"] for p in q.recentProgress) >= 3:
                break
            _t.sleep(0.5)
    finally:
        q.stop()
    out = {
        (r["session_start"].isoformat(), r["n_events"])
        for r in spark.sql("SELECT * FROM t_late").collect()
    }
    # the 00:10 session closed with ONE event; the late one was dropped
    # (kept, it would have emitted its own closed 00:20 session); the
    # 06:00 session is still open
    assert out == {("2024-01-01T00:10:00", 1)}


def _micro(col: str):
    """The clamp's integer micro-unit of a value column."""
    from pyspark.sql import functions as F

    return F.floor(F.col(col) * 1e6)


def _run_stream_update(spark, df, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_running_clamp_single_batch_matches_m1_model(spark):
    """One micro-batch: the stateful counter must equal the batch
    M1-clamp expression greatest(0, sum(value)) per user, in integer
    micro-units, exactly."""
    from pyspark.sql import functions as F

    stream = SE.read_events_stream(spark, SF, max_files_per_trigger=10_000)
    got = _run_stream_update(spark, SE.running_net_clamp_micro(stream), "t_clamp1")
    want = (
        BE.read_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.greatest(F.lit(0), F.sum(_micro("value"))).alias("cum_micro"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    g = {r["user_id"]: (r["cum_micro"], r["n_events"]) for r in got.collect()}
    w = {r["user_id"]: (r["cum_micro"], r["n_events"]) for r in want.collect()}
    assert g == w and len(g) > 0


def test_running_clamp_incremental_trajectory(spark, tmp_path):
    """Three micro-batches with mixed-sign values: each user's emitted
    (cum_micro, n_events) trajectory must be reproducible by the
    per-batch net-sum clamp model under SOME ordering of their batches
    (the %3 split is not time-ordered, so the watermark is set huge to
    keep late-row filtering out of the picture — the single-batch and
    TTL tests cover watermark interaction)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    events = BE.read_table(spark, SF, "events")
    # recenter values so some per-batch nets go negative (clamp fires)
    staged = events.withColumn("value", F.col("value") - F.lit(50.0))
    d = tmp_path / "clamp_zone" / "events.parquet"
    d.mkdir(parents=True)
    splits = []
    for i in range(3):
        part_df = staged.filter(F.col("event_id") % 3 == i)
        splits.append(
            {
                r["user_id"]: (r["net"], r["n"])
                for r in part_df.groupBy("user_id")
                .agg(
                    F.coalesce(F.sum(_micro("value")), F.lit(0)).alias("net"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            }
        )
        staging = tmp_path / f"clamp_stage_{i}"
        (
            part_df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(staging))
        )
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.copy(part, str(d / f"batch_{i}.parquet"))

    stream = SE.read_events_stream(spark, str(tmp_path / "clamp_zone"), 1)
    log = _run_stream_update(
        spark,
        SE.running_net_clamp_micro(stream, watermark="3650 days"),
        "t_clamp3",
    )
    rows = log.collect()
    assert rows

    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    clamp_fired = False
    for uid, emitted in by_user.items():
        emitted.sort(key=lambda r: r["n_events"])
        nets = [bn[uid] for bn in splits if uid in bn]
        assert len(emitted) == len(nets), f"user {uid}: missed emissions"
        assert _replayable(emitted, nets), f"user {uid}: no order replays the log"
        clamp_fired = clamp_fired or any(r["cum_micro"] == 0 for r in emitted)
    assert clamp_fired  # the recentering must actually exercise the clamp


def _replayable(emitted, nets, cum=0, seen=0):
    """DFS: does some ordering of the (net, cnt) batches reproduce the
    emission trajectory under the per-batch clamp model?"""
    if not nets:
        return not emitted
    head = emitted[0]
    for j, (net, cnt) in enumerate(nets):
        c2 = max(0, cum + net)
        if seen + cnt == head["n_events"] and head["cum_micro"] == c2:
            if _replayable(emitted[1:], nets[:j] + nets[j + 1 :], c2, seen + cnt):
                return True
    return False


@pytest.mark.parametrize("op", ["micro"])
def test_running_clamp_state_expires_after_retention(spark, tmp_path, op):
    """Event-time timeout: a user idle past THEIR event-time frontier
    + retention is expired; their next event restarts the counter from
    zero.

    Batch anatomy (watermark delay 1h, retention 1h — user 7's
    timeout is therefore due at Jan 1 02:00 event time):
      b0: user 7 @ Jan 1 00:00 — state (10, 1), timeout Jan 1 02:00
      b1: user 8 @ Jan 2 00:00 — watermark is still b0's frontier
          minus 1h (Dec 31 23:00) during this batch: NOT due yet.
          (The pre-round-4 timeout bug scheduled b0's timeout off the
          then-zero watermark — epoch + 1h, 1970 — which made it fire
          HERE; this batch exists to pin that it no longer does.)
      b2: user 8 @ Jan 2 00:10 — watermark now Jan 1 23:00 > due
          time and user 7 is absent: state expired.
      b3: user 7 @ Jan 2 00:30 — returns to fresh state (5, 1)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    d = tmp_path / "ttl_zone" / "events.parquet"
    d.mkdir(parents=True)
    batches = [
        [(1, "2024-01-01 00:00:00", 7, 10.0)],
        [(2, "2024-01-02 00:00:00", 8, 1.0)],
        [(3, "2024-01-02 00:10:00", 8, 1.0)],
        [(4, "2024-01-02 00:30:00", 7, 5.0)],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "event_id long, ts_s string, user_id long, value double"
        ).select(
            "event_id",
            F.to_timestamp("ts_s").cast("timestamp_ntz").alias("ts"),
            "user_id",
            F.lit("click").alias("event_type"),
            "value",
            F.lit("{}").alias("props"),
        )
        staging = tmp_path / f"ttl_stage_{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.copy(part, str(d / f"batch_{i}.parquet"))

    stream = SE.read_events_stream(spark, str(tmp_path / "ttl_zone"), 1)
    log = _run_stream_update(
        spark,
        SE.running_net_clamp_micro(
            stream, watermark="1 hour", retention_ms=3600_000
        ),
        f"t_clamp_ttl_{op}",
    )
    u7 = sorted(
        ((r["cum_micro"], r["n_events"]) for r in log.collect() if r["user_id"] == 7),
    )
    # first emission: cum 10, n 1; post-expiry emission restarts: cum 5, n 1
    assert u7 == [(5_000_000, 1), (10_000_000, 1)]


def test_attribution_join_stream_matches_batch_pairs(spark):
    """Stream-stream interval join emits exactly the batch inner-join
    pair set (inner matches emit as found; watermarks only bound
    state retention)."""
    from pyspark.sql import functions as F

    stream = SE.read_events_stream(spark, SF)
    joined = SE.attribution_join_stream(stream)
    q = (
        joined.writeStream.format("memory")
        .queryName("t_attr_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    got = {tuple(r) for r in spark.sql("SELECT * FROM t_attr_join").collect()}

    from flat_file_social_media_database_engine_spark.sources.catalog import read_table

    ev = read_table(spark, SF, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts")
    )
    want = {
        tuple(r)
        for r in p.join(
            c,
            (F.col("p_user_id") == F.col("c_user_id"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                > F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
            ),
        )
        .select(
            "purchase_id",
            F.col("p_user_id").alias("user_id"),
            "purchase_ts",
            "click_ts",
        )
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_attribution_multi_batch_equals_single_batch(spark):
    """The production shape — many micro-batches, watermark advancing
    between them — must emit the same pair set as the single-batch
    drain the driver entry uses (round-7 verdict item 3): weekly
    event-time-ordered staging makes multi-batch watermark-safe
    (periods are contiguous, so no batch carries rows behind the
    previous batch's watermark, and cross-batch interval matches
    survive because join-state retention is derived from the interval
    bound, not the batch boundary)."""
    stage, n_parts = SE.stage_events_weekly(spark, SF)
    assert n_parts > 1, "fixture must replay as multiple micro-batches"

    def drain(read):
        return {
            tuple(r)
            for r in SE.run_stream_to_parquet(
                spark,
                lambda s: SE.attribution_join_stream(read(s)),
                "t_attr_mb_",
                "purchase_id bigint, user_id bigint,"
                " purchase_ts timestamp, click_ts timestamp",
            ).collect()
        }

    multi = drain(
        lambda s: SE.read_staged_events_stream(s, stage, max_files_per_trigger=1)
    )
    single = drain(
        lambda s: SE.read_events_stream(s, SF, max_files_per_trigger=1_000_000)
    )
    assert multi == single
    assert len(single) > 0


def test_exactly_once_ingest_into_snapshot_store(spark, tmp_path):
    """foreachBatch sink: stream → SnapshotStore.append with the batch
    id recorded in the SAME manifest commit. Redelivered batches (the
    at-least-once crash-replay case) must be no-ops."""
    from pyspark.sql import functions as F

    from flat_file_social_media_database_engine_spark.plans.snapshots import (
        SnapshotStore,
    )
    from flat_file_social_media_database_engine_spark.streaming.ingest import (
        append_stream,
        make_batch_sink,
    )
    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
    )

    store = SnapshotStore(spark, str(tmp_path / "store"))
    stream = SE.read_events_stream(spark, SF, max_files_per_trigger=1)
    q = append_stream(
        store, stream, "events", str(tmp_path / "ckpt"), stream_id="t"
    )
    q.awaitTermination(300)
    q.stop()

    batch = read_table(spark, SF, "events")
    got = store.read("events")
    assert got.count() == batch.count()
    # value-level: same event_id multiset
    assert got.agg(F.sum("event_id")).collect()[0][0] == (
        batch.agg(F.sum("event_id")).collect()[0][0]
    )
    v_after = store.current_version()
    last = store.meta()["stream::t::events"]

    # Crash-replay: redeliver the last batch (same id, same rows) —
    # the sink must skip it entirely (no new version, no new rows).
    sink = make_batch_sink(store, "events", stream_id="t")
    sink(batch.limit(10), last)
    assert store.current_version() == v_after
    assert store.read("events").count() == batch.count()

    # A genuinely NEW batch id commits rows + marker atomically.
    sink(batch.limit(3).withColumn("event_id", F.col("event_id") + 10_000_000), last + 1)
    assert store.current_version() == v_after + 1
    assert store.read("events").count() == batch.count() + 3
    assert store.meta()["stream::t::events"] == last + 1

    # Markers survive unrelated commits (meta carries forward).
    store.compact("events")
    assert store.meta()["stream::t::events"] == last + 1


def test_stream_ingest_feeds_maintained_rollup(spark, tmp_path):
    """The three layers composed: exactly-once stream ingest appends
    batches into the store, and MaintainedRollup folds ONLY those
    appended directories — after each fold the maintained state must
    equal the full aggregate over everything ingested so far. This is
    the production loop (stream → lakehouse table → incremental
    reporting) running end-to-end."""
    from pyspark.sql import functions as F

    from flat_file_social_media_database_engine_spark.plans.rollup import (
        MaintainedRollup,
    )
    from flat_file_social_media_database_engine_spark.plans.snapshots import (
        SnapshotStore,
    )
    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
    )
    from flat_file_social_media_database_engine_spark.streaming.ingest import (
        append_stream,
    )

    store = SnapshotStore(spark, str(tmp_path / "store"))
    stream = SE.read_events_stream(spark, SF, max_files_per_trigger=1)
    q = append_stream(store, stream, "events", str(tmp_path / "ckpt"), stream_id="r")
    q.awaitTermination(300)
    q.stop()

    r = MaintainedRollup(
        store, "by_type", "events", ["event_type"],
        {"n": ("count", "event_id"), "last_id": ("max", "event_id")},
    )
    assert r.refresh()["mode"] == "full"

    def want():
        return {
            row["event_type"]: (row["n"], row["last_id"])
            for row in store.read("events")
            .groupBy("event_type")
            .agg(F.count("event_id").alias("n"), F.max("event_id").alias("last_id"))
            .collect()
        }

    got = {
        row["event_type"]: (row["n"], row["last_id"])
        for row in r.read().collect()
    }
    assert got == want()

    # a later micro-batch lands (simulated via the idempotent sink
    # path: an ordinary append) -> ONE incremental fold covers it
    extra = read_table(spark, SF, "events").limit(5).withColumn(
        "event_id", F.col("event_id") + 5_000_000
    )
    store.append({"events": extra})
    out = r.refresh()
    assert out["mode"] == "incremental" and out["new_dirs"] == 1
    got = {
        row["event_type"]: (row["n"], row["last_id"])
        for row in r.read().collect()
    }
    assert got == want()


def test_append_mode_sessionize_drains_via_sentinels(spark):
    """APPEND-mode session_window only emits watermark-closed state,
    so a finite replay without a drain marker silently loses the tail
    sessions. Pins the sentinel protocol end to end: (a) the staged
    drop-zone carries the two watermark-advancer rows, one in the real
    file and one in a file of its own, (b) the
    append-mode sink receives EVERY real session (equality with the
    batch gap-sessionization, not just a subset), and (c) no sentinel
    row leaks into the result."""
    from flat_file_social_media_database_engine_spark.workloads.eventflow import (
        events_stream_sessionize,
    )
    from flat_file_social_media_database_engine_spark.streaming.events import (
        SENTINEL_USER,
        stage_events_with_sentinels,
    )

    staged = _footers(stage_events_with_sentinels(spark, SF))
    sentinel = (1, (SENTINEL_USER, SENTINEL_USER))
    assert [(n, r["user_id"]) for n, r in staged[1:]] == [sentinel]
    assert staged[0][1]["user_id"][0] == SENTINEL_USER  # sentinel 0 rides along

    got = events_stream_sessionize(spark, SF)
    assert got.filter(got.user_id == SENTINEL_USER).count() == 0

    want = BE.events_sessionize(spark, SF).select(
        "user_id", "session_start", "session_end", "n_events"
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w
    assert len(g) > 0


def test_drain_without_nodata_batches_equals_with(spark, tmp_path):
    """Round-10: the shared drain (``run_stream_to_parquet``) skips
    the engine's zero-row bookkeeping micro-batches — a finite
    AvailableNow replay terminates right after its last data batch,
    so those batches can only pay state-commit cost, never emit rows
    the sink read-back sees. Pinned here on the append-mode
    sessionize shape (the state-FINALIZATION path, where a wrongly
    skipped batch would silently lose tail sessions): the shipped
    drain equals a reference drain built here — its own child session
    with no-data batches ON and the same state-partition count,
    checkpointed AvailableNow into a parquet sink."""
    from flat_file_social_media_database_engine_spark.streaming.events import (
        STREAM_STATE_PARTITIONS,
        read_staged_events_stream,
        run_stream_to_parquet,
        sessionize,
        stage_events_with_sentinels,
    )

    stage = stage_events_with_sentinels(spark, SF)
    schema = (
        "user_id bigint, session_start timestamp,"
        " session_end timestamp, n_events bigint"
    )
    without = {
        tuple(r)
        for r in run_stream_to_parquet(
            spark,
            lambda s: sessionize(read_staged_events_stream(s, stage)),
            "nodata_ab_",
            schema,
        ).collect()
    }

    ref = spark.newSession()
    ref.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    ref.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    out = str(tmp_path / "out")
    q = (
        sessionize(read_staged_events_stream(ref, stage))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the reference must really have run a zero-row bookkeeping batch
    assert any(p["numInputRows"] == 0 for p in q.recentProgress)
    with_nd = {tuple(r) for r in spark.read.schema(schema).parquet(out).collect()}
    assert without == with_nd
    assert len(without) > 0


def test_running_clamp_state_survives_skipped_batch(spark, tmp_path):
    """Regression pin for the first-batch timeout bug: the timeout
    used to be scheduled off the CURRENT watermark — which is still 0
    during the first micro-batch — so it landed near the 1970 epoch
    and fired as soon as the watermark advanced to real event time,
    wiping state for every user absent from the second batch. With a
    10-day retention nothing should expire here; under the bug user
    7's counter restarts and the final emission is (5_000_000, 1)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    d = tmp_path / "skip_zone" / "events.parquet"
    d.mkdir(parents=True)
    batches = [
        [(1, "2024-01-01 00:00:00", 7, 10.0)],  # user 7: cum 10
        [(2, "2024-01-02 00:00:00", 8, 1.0)],   # user 7 absent; wm advances
        [(3, "2024-01-02 00:30:00", 7, 5.0)],   # user 7 returns
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "event_id long, ts_s string, user_id long, value double"
        ).select(
            "event_id",
            F.to_timestamp("ts_s").cast("timestamp_ntz").alias("ts"),
            "user_id",
            F.lit("click").alias("event_type"),
            "value",
            F.lit("{}").alias("props"),
        )
        staging = tmp_path / f"skip_stage_{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.copy(part, str(d / f"batch_{i}.parquet"))

    stream = SE.read_events_stream(spark, str(tmp_path / "skip_zone"), 1)
    log = _run_stream_update(
        spark,
        SE.running_net_clamp_micro(
            stream, watermark="1 hour", retention_ms=10 * 24 * 3600_000
        ),
        "t_clamp_skip",
    )
    u7 = sorted(
        ((r["cum_micro"], r["n_events"]) for r in log.collect() if r["user_id"] == 7),
    )
    assert u7 == [(10_000_000, 1), (15_000_000, 2)]


def test_micro_clamp_null_value_contributes_zero(spark, tmp_path):
    """Null-value rows must count toward n_events but add 0 to the
    fold (SQL SUM semantics, the oracle's COALESCE). Regression pin:
    floor(NaN).astype(int64) is INT64_MIN, so an unguarded numpy fold
    turns one null into a ~-9.2e18 batch total that the clamp then
    silently zeroes."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    d = tmp_path / "null_zone" / "events.parquet"
    d.mkdir(parents=True)
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, 10.5), (2, "2024-01-01 00:01:00", 7, None)],
        "event_id long, ts_s string, user_id long, value double",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").cast("timestamp_ntz").alias("ts"),
        "user_id",
        F.lit("click").alias("event_type"),
        "value",
        F.lit("{}").alias("props"),
    )
    staging = tmp_path / "null_stage"
    df.coalesce(1).write.mode("overwrite").parquet(str(staging))
    part = glob.glob(str(staging / "part-*.parquet"))[0]
    shutil.copy(part, str(d / "batch_0.parquet"))

    stream = SE.read_events_stream(spark, str(tmp_path / "null_zone"), 1)
    log = _run_stream_update(
        spark, SE.running_net_clamp_micro(stream), "t_clamp_null"
    )
    rows = [(r["cum_micro"], r["n_events"]) for r in log.collect()]
    assert rows == [(10_500_000, 2)]


# ---------------------------------------------------------------------------
# Checkpoint-restart differentials (round-7, the Test-11 crash twin on
# the streaming path, buzzdb_lab1.cpp:1603-1648): a stream killed
# mid-replay and restarted from its checkpoint must converge to the
# uninterrupted run — state-store recovery for the stateful clamp,
# offset-replay idempotency for the exactly-once ingest.
# ---------------------------------------------------------------------------
def _stage_event_batches(spark, tmp_path, n_batches=4):
    """Stage sf0.001 events as ``n_batches`` single-file drops (split
    by event_id, values recentered so per-batch nets go negative and
    the clamp fires) and return the staged file paths in drop order.
    Mtimes are NOT set here — callers stamp them as they copy files
    into a zone, so the file source's oldest-first order is pinned."""
    import glob

    from pyspark.sql import functions as F

    events = BE.read_table(spark, SF, "events").withColumn(
        "value", F.col("value") - F.lit(50.0)
    )
    files = []
    for i in range(n_batches):
        staging = tmp_path / f"restart_stage_{i}"
        (
            events.filter(F.col("event_id") % n_batches == i)
            .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(staging))
        )
        files.append(glob.glob(str(staging / "part-*.parquet"))[0])
    return files


def _drop(zone_events_dir, src_file, seq):
    """Copy a staged batch file into the zone with mtime = seq (file
    source orders drops oldest-first)."""
    import os
    import shutil

    dst = str(zone_events_dir / f"batch_{seq}.parquet")
    shutil.copy(src_file, dst)
    os.utime(dst, (1_700_000_000 + seq, 1_700_000_000 + seq))
    return dst


def _drain_clamp(spark, zone, base):
    """Run the integer stateful clamp over the zone's current files
    (AvailableNow, one file per micro-batch) into an append log under
    ``base`` — REUSING base's checkpoint/sink across calls, which is
    exactly the restart-from-checkpoint path."""
    import os

    from pyspark.sql import functions as F

    out = os.path.join(str(base), "out")
    ck = os.path.join(str(base), "ckpt")
    stream = SE.read_events_stream(spark, str(zone), 1)
    clamped = SE.running_net_clamp_micro(stream, watermark="3650 days")

    def sink(bdf, bid):
        bdf.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(out)

    q = (
        clamped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.read.schema(
        "user_id bigint, cum_micro bigint, n_events bigint, batch_id bigint"
    ).parquet(out)


def test_clamp_restart_from_checkpoint_equals_uninterrupted(spark, tmp_path):
    """Stop the stateful clamp stream after half its input, drop the
    rest, restart from the SAME checkpoint: the restarted query must
    resume at the next batch id (no reprocessing) with its per-user
    state RECOVERED from the state store, and the final per-user
    (cum_micro, n_events) must equal an uninterrupted run over the
    identical batch sequence. Integer micro-units make the trajectory
    bit-exact, so this is equality, not approximation."""
    files = _stage_event_batches(spark, tmp_path, 4)

    # interrupted run: 2 files, drain, stop; 2 more, restart
    zone_a = tmp_path / "zone_interrupted" / "events.parquet"
    zone_a.mkdir(parents=True)
    base_a = tmp_path / "run_interrupted"
    for i in (0, 1):
        _drop(zone_a, files[i], i)
    first = _drain_clamp(spark, zone_a.parent, base_a)
    ids_first = {r["batch_id"] for r in first.select("batch_id").distinct().collect()}
    assert ids_first == {0, 1}
    for i in (2, 3):
        _drop(zone_a, files[i], i)
    log_a = _drain_clamp(spark, zone_a.parent, base_a)
    ids_all = {r["batch_id"] for r in log_a.select("batch_id").distinct().collect()}
    # the restarted query RESUMES past the committed ids (AvailableNow
    # may also commit an empty finalization batch, so ids need not be
    # contiguous) and reprocesses nothing: two emitting batches before
    # the stop, two after, all post-restart ids strictly greater
    assert ids_first == {0, 1} and len(ids_all) == 4
    assert all(i > 1 for i in ids_all - ids_first)

    # uninterrupted twin: all 4 files staged up front, fresh checkpoint
    zone_b = tmp_path / "zone_full" / "events.parquet"
    zone_b.mkdir(parents=True)
    base_b = tmp_path / "run_full"
    for i in range(4):
        _drop(zone_b, files[i], i)
    log_b = _drain_clamp(spark, zone_b.parent, base_b)

    def final_state(log):
        rows = log.collect()
        best = {}
        for r in rows:
            cur = best.get(r["user_id"])
            if cur is None or r["n_events"] > cur[1]:
                best[r["user_id"]] = (r["cum_micro"], r["n_events"])
        return best

    fa, fb = final_state(log_a), final_state(log_b)
    assert fa == fb
    # state genuinely carried across the restart: some user seen in
    # both halves accumulated counts from both (n_events spanning >1
    # emission with the last one after batch 1)
    carried = [
        r
        for r in log_a.collect()
        if r["batch_id"] >= 2 and r["n_events"] > 1
    ]
    assert carried, "no user's state visibly survived the restart"


def test_ingest_crash_mid_stream_replays_exactly_once(spark, tmp_path):
    """Inject a crash in the at-least-once window — the sink raises
    AFTER batch 1's rows+marker are committed but BEFORE Spark commits
    the batch to the checkpoint — then restart from the checkpoint:
    the source REDELIVERS batch 1, the idempotent SnapshotStore sink
    must no-op it, and the drained store must equal an uninterrupted
    ingest (row count, event_id sum, marker, one version per unique
    batch)."""
    from pyspark.sql import functions as F

    from flat_file_social_media_database_engine_spark.plans.snapshots import (
        SnapshotStore,
    )
    from flat_file_social_media_database_engine_spark.streaming.ingest import (
        make_batch_sink,
    )

    files = _stage_event_batches(spark, tmp_path, 4)
    zone = tmp_path / "zone_crash" / "events.parquet"
    zone.mkdir(parents=True)
    for i in range(4):
        _drop(zone, files[i], i)

    def run(store, ck, sink_fn):
        stream = SE.read_events_stream(spark, str(zone.parent), 1)
        q = (
            stream.writeStream.foreachBatch(sink_fn)
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    # crashing run: side-effect lands, then the query dies
    store = SnapshotStore(spark, str(tmp_path / "store_crash"))
    real = make_batch_sink(store, "events", stream_id="t")
    crashed = {"fired": False}

    def exploding(bdf, bid):
        real(bdf, bid)
        if bid == 1 and not crashed["fired"]:
            crashed["fired"] = True
            raise RuntimeError("injected crash after sink side-effect")

    import pyspark.errors

    try:
        run(store, tmp_path / "ckpt_crash", exploding)
        raise AssertionError("injected crash did not surface")
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        pass
    assert crashed["fired"]
    assert store.meta()["stream::t::events"] == 1  # batch 1 committed
    v_after_crash = store.current_version()

    # restart from the same checkpoint with the normal sink: batch 1
    # is redelivered (its offset never committed) and must be skipped
    run(store, tmp_path / "ckpt_crash", real)
    assert store.meta()["stream::t::events"] == 3
    # exactly one version per unique batch: 2 before the crash + 2
    # after the no-op'd redelivery — a double-commit would add a 5th
    assert store.current_version() == v_after_crash + 2

    # uninterrupted twin
    store_b = SnapshotStore(spark, str(tmp_path / "store_full"))
    run(store_b, tmp_path / "ckpt_full", make_batch_sink(store_b, "events", stream_id="t"))
    got = store.read("events")
    want = store_b.read("events")
    assert got.count() == want.count()
    assert (
        got.agg(F.sum("event_id")).collect()[0][0]
        == want.agg(F.sum("event_id")).collect()[0][0]
    )


def _footers(stage):
    """(rows, {column: (min, max)}) of each staged file in replay
    (mtime) order, from the parquet footers alone."""
    import os

    import pyarrow.parquet as pq

    paths = sorted(
        (os.path.join(stage, f) for f in os.listdir(stage) if f.endswith(".parquet")),
        key=lambda p: (os.path.getmtime(p), p),
    )
    out = []
    for p in paths:
        md = pq.ParquetFile(p).metadata
        ranges: dict = {}
        for g in range(md.num_row_groups):
            for j in range(md.num_columns):
                c = md.row_group(g).column(j)
                if c.statistics is not None and c.statistics.has_min_max:
                    lo, hi = c.statistics.min, c.statistics.max
                    lo0, hi0 = ranges.get(c.path_in_schema, (lo, hi))
                    ranges[c.path_in_schema] = (min(lo, lo0), max(hi, hi0))
        out.append((md.num_rows, ranges))
    return out


def test_staged_replays_keep_their_layout(spark, sf_medium):
    """Every staged replay keeps its file count, order and rows per
    file, read from the footers in replay order: one file per ISO week
    holding that week's non-null-``ts`` rows, in week order; the whole
    events table plus sentinel 0, then sentinel 1 past its horizon; and
    ``N_BATCHES`` contiguous, equal-count ``doc_id`` ranges of the new
    documents."""
    from pyspark.sql import functions as F

    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
    )
    from flat_file_social_media_database_engine_spark.streaming.docs import (
        N_BATCHES,
        stage_documents_batches,
    )
    from flat_file_social_media_database_engine_spark.workloads.dedup import N_OLD

    events = read_table(spark, sf_medium, "events")
    want = [
        r["count"]
        for r in events.filter(F.col("ts").isNotNull())
        .groupBy(F.date_trunc("week", "ts").alias("w"))
        .count()
        .orderBy("w")
        .collect()
    ]
    stage, n = SE.stage_events_weekly(spark, sf_medium)
    files = _footers(stage)
    assert n == len(files) == len(want) > 1
    assert [rows for rows, _ in files] == want
    ts = [r["ts"] for _, r in files]
    assert all(a[1] < b[0] for a, b in zip(ts, ts[1:]))

    files = _footers(SE.stage_events_with_sentinels(spark, sf_medium))
    assert [rows for rows, _ in files] == [events.count() + 1, 1]
    assert files[0][1]["user_id"][0] == SE.SENTINEL_USER
    assert [r["user_id"] for _, r in files[1:]] == [(SE.SENTINEL_USER,) * 2]
    ts = [r["ts"] for _, r in files]
    assert ts[0][1] < ts[1][0]

    stage, n = stage_documents_batches(spark, sf_medium)
    files = _footers(stage)
    rows = [r for r, _ in files]
    n_new = (
        read_table(spark, sf_medium, "documents")
        .filter(F.col("doc_id") >= N_OLD)
        .count()
    )
    assert n == len(files) == N_BATCHES
    assert sum(rows) == n_new and max(rows) - min(rows) <= 1
    ids = [r["doc_id"] for _, r in files]
    assert ids[0][0] >= N_OLD
    assert all(a[1] < b[0] for a, b in zip(ids, ids[1:]))


def test_cold_stage_replay_is_one_write(spark, tmp_path, monkeypatch):
    """A cold ``stage_replay`` stages every frame with ONE Spark write
    and orders the files by frame value as a number (2 < 9 < 10, which
    a string sort of the partition directories would not give); a warm
    call writes nothing."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    src = str(tmp_path / "src.parquet")
    pq.write_table(pa.table({"x": [1]}), src)
    writes = []
    parquet = DataFrameWriter.parquet

    def counted(self, *args, **kwargs):
        writes.append(args)
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counted)
    frame = F.element_at(
        F.array(*map(F.lit, (10, 2, 9))), (F.col("id") % 3 + 1).cast("int")
    )

    def build():
        return spark.range(0, 30, numPartitions=3).withColumn(SE.FRAME, frame)

    stage, n = SE.stage_replay(spark, "t_onejob", src, build)
    assert len(writes) == 1
    assert n == 3
    assert sorted(os.listdir(stage)) == [f"{k:04d}.parquet" for k in range(3)]
    files = _footers(stage)
    # frame 2 holds ids 1, 4, ...; frame 9 ids 2, 5, ...; frame 10 ids 0, 3, ...
    assert [(rows, r["id"][0]) for rows, r in files] == [(10, 1), (10, 2), (10, 0)]
    assert SE.stage_replay(spark, "t_onejob", src, build) == (stage, 3)
    assert len(writes) == 1


def test_drain_session_sizes_state_to_cores_without_checksums(spark):
    """The drain session runs one state partition per core up to
    ``STREAM_STATE_PARTITIONS`` and writes no checkpoint checksum
    files; the parent session's conf is untouched."""
    import glob
    import os
    import tempfile

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.checkpoint.fileChecksum.enabled",
    )
    before = {k: spark.conf.get(k) for k in keys}
    stage = SE.stage_events_with_sentinels(spark, SF)
    got = SE.run_stream_to_parquet(
        spark,
        lambda s: SE.sessionize(SE.read_staged_events_stream(s, stage)),
        "t_drain_conf",
        "user_id bigint, session_start timestamp,"
        " session_end timestamp, n_events bigint",
    )
    assert got.count() > 0
    width = min(SE.STREAM_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    child = SE._drain_session(spark)
    assert child.conf.get(keys[0]) == str(width)
    assert child.conf.get(keys[1]) == "false"
    assert {k: spark.conf.get(k) for k in keys} == before
    assert before[keys[1]] == "true"  # Spark's default, kept by the parent

    bases = glob.glob(os.path.join(tempfile.gettempdir(), "sparkgraft_t_drain_conf_*"))
    ckpt = os.path.join(max(bases, key=os.path.getmtime), "ckpt")
    state = os.path.join(ckpt, "state", "0")
    assert len([p for p in os.listdir(state) if p != "_metadata"]) == width
    # Spark's checkpoint checksums are "<file>.crc"; the local file
    # system's own are ".<file>.crc" and stay
    names = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert any(f.endswith(".delta") for f in names)
    assert not [f for f in names if f.endswith(".crc") and not f.startswith(".")]


def test_sessionize_drain_runs_two_batches(spark, tmp_path):
    """With sentinel 0 in the real file the append-mode sessionize
    drain is exactly two micro-batches, all real rows plus sentinel 0,
    then sentinel 1, and still emits every real session."""
    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
    )

    stage = SE.stage_events_with_sentinels(spark, SF)
    q = (
        SE.sessionize(SE.read_staged_events_stream(SE._drain_session(spark), stage))
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = read_table(spark, SF, "events").count()
    assert [p["numInputRows"] for p in q.recentProgress] == [rows + 1, 1]
    got = spark.read.parquet(str(tmp_path / "out")).filter(
        f"user_id IS NULL OR user_id != {SE.SENTINEL_USER}"
    )
    want = BE.events_sessionize(spark, SF)
    assert got.count() == want.count() > 0
