"""Concurrency semantics with real threads (reference Tests 7/10,
buzzdb_lab1.cpp:1432-1490, :1552-1601): concurrent readers during
writes see consistent snapshots, and racing increment batches
submitted from threads sum exactly (associativity replaces locking).
SparkSession job submission is thread-safe; the engine is
single-WRITER by design (commits are serialized by the caller).
"""

from __future__ import annotations

import threading

import pytest

from flat_file_social_media_database_engine_spark.engine import Engine
from flat_file_social_media_database_engine_spark.sources.social_fixture import (
    generate_social_csvs,
)


@pytest.fixture()
def engine(spark, tmp_path):
    d = tmp_path / "data"
    generate_social_csvs(str(d), seed=7)
    eng = Engine(spark, store_root=str(tmp_path / "store"))
    eng.load_flat_files(str(d))
    return eng


def test_concurrent_readers_during_writes(engine, spark):
    """Test 10 twin: 4 reader threads hammer Q1/Q2 while the main
    thread commits 5 mutations. Every read must succeed and return an
    internally-consistent result (no torn state, no errors)."""
    errors: list[Exception] = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                n = engine.get_all_user_comments(5).count()
                assert n >= 0
                row = engine.get_engagements_by_location("city_01").collect()[0]
                assert row["likes"] >= 0 and row["comments"] >= 0
        except Exception as exc:  # pragma: no cover - failure path
            errors.append(exc)

    threads = [threading.Thread(target=reader) for _ in range(4)]
    for t in threads:
        t.start()
    try:
        for i in range(5):
            deltas = spark.createDataFrame([(19, 1)], "id int, delta int")
            engine.update_post_views(deltas)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
    assert not errors, errors
    views = {r["id"]: r["views"] for r in engine.tables["posts"].collect()}
    base = views[19] - 5
    assert base >= 0  # five increments landed exactly


def test_threaded_increment_batches_sum_exactly(engine, spark):
    """Test 7 twin with actual threads: 10 threads each contribute a
    10-row delta batch into a shared list; one batch apply must sum
    all 100 increments exactly (the reference needed a mutex per
    update; associativity makes the order irrelevant here)."""
    before = {
        r["id"]: r["views"] for r in engine.tables["posts"].collect()
    }
    rows: list[tuple[int, int]] = []
    lock = threading.Lock()

    def producer():
        local = [(19, 1) for _ in range(10)]
        with lock:
            rows.extend(local)

    threads = [threading.Thread(target=producer) for _ in range(10)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(rows) == 100
    engine.update_post_views(spark.createDataFrame(rows, "id int, delta int"))
    engine.load_snapshot()  # durable across restart
    after = {r["id"]: r["views"] for r in engine.tables["posts"].collect()}
    assert after[19] == before[19] + 100
    untouched = set(before) - {19}
    assert all(after[i] == before[i] for i in untouched)


def test_band_index_concurrent_cold_build_commits_once(spark, tmp_path):
    """Two cold callers of the committed band index race on one fresh
    corpus: the shared-pass lock must let exactly one build and commit,
    so neither caller hits the store's version claim as a concurrent
    writer, both read the same tables, and the store holds version 1
    only."""
    import os
    from urllib.parse import urlparse

    from flat_file_social_media_database_engine_spark.plans.snapshots import (
        SnapshotStore,
    )
    from flat_file_social_media_database_engine_spark.workloads import dedup as D

    rows = [
        (i, f"corpus document {i} about topic {i % 3} with shared words", "en", "s", 1)
        for i in (1, 2, 3, 450, 451)
    ]
    d = str(tmp_path / "bandrace")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    barrier = threading.Barrier(2)
    got: list[dict] = []
    errors: list[Exception] = []

    def worker():
        barrier.wait()
        try:
            tables = D._band_index_committed(spark, d)
            got.append(
                {n: sorted(map(tuple, t.collect())) for n, t in tables.items()}
            )
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert len(got) == 2 and got[0] == got[1]
    assert len(got[0]["corpus_shingles"]) == 3

    shingles = D._band_index_committed(spark, d)["corpus_shingles"]
    shard = urlparse(shingles.inputFiles()[0]).path
    root = os.path.dirname(os.path.dirname(os.path.dirname(shard)))
    store = SnapshotStore(spark, root)
    assert store.current_version() == 1


def test_reset_session_caches_empties_ivf_index(spark, sf_small):
    """The persisted IVF index is a session cache like every shared
    pass, so ``reset_session_caches`` forgets it and the next call
    rebuilds."""
    from flat_file_social_media_database_engine_spark.plans.materialize import (
        reset_session_caches,
    )
    from flat_file_social_media_database_engine_spark.workloads import (
        similarity as S,
    )

    n = S._ivf_index(spark, sf_small).count()
    assert S._ivf_index.cache
    reset_session_caches()
    assert not S._ivf_index.cache
    assert S._ivf_index(spark, sf_small).count() == n


def test_reset_session_caches_empties_ext_bits(spark, tmp_path):
    """The LSH extension-bit count is memoized through
    ``session_cached`` too, so a reset forgets it."""
    from flat_file_social_media_database_engine_spark.plans.materialize import (
        reset_session_caches,
    )
    from flat_file_social_media_database_engine_spark.workloads import (
        similarity as S,
    )

    spark.createDataFrame(
        [(i, [float(i), 1.0], 0) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    key = (spark.sparkContext.applicationId, str(tmp_path))
    assert S._corpus_ext_bits(spark, str(tmp_path)) == 0
    assert key in S._corpus_ext_bits.cache
    reset_session_caches()
    assert key not in S._corpus_ext_bits.cache


def test_reset_session_caches_deletes_stream_sink(spark, sf_small):
    """A stream drain's sink and checkpoint live in a scratch dir that
    ``reset_session_caches`` deletes, so each cold rebuild after a
    reset leaves no dir behind."""
    import glob
    import os
    import tempfile

    from flat_file_social_media_database_engine_spark.plans.materialize import (
        reset_session_caches,
    )
    from flat_file_social_media_database_engine_spark.workloads import (
        eventflow as BE,
    )

    pattern = os.path.join(tempfile.gettempdir(), "*stream_attr_*")
    reset_session_caches()
    before = set(glob.glob(pattern))
    BE.events_stream_attribution(spark, sf_small).collect()
    sinks = set(glob.glob(pattern)) - before
    assert sinks
    reset_session_caches()
    assert not [d for d in sinks if os.path.exists(d)]


def test_stream_drain_leaves_parent_conf_alone(spark, sf_small):
    """A streaming drain runs in its own child session: while a
    sessionize drain runs on one thread, a second thread keeps reading
    the parent session's shuffle-partition and no-data-batch settings
    and runs one batch query. Every sample must equal the pre-drain
    value, and the batch result must equal a solo run."""
    import time
    from collections import Counter

    from flat_file_social_media_database_engine_spark.streaming import events as SE
    from flat_file_social_media_database_engine_spark.workloads import (
        eventflow as BE,
    )

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )

    def conf_now():
        return tuple(spark.conf.get(k) for k in keys)

    def batch():
        rows = BE.events_hourly_rollup(spark, sf_small).collect()
        return Counter(map(tuple, rows))

    stage = SE.stage_events_with_sentinels(spark, sf_small)
    before = conf_now()
    solo = batch()
    done = threading.Event()
    errors: list[Exception] = []
    drained: list[int] = []

    def drain():
        try:
            drained.append(
                SE.run_stream_to_parquet(
                    spark,
                    lambda s: SE.sessionize(SE.read_staged_events_stream(s, stage)),
                    "t_conf_iso_",
                    "user_id bigint, session_start timestamp,"
                    " session_end timestamp, n_events bigint",
                ).count()
            )
        except Exception as exc:
            errors.append(exc)
        finally:
            done.set()

    samples: list[tuple] = []
    concurrent: list[Counter] = []
    t = threading.Thread(target=drain)
    t.start()
    while not done.is_set():
        samples.append(conf_now())
        if not concurrent:
            concurrent.append(batch())
        time.sleep(0.02)
    t.join(timeout=300)
    assert not errors, errors
    assert drained and drained[0] > 0
    assert samples and set(samples) == {before}, (before, set(samples))
    assert concurrent == [solo]


def test_stream_drains_reuse_one_session(spark, sf_small):
    """Every session a drain opens leaves a StreamingQueryListenerBus
    listener on the SparkContext's bus for the life of the application,
    on top of the one each streaming query's own session clone leaves.
    Drains must therefore share one drain session: after the first
    drain, each further drain may add only its query's listener, and
    each drain still reads back the same rows."""
    from flat_file_social_media_database_engine_spark.streaming import events as SE

    stage = SE.stage_events_with_sentinels(spark, sf_small)
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def drain():
        return SE.run_stream_to_parquet(
            spark,
            lambda s: SE.sessionize(SE.read_staged_events_stream(s, stage)),
            "t_listeners_",
            "user_id bigint, session_start timestamp,"
            " session_end timestamp, n_events bigint",
        ).count()

    first = drain()
    before = bus.listeners().size()
    assert [drain(), drain()] == [first, first]
    assert bus.listeners().size() - before <= 2


def test_concurrent_cold_staging_shares_one_replay(
    spark, sf_medium, tmp_path, monkeypatch
):
    """Two threads cold-stage the same weekly replay at once, three
    times each. Each call writes into its own temp dir and publishes it
    by one rename, so neither thread loses files to the other's publish,
    and both get the same directory and file count."""
    import tempfile

    from flat_file_social_media_database_engine_spark.streaming import events as SE

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # a cold stage
    barrier = threading.Barrier(2)
    got: list[tuple[str, int]] = []
    errors: list[Exception] = []

    def worker():
        barrier.wait()
        try:
            got.extend(SE.stage_events_weekly(spark, sf_medium) for _ in range(3))
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == 6 and len(set(got)) == 1
    assert got[0][1] > 1
