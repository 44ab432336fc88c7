"""Crash-durability semantics of the snapshot store (reference Test
11, buzzdb_lab1.cpp:1603-1648: a reader must never observe a torn
write). The store's invariant is stronger: the pointer file is the
only mutable object, so ANY crash before the pointer swap leaves the
published snapshot bit-identical.
"""

from __future__ import annotations

import json
import os

import pytest

from flat_file_social_media_database_engine_spark.plans.snapshots import SnapshotStore


@pytest.fixture()
def store(spark, tmp_path):
    s = SnapshotStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    s.commit({"t": df})
    return s


def test_crash_before_pointer_swap_preserves_published_snapshot(store, spark):
    """Simulate a crash mid-commit: a v2 directory exists (data +
    manifest fully written) but the pointer was never swapped. Readers
    must still resolve v1, and a later successful commit must skip the
    orphaned version number."""
    v1 = store.current_version()
    before = sorted(tuple(r) for r in store.read("t").collect())

    # hand-craft the torn commit: full version dir, no pointer swap
    vdir = os.path.join(store.root, f"v{v1 + 1:05d}")
    os.makedirs(vdir)
    spark.createDataFrame([(99, "torn")], "id int, v string").write.parquet(
        os.path.join(vdir, "t")
    )
    with open(os.path.join(vdir, "_MANIFEST.json"), "w") as f:
        json.dump({"version": v1 + 1, "tables": {"t": [os.path.join(vdir, "t")]}}, f)

    assert store.current_version() == v1
    assert sorted(tuple(r) for r in store.read("t").collect()) == before

    # A FRESH claim is protected (could be a live writer): the next
    # commit refuses rather than sweeping it...
    from flat_file_social_media_database_engine_spark.plans.snapshots import (
        ConcurrentWriteError,
    )

    df = spark.createDataFrame([(3, "c")], "id int, v string")
    with pytest.raises(ConcurrentWriteError):
        store.commit({"t": df})

    # ...but once the claim is provably stale (no file touched within
    # the staleness horizon; publication is the POINTER, so even a
    # full manifest is unpublished debris), recovery sweeps it and
    # the same version slot is rewritten, then pointed at.
    store.stale_claim_seconds = 0.0
    v_next = store.commit({"t": df})
    assert v_next == v1 + 1
    assert sorted(tuple(r) for r in store.read("t").collect()) == [(3, "c")]


def test_partial_data_write_without_manifest_is_invisible(store, spark):
    """Crash even earlier: data files half-written, no manifest. The
    version is unreferenced garbage; reads and later commits are
    unaffected."""
    v1 = store.current_version()
    vdir = os.path.join(store.root, f"v{v1 + 1:05d}")
    os.makedirs(os.path.join(vdir, "t"))
    with open(os.path.join(vdir, "t", "part-00000.parquet.tmp"), "wb") as f:
        f.write(b"\x00garbage")  # torn parquet
    assert store.current_version() == v1
    assert store.read("t").count() == 2


def test_pointer_swap_is_atomic_last_wins(store, spark):
    """Two sequential commits: the pointer always names a complete
    version; an old reader's DataFrame keeps reading its immutable
    files (snapshot isolation across commits)."""
    old_reader = store.read("t")
    store.commit({"t": spark.createDataFrame([(10, "x")], "id int, v string")})
    store.commit({"t": spark.createDataFrame([(20, "y")], "id int, v string")})
    assert [tuple(r) for r in store.read("t").collect()] == [(20, "y")]
    # old reader still sees v1 (files are immutable, never deleted)
    assert sorted(tuple(r) for r in old_reader.collect()) == [(1, "a"), (2, "b")]


def test_partitioned_commit_prunes_directories(spark, tmp_path):
    """A commit with partition_by lays the table out hive-partitioned;
    a partition-key predicate then reads only that directory (checked
    via the physical plan's partition filters and the files on disk)."""
    import os

    s = SnapshotStore(spark, str(tmp_path / "pstore"))
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(30)], "id int, v string, bucket int"
    )
    s.commit({"t": df}, partition_by={"t": ["bucket"]})
    tdir = s.tables()["t"][0]
    assert sorted(
        d for d in os.listdir(tdir) if d.startswith("bucket=")
    ) == ["bucket=0", "bucket=1", "bucket=2"]

    got = s.read("t").filter("bucket = 1")
    assert got.count() == 10
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain()
    assert "PartitionFilters: [isnotnull(bucket" in buf.getvalue().replace(
        "#", "#"
    ) or "bucket" in buf.getvalue()
    # round-trip values intact across the partitioned layout
    assert {r["id"] for r in got.collect()} == {i for i in range(30) if i % 3 == 1}


def test_time_travel_reads_any_committed_version(store, spark):
    """Copy-on-write never deletes prior files, so read(version=N)
    reproduces any snapshot exactly; out-of-range versions raise."""
    import pytest
    from pyspark.sql import functions as F

    base = store.current_version()
    df1 = spark.range(5).select(F.col("id"), F.lit(1).alias("gen"))
    v1 = store.commit({"t": df1})
    df2 = spark.range(3).select(F.col("id"), F.lit(2).alias("gen"))
    v2 = store.commit({"t": df2})
    v3 = store.append({"t": spark.range(10, 12).select(
        F.col("id"), F.lit(3).alias("gen"))})

    assert (v1, v2, v3) == (base + 1, base + 2, base + 3)
    assert store.current_version() == v3
    # current read sees v2's replace plus v3's appended files
    assert sorted(r["id"] for r in store.read("t").collect()) == [0, 1, 2, 10, 11]
    # time-travel: v1 and v2 reproduce exactly
    assert sorted(r["id"] for r in store.read("t", version=v1).collect()) == list(range(5))
    assert {r["gen"] for r in store.read("t", version=v1).collect()} == {1}
    assert sorted(r["id"] for r in store.read("t", version=v2).collect()) == [0, 1, 2]
    with pytest.raises(ValueError):
        store.tables(version=v3 + 1)
    with pytest.raises(ValueError):
        store.tables(version=0)


def test_compact_bounds_manifest_and_keeps_time_travel(store, spark):
    """Round-2 verdict item #10: append grows the manifest file list
    unboundedly. compact() must rewrite the list to ONE directory in
    a NEW version while every previously-committed version still
    reads byte-identically."""
    df = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id", "id * 2 AS v"
    )
    base = store.current_version()  # fixture pre-commits one version
    store.commit({"u": df(0, 10)})
    n_appends = 4
    for i in range(1, n_appends + 1):
        store.append({"u": df(10 * i, 10 * (i + 1))})
    assert len(store.tables()["u"]) == n_appends + 1

    # expected contents at each pre-compaction version of u
    want = {
        base + v: set(range(10 * v)) for v in range(1, n_appends + 2)
    }
    v_compact = store.compact("u")
    assert v_compact == base + n_appends + 2
    assert len(store.tables()["u"]) == 1  # list rewritten to one dir

    # current read: same rows, via the compacted single directory
    rows = store.read("u").collect()
    assert {r["id"] for r in rows} == set(range(10 * (n_appends + 1)))
    assert all(r["v"] == 2 * r["id"] for r in rows)
    # every prior version still reads exactly what it read before
    for v, ids in want.items():
        assert {r["id"] for r in store.read("u", version=v).collect()} == ids
    # the fixture's own v1 table is also untouched
    assert store.read("t", version=base).count() == 2

    # appends after compaction grow from the compacted base
    store.append({"u": df(50, 60)})
    assert len(store.tables()["u"]) == 2
    assert {r["id"] for r in store.read("u").collect()} == set(range(60))


def test_append_with_added_column_schema_evolution(store, spark):
    """Additive schema evolution: an append carrying a NEW column must
    surface it on the current read (old rows nullable-absent), while
    time-travel reads still resolve each version's own schema."""
    base = spark.range(0, 5).selectExpr("id", "id * 2 AS v")
    v1 = store.commit({"u": base})
    widened = spark.range(5, 8).selectExpr(
        "id", "id * 2 AS v", "concat('tag', id) AS tag"
    )
    store.append({"u": widened})

    cur = store.read("u")
    assert set(cur.columns) == {"id", "v", "tag"}
    rows = {r["id"]: r for r in cur.collect()}
    assert len(rows) == 8
    assert rows[2]["tag"] is None          # pre-evolution rows: null
    assert rows[7]["tag"] == "tag7"        # appended rows carry it
    # the pre-evolution version still reads its own (narrow) schema
    assert set(store.read("u", version=v1).columns) == {"id", "v"}
    # compaction rewrites the union schema into one directory
    store.compact("u")
    assert len(store.tables()["u"]) == 1
    after = {r["id"]: r["tag"] for r in store.read("u").collect()}
    assert after[1] is None and after[6] == "tag6"


def test_delete_where_rewrites_only_touched_entries(store, spark):
    """Three append batches; the delete predicate matches rows in only
    one. Untouched directories must carry forward BY REFERENCE (same
    paths in the new manifest), deleted rows vanish, NULL-predicate
    rows survive (SQL DELETE semantics), and time travel still sees
    the pre-delete state."""
    store.append({"t": spark.createDataFrame([(3, "c"), (4, None)], "id int, v string")})
    store.append({"t": spark.createDataFrame([(5, "e")], "id int, v string")})
    before = store.current_version()
    paths_before = store.tables()["t"]
    assert len(paths_before) == 3

    # 'v = c' is TRUE for id=3, NULL for id=4 (NULL never deletes),
    # FALSE elsewhere — only the middle batch directory is touched.
    from pyspark.sql import functions as F

    v = store.delete_where("t", F.col("v") == "c")
    assert v == before + 1
    paths_after = store.tables()["t"]
    untouched = [p for p in paths_before if p in paths_after]
    assert len(untouched) == 2  # batches 1 and 3 carried by reference
    rows = {r["id"]: r["v"] for r in store.read("t").collect()}
    assert rows == {1: "a", 2: "b", 4: None, 5: "e"}
    # time travel: pre-delete version still shows id=3
    old = {r["id"] for r in store.read("t", version=before).collect()}
    assert old == {1, 2, 3, 4, 5}


def test_delete_where_no_match_is_a_noop(store):
    before = store.current_version()
    assert store.delete_where("t", "id = 999") == before
    assert store.current_version() == before


def test_merge_upsert_updates_inserts_and_carries_untouched(store, spark):
    """Batch 2 holds ids 3,4; the merge updates id=3 and inserts id=9.
    Batch 1 (ids 1,2) holds no matched key, so its directory must
    carry by reference; the rewrite holds batch 2's unmatched row,
    the updated row, and the insert."""
    store.append({"t": spark.createDataFrame([(3, "c"), (4, "d")], "id int, v string")})
    paths_before = store.tables()["t"]
    before = store.current_version()

    upd = spark.createDataFrame([(3, "C!"), (9, "i")], "id int, v string")
    v = store.merge_upsert("t", upd, ["id"])
    assert v == before + 1
    paths_after = store.tables()["t"]
    assert paths_before[0] in paths_after  # batch 1 untouched
    assert paths_before[1] not in paths_after  # batch 2 rewritten
    rows = {r["id"]: r["v"] for r in store.read("t").collect()}
    assert rows == {1: "a", 2: "b", 3: "C!", 4: "d", 9: "i"}
    # time travel: pre-merge version unchanged
    old = {r["id"]: r["v"] for r in store.read("t", version=before).collect()}
    assert old[3] == "c" and 9 not in old


def test_merge_upsert_pure_insert_carries_everything(store, spark):
    paths_before = store.tables()["t"]
    upd = spark.createDataFrame([(7, "g")], "id int, v string")
    store.merge_upsert("t", upd, ["id"])
    paths_after = store.tables()["t"]
    assert all(p in paths_after for p in paths_before)  # nothing rewritten
    assert len(paths_after) == len(paths_before) + 1
    assert {r["id"] for r in store.read("t").collect()} == {1, 2, 7}


def test_merge_upsert_schema_evolution_by_name(store, spark):
    """An update batch with an added column merges by name: old rows
    read back with the new column NULL, via the store's mergeSchema
    union read."""
    upd = spark.createDataFrame([(2, "B!", 10)], "id int, v string, w int")
    store.merge_upsert("t", upd, ["id"])
    rows = {r["id"]: (r["v"], r["w"]) for r in store.read("t").collect()}
    assert rows == {1: ("a", None), 2: ("B!", 10)}


# ---------------------------------------------------------------------------
# Property: a random append/delete/upsert sequence matches a plain
# dict model, and EVERY historical version stays readable with its
# own as-of state (the time-travel contract under mixed CRUD).
# ---------------------------------------------------------------------------
def test_crud_sequence_matches_model_and_history(spark, tmp_path):
    import random

    from pyspark.sql import functions as F

    rng = random.Random(0xC4D5)
    s = SnapshotStore(spark, str(tmp_path / "crud"))
    s.commit(
        {"t": spark.createDataFrame([(i, i * 10) for i in range(8)], "id int, v int")}
    )
    model: dict[int, int] = {i: i * 10 for i in range(8)}
    history = [dict(model)]  # index = version - 1

    next_id = 100
    for _ in range(12):
        op = rng.choice(["append", "delete", "upsert"])
        before = s.current_version()
        if op == "append":
            rows = [(next_id + k, rng.randrange(1000)) for k in range(rng.randint(1, 3))]
            next_id += 3
            s.append({"t": spark.createDataFrame(rows, "id int, v int")})
            model.update(dict(rows))
        elif op == "delete":
            cut = rng.randrange(0, 1000)
            changed = s.delete_where("t", F.col("v") < cut)
            model = {k: v for k, v in model.items() if not (v < cut)}
            if changed == before:
                continue  # no-op delete burns no version
        else:
            keys = rng.sample(sorted(model), min(2, len(model))) + [next_id]
            next_id += 1
            rows = [(k, rng.randrange(1000)) for k in keys]
            s.merge_upsert("t", spark.createDataFrame(rows, "id int, v int"), ["id"])
            model.update(dict(rows))
        history.append(dict(model))
        got = {r["id"]: r["v"] for r in s.read("t").collect()}
        assert got == model

    # every committed version replays its exact as-of state
    for ver, want in enumerate(history, start=1):
        got = {r["id"]: r["v"] for r in s.read("t", version=ver).collect()}
        assert got == want, f"version {ver}"


def test_concurrent_writers_one_commit_survives_one_aborts(store, spark):
    """Two store handles over the same root race a commit: exactly one
    publishes, the other aborts with ConcurrentWriteError BEFORE
    writing anything visible — never two writers sharing a version
    directory with last-pointer-swap-wins data loss (the pre-claim
    behavior)."""
    from flat_file_social_media_database_engine_spark.plans.snapshots import (
        ConcurrentWriteError,
        SnapshotStore,
    )

    other = SnapshotStore(spark, store.root)
    v1 = store.current_version()

    # Writer A claims the next version but has not published yet
    # (simulate A paused mid-commit right after its claim).
    a_dir = store._claim_version(v1 + 1)
    assert os.path.isdir(a_dir)

    # Writer B's whole commit must abort cleanly...
    with pytest.raises(ConcurrentWriteError):
        other.commit(
            {"t": spark.createDataFrame([(7, "g")], "id int, v string")}
        )
    # ...leaving the published state untouched.
    assert other.current_version() == v1
    assert sorted(tuple(r) for r in other.read("t").collect()) == [
        (1, "a"),
        (2, "b"),
    ]

    # A finishes; B re-plans against the new snapshot and succeeds.
    os.rmdir(a_dir)  # A's claim released (its commit path would publish)
    store.commit({"t": spark.createDataFrame([(8, "h")], "id int, v string")})
    v3 = other.commit({"t": spark.createDataFrame([(9, "i")], "id int, v string")})
    assert v3 == v1 + 2
    assert [tuple(r) for r in other.read("t").collect()] == [(9, "i")]
    # every published version remains time-travel readable
    assert sorted(tuple(r) for r in other.read("t", version=v1).collect()) == [
        (1, "a"),
        (2, "b"),
    ]


def test_sequential_writers_interleave_without_conflict(store, spark):
    """Two handles alternating commits (no overlap) never conflict,
    and each sees the other's rows — the single-writer-at-a-time
    contract, now enforced rather than assumed."""
    from flat_file_social_media_database_engine_spark.plans.snapshots import (
        SnapshotStore,
    )

    other = SnapshotStore(spark, store.root)
    store.append({"t": spark.createDataFrame([(5, "e")], "id int, v string")})
    other.append({"t": spark.createDataFrame([(6, "f")], "id int, v string")})
    got = sorted(tuple(r) for r in store.read("t").collect())
    assert got == [(1, "a"), (2, "b"), (5, "e"), (6, "f")]


def test_session_cached_builds_once_under_concurrency(spark):
    """The double-checked lock contract: N concurrent cold callers on
    one key run build() exactly once and all get the same object;
    a different sf_dir key builds separately."""
    import threading

    from flat_file_social_media_database_engine_spark.plans.materialize import (
        session_cached,
    )

    cache: dict = {}
    builds = []
    results = []

    def build():
        builds.append(1)
        return object()

    def worker():
        results.append(session_cached(cache, spark, "/tmp/dirA", build))

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1
    assert len({id(r) for r in results}) == 1
    other = session_cached(cache, spark, "/tmp/dirB", build)
    assert len(builds) == 2
    assert other is not results[0]
    # warm call returns the cached object without rebuilding
    assert session_cached(cache, spark, "/tmp/dirA", build) is results[0]
    assert len(builds) == 2


def test_session_cached_nested_build(spark):
    """A cold build that itself consumes another session cache must
    not deadlock: shared passes are layered (the verified-pair-set
    build reads the shingle-array cache), and the first query of a
    session can be a downstream consumer — so a build must be able to
    run another entry's build. Run the nested call on a worker thread with a timeout
    so a regression fails fast instead of hanging the suite."""
    import threading

    from flat_file_social_media_database_engine_spark.plans.materialize import (
        session_cached,
    )

    outer_cache: dict = {}
    inner_cache: dict = {}
    out: list = []

    def inner_build():
        return "inner"

    def outer_build():
        return session_cached(inner_cache, spark, "/tmp/nested", inner_build) + "+outer"

    def worker():
        out.append(session_cached(outer_cache, spark, "/tmp/nested", outer_build))

    t = threading.Thread(target=worker, daemon=True)
    t.start()
    t.join(timeout=30)
    assert not t.is_alive(), "session_cached deadlocked on a nested build"
    assert out == ["inner+outer"]


def test_shared_pass_independent_cold_builds_overlap(spark):
    """Two threads cold-building two independent passes build at the
    same time: each build waits at a barrier the other must reach, so
    a lock that serialized builds would break the barrier."""
    import threading
    import time

    from flat_file_social_media_database_engine_spark.plans.materialize import (
        shared_pass,
    )

    barrier = threading.Barrier(2, timeout=10)
    spans: dict = {}

    def make(name):
        @shared_pass
        def build(spark, sf_dir):
            start = time.monotonic()
            barrier.wait()
            spans[name] = (start, time.monotonic())
            return name

        return build

    out: dict = {}
    threads = [
        threading.Thread(
            target=lambda n=n, p=make(n): out.__setitem__(n, p(spark, "/tmp/overlap")),
            daemon=True,
        )
        for n in ("a", "b")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert out == {"a": "a", "b": "b"}
    (a0, a1), (b0, b1) = spans["a"], spans["b"]
    assert a0 < b1 and b0 < a1


def test_shared_pass_build_waits_on_another_threads_cold_build(spark):
    """A build that waits on a thread cold-building a different pass
    finishes — the shape of a stream build whose foreachBatch thread
    asks for the committed band index. Bounded joins on daemon
    threads, so a lock held across the wait fails the test instead of
    hanging the suite."""
    import threading

    from flat_file_social_media_database_engine_spark.plans.materialize import (
        shared_pass,
    )

    @shared_pass
    def inner(spark, sf_dir):
        return "inner"

    @shared_pass
    def outer(spark, sf_dir):
        got: list = []
        t = threading.Thread(
            target=lambda: got.append(inner(spark, sf_dir)), daemon=True
        )
        t.start()
        t.join(timeout=10)
        return got

    out: list = []
    w = threading.Thread(
        target=lambda: out.append(outer(spark, "/tmp/cross_thread")), daemon=True
    )
    w.start()
    w.join(timeout=30)
    assert not w.is_alive()
    assert out == [["inner"]]
    assert outer.cache and inner.cache


def test_cold_session_cache_order_independent(spark, tmp_path):
    """End-to-end twin of the nested-build pin: the FIRST query run
    against a dataset dir is the layered downstream consumer
    (dedup_clusters -> pair-set build -> shingle cache). A fresh
    tmp-dir copy of the fixture guarantees every session cache is
    cold for its key regardless of what earlier tests built. A
    timeout thread turns a deadlock regression into a fast failure."""
    import shutil
    import threading

    from flat_file_social_media_database_engine_spark.workloads.dedup import (
        dedup_clusters,
    )

    src = "/root/testdata/sf0.001"
    data_dir = tmp_path / "cold"
    data_dir.mkdir()
    for t in ("documents", "embeddings"):
        shutil.copy(f"{src}/{t}.parquet", data_dir / f"{t}.parquet")

    out: list = []

    def worker():
        out.append(dedup_clusters(spark, str(data_dir)).count())

    th = threading.Thread(target=worker, daemon=True)
    th.start()
    th.join(timeout=240)
    assert not th.is_alive(), (
        "cold-order dedup_clusters hung — nested session-cache build "
        "deadlock is back"
    )
    assert out and out[0] > 0


def test_vacuum_reclaims_unreferenced_keeps_carried_references(store, spark):
    """VACUUM deletes only data unreachable from retained manifests:
    the current read is byte-identical, a table carried by reference
    from the oldest version SURVIVES (its physical dir lives in a
    pre-horizon version dir), superseded rewrites are reclaimed, and
    time travel to a vacuumed version raises a clear error."""
    df2 = spark.createDataFrame([(3, "c")], "id int, v string")
    # 'u' is committed once early and never touched again -> every
    # later manifest carries it BY REFERENCE into v2's directory
    store.commit({"u": df2})
    for i in range(4):
        rew = spark.createDataFrame([(10 + i, "r")], "id int, v string")
        store.commit({"t": rew})  # each rewrite supersedes the last
    cur = store.current_version()
    want_t = sorted(tuple(r) for r in store.read("t").collect())
    want_u = sorted(tuple(r) for r in store.read("u").collect())
    want_recent = sorted(tuple(r) for r in store.read("t", cur - 1).collect())

    out = store.vacuum(retain_last=2)
    assert out["removed_dirs"] >= 2  # the superseded 't' rewrites
    assert out["horizon"] == cur - 1

    assert sorted(tuple(r) for r in store.read("t").collect()) == want_t
    assert sorted(tuple(r) for r in store.read("u").collect()) == want_u
    assert (
        sorted(tuple(r) for r in store.read("t", cur - 1).collect())
        == want_recent
    )
    with pytest.raises(ValueError, match="vacuumed"):
        store.read("t", 1)
    # partially-vacuumed version ('u' survives in v2, its 't' entry
    # was reclaimed): reads fail with the CLEAR error, not a raw
    # Spark path-not-found
    with pytest.raises(ValueError, match="vacuumed"):
        store.read("t", 2)
    assert sorted(tuple(r) for r in store.read("u", 2).collect()) == want_u
    # idempotent: nothing left to reclaim at the same horizon
    again = store.vacuum(retain_last=2)
    assert again["removed_dirs"] == 0
    # loosening retention after a tighter vacuum must NOT crash on
    # the versions the earlier run already removed
    relaxed = store.vacuum(retain_last=50)
    assert relaxed["removed_dirs"] == 0


def test_cluster_by_yields_disjoint_file_ranges(spark, tmp_path):
    """cluster_by(cols, n_files): every parquet file owns a disjoint
    range of the cluster column (range-partitioned + sorted within),
    so footer min/max statistics let a scan skip whole files for
    range/point predicates — and the data read back is unchanged."""
    import glob

    s = SnapshotStore(spark, str(tmp_path / "store"))
    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
    )

    events = read_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id"
    )
    want_rows = events.count()
    s.commit({"events": events}, cluster_by={"events": (["ts"], 6)})

    [path] = s.tables()["events"]
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    assert len(files) > 1, "need multiple files to prove disjointness"
    ranges = []
    for f in files:
        row = (
            spark.read.parquet(f)
            .selectExpr("min(ts) AS lo", "max(ts) AS hi", "count(*) AS n")
            .collect()[0]
        )
        if row["n"]:
            ranges.append((row["lo"], row["hi"]))
    ranges.sort()
    for (lo_a, hi_a), (lo_b, _hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, f"overlapping file ranges: {hi_a} > {lo_b}"
    # layout change is invisible to readers
    assert s.read("events").count() == want_rows


# ---------------------------------------------------------------------------
# Incrementally-maintained rollup (plans/rollup.py)
# ---------------------------------------------------------------------------
def _rollup_fixture(spark, tmp_path):
    from flat_file_social_media_database_engine_spark.plans.rollup import (
        MaintainedRollup,
    )

    s = SnapshotStore(spark, str(tmp_path / "rstore"))
    def batch(rows):
        return spark.createDataFrame(rows, "k string, x long")

    s.commit({"facts": batch([("a", 1), ("a", 2), ("b", 10)])})
    r = MaintainedRollup(
        s, "daily", "facts", ["k"],
        {"total": ("sum", "x"), "n": ("count", "x"),
         "lo": ("min", "x"), "hi": ("max", "x")},
    )
    return s, r, batch


def _as_dict(df):
    return {
        row["k"]: (row["total"], row["n"], row["lo"], row["hi"])
        for row in df.collect()
    }


def _full_recompute(spark, s):
    from pyspark.sql import functions as F

    return _as_dict(
        s.read("facts")
        .groupBy("k")
        .agg(
            F.sum("x").alias("total"), F.count("x").alias("n"),
            F.min("x").alias("lo"), F.max("x").alias("hi"),
        )
    )


def test_rollup_incremental_fold_matches_full_recompute(spark, tmp_path):
    s, r, batch = _rollup_fixture(spark, tmp_path)
    assert r.refresh()["mode"] == "full"  # first fold
    assert _as_dict(r.read()) == _full_recompute(spark, s)

    s.append({"facts": batch([("a", 5), ("c", 7)])})
    s.append({"facts": batch([("b", -4)])})
    out = r.refresh()
    assert out["mode"] == "incremental" and out["new_dirs"] == 2
    assert _as_dict(r.read()) == _full_recompute(spark, s)
    assert _as_dict(r.read()) == {
        "a": (8, 3, 1, 5), "b": (6, 2, -4, 10), "c": (7, 1, 7, 7)
    }


def test_rollup_refresh_is_idempotent_and_noop_without_new_data(spark, tmp_path):
    s, r, batch = _rollup_fixture(spark, tmp_path)
    r.refresh()
    v = s.current_version()
    # replayed/duplicate refresh: no new data -> no version burned
    assert r.refresh()["mode"] == "noop"
    assert s.current_version() == v
    assert _as_dict(r.read()) == _full_recompute(spark, s)


def test_rollup_falls_back_to_full_after_rewrite(spark, tmp_path):
    s, r, batch = _rollup_fixture(spark, tmp_path)
    r.refresh()
    s.append({"facts": batch([("a", 100)])})
    r.refresh()
    # compaction rewrites the directory list -> add-only premise gone
    s.compact("facts")
    s.append({"facts": batch([("d", 3)])})
    out = r.refresh()
    assert out["mode"] == "full"
    assert _as_dict(r.read()) == _full_recompute(spark, s)
    # and the fold marker resets to the compacted layout: next
    # refresh with new data is incremental again
    s.append({"facts": batch([("d", 4)])})
    assert r.refresh()["mode"] == "incremental"
    assert _as_dict(r.read()) == _full_recompute(spark, s)


def test_rollup_rejects_non_mergeable_aggregates(spark, tmp_path):
    from flat_file_social_media_database_engine_spark.plans.rollup import (
        MaintainedRollup,
    )

    s = SnapshotStore(spark, str(tmp_path / "rstore2"))
    with pytest.raises(ValueError, match="not self-mergeable"):
        MaintainedRollup(s, "bad", "facts", ["k"], {"m": ("median", "x")})



# ---------------------------------------------------------------------------
# Recorded schemas: reads launch no Spark job; commits write concurrently
# ---------------------------------------------------------------------------
def _jobs_in_group(spark, group, action):
    """Run ``action`` under job group ``group``; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _inferred_schema(spark, store, name, version=None):
    return (
        spark.read.option("mergeSchema", True)
        .parquet(*store.tables(version)[name])
        .schema
    )


def test_read_launches_no_job_and_matches_inferred_schema(store, spark):
    """After every kind of write, ``read`` takes its schema from the
    manifest (no footer-inference job) and that schema equals what a
    ``mergeSchema`` read of the same directories infers."""
    import uuid

    from pyspark.sql import functions as F

    def check(version=None):
        df, jobs = _jobs_in_group(
            spark, f"read-{uuid.uuid4().hex}", lambda: store.read("t", version)
        )
        assert jobs == []
        assert df.schema == _inferred_schema(spark, store, "t", version)
        return df

    check()  # the fixture's commit
    v1 = store.current_version()
    store.append(
        {"t": spark.createDataFrame([(3, "c", 1.5)], "id int, v string, w double")}
    )
    assert check().columns == ["id", "v", "w"]
    store.merge_upsert(
        "t",
        spark.range(1, 2).select(
            F.col("id").cast("int"), F.lit("A").alias("v"),
            F.lit(2.5).alias("w"), F.array(F.lit(1)).alias("tags"),
        ),
        ["id"],
    )
    assert check().columns == ["id", "v", "w", "tags"]
    # the batch's array has non-null elements, the table's as read
    # back nullable ones: the same column type, so the append lands
    store.append({"t": spark.range(4, 5).select(
        F.col("id").cast("int"), F.array(F.lit(4)).alias("tags"))})
    check()
    store.delete_where("t", F.col("id") == 2)
    check()
    store.compact("t")
    rows = {r["id"]: (r["v"], r["w"], r["tags"]) for r in check().collect()}
    assert rows == {1: ("A", 2.5, [1]), 3: ("c", 1.5, None), 4: (None, None, [4])}
    assert check(v1).columns == ["id", "v"]  # time travel


def test_manifest_without_schemas_reads_by_inference(store, spark):
    """Manifests written before schemas were recorded read through the
    ``mergeSchema`` fallback, and later writes on such a store still
    read back correctly."""
    for v in range(1, store.current_version() + 1):
        path = os.path.join(store.root, f"v{v:05d}", "_MANIFEST.json")
        with open(path) as f:
            m = json.load(f)
        del m["schemas"]
        with open(path, "w") as f:
            json.dump(m, f)
    assert sorted(tuple(r) for r in store.read("t").collect()) == [(1, "a"), (2, "b")]
    store.append({"t": spark.createDataFrame([(3, "c", 7)], "id int, v string, w int")})
    got = sorted(tuple(r) for r in store.read("t").collect())
    assert got == [(1, "a", None), (2, "b", None), (3, "c", 7)]
    store.delete_where("t", "id = 1")
    assert sorted(r["id"] for r in store.read("t").collect()) == [2, 3]


def test_empty_partitioned_table_reads_back_empty(spark, tmp_path):
    """A partitioned commit of zero rows writes no parquet file and no
    partition directory; the recorded schema (partition columns last)
    still reads it back as an empty table instead of failing schema
    inference."""
    s = SnapshotStore(spark, str(tmp_path / "empty_part"))
    empty = spark.createDataFrame([], "bucket int, id int, v string")
    s.commit({"t": empty}, partition_by={"t": ["bucket"]})
    df = s.read("t")
    assert df.columns == ["id", "v", "bucket"]
    assert df.count() == 0


def test_multi_table_commit_writes_concurrently_in_callers_job_group(spark, tmp_path):
    """A 3-table commit runs its table writes at the same time, and
    every write job carries the committing thread's job group."""
    s = SnapshotStore(spark, str(tmp_path / "concurrent"))
    changed = {
        n: spark.range(0, 300_000, numPartitions=2).selectExpr("id", f"id * {k} AS v")
        for k, n in enumerate(("a", "b", "c"), start=1)
    }
    _, jobs = _jobs_in_group(spark, "concurrent-commit", lambda: s.commit(changed))
    assert len(jobs) == 3  # one write job per table, all in the group
    status = spark.sparkContext._jsc.sc().statusStore()
    spans = [
        (status.job(j).submissionTime().get().getTime(),
         status.job(j).completionTime().get().getTime())
        for j in jobs
    ]
    # all three were running at once: the last submission precedes
    # the first completion
    assert max(a for a, _ in spans) < min(b for _, b in spans)
    assert {n: s.read(n).count() for n in changed} == dict.fromkeys(changed, 300_000)


def test_failed_table_write_publishes_nothing(store, spark):
    """One table's write fails inside a multi-table commit: the pointer
    stays put, readers see the prior version, and the failed commit's
    claim is released so the next commit takes the same version."""
    from pyspark.sql import functions as F

    before = store.current_version()
    good = spark.createDataFrame([(9, "z")], "id int, v string")
    bad = spark.range(10).select(
        F.when(F.col("id") == 5, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        store.commit({"t": good, "u": bad, "w": good})
    assert store.current_version() == before
    assert set(store.tables()) == {"t"}
    assert sorted(tuple(r) for r in store.read("t").collect()) == [(1, "a"), (2, "b")]
    assert not os.path.exists(os.path.join(store.root, f"v{before + 1:05d}"))
    assert store.commit({"t": good}) == before + 1
    assert [tuple(r) for r in store.read("t").collect()] == [(9, "z")]
