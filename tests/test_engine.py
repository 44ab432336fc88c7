"""Engine API parity: the reference's six methods and its test-suite
semantics (SURVEY.md §5) — Q1/Q2 results, mutation round-trips
through the snapshot store, RI invariants after every mutation
(reference Tests 3-7, 10-12).
"""

from __future__ import annotations

import pytest

from flat_file_social_media_database_engine_spark.engine import Engine

USERS_CSV = """id,username,location
1,alice,paris
2,bob,london
3,carol,paris
4,dave,nyc
"""

POSTS_CSV = """id,content,username,views
10,hello,alice,5
11,world,bob,2
12,third,alice,0
"""

ENG_CSV = """id,postId,username,type,comment,timestamp
100,10,bob,like,None,1111
101,10,carol,comment,nice,1112
102,11,alice,comment,cool,1113
103,11,carol,comment,agreed,1114
104,12,bob,like,None,1115
105,10,alice,comment,thanks,1116
"""


@pytest.fixture()
def engine(spark, tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    (d / "users.csv").write_text(USERS_CSV)
    (d / "posts.csv").write_text(POSTS_CSV)
    (d / "engagements.csv").write_text(ENG_CSV)
    eng = Engine(spark, store_root=str(tmp_path / "store"))
    eng.load_flat_files(str(d))
    return eng


def test_q1_user_comments_ordered(engine):
    # alice's comments sorted by (postId, comment) —
    # buzzdb_lab1.cpp:712, order asserted like reference Test 3.
    rows = [(r["postId"], r["comment"]) for r in
            engine.get_all_user_comments(1).collect()]
    assert rows == [(10, "thanks"), (11, "cool")]
    # absent user → empty (buzzdb_lab1.cpp:692-693)
    assert engine.get_all_user_comments(999).count() == 0


def test_q2_engagements_by_location(engine):
    row = engine.get_engagements_by_location("paris").collect()[0]
    # paris users: alice, carol → engagements 101,102,103,105 (4
    # comments), none likes... alice has like 104? no: 104 is bob.
    assert (row["likes"], row["comments"]) == (0, 4)
    row = engine.get_engagements_by_location("nowhere").collect()[0]
    assert (row["likes"], row["comments"]) == (0, 0)


def test_m1_concurrent_increments_associative(engine, spark):
    # Reference Test 7: 10 threads × 10 increments of +1 on one post
    # must sum exactly (buzzdb_lab1.cpp:1432-1490). Batch form: 100
    # delta rows, one apply.
    deltas = spark.createDataFrame([(10, 1)] * 100, "id int, delta int")
    engine.update_post_views(deltas)
    views = {r["id"]: r["views"] for r in engine.tables["posts"].collect()}
    assert views[10] == 105

    # clamp at 0 (buzzdb_lab1.cpp:619-622)
    neg = spark.createDataFrame([(11, -50)], "id int, delta int")
    engine.update_post_views(neg)
    views = {r["id"]: r["views"] for r in engine.tables["posts"].collect()}
    assert views[11] == 0

    # restart: snapshot survives reload (reference Test 5 round-trip)
    engine.load_snapshot()
    views = {r["id"]: r["views"] for r in engine.tables["posts"].collect()}
    assert views[10] == 105 and views[11] == 0


def test_m2_validated_append(engine, spark):
    batch = spark.createDataFrame(
        [
            (200, 10, "dave", "like", "None", 2000),   # valid
            (201, 99, "dave", "like", "None", 2001),   # dangling post
            (202, 10, "ghost", "like", "None", 2002),  # dangling user
        ],
        "id int, postId int, username string, type string, comment string, timestamp int",
    )
    engine.add_engagement_records(batch)
    ids = {r["id"] for r in engine.tables["engagements"].collect()}
    assert 200 in ids and 201 not in ids and 202 not in ids
    # RI invariant holds after mutation (reference Test 12)
    assert engine.ri_report().filter("dangling_count > 0").count() == 0


def test_m3_cascading_rename_atomic(engine):
    engine.update_user_name(1, "alice2")
    users = {r["id"]: r["username"] for r in engine.tables["users"].collect()}
    assert users[1] == "alice2"
    posts = {r["id"]: r["username"] for r in engine.tables["posts"].collect()}
    assert posts[10] == "alice2" and posts[12] == "alice2" and posts[11] == "bob"
    eng_users = {r["id"]: r["username"] for r in engine.tables["engagements"].collect()}
    assert eng_users[102] == "alice2" and eng_users[105] == "alice2"
    assert engine.ri_report().filter("dangling_count > 0").count() == 0
    # missing id → all tables unchanged (buzzdb_lab1.cpp:783-785)
    before = engine.tables["users"].count()
    engine.update_user_name(999, "nobody")
    assert engine.tables["users"].count() == before
    users = {r["id"]: r["username"] for r in engine.tables["users"].collect()}
    assert users[1] == "alice2"


def test_m3_commit_jobs_carry_callers_job_group(engine, spark):
    """M3 commits three tables at once, each written on its own pool
    thread; every job of the op still runs under the caller's job
    group (tracers and ``cancelJobGroup`` key on it) and none escapes
    it."""
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    spark.sparkContext.setJobGroup("m3-commit", "m3-commit")
    try:
        engine.update_user_name(1, "alice2")
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert len(tracker.getJobIdsForGroup("m3-commit")) >= 3  # a write per table
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert "alice2" in {r["username"] for r in engine.tables["users"].collect()}


def test_m1_mixed_sign_batch_clamps_net_sum(engine, spark):
    """Documented divergence from the reference's sequential clamp:
    one batch clamps the NET sum (post 10 has views=5; [-10, +3] nets
    -7 → clamp → 0, where sequential application would give 3)."""
    deltas = spark.createDataFrame([(10, -10), (10, 3)], "id int, delta int")
    engine.update_post_views(deltas)
    views = {r["id"]: r["views"] for r in engine.tables["posts"].collect()}
    assert views[10] == 0


def test_restart_after_single_table_mutation_reads_all_tables(engine, spark):
    """The load seeds a full snapshot, so a restart after a history
    that only ever mutated posts still serves users/engagements (and
    ri_report / queries work) — the partial-manifest restart bug."""
    deltas = spark.createDataFrame([(10, 1)], "id int, delta int")
    engine.update_post_views(deltas)  # only 'posts' in this commit
    engine.load_snapshot()  # restart
    assert set(engine.tables) == {"users", "posts", "engagements"}
    assert engine.tables["users"].count() == 4
    assert engine.tables["engagements"].count() == 6
    assert engine.ri_report().filter("dangling_count > 0").count() == 0
    rows = [(r["postId"], r["comment"]) for r in
            engine.get_all_user_comments(1).collect()]
    assert rows == [(10, "thanks"), (11, "cool")]


def test_m2_persisted_append_is_o_batch(engine, spark):
    """An append commit must ADD a manifest file entry, never rewrite
    the table's prior files (O(batch) vs O(table) at scale)."""
    import os

    store = engine.store
    paths_before = list(store.tables()["engagements"])
    files_before = {
        os.path.join(p, f): os.path.getmtime(os.path.join(p, f))
        for p in paths_before
        for f in os.listdir(p)
    }
    batch = spark.createDataFrame(
        [(300, 10, "dave", "like", "None", 3000)],
        "id int, postId int, username string, type string, comment string, timestamp int",
    )
    engine.add_engagement_records(batch)
    paths_after = store.tables()["engagements"]
    # prior file list is a strict prefix; old files untouched on disk
    assert paths_after[: len(paths_before)] == paths_before
    assert len(paths_after) == len(paths_before) + 1
    for f, mtime in files_before.items():
        assert os.path.exists(f) and os.path.getmtime(f) == mtime
    # reload round-trip sees old + new rows
    engine.load_snapshot()
    ids = {r["id"] for r in engine.tables["engagements"].collect()}
    assert 300 in ids and len(ids) == 7


def test_snapshot_isolation(engine):
    # Readers hold an immutable snapshot while a writer commits
    # (reference Test 10, buzzdb_lab1.cpp:1552-1601).
    reader_view = engine.tables["posts"]
    before = {r["id"]: r["views"] for r in reader_view.collect()}
    deltas = engine.spark.createDataFrame([(10, 7)], "id int, delta int")
    engine.update_post_views(deltas)
    after_reader = {r["id"]: r["views"] for r in reader_view.collect()}
    assert after_reader == before  # old snapshot unchanged
    new = {r["id"]: r["views"] for r in engine.tables["posts"].collect()}
    assert new[10] == before[10] + 7


def test_delete_user_cascades_all_three_tables(engine, spark):
    """Deleting alice removes her user row, posts 10+12, and every
    engagement on those posts OR authored by her — in one snapshot
    commit that survives a restart; remaining rows and RI invariants
    are untouched."""
    engine.delete_user(1)

    assert [r["username"] for r in engine.tables["users"].collect()] == [
        "bob", "carol", "dave",
    ]
    assert {r["id"] for r in engine.tables["posts"].collect()} == {11}
    # gone: 100-102? -> on posts 10/12 or by alice; kept: those on post 11
    kept = {r["id"] for r in engine.tables["engagements"].collect()}
    assert all(
        r["postId"] == 11 and r["username"] != "alice"
        for r in engine.tables["engagements"].collect()
    )
    assert engine.ri_report().filter("dangling_count > 0").count() == 0

    # restart path: the cascade was one multi-table commit
    e2 = Engine(spark, store_root=engine.store.root)
    e2.load_snapshot()
    assert {r["id"] for r in e2.tables["posts"].collect()} == {11}
    assert {r["id"] for r in e2.tables["engagements"].collect()} == kept


def test_delete_unknown_user_is_noop(engine):
    before = {
        n: sorted(map(tuple, engine.tables[n].collect()))
        for n in ("users", "posts", "engagements")
    }
    engine.delete_user(999)
    after = {
        n: sorted(map(tuple, engine.tables[n].collect()))
        for n in ("users", "posts", "engagements")
    }
    assert before == after


def test_maintain_compacts_vacuums_and_preserves_reads(engine, spark):
    """One maintenance call: multi-directory tables compact to one,
    pre-horizon debris is reclaimed, and every table reads identically
    afterwards (including through the re-registered SQL views)."""
    for i in range(3):
        row = engine.tables["engagements"].limit(1).collect()[0].asDict()
        row["id"] = 90_000 + i
        engine.add_engagement_records(
            spark.createDataFrame([row], engine.tables["engagements"].schema)
        )
    before = {
        n: sorted(tuple(r) for r in engine.tables[n].collect())
        for n in engine.tables
    }
    assert len(engine.store.tables()["engagements"]) > 1

    out = engine.maintain(vacuum_retain=1)
    assert "engagements" in out["compacted"]
    assert all(len(d) == 1 for d in engine.store.tables().values())
    assert out["removed_dirs"] >= 1
    after = {
        n: sorted(tuple(r) for r in engine.tables[n].collect())
        for n in engine.tables
    }
    assert after == before
    assert (
        sorted(tuple(r) for r in spark.sql("SELECT * FROM engagements").collect())
        == before["engagements"]
    )
