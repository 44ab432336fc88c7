"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

All but the last test need no JVM.
``test_cold_pass_builds_are_order_invariant`` starts Spark (a minute or
two) and shows, on two seeds, that a cold pass builds the same shared
passes exactly once whichever query asks first.
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
from spans import Span, Tracer, covered  # noqa: E402


def test_benchmark_json_matches_layers():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert [w["name"] for w in bench["workloads"]] == list(layers.WORKLOADS)
    assert bench["end_to_end"] == layers.END_TO_END
    assert bench["per_layer"] == layers.PER_LAYER
    assert set(layers.MOVES) == {m["name"] for m in layers.PER_LAYER}
    e2e = {m["name"] for m in layers.END_TO_END}
    for name, moves in layers.MOVES.items():
        assert moves, name
        for metric, workload in moves:
            assert metric in e2e and workload in layers.WORKLOADS, (name, metric, workload)


def test_fixtures_are_deterministic(tmp_path):
    from fixtures import TABLES, generate

    a, b = tmp_path / "a", tmp_path / "b"
    rows = generate(str(a), 0.001, seed=42)
    assert rows == generate(str(b), 0.001, seed=42)
    for t in TABLES:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()
    assert rows["lineitem"] == 6000 and rows["documents"] == 500


# value digests of the engine's seed-42 harness fixtures at sf0.001
# (column names, arrow types and every value), which the generator must
# reproduce table for table
HARNESS_SF0001 = {
    "region": "5027c4bb2c5bfce9", "nation": "ad7b83144992458b",
    "customer": "793df981d6f64fce", "supplier": "b7ba0daf49b8a452",
    "part": "713b1c7404cb0da0", "orders": "91c7d5e352883244",
    "lineitem": "8cf00ddc51dbefb3", "events": "8afadfc5bc53ab37",
    "documents": "e79f3f2d35c3091f", "embeddings": "508e853104e4d5ba",
}


def _digest(path) -> str:
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(path)
    h = hashlib.sha256()
    for n in t.column_names:
        h.update(n.encode())
        h.update(str(t.schema.field(n).type).encode())
        h.update(repr(t[n].to_pylist()).encode())
    return h.hexdigest()[:16]


def test_fixtures_reproduce_harness_values(tmp_path):
    from fixtures import TABLES, generate

    generate(str(tmp_path), 0.001)
    assert {t: _digest(tmp_path / f"{t}.parquet") for t in TABLES} == HARNESS_SF0001


def test_covered_unions_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_self_time_subtracts_nested_children():
    t = Tracer()
    outer = Span(0, "outer", 0.0, None, None, {})
    outer.end = 10.0
    a = Span(1, "a", 1.0, outer, None, {})
    a.end = 4.0
    b = Span(2, "b", 3.0, outer, None, {})
    b.end = 6.0
    t.spans = [outer, a, b]
    assert t.self_time(outer, t.children()) == 5.0


def test_layer_metrics_bill_builds_once():
    """A shared-pass build inside a query's plan call counts as build
    time only, not also as the family's plan or query time."""
    from analytic import layer_metrics
    from spans import SHARED

    def span(sid, name, start, end, parent, **attrs):
        s = Span(sid, name, start, parent, "q", attrs)
        s.end = end
        return s

    query = span(0, "workloads.dedup.query", 0.0, 10.0, None, stages=3.0, idle_s=1.5)
    plan = span(1, "workloads.dedup.plan", 0.0, 4.0, query)
    call = span(2, SHARED + ".call", 1.0, 3.0, plan, hit=False)
    build = span(3, SHARED + ".build", 1.0, 3.0, call)
    execute = span(4, "workloads.dedup.execute", 4.0, 10.0, query)
    out = layer_metrics([query, plan, call, build, execute], wall=10.0, cpus=4)
    assert out["plans.materialize.shared_pass_builds"] == 1
    assert out["plans.materialize.shared_pass_build_self_s"] == 2.0
    assert out["workloads.dedup.plan_s"] == 2.0
    assert out["workloads.dedup.query_self_s"] == 8.0
    assert out["spark.stages"] == 3.0 and out["driver.idle_s"] == 1.5


def test_tracer_rebinds_and_restores_top_level_imports():
    from flat_file_social_media_database_engine_spark.plans import materialize
    from flat_file_social_media_database_engine_spark.workloads import eventflow

    orig = materialize.session_cached
    t = Tracer()
    t.install()
    try:
        assert materialize.session_cached is not orig
        assert eventflow.session_cached is materialize.session_cached
    finally:
        t.uninstall()
    assert materialize.session_cached is orig and eventflow.session_cached is orig


def test_shadow_model_cascades():
    from oltp import Shadow

    sh = Shadow(
        users=[(1, "ann", "x"), (2, "bob", "y")],
        posts=[(10, "c", "ann", 5), (11, "d", "bob", 1)],
        eng=[(100, 10, "bob", "comment", "hi", 1), (101, 11, "ann", "like", "None", 2)],
    )
    assert sh.q1(2) == [(10, "hi")]
    sh.m1([(10, -9), (10, 2), (99, 4)])
    assert sh.posts[10][2] == 0
    sh.m2([(102, 11, "bob", "like", "None", 3), (103, 12, "bob", "like", "None", 3)])
    assert 102 in sh.eng and 103 not in sh.eng
    sh.m3(1, "ann2")
    assert sh.posts[10][1] == "ann2" and sh.eng[101][1] == "ann2"
    assert sh.q2("x") == [(1, 0)]
    sh.delete(2)  # bob's post 11 goes, and with it ann2's like on it
    assert set(sh.posts) == {10} and sh.eng == {}
    assert sh.q2("x") == [(0, 0)]


# queries whose shared passes overlap heavily (shingles, LSH pairs,
# k-means cells, token arrays)
SHARING = (
    "dedup_minhash_lsh", "dedup_clusters", "dedup_prefix_jaccard",
    "dedup_containment_pairs", "dedup_edit_distance", "docs_strip_dup_spans",
    "pipeline_dedup_corpus", "text_quality_score", "text_bigram_lm_score",
    "sim_topk_ivf", "sim_topk_pq", "sim_recall_audit", "sim_semantic_dedup",
    "mm_decode_features",
)


def test_cold_pass_builds_are_order_invariant(tmp_path, monkeypatch):
    """Two seeds' orders of a query list that shares many passes build
    the same shared passes, each once per cold pass, and end with
    identical results."""
    import tempfile

    # temp dirs (materialized passes, checkpoints, Spark local dirs)
    # under tmp_path, as the benchmark does under its run directory
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        os.makedirs(tmp_path / sub)
        monkeypatch.setenv(var, str(tmp_path / sub))
    monkeypatch.setattr(tempfile, "tempdir", None)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    import analytic
    from fixtures import generate
    from tools.selfcheck import value_hash

    data = str(tmp_path / "sf0.001")
    generate(data, 0.001)

    class FakeRun:
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        attempted = failed = 0
        spark = None

        def fail(self, what):
            raise AssertionError(what)

        def quiesce(self):
            pass

    from flat_file_social_media_database_engine_spark.plans import materialize
    from flat_file_social_media_database_engine_spark.session import build_session

    run = FakeRun()
    run.spark = build_session("perfbench-test")
    seen = []
    try:
        for seed in (1, 2):
            order = list(SHARING)
            random.Random(seed).shuffle(order)
            passes = analytic.Passes(run, order)
            tracer = Tracer()
            tracer.install()
            try:
                passes.one(data, cold=True, tracer=tracer)
            finally:
                tracer.uninstall()
            builds = [s.parent.attrs["cache"] for s in tracer.spans if s.name.endswith(".build")]
            assert len(builds) == len(set(builds)), "a shared pass was built twice in one pass"
            hashes = {n: value_hash(df) for n, df in passes.results.items()}
            seen.append((order, sorted(builds), hashes))
    finally:
        materialize.reset_session_caches()
        run.spark.stop()
    (o1, b1, h1), (o2, b2, h2) = seen
    assert o1 != o2
    assert b1 == b2 and b1
    assert h1 == h2
