"""Structural plan hygiene over the whole query surface.

Pins the round-4 property that made the rank_select rewrite worth
doing: NO query's optimized plan may contain an unpartitioned window
(``windowspecdefinition`` with an empty partition spec). An
unpartitioned window funnels the whole input through one reducer —
the literal "WindowExec: No Partition Defined" warning — and is the
single easiest way to ship a plan that works on fixtures and dies at
cluster scale. Catalyst also constant-folds foldable partition keys
(``partitionBy(F.lit(0))``) into exactly this shape, so the check
must read the OPTIMIZED plan, not the code.

Spec grammar: ``windowspecdefinition(partCols..., orderCols...,
frame)`` — partition attributes print bare, order columns carry
ASC/DESC, the frame is last; an empty partition spec therefore
starts with an ordered column or the frame itself.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod


def _first_top_level_arg(s: str) -> str:
    """Prefix of ``s`` up to the first top-level ``,`` or the spec's
    closing ``)`` — balanced-paren aware, so a first ORDER BY
    expression that is itself a call (``cast(x as bigint) ASC``)
    isn't truncated at its inner ``)`` (the round-4 advisor's
    false-negative: the paren-truncated token lost its ASC/DESC
    marker and the offender passed the gate)."""
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                return s[:i]
            depth -= 1
        elif ch == "," and depth == 0:
            return s[:i]
    return s


def _unpartitioned_specs(plan: str) -> list[str]:
    hits = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        first = _first_top_level_arg(plan[m.end():]).strip()
        if first.startswith("specifiedwindowframe") or (
            " ASC" in first or " DESC" in first
        ):
            hits.append(first[:60])
    return hits


def test_unpartitioned_spec_detector_grammar():
    """The detector itself: balanced first-arg extraction must flag a
    spec whose first ORDER BY expression is a function call, and must
    not flag a partitioned spec whose partition key is a call."""
    assert _unpartitioned_specs(
        "windowspecdefinition(cast(x#1 as bigint) ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
    )
    assert _unpartitioned_specs(
        "windowspecdefinition(specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$()))"
    )
    assert not _unpartitioned_specs(
        "windowspecdefinition(coalesce(g#2, 0) , v#3 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
    )


@pytest.fixture(scope="module")
def all_plans(spark, sf_small):
    """Optimized plan text for every registered query, built once —
    both window gates below read the same dict."""
    return {
        name: fn(spark, sf_small)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
        for name, fn in entrymod.queries().items()
    }


def test_no_query_plans_an_unpartitioned_window(all_plans):
    offenders = {}
    for name, plan in all_plans.items():
        hits = _unpartitioned_specs(plan)
        if hits:
            offenders[name] = hits
    assert not offenders, (
        "queries planning single-reducer windows (whole input through "
        f"one task at scale): {offenders}"
    )


# ---------------------------------------------------------------------------
# Low-cardinality window gate (round-5 verdict item 4): an empty
# partition spec is not the only one-task window. `partitionBy(k)`
# over a DATA-SIZED input where k has a handful of values (source,
# lang, event_type...) makes each value's whole history ONE
# unsplittable sort task — the exact class of the round-5 findings
# (docs_pack_sequences' per-source prefix window, the span family's
# per-gram-hash rank). This gate flags any spec whose partition keys
# are ALL known-low-cardinality columns, with an explicit allowlist
# for specs whose INPUT is metadata-sized or combiner-pruned.
# ---------------------------------------------------------------------------

# Columns with O(1)-ish distinct values on these tables (grow with the
# schema/config, never with the data): a window partitioned ONLY by
# these cannot split a dominant value across tasks.
_LOWCARD_COLS = {
    "source",
    "lang",
    "event_type",
    "from_type",
    "to_type",
    "band",
    "split",
    "segment",
    "status",
    "within_source",
    "lang_bucket",
    # synthetic constant group column (sim_centroid_outliers' global
    # top-N): one value by construction — a window on it alone is a
    # global window wearing a stored-constant disguise.
    "_g",
}

# (query, frozenset(partition basenames)) pairs whose window input is
# provably NOT data-sized — each entry names the bounding mechanism:
_LOWCARD_ALLOW = {
    # operators/topk.py batch-local top-k combiner runs BEFORE the
    # window's shuffle: the window ranks ~k rows per key per Arrow
    # batch, not every document/vector.
    ("docs_domain_budget", frozenset({"source"})),
    ("sim_centroid_outliers", frozenset({"_g"})),
    # rankselect counts-table windows: input is partitions × groups
    # rows (metadata-sized by construction; pinned in
    # tests/test_rankselect.py). Most rankselect specs carry a __rs_
    # column and are exempted structurally below; the total_col
    # window (partitionBy(group) with no order) has no marker.
    ("events_value_percentiles", frozenset({"event_type"})),
    # window over the per-(from, to) transition-count aggregate —
    # |event types|² rows.
    ("events_next_transition", frozenset({"from_type"})),
}


def _spec_args(plan: str) -> list[list[str]]:
    """Top-level argument lists of every windowspecdefinition."""
    specs = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        s = plan[m.end():]
        args, depth, cur = [], 0, []
        for ch in s:
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    args.append("".join(cur).strip())
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                args.append("".join(cur).strip())
                cur = []
                continue
            cur.append(ch)
        specs.append([a for a in args if a])
    return specs


def _lowcard_specs(plan: str) -> list[frozenset[str]]:
    hits = []
    for args in _spec_args(plan):
        parts = []
        for a in args:
            if a.startswith("specifiedwindowframe") or " ASC" in a or " DESC" in a:
                break
            parts.append(a)
        if not parts:
            continue  # unpartitioned — the other gate's job
        if any("__rs_" in a for a in args):
            continue  # rankselect offsets machinery: metadata-sized
        basenames = [re.sub(r"#\d+L?\b", "", p) for p in parts]
        if any("(" in b for b in basenames):
            continue  # computed partition key — not a known-lowcard column
        if all(b in _LOWCARD_COLS for b in basenames):
            hits.append(frozenset(basenames))
    return hits


def test_lowcard_gate_grammar():
    frame = (
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"
    )
    # per-source window over data: flagged
    assert _lowcard_specs(
        f"windowspecdefinition(source#7, doc_id#3L ASC NULLS FIRST, {frame})"
    ) == [frozenset({"source"})]
    # no-order per-type total window: flagged
    assert _lowcard_specs(f"windowspecdefinition(event_type#9, {frame})") == [
        frozenset({"event_type"})
    ]
    # high-cardinality key: clean
    assert not _lowcard_specs(
        f"windowspecdefinition(user_id#5L, ts#6 ASC NULLS FIRST, {frame})"
    )
    # mixed (lowcard, highcard): splittable by the second key — clean
    assert not _lowcard_specs(
        f"windowspecdefinition(source#7, user_id#5L, ts#6 ASC NULLS FIRST, {frame})"
    )
    # rankselect marker anywhere in the spec: exempt
    assert not _lowcard_specs(
        f"windowspecdefinition(source#7, __rs_pid#8 ASC NULLS FIRST, {frame})"
    )


def test_no_query_plans_a_lowcard_window(all_plans):
    offenders = {}
    for name, plan in all_plans.items():
        hits = [
            sorted(h)
            for h in _lowcard_specs(plan)
            if (name, h) not in _LOWCARD_ALLOW
        ]
        if hits:
            offenders[name] = hits
    assert not offenders, (
        "queries planning per-key windows over known-low-cardinality "
        "partition keys (one value = one unsplittable task at scale); "
        "either re-shape on operators/rankselect.py or, if the input "
        f"is provably metadata-sized, allowlist with a reason: {offenders}"
    )


def test_no_query_plans_a_cartesian_product(spark, sf_small):
    """No query's PHYSICAL plan may contain CartesianProduct: a
    data×data cross join with no broadcastable side replicates every
    left partition against every right partition — quadratic shuffle
    IO at scale. Audited round 6: zero hits across all 119 queries —
    even the intentionally-quadratic baselines (sim_neardup_cosine,
    sim_topk_bruteforce) express their all-pairs as
    BroadcastNestedLoopJoin over a bounded broadcast side, so the
    allowlist is EMPTY; a future hit means a join lost its broadcast
    and must be re-shaped, not allowlisted casually."""
    offenders = {}
    for name, fn in entrymod.queries().items():
        plan = (
            fn(spark, sf_small)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if "CartesianProduct" in plan:
            offenders[name] = True
    assert not offenders, (
        f"queries planning CartesianProduct (quadratic shuffle IO at "
        f"scale): {sorted(offenders)}"
    )


def test_bench_coverage_is_total():
    """Every registered query is either bench-tracked (HEADLINE) or
    carries an explicit exclusion reason (EXCLUDED) — no silent
    bench-coverage gaps (round-5 verdict item 7). Disjoint, and no
    stale names on either list."""
    import bench

    qnames = set(entrymod.queries())
    headline = set(bench.HEADLINE)
    excluded = set(bench.EXCLUDED)
    assert not headline & excluded, sorted(headline & excluded)
    assert headline | excluded == qnames, {
        "unaccounted": sorted(qnames - headline - excluded),
        "stale": sorted((headline | excluded) - qnames),
    }
    assert bench.STREAM_COLD <= headline


def test_bench_contract_line_always_parseable():
    """The driver reads only the last ~2000 stdout bytes: whatever
    the headline grows to, the FINAL line must stay under the limit
    and stay valid JSON with the required keys — the fallback moves
    per-query detail to an earlier line rather than overflowing
    (round-5 advisor: the key-shedding loop alone cannot save more
    than ~100 bytes)."""
    import json

    import bench

    def out_for(n):
        return {
            "metric": "headline_total_wall",
            "value": 1.0,
            "unit": "sec",
            "queries": {f"query_name_number_{i:04d}": 0.123 for i in range(n)},
            "n_queries": n,
            "method": "min_of_2_passes_warm_except_stream_entries_cold",
            "cold_total": 2.0,
            "sf": 0.1,
        }

    small = bench.contract_lines(out_for(10))
    assert len(small) == 1 and "queries" in json.loads(small[0])
    big = bench.contract_lines(out_for(200))
    assert len(big) == 2  # detail line + minimal contract line
    assert len(big[-1]) <= 1900
    parsed = json.loads(big[-1])
    for key in ("metric", "value", "unit", "sf"):
        assert key in parsed
    detail = json.loads(big[0])
    assert len(detail["queries"]) == 200


def test_pushdown_survives_the_read_table_spread(spark, sf_small):
    """read_table spreads the payload tables (documents/embeddings)
    with a round-robin Repartition so packed single-row-group files
    can't serialize CPU-heavy narrow chains onto one core. That is
    only free if Catalyst still pushes filters and column pruning
    THROUGH the Repartition to the parquet scan — pinned here so a
    Spark behavior change (or a future spread() rewrite) that silently
    turns every documents query into a full-table shuffle-then-filter
    fails loudly."""
    from pyspark.sql import functions as F

    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
        spread,
    )

    # Force the repartition regardless of fixture size (read_table's
    # work-proportional grain skips it for the tiny sf0.001 files):
    # the property under test is pushdown through the Repartition
    # node, not when read_table chooses to add one.
    df = (
        spread(read_table(spark, sf_small, "documents"), input_bytes=1 << 30)
        .filter(F.col("doc_id") < 5)
        .select("doc_id", "source")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the Repartition must actually be in this plan, or the pushdown
    # assertions below test nothing
    assert "RoundRobinPartitioning" in plan, plan
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,5)]" in plan, plan
    # scan reads only the projected columns, not text/lang/n_chars
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None, plan
    assert set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id",
        "source",
    }, plan


def test_relayout_normalizes_packed_scans(spark, tmp_path, monkeypatch):
    """read_table reroutes a packed single-row-group FACT table
    through a session-scoped multi-file relayout so its consumers get
    a genuinely parallel scan (round-9 optimization: the fixture
    writer packs whole tables into one row group, serializing every
    scan+partial-agg onto one core). Pinned properties: (a) rows are
    EXACTLY the source rows, (b) scan parallelism rises above the
    single row group, (c) predicate pushdown and column pruning still
    reach the (relayout) parquet scan, (d) tiny tables below the
    work-proportional grain are left on their original scan, (e) the
    relayout's exchange hashes rows (a round-robin one sorts every row
    of the one-task scan first)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flat_file_social_media_database_engine_spark.sources.catalog import (
        _SPREAD_GRAIN_BYTES,
        read_table,
    )

    d = tmp_path / "sfrelay"
    d.mkdir()
    n = 400_000  # ~3 MB of uncompressible int64s > grain
    import random

    rng = random.Random(7)
    vals = [rng.getrandbits(50) for _ in range(n)]
    t = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(vals, pa.int64()),
        }
    )
    pq.write_table(t, str(d / "orders.parquet"), row_group_size=n)
    assert os.path.getsize(d / "orders.parquet") >= 2 * _SPREAD_GRAIN_BYTES

    from flat_file_social_media_database_engine_spark.plans import materialize

    written = []
    materialize_parquet = materialize.materialize_parquet

    def spy(spark_, df_, prefix):
        written.append(df_._jdf.queryExecution().executedPlan().toString())
        return materialize_parquet(spark_, df_, prefix)

    monkeypatch.setattr(materialize, "materialize_parquet", spy)
    df = read_table(spark, str(d), "orders")
    # (e) one relayout write, hash-partitioned on the rows
    assert len(written) == 1
    assert "hashpartitioning(o_orderkey" in written[0], written[0]
    assert "RoundRobinPartitioning" not in written[0], written[0]
    # (b) parallel scan: more input partitions than the 1 row group
    assert df.rdd.getNumPartitions() >= 2
    # (a) exact same multiset of rows
    got = sorted(r["o_custkey"] for r in df.collect())
    assert got == sorted(vals)
    # (c) pushdown + pruning reach the relayout scan
    q = df.filter(df.o_orderkey < 5).select("o_custkey")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,5)]" in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None and "o_custkey" in m.group(1), plan
    # (d) a tiny table is served from its original file, not a relayout
    d2 = tmp_path / "sftiny"
    d2.mkdir()
    pq.write_table(t.slice(0, 100), str(d2 / "orders.parquet"))
    tiny = read_table(spark, str(d2), "orders")
    tiny_plan = tiny._jdf.queryExecution().executedPlan().toString()
    # (plan strings elide long paths — assert on what must NOT appear:
    # materialize_parquet dirs are named sparkgraft_relayout_*)
    assert "sparkgraft_relayout" not in tiny_plan, tiny_plan


def test_read_table_infers_a_file_schema_once(spark, tmp_path):
    """``read_table`` infers a fixture file's schema (a Spark job) on
    its first read only: a later read of the same file, and a relayout
    hit, launch no job. A rewritten file is inferred afresh."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
    )

    sc = spark.sparkContext
    d = tmp_path / "sfschema"
    d.mkdir()
    path = str(d / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int64())}), path)
    n = 400_000  # past the relayout grain, as in the relayout test
    rng = random.Random(7)
    keys = pa.array([rng.getrandbits(50) for _ in range(n)], pa.int64())
    pq.write_table(
        pa.table({"o_orderkey": keys}), str(d / "orders.parquet"), row_group_size=n
    )

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    _, first = jobs("schema-1", lambda: read_table(spark, str(d), "region"))
    assert first  # the inference
    df, again = jobs("schema-2", lambda: read_table(spark, str(d), "region"))
    assert again == [] and df.count() == 2
    built, _ = jobs("schema-3", lambda: read_table(spark, str(d), "orders"))
    assert "sparkgraft_relayout" in built.inputFiles()[0]
    df, hit = jobs("schema-4", lambda: read_table(spark, str(d), "orders"))
    assert hit == [] and df.count() == n
    pq.write_table(
        pa.table(
            {"r_regionkey": pa.array([5], pa.int64()), "r_name": pa.array(["X"])}
        ),
        path,
    )
    assert read_table(spark, str(d), "region").columns == ["r_regionkey", "r_name"]


@pytest.mark.parametrize(
    "name", ["dedup_containment_pairs", "dedup_prefix_jaccard"]
)
def test_verify_tail_runs_at_default_parallelism(spark, sf_medium, name):
    """The exact-verify tails of the prefix-filter joins run one
    array_intersect per candidate pair over ~16-byte rows, so AQE's
    byte-grained coalescing would fold the verify stage into one task
    at any core count. ``_pair_overlaps`` pins its width with a hash
    repartition to ``defaultParallelism``: the executed plan must
    carry that exchange over the candidate pairs, and the final
    (verify) stage must have run that many tasks."""
    sc = spark.sparkContext
    n = sc.defaultParallelism
    assert n > 1, "one core cannot tell a pinned stage from a coalesced one"
    group = f"verify-tail-{name}"
    sc.setJobGroup(group, group)
    try:
        df = entrymod.queries()[name](spark, sf_medium)
        assert df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert re.search(
        rf"Exchange hashpartitioning\(doc_id_a#\d+L, doc_id_b#\d+L, {n}\), "
        r"REPARTITION_BY_NUM",
        plan,
    ), plan
    tracker = sc.statusTracker()
    last_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    verify = tracker.getStageInfo(max(last_job.stageIds))
    assert verify.numTasks == n, (verify.numTasks, n)
