"""Scaling-curve audit: run the bench headline at every fixture scale
— plus a synthesized sf1 tier for the algorithmically interesting
queries — and report how each query's wall time grows as the data
grows 10x.

The small-SF bench answers "is it fast here"; this answers the 100 TB
question directly: a query whose wall grows FASTER than the data is
hiding a super-linear term (an unbucketed pair blowup, a widening
window, a driver-side bottleneck) that a 1000-executor run will find.

Verdict bands (tightened per the round-3 advisor: a <=10x band that
calls 5x "healthy" measures nothing, and min-of-2 sub-second timings
are noise-dominated):
  r <= 3          overhead/sub-linear (healthy at these sizes)
  3 < r <= 10     REVIEW — at or near the data ratio; explain or fix
                  (downgraded to noise-floor when the step's larger
                  wall is <1s: sub-second ratios are jitter)
  r > 10          SUPER-LINEAR — audit fails (non-zero exit; never
                  noise-floored)
plus a per-row cost ratio column (wall ratio / data ratio; < 1 means
per-row cost FELL across the step — economies of scale, the shape a
linear plan shows once data dominates overhead).

The sf0.01 -> sf0.1 step stays overhead-bound for most queries; the
sf0.1 -> sf1 step (tools/make_sf1.py, 6M lineitem / 1M events /
50k docs / 20k vectors) is the first data-bound measurement for the
heavy tier, which is why SF1_SET focuses on the algorithmic queries
(LSH families, connected components, span dedup, rank-select,
sessionize, pricing scan) rather than point lookups.

Usage: python tools/scaling.py [out.md]   (writes SCALING.md)
       — runs `tools/make_sf1.py` output if present; skips the sf1
         tier (with a visible note) if the directory is missing.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
SF10_DIR = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/spark_graft_sf10")
DATA_RATIO = 10.0  # fact-table rows per step (embeddings: 10x at sf1)
REVIEW_RATIO = 3.0

# The algorithmically interesting subset measured one tier up: each
# has a term that COULD go super-linear (pair generation, iterative
# convergence, candidate verification, grouped ranking) and is cheap
# enough to run at 6M-row scale in CI-adjacent time.
SF1_SET = [
    "q_pricing_summary",
    "o1_multikey_sort",
    "events_sessionize",
    "events_top_paths",
    "orders_rfm_segments",
    "events_value_percentiles",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_span_exact",
    "dedup_edit_distance",
    "sim_topk_lsh",
    "sim_neardup_lsh",
    "sim_semantic_dedup",
    # round-4 widening: the advisor's point stands — sub-sf1 tiers are
    # overhead-bound, so every headline query with a data-proportional
    # term gets an sf1 point. Only the cheap fixed-cost parity rollups
    # stay three-tier.
    "docs_strip_dup_spans",
    "pipeline_dedup_corpus",
    "dedup_incremental_minhash",
    "sim_topk_lsh_multiprobe",
    "sim_topk_ivf",
    "sim_topk_pq",
    "sim_topk_bruteforce",
    "mm_decode_features",
    "events_dedup_redelivery",
    "text_bigram_lm_score",
    "events_heavy_hitters",
    "events_dau_rolling",
    "events_bitmap_retention",
    "pipeline_training_mix",
    "pipeline_clean_corpus",
    # round-5 additions: pair expansion is the basket query's
    # could-go-quadratic term (capped); the sampler is map-only but
    # rides the full documents scan, so it gets the data-bound point.
    "orders_market_basket",
    "sample_temperature_mix",
    "pipeline_pretrain_mix",
    "dedup_simhash_pairs",
    # round-6 addition: the prefix-sum rewrite's first data-bound
    # point (sharded offsets machinery replacing the per-source
    # monolithic window).
    "docs_pack_sequences",
    # round-7 addition: the committed-band-index probe — the index
    # BUILD grows with the corpus (one-off per session, amortized),
    # the probe itself is batch-bound; a data-bound point shows which
    # term the wall tracks.
    "dedup_incremental_persisted",
    # round-7 continuation: the prefix join's candidate volume is the
    # could-go-quadratic term (bounded by the rarest-first order);
    # pagerank is 8 iterations over a pair graph that grows with the
    # corpus's duplicate structure.
    "dedup_prefix_jaccard",
    "dedup_pagerank",
    "dedup_keep_central",
    # two map-only passes + a metadata collect: should track the scan
    "sim_pca_project",
]

# Decade 2 (sf1 -> sf10, tools/make_sf1.py 100 replicas: 60M lineitem
# / 10M events / 500k docs / 200k vectors): the queries worth a
# SECOND data-bound measurement — each already left the overhead
# floor on the sf0.1 -> sf1 step, so this decade's ratio is pure
# algorithm, no fixed-cost excuse. Must be a subset of SF1_SET (the
# ratio needs the sf1 wall). min-of-2 at this tier (each pass is tens
# of seconds; two decorrelated passes bound the neighbor noise the
# same way bench.py's min-of-2 does).
SF10_SET = [
    "q_pricing_summary",
    "o1_multikey_sort",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_span_exact",
    "sim_topk_lsh",
    "sim_neardup_lsh",
    "orders_market_basket",
    "sample_temperature_mix",
    "pipeline_pretrain_mix",
    "dedup_simhash_pairs",  # flat through both decades (plan-bound)
    # round-6 additions (round-5 verdict item 5): the rank ladders'
    # second data-bound decade, the rewritten prefix sum, and the
    # REVIEW-band capstone whose sf1 step was 4.7x.
    "orders_rfm_segments",
    "events_value_percentiles",
    "docs_pack_sequences",
    "pipeline_clean_corpus",
    # span-family consumers re-measured under the min(struct)
    # canonical-keep rewrite (dedup_span_exact already present).
    "docs_strip_dup_spans",
    "pipeline_dedup_corpus",
    # round-7 continuation: second data-bound decade for the exact
    # prefix join, the iterative pagerank (pair-graph bound), and the
    # PCA moment/projection passes.
    "dedup_prefix_jaccard",
    "dedup_pagerank",
    "sim_pca_project",
]


# Standing explanations for queries expected to sit in the REVIEW
# band (3-10x on a 10x step = per-row cost FELL but wall is no longer
# overhead-flat): rendered under the table so a REVIEW flag is always
# accompanied by its analysis or stands out as unexplained.
REVIEW_NOTES = {
    "text_bigram_lm_score": (
        "two map-combined dictionary groupBys (unigram, bigram) off "
        "the shared tokenize pass + a per-doc stream scored against "
        "the BROADCAST dicts — every stage corpus-linear; 4.9x on "
        "10x = the dict build leaving the overhead floor"
    ),
    "mm_decode_features": (
        "Arrow map-only decode of per-doc synthesized payloads — "
        "wall tracks payload bytes, which scale 1:1 with docs; "
        "3.7x on 10x with cost/row 0.37"
    ),
    "dedup_incremental_minhash": (
        "the SESSION-path probe rebuilds corpus-side signatures per "
        "run (its cost term is the corpus; the batch probe itself is "
        "batch-bound) — 5.6x on 10x is that rebuild leaving the "
        "floor; the committed-index twin (dedup_incremental_persisted "
        "+ SCALING decade-3 receipts) is the amortized shape a "
        "deployment runs"
    ),
    "dedup_incremental_persisted": (
        "round-9 shape: every input is batch-sized or committed "
        "metadata (batch docs signed directly off the filtered scan, "
        "hot cap from committed band_counts + batch counts, verify "
        "against committed corpus_shingles) — the wall tracks the "
        "BATCH, which on the synthetic tiers is everything past the "
        "fixed 400-doc corpus and therefore grows with the tier; the "
        "constant-batch receipt (SCALING.md decade 3, structural fix 3: "
        "0.81 s at sf10 -> 0.74 s at sf100) isolates the probe itself"
    ),
    "sim_pca_project": (
        "two single scans (integer moment pass, literal-vector "
        "projection) + a metadata-sized collect — linear by "
        "construction; 3.5x on 10x vectors at decade 2 with "
        "cost/row 0.35"
    ),
    "dedup_prefix_jaccard": (
        "the exactness-tier floor: every shingle is shuffled twice "
        "(df groupBy, doc_id rank window) before the prefix join — "
        "measured warm 9.7 s -> 88 s on the 10x sf1 -> sf10 step "
        "(cost/row 0.91), linear with little headroom, the expected "
        "price of EXACT similarity next to the ~6x-cheaper MinHash "
        "front; candidates stay bounded by the rarest-first prefix "
        "order (the stopword-df^2 blowup cannot occur). Round-9: the "
        "disk-bounded pass mode (dedup_prefix_jaccard_bounded, "
        "pmod-key-space slices) completes sf100 in 174.6 s within "
        "disk budget — SCALING.md prefix-boundary receipt"
    ),
    "dedup_pagerank": (
        "8 iterations over the LSH-bounded pair graph: wall tracks "
        "the graph (pairs ~linear in docs on the decorrelated tiers), "
        "not the corpus — warm 5.5 s -> 6.4 s across sf1 -> sf10; "
        "cold pays the shared pair-materialization build once"
    ),
    "dedup_keep_central": (
        "composes two session-cached products (CC labels, rank "
        "table); wall rides whichever cache is cold — warm cost is "
        "one left join + a cluster-partitioned window over "
        "cluster-sized partitions"
    ),
    "docs_strip_dup_spans": (
        "the OUTPUT is the rewritten corpus — one (doc_id, pos, "
        "token) shuffle of every surviving token is the contract's "
        "floor; the gram pass is shared/cached and the canonical "
        "pick is a partial-aggregable min(struct) join. 8.9x on 10x "
        "data (cost/row 0.89) is that floor with fixed costs gone — "
        "linear, but with little headroom: re-measure first on any "
        "new decade (same watch posture as orders_market_basket)"
    ),
    "pipeline_dedup_corpus": (
        "quality floor -> exact dedup -> span strip over survivors, "
        "all corpus-linear stages on shared/cached passes; 4.5x on "
        "10x data = per-row cost fell 55% across the decade"
    ),
    "orders_rfm_segments": (
        "rankselect ladder: per RFM dimension, one range "
        "repartition + one map-side-combined count pass (the "
        "data-sized work); offsets/target tables stay metadata-sized "
        "(partitions x groups). 4.8x on 10x = linear leaving the "
        "overhead floor"
    ),
    "events_value_percentiles": (
        "same rankselect machinery grouped by event_type; 5.7x on "
        "10x with cost/row 0.57 — the one range exchange finally "
        "dominating fixed costs"
    ),
    "dedup_simhash_pairs": (
        "one Arrow map-only signature pass + capped band buckets + "
        "exact bit_count verify; flat (plan-cost-bound) through "
        "decade 1, 4.4x on 10x at sf10 = the signature scan finally "
        "data-bound; candidates stay ~linear via HOT_BUCKET_CAP"
    ),
    "dedup_exact": (
        "normalize+digest IS the whole query (one map-side-combined "
        "groupBy on a 16-byte digest) — corpus-linear by "
        "construction; walls are sub-second at every tier, so its "
        "step ratio rides the noise floor"
    ),
    "dedup_span_exact": (
        "gram-hash shuffle volume grows with the corpus; single "
        "map-side-combined shuffle, wall 3.3x on 10x data"
    ),
    "sim_semantic_dedup": (
        "LSH candidate volume grows ~linearly with the corpus "
        "(replica dup structure preserved 10x); constant fold cost "
        "per candidate — 4x wall on 10x data, vs 98x before the "
        "round-4 two-level-bucket rewrite"
    ),
    "pipeline_training_mix": (
        "capstone composition (quality floor -> exact dedup -> "
        "stratified budget) whose OUTPUT is the budgeted corpus — "
        "work has a corpus-linear floor by contract. Every stage is "
        "map-only or one map-side-combined shuffle; a wall ratio at "
        "or below the data ratio with per-row cost falling is the "
        "linear shape emerging from overhead, not a hidden quadratic "
        "term"
    ),
    "pipeline_clean_corpus": (
        "same contract as pipeline_training_mix (the output IS the "
        "filtered corpus, work is corpus-linear by construction): "
        "quality-floor scoring rides the scan, the digest dedup is "
        "one map-side-combined shuffle — wall tracks the corpus, "
        "per-row cost falls"
    ),
    "dedup_edit_distance": (
        "candidate pairs grow ~10x with the corpus and the per-pair "
        "metric is constant — the wall ratio is the verifier's first "
        "data-bound measurement (per-row cost still fell). The metric "
        "is the banded levenshtein(a,b,thr) since round 4: A/B at sf1 "
        "showed band-vs-full in the noise here (2.5k pairs x ~335 "
        "chars), it pays on multi-KB real documents"
    ),
    "dedup_minhash_lsh": (
        "shingle + signature passes are corpus-linear (one Arrow "
        "pass each), band keys are 8-byte hashes, and the sf1 "
        "corpus is built so candidate pairs grow LINEARLY with the "
        "replica count (no cross-replica cliques; hot-bucket cap "
        "bounds any residual blowup) — a 3-5x wall on 10x data with "
        "per-row cost falling is the linear shape leaving the "
        "overhead floor, the same reading as the pipeline entries"
    ),
    "sim_topk_lsh": (
        "hyperplane signatures are one Arrow matmul over the vector "
        "table (linear), bucket probes touch only same-signature "
        "groups, and k stays fixed — wall tracks the 10x vector "
        "count with per-row cost falling"
    ),
    "orders_market_basket": (
        "pair stream is linear by construction: per-basket pairs "
        "are bounded by the basket cap (C(32,2) worst case, ~C(4,2) "
        "typical TPC-H) and baskets grow with the data — the "
        "map-side-combined pair count and the basket groupBy are "
        "the only data-sized shuffles; per-row cost fell across "
        "the step"
    ),
    "pipeline_pretrain_mix": (
        "same corpus-linear contract as the other pipeline "
        "capstones: filter rides the scan, dedup shuffles "
        "normalized-text digests, census + gate are broadcast-side, "
        "one row per language reaches the report"
    ),
    "q_pricing_summary": (
        "one scan + one 6-group DECIMAL(28,6) aggregate — linear by "
        "construction; the decade-2 ratio (≈6x on 10x) is the scan "
        "finally dominating the fixed stage costs, per-row cost fell"
    ),
    "o1_multikey_sort": (
        "global range sort: sample + range-shuffle + per-partition "
        "sort, the textbook distributed O(n log n); ≈8x wall on 10x "
        "rows with per-row cost below 1 is that shape, not a "
        "bottleneck (no single-reducer stage anywhere in the plan)"
    ),
    "events_sessionize": (
        "per-user lag/cumsum windows — work linear in events, "
        "parallelism bounded by users (millions); 3.6x on 10x with "
        "cost/row 0.36"
    ),
    "dedup_clusters": (
        "large-star/small-star CC: O(log n) rounds of linear work, "
        "so wall grows ~linear·log — 7.8x on 10x data (cost/row "
        "0.78) at 500k docs is that curve; rounds are checkpointed "
        "and the convergence guard would fail loudly, not loop"
    ),
}


# A ratio between two sub-second walls is dominated by fixed stage
# overhead and run-to-run jitter (the round-3 advisor's point) — it
# cannot carry a REVIEW verdict. SUPER-LINEAR is exempt from the
# floor: a >10x step always flags, whatever the absolute walls.
NOISE_FLOOR_SEC = 1.0


def _verdict(r: float, wall: float) -> str:
    if r > DATA_RATIO:
        return "SUPER-LINEAR"
    if r > REVIEW_RATIO:
        return "REVIEW" if wall >= NOISE_FLOOR_SEC else "noise-floor"
    return "sub-linear/overhead"


# Hand-maintained SCALING.md content below this marker survives
# regeneration (the round-4 advisor caught tools/scaling.py silently
# erasing the '## Correctness at sf1' section on rewrite).
PRESERVE_MARKER = "## Correctness at sf1"


def _preserved_tail(out_path: str) -> str:
    try:
        with open(out_path) as f:
            old = f.read()
    except OSError:
        return ""
    idx = old.find(PRESERVE_MARKER)
    return old[idx:] if idx >= 0 else ""


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SCALING.md"

    import bench
    import __spark_entry__ as entry
    from flat_file_social_media_database_engine_spark.plans.materialize import (
        reset_session_caches,
    )
    from flat_file_social_media_database_engine_spark.session import build_session

    spark = build_session("scaling")
    qs = entry.queries()
    names = [n for n in bench.HEADLINE if n in qs]
    have_sf1 = os.path.isdir(SF1_DIR)

    times: dict[str, dict[str, float]] = {n: {} for n in names}
    scales = list(SCALES) + ([SF1_DIR] if have_sf1 else [])
    for sf_dir in scales:
        # Tier hygiene: drop every cached plan from the PREVIOUS tier
        # before measuring this one. The session caches (shingle
        # arrays, pair sets, signature tables — one per (app, sf_dir)
        # key) otherwise accumulate across the whole battery, and the
        # later tiers' walls measure cache-manager pressure instead
        # of the algorithms: the round-7 rerun had
        # pipeline_clean_corpus at 4.9 s at sf1 inside the audit vs
        # 1.7 s warm in a fresh session — the 14.5x "SUPER-LINEAR"
        # was an artifact of 50+ queries of accumulated state. The
        # per-tier caches rebuild on first touch (min-of-3 absorbs
        # the rebuild in the cold pass).
        spark.catalog.clearCache()
        is_sf1 = sf_dir == SF1_DIR
        sf = "1" if is_sf1 else sf_dir.rsplit("sf", 1)[1]
        for n in names:
            if is_sf1 and n not in SF1_SET:
                continue
            best = float("inf")
            for _ in range(3):  # min-of-3, first pass warms the plan
                t0 = time.time()
                qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            times[n][sf] = best

    have_sf10 = have_sf1 and os.path.isdir(SF10_DIR)
    if have_sf10:
        spark.catalog.clearCache()  # same tier hygiene as above
        for n in names:
            if n not in SF10_SET:
                continue
            best = float("inf")
            # min-of-3 (round-7: was 2) — at this tier a single slow
            # neighbor (GC from the previous query's caches, FS cache
            # misses) inflates a 2-sample min by 2x; the third sample
            # costs ~5 min battery-wide and separates noise from shape
            for _ in range(3):
                t0 = time.time()
                qs[n](spark, SF10_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.time() - t0)
            times[n]["10"] = best

    # Flagged-row retest: a >DATA_RATIO step is an audit FAILURE, so
    # it must not rest on battery-position noise — neighbor caches,
    # GC, and FS-cache state inflate an in-battery tier wall up to
    # ~2.5x even under min-of-3 (measured round 7: o1_multikey_sort
    # 8.26 s in-battery at sf10 vs 3.41 s in a clean back-to-back
    # sequence; the false flag would have read "13.2x SUPER-LINEAR"
    # for a query whose controlled ratio is 3.7x). Any would-be
    # SUPER-LINEAR pair gets ONE controlled re-measurement of both
    # tiers back-to-back from a cleared cache; the min of the two
    # estimates stands — a retest can only LOWER a wall, never hide a
    # real super-linear shape (a genuinely super-linear query is slow
    # in the clean sequence too).
    # Every flag-capable step is retest-covered, INCLUDING
    # sf0.01->sf0.1 (round-7 advisor: a query flagged solely on that
    # early step previously got no controlled re-measurement, so the
    # battery-position-noise false-flag class the retest was built
    # for could still fail the audit via the earlier decade). The
    # noise-floor rule in the verdict logic still gates which early
    # ratios can flag at all.
    retest_pairs = [
        ("0.01", "/root/testdata/sf0.01"),
        ("0.1", "/root/testdata/sf0.1"),
        ("1", SF1_DIR),
    ]
    if have_sf10:
        retest_pairs.append(("10", SF10_DIR))
    for n in list(times):
        flagged = False
        for (ka, _), (kb, _) in zip(retest_pairs, retest_pairs[1:]):
            ta, tb = times[n].get(ka), times[n].get(kb)
            if ta and tb and tb / ta > DATA_RATIO and tb >= NOISE_FLOOR_SEC:
                flagged = True
        if not flagged:
            continue
        # clearCache() unregisters the persist entries of the frames
        # memoized in the session_cached dicts, and Spark does not
        # re-register a cleared persist on the next action — without
        # ALSO emptying the Python-side caches, every shared-pass
        # consumer would replay its full upstream pipeline uncached
        # on each of its 3 retest runs (round-7 advisor: retest walls
        # were systematically inflated for exactly the cache-consumer
        # queries the retest exists to clear). reset_session_caches
        # drops the memoized frames so build() re-runs and re-persists
        # on first touch; min-of-3 absorbs that cold rebuild.
        spark.catalog.clearCache()
        reset_session_caches()
        for key, sf_dir in retest_pairs:
            if key not in times[n]:
                continue
            best = times[n][key]
            for _ in range(3):
                t0 = time.time()
                qs[n](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.time() - t0)
            times[n][key] = best

    lines = [
        "# SCALING — per-query wall growth across fixture scales",
        "",
        "Generated by `python tools/scaling.py` (min-of-3, shared session,",
        "noop sink). Data grows ~10x per step for the fact tables.",
        "`r` columns are wall-time ratios across a 10x data step;",
        "`cost/row` is r/10 for the LAST measured step (<1 = per-row",
        "cost fell — the data-dominated linear shape). Bands: r<=3",
        "sub-linear/overhead, 3<r<=10 REVIEW (noise-floor instead when",
        "the step's larger wall is <1s — a ratio of two sub-second",
        "walls is jitter, not evidence), r>10 SUPER-LINEAR (fails;",
        "flagged on ANY measured step — the last step unconditionally,",
        "earlier steps when the step's larger wall is >=1s).",
        "The sf1 tier is synthesized by tools/make_sf1.py (10x sf0.1,",
        "decorrelated replicas); queries outside SF1_SET show `-`.",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | sf1 s | r(0.01->0.1) "
        "| r(0.1->1) | cost/row | verdict |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    flagged, review, floored = [], [], []
    for n in names:
        a, b, c = times[n]["0.001"], times[n]["0.01"], times[n]["0.1"]
        d = times[n].get("1")
        r1 = c / b if b > 0 else float("inf")
        r2 = (d / c) if (d is not None and c > 0) else None
        # cost/row reports off the LAST measured step (the most
        # data-bound one), but SUPER-LINEAR flags on ANY step: a >10x
        # sf0.01->sf0.1 blowup is a real signal even when the
        # sf0.1->sf1 ratio is tame (round-4 advisor). The noise floor
        # still applies — a ratio of two sub-second walls is jitter.
        r_last = r2 if r2 is not None else r1
        wall_last = d if d is not None else c
        verdict = _verdict(r_last, wall_last)
        if verdict != "SUPER-LINEAR" and r2 is not None:
            if r1 > DATA_RATIO and c >= NOISE_FLOOR_SEC:
                verdict = "SUPER-LINEAR"
        if verdict == "SUPER-LINEAR":
            flagged.append(n)
        elif verdict == "REVIEW":
            review.append(n)
        elif verdict == "noise-floor":
            floored.append(n)
        lines.append(
            f"| {n} | {a:.2f} | {b:.2f} | {c:.2f} "
            f"| {d:.2f} |" if d is not None else
            f"| {n} | {a:.2f} | {b:.2f} | {c:.2f} | - |"
        )
        lines[-1] += (
            f" {r1:.1f}x | {f'{r2:.1f}x' if r2 is not None else '-'} "
            f"| {r_last / DATA_RATIO:.2f} | {verdict} |"
        )
    if have_sf10:
        lines += [
            "",
            "## Decade 2: sf1 -> sf10 (60M lineitem / 10M events / "
            "500k docs / 200k vectors)",
            "",
            "Second data-bound decade (`tools/make_sf1.py 100 "
            f"{SF10_DIR}`), min-of-3 per query. Every query here "
            "already left the overhead floor on the sf0.1 -> sf1 "
            "step, so this ratio is pure algorithm — no fixed-cost "
            "excuse. Same bands.",
            "",
            "| query | sf1 s | sf10 s | r(1->10) | cost/row | verdict |",
            "|---|---|---|---|---|---|",
        ]
        for n in names:
            if "10" not in times[n]:
                continue
            d1, d10 = times[n].get("1"), times[n]["10"]
            if d1 is None:
                continue
            r = d10 / d1 if d1 > 0 else float("inf")
            verdict = _verdict(r, d10)
            if verdict == "SUPER-LINEAR" and n not in flagged:
                flagged.append(n)
            elif verdict == "REVIEW" and n not in review:
                review.append(n)
            elif verdict == "noise-floor" and n not in floored:
                # keep the summary's noise-floor list complete for
                # decade 2 as well (round-5 advisor: decade-2 floors
                # were silently dropped from the summary line)
                floored.append(n)
            lines.append(
                f"| {n} | {d1:.2f} | {d10:.2f} | {r:.1f}x "
                f"| {r / DATA_RATIO:.2f} | {verdict} |"
            )

    # summary AFTER decade 2 so its escalations are included
    lines += [
        "",
        f"Flagged SUPER-LINEAR: {flagged if flagged else 'none'}",
        f"REVIEW (3-10x on a data-bound step): {review if review else 'none'}",
        f"noise-floor (3-10x but sub-1s walls — jitter, not evidence): "
        f"{floored if floored else 'none'}",
    ]

    noted = [n for n in flagged + review if n in REVIEW_NOTES]
    unexplained = [n for n in flagged + review if n not in REVIEW_NOTES]
    if noted:
        lines += ["", "Review analysis:"]
        lines += [f"- `{n}`: {REVIEW_NOTES[n]}" for n in noted]
    if unexplained:
        lines += ["", f"UNEXPLAINED review entries (investigate): {unexplained}"]
    if not have_sf1:
        lines.append(
            "",
            )
        lines.append(
            f"NOTE: sf1 tier skipped — {SF1_DIR} missing "
            "(run `python tools/make_sf1.py`)."
        )
    lines.append("")
    preserved = _preserved_tail(out_path)
    if preserved:
        lines.append(preserved)
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print("\n".join(lines[-4:]))
    print(f"wrote {out_path}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
