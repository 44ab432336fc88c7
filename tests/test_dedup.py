"""Dedup tier checks on planted duplicates (the fixture's organic
near-dups are exercised by tools/selfcheck.py's oracle comparison).
"""

from __future__ import annotations

import pytest

from flat_file_social_media_database_engine_spark.workloads import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill and the birds sing in the tree"
)


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    """10 distinct docs + one exact dup + one near-dup (1-word edit)."""
    distinct = [
        (i, f"document number {i} talks about topic {i} in detail with words {i}",
         "en", "s", 1)
        for i in range(10)
    ]
    rows = distinct + [
        (100, BASE, "en", "s", 1),
        (101, BASE, "en", "s", 1),  # exact dup of 100
        (102, BASE.replace("warm", "cold"), "en", "s", 1),  # near-dup
        (103, "   " + BASE.upper() + "  ", "en", "s", 1),  # dup after normalize
    ]
    d = tmp_path_factory.mktemp("planted")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_exact_dedup_keeps_first_and_groups_normalized(spark, planted_dir):
    out = {r["keep_doc_id"]: r["group_size"]
           for r in D.dedup_exact(spark, planted_dir).collect()}
    # 100, 101, 103 normalize to the same digest; keeper is min doc_id
    assert out[100] == 3
    assert 101 not in out and 103 not in out
    assert out[102] == 1


def test_ngram_jaccard_finds_planted_pairs(spark, planted_dir):
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
             for r in D.dedup_ngram_jaccard(spark, planted_dir).collect()}
    assert pairs[(100, 101)] == pytest.approx(1.0)  # identical
    assert (100, 102) in pairs and pairs[(100, 102)] > 0.7  # 1-word edit
    # unrelated docs share no 3-shingles above threshold
    assert all(a >= 100 for a, _ in pairs)


def test_minhash_lsh_recall_vs_exact_jaccard(spark, planted_dir):
    """Banded LSH must recover every pair the exact operator finds at
    this threshold (16x4 bands, s-curve midpoint ≈ 0.5)."""
    exact = {(r["doc_id_a"], r["doc_id_b"])
             for r in D.dedup_ngram_jaccard(spark, planted_dir).collect()}
    lsh = {(r["doc_id_a"], r["doc_id_b"])
           for r in D.dedup_minhash_lsh(spark, planted_dir).collect()}
    assert exact, "planted pairs must exist"
    assert lsh == exact  # verification step makes precision exact; recall == 1 here


def test_simhash_near_dups_have_small_hamming_distance(spark, planted_dir):
    sh = {r["doc_id"]: r["simhash"]
          for r in D.dedup_simhash(spark, planted_dir).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert sh[100] == sh[101]  # identical text -> identical signature
    assert ham(sh[100], sh[102]) <= 12  # near-dup stays close in Hamming space
    far = [ham(sh[100], sh[i]) for i in range(10)]
    assert min(far) > 12  # unrelated docs are far


def test_incremental_dedup_statuses(spark, tmp_path_factory):
    """Planted batch: the sf fixtures are all-distinct so the driver
    oracle only sees 'unique' — every status branch is pinned here.
    Corpus = doc_id < N_OLD; batch docs 400/401 share a digest (one
    corpus echo is NOT involved), 402 duplicates corpus doc 0, 403 is
    fresh. Normalization (case/whitespace) applies before matching."""
    corpus = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s", 1),
        (1, "an unrelated corpus document about spark plans", "en", "s", 1),
    ]
    batch = [
        (400, "batch text repeated twice in this ingest", "en", "s", 1),
        (401, "  BATCH text repeated twice in this INGEST ", "en", "s", 1),
        (402, "The  Quick Brown Fox jumps over the lazy dog", "en", "s", 1),
        (403, "a genuinely new document", "en", "s", 1),
    ]
    d = tmp_path_factory.mktemp("incr")
    spark.createDataFrame(
        corpus + batch,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {
        r["doc_id"]: r["status"]
        for r in D.dedup_incremental(spark, str(d)).collect()
    }
    assert out == {
        400: "unique",
        401: "dup_in_batch",  # normalizes to 400's digest, 400 is first
        402: "dup_of_corpus",  # normalizes to corpus doc 0's digest
        403: "unique",
    }


def test_shingle_udf_matches_expression_formulation(spark, tmp_path_factory):
    """The Arrow shingle+hash pass must agree with the JVM expression
    spec (`transform(_shingles(_tokens()), _h60)`) element-for-element
    — on the real fixture AND on adversarial whitespace (tabs,
    trailing separators, leading separators, short/empty docs), where
    Spark split's keep-trailing-empties (limit=-1) rule and ASCII \\s
    class are easy to get wrong — and the hash (Python hashlib.md5
    first-15-hex vs JVM md5+conv) must be bit-identical."""
    from pyspark.sql import functions as F

    tricky = [
        (0, "plain three token doc"),
        (1, "  leading spaces only trimmed here ok"),
        (2, "\ttab lead keeps empty token a b c"),
        (3, "trailing tab then drop\t"),
        (4, "trailing spaces   "),
        (5, "mixed\t\nseparators\x0bbetween these tokens yes"),
        (6, "two toks"),
        (7, ""),
        (8, "   "),
        (9, "a b c a b c a b c"),  # duplicate shingles -> distinct
        (10, "x\ty\nz w"),
        (11, "unicode façade naïve café tokens héllo wörld"),
    ]
    df = spark.createDataFrame(tricky, "doc_id long, text string")
    fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for src in (df, fixture.select("doc_id", "text")):
        expr = {
            r["doc_id"]: r["s"]
            for r in src.select(
                "doc_id",
                F.transform(
                    D._shingles(D._tokens()), D._h60
                ).alias("s"),
            ).collect()
        }
        udf = {
            r["doc_id"]: r["s"]
            for r in src.select(
                "doc_id", D._shingles_udf()("text").alias("s")
            ).collect()
        }
        assert expr == udf


def test_span_exact_planted_coverage(spark, planted_dir):
    """Exact dup pair ⇒ every 5-gram duplicated (frac 1.0); unique
    docs ⇒ zero duplicated grams; the 1-word-edit near-dup sits
    strictly between."""
    rows = {r["doc_id"]: r for r in D.dedup_span_exact(spark, planted_dir).collect()}
    for doc in (100, 101):
        assert rows[doc]["dup_token_frac"] == 1.0
        assert rows[doc]["n_dup_grams"] == rows[doc]["n_grams"] > 0
    for doc in range(10):
        assert rows[doc]["n_dup_grams"] == 0
        assert rows[doc]["dup_token_frac"] == 0.0
    frac102 = rows[102]["dup_token_frac"]
    assert 0.0 < frac102 < 1.0
    for r in rows.values():
        assert 0 <= r["n_dup_tokens"] <= r["n_tokens"]
        assert r["n_dup_grams"] <= r["n_grams"]


def test_bloom_prefilter_never_false_negative(spark, sf_small):
    """Bloom membership has no false negatives by construction: every
    digest actually in the corpus must be a bloom hit, and the status
    column must never report the impossible arm."""
    out = D.dedup_bloom_prefilter(spark, sf_small).collect()
    assert len(out) > 0
    for r in out:
        assert r["status"] != "false_negative"
        if r["in_corpus"]:
            assert r["bloom_hit"]
        if r["status"] == "true_negative":
            assert not r["bloom_hit"] and not r["in_corpus"]


def test_graph_stats_planted_triangle(spark, planted_dir):
    """100/101 (exact dups) and 102 (1-word edit) form a near-dup
    triangle; every triangle contributes exactly 3 wedges, so the
    counts must satisfy the structural inequality."""
    row = D.dedup_graph_stats(spark, planted_dir).collect()[0]
    assert row["n_triangles"] >= 1
    assert row["n_wedges"] >= 3 * row["n_triangles"]
    assert row["n_edges"] >= 3
    assert 0.0 < row["clustering_coeff"] <= 1.0


def _span_model(texts, k):
    """Pure-Python model of dedup_span_exact. Token semantics mirror
    the engine's pinned rules: trim strips SPACES only, ``\\s`` is the
    ASCII class, split keeps empty fields (Java limit=-1)."""
    import re

    toks = [re.split(r"\s+", t.strip(" "), flags=re.ASCII) for t in texts]
    grams_per_doc = [
        [" ".join(tk[i : i + k]) for i in range(len(tk) - k + 1)]
        if len(tk) >= k
        else []
        for tk in toks
    ]
    counts: dict = {}
    for gs in grams_per_doc:
        for g in gs:
            counts[g] = counts.get(g, 0) + 1
    out = {}
    for d, (tk, gs) in enumerate(zip(toks, grams_per_doc)):
        n_dup = sum(1 for g in gs if counts[g] >= 2)
        cov: set = set()
        for i, g in enumerate(gs):
            if counts[g] >= 2:
                cov.update(range(i, i + k))
        out[d] = (len(tk), len(gs), n_dup, len(cov), len(cov) / len(tk))
    return out


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_doc_text = st.text(alphabet="ab \t", min_size=0, max_size=48)


@given(texts=st.lists(_doc_text, min_size=1, max_size=8))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_span_exact_matches_model(spark, tmp_path_factory, texts):
    """Differential vs the pure-Python model on adversarial
    whitespace corpora (tiny alphabet forces real cross-doc gram
    collisions)."""
    d = tmp_path_factory.mktemp("spanprop")
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_grams"],
            r["n_dup_grams"],
            r["n_dup_tokens"],
            r["dup_token_frac"],
        )
        for r in D.dedup_span_exact(spark, str(d)).collect()
    }
    want = _span_model(texts, D.SPAN_K)
    assert got == want, f"\ntexts={texts!r}\ngot={got}\nwant={want}"


def test_strip_dup_spans_keeps_canonical(spark, planted_dir):
    """Doc 100 is the canonical copy (lowest doc_id): it keeps every
    token; its exact dup 101 is fully stripped; the 1-word-edit 102
    loses only the spans duplicated with 100; removal never exceeds
    the span-stats coverage (canonical occurrences are spared)."""
    strip = {r["doc_id"]: r for r in D.docs_strip_dup_spans(spark, planted_dir).collect()}
    stats = {r["doc_id"]: r for r in D.dedup_span_exact(spark, planted_dir).collect()}
    assert strip[100]["n_removed"] == 0
    assert strip[101]["n_removed"] == strip[101]["n_tokens"]
    assert strip[101]["cleaned_text"] == ""
    assert 0 < strip[102]["n_removed"] < strip[102]["n_tokens"]
    for doc, r in strip.items():
        assert 0 <= r["n_removed"] <= stats[doc]["n_dup_tokens"]
        kept = r["n_tokens"] - r["n_removed"]
        assert len(r["cleaned_text"].split(" ")) == kept or (kept == 0 and r["cleaned_text"] == "")


def test_strip_dup_spans_hot_gram(spark, tmp_path_factory):
    """Planted hot gram (round-5 verdict item 2): one boilerplate
    5-token header shared by EVERY doc — the corpus-wide hottest
    hash. The min(struct)-per-h canonical pick must keep exactly the
    lowest (doc_id, pos) occurrence and strip the header from all
    other docs, with each doc's unique tail untouched. (The plan-side
    point — no per-h sort task — is held by the plan-hygiene gate;
    this pins the semantics on the skew shape itself.)"""
    header = "copyright acme corp all rights"  # 5 tokens = one gram
    n = 60
    # tail starts with a per-doc token so every gram PAST pos 1 is
    # unique — only the header gram itself is corpus-duplicated
    rows = [
        (i, f"{header} t{i} body words {i} end{i}", "en", "s", 1)
        for i in range(n)
    ]
    d = tmp_path_factory.mktemp("hotgram")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    out = {
        r["doc_id"]: r
        for r in D.docs_strip_dup_spans(spark, str(d)).collect()
    }
    assert len(out) == n
    assert out[0]["n_removed"] == 0  # canonical occurrence spared
    assert out[0]["cleaned_text"].startswith(header)
    for i in range(1, n):
        assert out[i]["n_removed"] == 5  # exactly the header gram
        assert out[i]["cleaned_text"] == f"t{i} body words {i} end{i}"


def _strip_model(texts, k):
    """Pure-Python model of docs_strip_dup_spans (canonical-keep)."""
    import re

    toks = [re.split(r"\s+", t.strip(" "), flags=re.ASCII) for t in texts]
    occ: dict = {}
    for d, tk in enumerate(toks):
        if len(tk) >= k:
            for i in range(len(tk) - k + 1):
                occ.setdefault(" ".join(tk[i : i + k]), []).append((d, i))
    removed = [set() for _ in toks]
    for g, os_ in occ.items():
        if len(os_) >= 2:
            for d, i in sorted(os_)[1:]:
                removed[d].update(range(i, i + k))
    out = {}
    for d, tk in enumerate(toks):
        kept = [t for i, t in enumerate(tk) if i not in removed[d]]
        out[d] = (len(tk), len(tk) - len(kept), " ".join(kept))
    return out


@given(texts=st.lists(_doc_text, min_size=1, max_size=8))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_strip_dup_spans_matches_model(spark, tmp_path_factory, texts):
    """Differential vs the canonical-keep model on adversarial
    whitespace corpora — the window tie-break, positional removal,
    and whitespace-normalized rejoin must all match exactly."""
    d = tmp_path_factory.mktemp("stripprop")
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
        for r in D.docs_strip_dup_spans(spark, str(d)).collect()
    }
    want = _strip_model(texts, D.SPAN_K)
    assert got == want, f"\ntexts={texts!r}\ngot={got}\nwant={want}"


def test_pipeline_dedup_corpus_consistent_with_components(spark, sf_small):
    """The capstone's survivor count must equal the standalone
    quality+dedup query's output rows (identical floors and
    keep-first rule), and its token accounting must balance."""
    from flat_file_social_media_database_engine_spark.workloads.text import (
        pipeline_clean_corpus,
    )

    rows = D.pipeline_dedup_corpus(spark, sf_small).collect()
    assert len(rows) > 0
    assert sum(r["n_docs"] for r in rows) == pipeline_clean_corpus(
        spark, sf_small
    ).count()
    for r in rows:
        assert r["n_tokens_final"] == r["n_tokens_raw"] - r["n_tokens_stripped"]
        assert 0 <= r["n_tokens_stripped"] <= r["n_tokens_raw"]
        assert 0.0 < r["keep_frac"] <= 1.0


def _bloom_model(old_texts, new_rows):
    """Pure-Python model of dedup_bloom_prefilter: same normalization
    (trim spaces only, lower, ASCII-\\s collapse), same md5 digests,
    same 60-bit-prefix bit positions."""
    import hashlib
    import re

    def norm(t):
        return re.sub(r"\s+", " ", t.strip(" ").lower(), flags=re.ASCII)

    def digest(t):
        return hashlib.md5(norm(t).encode()).hexdigest()

    def bits_of(dg):
        return {
            int(hashlib.md5(f"{dg}|{j}".encode()).hexdigest()[:15], 16) % 4096
            for j in range(4)
        }

    corpus = {digest(t) for t in old_texts}
    bloom = set()
    for dg in corpus:
        bloom |= bits_of(dg)
    out = {}
    for doc_id, t in new_rows:
        dg = digest(t)
        hit = bits_of(dg) <= bloom
        present = dg in corpus
        status = (
            "true_positive"
            if hit and present
            else "false_positive"
            if hit
            else "false_negative"
            if present
            else "true_negative"
        )
        out[doc_id] = (hit, present, status)
    return out


@given(
    old=st.lists(_doc_text, min_size=1, max_size=6),
    new=st.lists(_doc_text, min_size=1, max_size=6),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bloom_prefilter_matches_model(spark, tmp_path_factory, old, new):
    """Differential vs the pure-Python Bloom model: corpus docs sit
    below N_OLD, batch docs above; the filter's exact bit arithmetic
    (including any false positives) must reproduce."""
    d = tmp_path_factory.mktemp("bloomprop")
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(old)] + [
        (D.N_OLD + i, t, "en", "s", len(t)) for i, t in enumerate(new)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = {
        r["doc_id"]: (r["bloom_hit"], r["in_corpus"], r["status"])
        for r in D.dedup_bloom_prefilter(spark, str(d)).collect()
    }
    want = _bloom_model(old, [(D.N_OLD + i, t) for i, t in enumerate(new)])
    assert got == want, f"\nold={old!r}\nnew={new!r}\ngot={got}\nwant={want}"


def test_containment_detects_embedded_excerpt(spark, tmp_path_factory):
    """A short doc wholly embedded in a long host: containment = 1.0
    (every excerpt shingle appears in the host) while Jaccard stays
    far below the symmetric near-dup threshold — the pair must fire
    the containment detector and NOT the Jaccard one."""
    host_words = " ".join(f"w{i}" for i in range(60))
    excerpt = " ".join(f"w{i}" for i in range(20, 30))  # contiguous slice
    rows = [
        (0, host_words, "en", "s", 1),
        (1, excerpt, "en", "s", 1),
        (2, "totally unrelated text about other things entirely", "en", "s", 1),
    ]
    d = tmp_path_factory.mktemp("contain")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    cont = {
        (r["doc_id_a"], r["doc_id_b"]): r
        for r in D.dedup_containment_pairs(spark, str(d)).collect()
    }
    assert (0, 1) in cont
    assert cont[(0, 1)]["containment"] == 1.0
    # 8 excerpt shingles vs 58 host shingles: J = 8/58 << 0.5
    assert cont[(0, 1)]["jaccard"] < D.JACCARD_THRESHOLD
    jac = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.dedup_ngram_jaccard(spark, str(d)).collect()
    }
    assert (0, 1) not in jac


def _containment_model(texts: list[str], k: int, th: float) -> dict:
    """Pure-Python twin of dedup_containment_pairs (Spark tokenizer
    semantics: trim spaces only, ASCII \\s+ split keeping trailing
    empties, first-occurrence-distinct shingles)."""
    import re

    ws = re.compile(r"\s+", re.ASCII)
    sh = {}
    for d, t in enumerate(texts):
        toks = ws.split((t or "").strip(" "))
        if len(toks) >= k:
            s = set(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
            if s:
                sh[d] = s
    out = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            common = len(sh[a] & sh[b])
            if not common:
                continue
            na, nb = len(sh[a]), len(sh[b])
            cont = common / min(na, nb)
            if cont >= th:
                out[(a, b)] = (common, na, nb, cont, common / (na + nb - common))
    return out


@given(texts=st.lists(_doc_text, min_size=1, max_size=8))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_containment_matches_model(spark, tmp_path_factory, texts):
    """Differential vs the pure-Python shingle-set model on the same
    adversarial tiny-alphabet corpora as the span model test."""
    d = tmp_path_factory.mktemp("containprop")
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = {
        (r["doc_id_a"], r["doc_id_b"]): (
            r["common"], r["n_a"], r["n_b"], r["containment"], r["jaccard"]
        )
        for r in D.dedup_containment_pairs(spark, str(d)).collect()
    }
    want = _containment_model(texts, D.SHINGLE_K, D.CONTAINMENT_THRESHOLD)
    assert got == want, f"\ntexts={texts!r}\ngot={got}\nwant={want}"


def test_incremental_minhash_classifies_batch(spark, tmp_path_factory):
    """A batch doc that near-dups a corpus doc matches it; an
    unrelated batch doc is unique; corpus docs never appear."""
    rows = [
        (10, BASE, "en", "s", 1),                              # corpus
        (11, "some other corpus text about different things entirely "
             "with many extra words to shingle", "en", "s", 1),
        (450, BASE.replace("warm", "cold"), "en", "s", 1),     # batch near-dup
        (451, "completely novel content nothing like anything else "
              "in the corpus at all whatsoever", "en", "s", 1),
    ]
    d = tmp_path_factory.mktemp("incmh")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    out = {r["doc_id"]: r for r in
           D.dedup_incremental_minhash(spark, str(d)).collect()}
    assert set(out) == {450, 451}
    assert out[450]["status"] == "near_dup_of_corpus"
    assert out[450]["matched_doc_id"] == 10
    assert out[450]["best_jaccard"] >= D.JACCARD_THRESHOLD
    assert out[451]["status"] == "unique"
    assert out[451]["matched_doc_id"] is None


def test_incremental_persisted_matches_session_path_and_prunes(
    spark, tmp_path_factory
):
    """The SnapshotStore-committed band index: (a) the persisted probe
    returns row-identical results to the session-cache formulation,
    (b) the index scan carries a `dynamicpruning` subquery on
    band_bucket, (c) pruning is STRICT — a 2-doc ingest batch probes
    at most 32 band keys, so its bucket set cannot cover all 64
    partition directories — and (d) the artifact is a real versioned
    store commit (manifest present, version 1)."""
    import os
    from urllib.parse import urlparse

    from flat_file_social_media_database_engine_spark.plans.snapshots import (
        SnapshotStore,
    )
    from pyspark.sql import functions as F

    rows = [
        (10, BASE, "en", "s", 1),
        (11, "some other corpus text about different things entirely "
             "with many extra words to shingle", "en", "s", 1),
        (450, BASE.replace("warm", "cold"), "en", "s", 1),
        (451, "completely novel content nothing like anything else "
              "in the corpus at all whatsoever", "en", "s", 1),
    ]
    d = tmp_path_factory.mktemp("incpersist")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = D.dedup_incremental_persisted(spark, str(d))
    want = D.dedup_incremental_minhash(spark, str(d))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "band_bucket" in plan and "IN dynamicpruning" in plan, plan[:2000]

    # strict pruning: 2 batch docs x 16 bands <= 32 band keys < 64 dirs
    batch_buckets = (
        D._band_table(D._shingle_arrays(spark, str(d)))
        .filter(F.col("doc_id") >= D.N_OLD)
        .select(D._band_bucket(F.col("band_key")))
        .distinct()
        .count()
    )
    assert batch_buckets < D.BAND_INDEX_BUCKETS
    # corpus side spans >1 bucket, so some directories are never read
    committed = D._band_index_committed(spark, str(d))
    idx = committed["band_index"]
    assert idx.select("band_bucket").distinct().count() > batch_buckets // 16
    # the co-committed probe metadata agrees with the index itself
    counts = {
        r["band_key"]: r["c_idx"]
        for r in committed["band_counts"].collect()
    }
    got_counts = {
        r["band_key"]: r["count"]
        for r in idx.groupBy("band_key").count().collect()
    }
    assert counts == got_counts
    assert committed["corpus_shingles"].count() == 2  # corpus docs

    # durable artifact: a versioned SnapshotStore with fsync'd manifest
    shard = urlparse(committed["corpus_shingles"].inputFiles()[0]).path
    root = os.path.dirname(os.path.dirname(os.path.dirname(shard)))
    store = SnapshotStore(spark, root)
    assert store.current_version() == 1
    assert "band_index" in store.tables()
    assert "band_counts" in store.tables()
    assert "corpus_shingles" in store.tables()


def test_stream_ingest_dedup_batch_independent_and_exactly_once(
    spark, tmp_path_factory
):
    """The streaming ingest classifier: (a) the streamed multi-batch
    result equals the one-shot classification of all new docs (the
    corpus-only-cap contract makes per-doc answers independent of how
    the stream was chopped), (b) a crash-replayed batch id is a no-op
    in the results store (exactly-once), (c) a corpus-side HOT bucket
    (occupancy > HOT_BUCKET_CAP in the committed index) suppresses
    probing — its batch twin classifies 'unique' (exact dedup's job),
    while a small-bucket near-dup still matches."""
    from flat_file_social_media_database_engine_spark.plans.snapshots import (
        SnapshotStore,
    )

    boiler = (
        "subscribe to our newsletter terms of service privacy policy "
        "all rights reserved contact us about careers press kit"
    )
    rows = [(i, boiler, "en", "b", 1) for i in range(D.HOT_BUCKET_CAP + 1)]
    rows += [
        (390, BASE, "en", "s", 1),
        (450, boiler, "en", "s", 1),  # hot-bucket twin → 'unique'
        (451, BASE.replace("warm", "cold"), "en", "s", 1),  # near-dup
        (452, "entirely novel content unlike anything else present "
              "anywhere with many fresh words to shingle", "en", "s", 1),
    ]
    d = tmp_path_factory.mktemp("streamingest")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = {r["doc_id"]: r for r in
           D.docs_stream_ingest_dedup(spark, str(d)).collect()}
    assert set(got) == {450, 451, 452}
    assert got[450]["status"] == "unique"  # hot corpus bucket capped
    assert got[451]["status"] == "near_dup_of_corpus"
    assert got[451]["matched_doc_id"] == 390
    assert got[452]["status"] == "unique"

    # (a) one-shot classification of the same new docs, no streaming
    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
    )
    from pyspark.sql import functions as F

    oneshot = {
        r["doc_id"]: r
        for r in D._probe_classify_batch(
            spark, str(d),
            D._batch_shingles(
                read_table(spark, str(d), "documents").filter(
                    F.col("doc_id") >= D.N_OLD
                )
            ),
        ).collect()
    }
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in oneshot.items()
    }

    # (b) redelivery: replaying the LAST committed batch id must be a
    # no-op on the results store
    import glob

    from flat_file_social_media_database_engine_spark.plans.snapshots import (
        index_root,
    )
    from flat_file_social_media_database_engine_spark.streaming.ingest import (
        make_batch_sink,
    )

    roots = glob.glob(f"{index_root(spark, 'ingest_dedup')}/res_*")
    store = next(
        SnapshotStore(spark, r)
        for r in roots
        if "ingest_dedup" in SnapshotStore(spark, r).tables()
        and SnapshotStore(spark, r).read("ingest_dedup").count() == 3
    )
    v = store.current_version()
    last = store.meta()["stream::docs::ingest_dedup"]
    sink = make_batch_sink(store, "ingest_dedup", stream_id="docs")
    sink(D.docs_stream_ingest_dedup(spark, str(d)).limit(1), last)
    assert store.current_version() == v  # replay was a no-op
    assert store.read("ingest_dedup").count() == 3


def test_hot_bucket_cap_bounds_boilerplate_blowup(spark, tmp_path_factory):
    """A boilerplate cluster (200 identical docs -> identical MinHash
    signatures -> 16 hot buckets) must NOT quadratically explode the
    candidate front: buckets past HOT_BUCKET_CAP are skipped in BOTH
    engines, so the cluster yields zero near-dup pairs (exact dedup's
    job — these are byte-identical), while an unrelated near-dup pair
    with small buckets is still found. The DuckDB oracle replays the
    same capped chain, so the cap's consistency is differential, not
    asserted."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools.selfcheck import value_hash

    boiler = (
        "subscribe to our newsletter terms of service privacy policy "
        "all rights reserved contact us about careers press kit help "
        "center community guidelines cookie settings accessibility "
        "statement sitemap language region sign in create account"
    )
    near_a = (
        "the migratory patterns of arctic terns span both hemispheres "
        "covering seventy thousand kilometers in a single year the "
        "longest known annual migration of any animal on the planet "
        "researchers attach tiny geolocators to track the journey"
    )
    near_b = near_a.replace("tiny geolocators", "miniature geolocators")
    rows = [(i, boiler, "en", "boiler", len(boiler)) for i in range(200)]
    rows += [
        (200, near_a, "en", "web", len(near_a)),
        (201, near_b, "en", "web", len(near_b)),
    ]
    d = tmp_path_factory.mktemp("hotbucket")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    sdf = qs["dedup_minhash_lsh"](spark, str(d)).toPandas()
    pairs = {(r.doc_id_a, r.doc_id_b) for r in sdf.itertuples()}
    assert (200, 201) in pairs, "small-bucket near-dup pair must survive"
    assert all(a >= 200 and b >= 200 for a, b in pairs), (
        "hot boilerplate buckets must emit no pairs"
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    odf = con.sql(oracles["dedup_minhash_lsh"]).df()
    assert len(sdf) == len(odf)
    assert value_hash(sdf) == value_hash(odf)
    con.close()


def test_lsh_recall_audit_planted_deciles(spark, tmp_path_factory):
    """Plant pairs across jaccard deciles (all inside the audit's
    md5-mod sample) and check the audit's ground truth exactly and
    its caught side against banding theory: exact/near-exact pairs
    (j >= 0.95) MUST be recalled (16x4 miss probability < 1e-13 —
    with the seeded hash family a miss means the front regressed),
    every recall is n_caught/n_true, and the just-above-threshold
    decile is allowed to miss (that's the s-curve the audit exists
    to watch)."""
    import hashlib
    import math
    from collections import defaultdict

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    sampled = iter(
        i
        for i in range(1000, 100000)
        if h60(str(i)) % D.AUDIT_SAMPLE_MOD < D.AUDIT_SAMPLE_KEEP
    )

    def grams(toks):
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    # shared-prefix token counts tuned to land one pair per decile
    # (52 tokens/doc -> 50 grams; j = s/(100-s) for s shared grams)
    rows, expect = [], defaultdict(int)
    for k in (36, 41, 45, 48, 51, 52):
        for rep in range(3):
            a_id, b_id = next(sampled), next(sampled)
            ta = [f"k{k}r{rep}a{i}" for i in range(52)]
            tb = ta[:k] + [f"k{k}r{rep}b{i}" for i in range(52 - k)]
            rows.append((a_id, " ".join(ta), "en", "s", 1))
            rows.append((b_id, " ".join(tb), "en", "s", 1))
            inter = len(grams(ta) & grams(tb))
            union = len(grams(ta) | grams(tb))
            j = inter / union
            assert j >= D.JACCARD_THRESHOLD
            expect[math.floor(j * 10)] += 1
    assert len(expect) >= 5  # the plant really spans deciles

    d = tmp_path_factory.mktemp("recall_plant")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    out = {
        r["j_bucket"]: r for r in D.dedup_lsh_recall(spark, str(d)).collect()
    }
    assert {b: r["n_true"] for b, r in out.items()} == dict(expect)
    for b, r in out.items():
        assert 0 <= r["n_caught"] <= r["n_true"]
        assert r["recall"] == pytest.approx(r["n_caught"] / r["n_true"])
        if b >= 9:  # near-exact pairs: banding cannot miss these
            assert r["recall"] == 1.0


def test_simhash_pairs_planted_neardup(spark, tmp_path_factory):
    """Differential against a Python model: the pairs query must
    return EXACTLY the doc pairs whose signatures (from the
    fingerprint query, itself oracle-checked) are within Hamming 3 —
    the pigeonhole banding guarantees no such pair can be missed, and
    the planted exact dup must collide at distance 0."""
    base = ("spark shuffle partition broadcast join aggregate scan "
            "filter window sort merge hash column row batch ") * 6
    edited = base.replace("window", "session")  # every occurrence
    rows = [
        (1, base, "en", "a", len(base)),
        (2, base, "en", "b", len(base)),          # exact dup of 1
        (3, edited, "en", "a", len(edited)),       # token-swapped twin
        (4, "completely different tiny text about nothing shared "
            "zebra quark lantern violet harbor " * 4, "en", "c", 100),
    ]
    d = tmp_path_factory.mktemp("simhash")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    from flat_file_social_media_database_engine_spark.workloads.dedup import (
        _SIMHASH_HAM_MAX,
        dedup_simhash,
        dedup_simhash_pairs,
    )

    sig = {r["doc_id"]: r["simhash"]
           for r in dedup_simhash(spark, str(d)).collect()}
    expected = {}
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sig[a] ^ sig[b]).count("1")
            if h <= _SIMHASH_HAM_MAX:
                expected[(a, b)] = h
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in dedup_simhash_pairs(spark, str(d)).collect()}
    assert got == expected
    assert got.get((1, 2)) == 0          # the planted exact dup
    assert not any(4 in p for p in got)  # the unrelated doc


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join (dedup_prefix_jaccard)
# ---------------------------------------------------------------------------
def _prefix_jaccard_model(texts: list[str], k: int) -> dict:
    """Pure-Python all-pairs twin of dedup_prefix_jaccard — NO prefix
    logic, so a prefix-filter false negative in the Spark plan is a
    dict mismatch here (recall is guaranteed by theorem; this checks
    the theorem's preconditions survived the implementation)."""
    import re

    num, den = D.PREFIX_TAU_NUM, D.PREFIX_TAU_DEN
    ws = re.compile(r"\s+", re.ASCII)
    sh = {}
    for d, t in enumerate(texts):
        toks = ws.split((t or "").strip(" "))
        if len(toks) >= k:
            s = set(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
            if s:
                sh[d] = s
    out = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            common = len(sh[a] & sh[b])
            na, nb = len(sh[a]), len(sh[b])
            if common and den * common >= num * (na + nb - common):
                out[(a, b)] = (common, na, nb, common / (na + nb - common))
    return out


def test_prefix_jaccard_planted_pairs(spark, planted_dir):
    """Exact-dup and 1-word-edit pairs clear t=0.7; the distinct docs
    (no shared 3-shingles at all) never appear."""
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in D.dedup_prefix_jaccard(spark, planted_dir).collect()
    }
    assert got[(100, 101)] == pytest.approx(1.0)
    assert (100, 102) in got and got[(100, 102)] >= 0.7
    assert all(a >= 100 and b >= 100 for a, b in got)


def test_prefix_jaccard_survives_hub_shingle(spark, tmp_path_factory):
    """A boilerplate header shared by EVERY doc (the df-explosion case
    the prefix order exists for): the common shingles are the most
    frequent, so they fall OUTSIDE the rarest-first prefixes of the
    long distinct docs — yet the true near-dup pair, whose similarity
    lives in its rare tail, must still be found (recall theorem)."""
    header = "terms of service apply to this document"
    bodies = [
        f"unique content {i} about subject {i} variant {i} detail {i}"
        for i in range(8)
    ]
    payload = " ".join(f"rare{i}" for i in range(20))
    near_a = f"{payload} theta"
    near_b = f"{payload} iota"
    rows = [(i, f"{header} {b}", "en", "s", 1) for i, b in enumerate(bodies)]
    rows += [(50, f"{header} {near_a}", "en", "s", 1),
             (51, f"{header} {near_b}", "en", "s", 1)]
    d = tmp_path_factory.mktemp("hubshingle")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = {
        (r["doc_id_a"], r["doc_id_b"]): r
        for r in D.dedup_prefix_jaccard(spark, str(d)).collect()
    }
    want = _prefix_jaccard_model(texts_by_id(rows), D.SHINGLE_K)
    assert set(got) == set(want)
    assert (50, 51) in got  # the rare-tail near-dup survived the filter


def test_prefix_jaccard_bounded_passes_match_single_pass(
    spark, tmp_path_factory
):
    """The disk-bounded pass decomposition (pmod(h, passes) key-space
    slices, one action per slice) must be EXACTLY the single-pass
    answer — pairs whose shared prefix shingles span multiple residue
    classes are emitted by several passes and collapsed by the
    distinct, never duplicated or dropped. Corpus is built so near-dup
    pairs share MANY shingles (hash residues certainly span classes)."""
    payload = " ".join(f"token{i} word{i}" for i in range(30))
    rows = [
        (0, f"{payload} alpha", "en", "s", 1),
        (1, f"{payload} beta", "en", "s", 1),
        (2, f"{payload} gamma", "en", "s", 1),
        (3, "entirely different text about other matters and things "
            "with no overlap whatsoever in any shingle", "en", "s", 1),
    ]
    d = tmp_path_factory.mktemp("prefixbounded")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    single = sorted(
        map(tuple, D.dedup_prefix_jaccard(spark, str(d)).collect())
    )
    bounded = sorted(
        map(
            tuple,
            D.dedup_prefix_jaccard_bounded(spark, str(d), passes=4).collect(),
        )
    )
    assert single == bounded
    assert len(single) >= 3  # the 3 near-dup pairs among docs 0/1/2


def texts_by_id(rows) -> list[str]:
    """Model input indexed by doc_id (rows may be sparse in id)."""
    m = dict((r[0], r[1]) for r in rows)
    return [m.get(i, "") for i in range(max(m) + 1)]


@given(texts=st.lists(_doc_text, min_size=1, max_size=8))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_prefix_jaccard_matches_model(spark, tmp_path_factory, texts):
    """Differential vs the all-pairs Python model on adversarial
    tiny-alphabet corpora (many identical/near-identical shingle sets,
    ties in both df and shingle order)."""
    d = tmp_path_factory.mktemp("prefixprop")
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = {
        (r["doc_id_a"], r["doc_id_b"]): (
            r["common"], r["n_a"], r["n_b"], r["jaccard"]
        )
        for r in D.dedup_prefix_jaccard(spark, str(d)).collect()
    }
    want = _prefix_jaccard_model(texts, D.SHINGLE_K)
    assert got == want, f"\ntexts={texts!r}\ngot={got}\nwant={want}"


# ---------------------------------------------------------------------------
# Fixed-point PageRank over the verified near-dup graph
# ---------------------------------------------------------------------------
def _pagerank_model(pairs: set[tuple[int, int]]) -> dict[int, int]:
    """Pure-Python replay of the fixed-point recurrence (same SCALE /
    BASE / damping constants read off the module)."""
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    rank = {n: D.PR_SCALE for n in adj}
    for _ in range(D.PR_ITERS):
        contrib = {n: rank[n] // len(adj[n]) for n in adj}
        rank = {
            n: D.PR_BASE + (17 * sum(contrib[m] for m in adj[n])) // 20
            for n in adj
        }
    return rank


def test_pagerank_matches_python_replay(spark, planted_dir):
    """Exact differential: the query's fixed-point ranks equal a
    driver-side replay of the same recurrence over the same verified
    pair set — any float creep, iteration drift, or missing node
    breaks integer equality."""
    pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.dedup_minhash_lsh(spark, planted_dir).collect()
    }
    assert pairs, "planted fixture must produce near-dup pairs"
    want = _pagerank_model(pairs)
    got = {
        r["doc_id"]: (r["degree"], r["rank_fp"])
        for r in D.dedup_pagerank(spark, planted_dir).collect()
    }
    assert set(got) == set(want)
    deg = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    for n, (d_, r_) in got.items():
        assert d_ == deg[n]
        assert r_ == want[n], f"node {n}: spark={r_} model={want[n]}"


def test_pagerank_star_prefers_hub(spark):
    """Structure sanity on an injected star graph (a high-J star
    cannot be planted through the LSH front — set similarity forbids
    it — so the topology goes straight into ``pagerank_pairs``): the
    hub out-ranks every leaf, symmetric leaves tie EXACTLY (integer
    arithmetic, not approximately), and total mass is conserved up to
    the per-node floor truncations."""
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "doc_id_a long, doc_id_b long"
    )
    got = {
        r["doc_id"]: (r["degree"], r["rank_fp"])
        for r in D.pagerank_pairs(pairs).collect()
    }
    assert got[0][0] == 5 and all(got[i][0] == 1 for i in range(1, 6))
    ranks = {n: r for n, (_, r) in got.items()}
    assert ranks[0] > ranks[1]
    assert len({ranks[i] for i in range(1, 6)}) == 1  # exact leaf tie
    n = len(ranks)
    assert abs(sum(ranks.values()) - n * D.PR_SCALE) <= D.PR_ITERS * n * 40
    # replay equality on the injected topology too
    want = _pagerank_model({(0, i) for i in range(1, 6)})
    assert ranks == want


def test_pagerank_chain_is_symmetric_interior_heavy(spark):
    """A 5-node path graph: the ranking is symmetric about the center
    and interior nodes out-rank endpoints. (Which interior node is on
    TOP depends on iteration parity — synchronous PageRank oscillates
    on near-bipartite graphs before converging, so the test asserts
    only parity-independent structure; exact values are pinned by the
    model-replay equality.)"""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "doc_id_a long, doc_id_b long"
    )
    got = {r["doc_id"]: r["rank_fp"]
           for r in D.pagerank_pairs(pairs).collect()}
    assert got == _pagerank_model({(i, i + 1) for i in range(4)})
    assert got[1] == got[3] and got[0] == got[4]
    assert min(got[1], got[2]) > got[0]


def test_keep_central_picks_max_rank_member(spark, planted_dir):
    """The kept member of every cluster is the arg-max of rank_fp
    (ties → min doc_id) over that cluster, computed independently
    from the pagerank and clusters outputs; singleton docs keep
    themselves with NULL rank."""
    ranks = {r["doc_id"]: r["rank_fp"]
             for r in D.dedup_pagerank(spark, planted_dir).collect()}
    labels = {r["doc_id"]: r["cluster_id"]
              for r in D.dedup_clusters(spark, planted_dir).collect()}
    out = {r["doc_id"]: r
           for r in D.dedup_keep_central(spark, planted_dir).collect()}
    assert set(out) == set(labels)
    by_cluster: dict[int, list[int]] = {}
    for doc, cl in labels.items():
        by_cluster.setdefault(cl, []).append(doc)
    for cl, members in by_cluster.items():
        kept = [d for d in members if out[d]["is_kept"]]
        assert len(kept) == 1, f"cluster {cl}: {kept}"
        if len(members) == 1:
            assert kept == members
            assert out[members[0]]["rank_fp"] is None
        else:
            want = min(members, key=lambda d: (-ranks[d], d))
            assert kept[0] == want


def test_lsh_numpy_replay_matches_sql_oracle(spark, tmp_path_factory):
    """tools/selfcheck._lsh_pairs_replay — the numpy band replay that
    stands in for the full-SQL MinHash oracle past
    LSH_REPLAY_MIN_DOCS (the sf100 battery's pair-family oracle) —
    must be BIT-IDENTICAL to the SQL chain it replaces, on the real
    fixture AND on a capped-hot-bucket corpus (the cap path is where
    a replay would silently diverge). Spark never runs here: this
    pins oracle-vs-oracle equivalence so the at-scale gate inherits
    the driver gate's exact contract."""
    import duckdb

    from tools.selfcheck import _lsh_pairs_replay, dtype_drift, value_hash

    boiler = " ".join(f"boiler token {i % 7} filler" for i in range(12))
    near_a = (
        "the migratory patterns of arctic terns span both hemispheres "
        "covering seventy thousand kilometers in a single year"
    )
    near_b = near_a.replace("seventy", "eighty")
    rows = [(i, boiler, "en", "b", 1) for i in range(200)] + [
        (200, near_a, "en", "w", 1),
        (201, near_b, "en", "w", 1),
    ]
    d = tmp_path_factory.mktemp("replay")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    for src in (
        "/root/testdata/sf0.01/documents.parquet",
        f"{d}/documents.parquet/*.parquet",
    ):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')"
        )
        sql = con.sql(D._lsh_oracle()).df()
        rep = _lsh_pairs_replay(con)
        assert len(sql) == len(rep)
        assert not dtype_drift(sql, rep)
        assert value_hash(sql) == value_hash(rep)
        con.close()


def test_pair_substituted_oracles_match_full_sql():
    """tools/selfcheck.pair_substituted_oracle — the generic rewrite
    that lets every downstream pair consumer's sf100 battery row ride
    the numpy band replay — must (a) produce hash-identical results
    to the FULL SQL oracle for each substitutable query, (b) refuse
    the oracles that reach into chain-internal CTEs (recall audit's
    ``e``/``sizes``, edit distance's ``cand``), and (c) refuse
    oracles with no chain at all. Spark never runs here: this is
    oracle-vs-oracle, the same contract inheritance as the replay
    identity test above."""
    import duckdb

    from tools.selfcheck import (
        dtype_drift,
        pair_substituted_oracle,
        value_hash,
    )
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    substitutable = [
        "dedup_pagerank",
        "dedup_graph_stats",
        "dedup_cross_source",
        "dedup_incremental_minhash",
        "dedup_incremental_persisted",
    ]
    for name in substitutable:
        sub = pair_substituted_oracle(oracles[name], con)
        assert sub is not None, name
        full = con.sql(oracles[name]).df()
        got = con.sql(sub).df()
        assert len(full) == len(got), name
        assert not dtype_drift(full, got), name
        assert value_hash(full) == value_hash(got), name
    for name in ["dedup_lsh_recall", "dedup_edit_distance"]:
        assert pair_substituted_oracle(oracles[name], con) is None, name
    assert pair_substituted_oracle(oracles["dedup_exact"], con) is None
    con.close()


def test_cc_substituted_oracles_match_full_sql():
    """tools/selfcheck.cc_substituted_oracle — the closure-chain twin
    (lsh_pairs from the band replay, lab from the union-find replay,
    edges kept inline) must be hash-identical to the full recursive
    SQL for both canonical pickers, and must refuse oracles without
    the chain."""
    import duckdb

    from tools.selfcheck import (
        cc_substituted_oracle,
        dtype_drift,
        value_hash,
    )
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    for name in ["dedup_keep_best", "dedup_keep_central", "dedup_clusters"]:
        sub = cc_substituted_oracle(oracles[name], con)
        assert sub is not None, name
        full = con.sql(oracles[name]).df()
        got = con.sql(sub).df()
        assert len(full) == len(got), name
        assert not dtype_drift(full, got), name
        assert value_hash(full) == value_hash(got), name
    assert cc_substituted_oracle(oracles["dedup_pagerank"], con) is None
    con.close()


def test_simhash_arrow_fold_matches_expression_form(spark):
    """The round-9 Arrow sign-sum bit fold (_simhash_bits_udf) must be
    bit-identical to the 60-aggregate JVM expression it replaced —
    including the empty-hv edge (zero-initializer fold => every bit
    sum is 0 => all 60 bits set). The expression form is rebuilt here
    as the executable spec."""
    from pyspark.sql import functions as F

    from flat_file_social_media_database_engine_spark.workloads.dedup import (
        _SIMHASH_BITS,
        _h60,
        _simhash_bits_udf,
        _tokens,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "one two three four five six seven eight nine ten"),
        (4, ""),  # tokenizes to [''] — single token
        (5, "x"),
        (6, "repeat repeat repeat repeat distinct"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    hv = F.transform(_tokens(), _h60)
    base = docs.select("doc_id", hv.alias("hv"))

    def _bit_sum(b):
        return lambda acc, h: acc + (
            F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1
        )

    expr = F.lit(0).cast("bigint")
    for b in range(_SIMHASH_BITS):
        expr = expr + F.when(
            F.aggregate(F.col("hv"), F.lit(0).cast("bigint"), _bit_sum(b)) >= 0,
            F.lit(1 << b).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))

    got = {
        r["doc_id"]: r["s"]
        for r in base.select(
            "doc_id", _simhash_bits_udf()("hv").alias("s")
        ).collect()
    }
    want = {
        r["doc_id"]: r["s"]
        for r in base.select("doc_id", expr.alias("s")).collect()
    }
    assert got == want
    # empty-array edge exercised explicitly (no doc tokenizes empty —
    # split('') is [''] — so feed one directly)
    empty = spark.createDataFrame(
        [(9, [])], "doc_id bigint, hv array<bigint>"
    )
    s = empty.select(_simhash_bits_udf()("hv").alias("s")).collect()[0]["s"]
    assert s == (1 << _SIMHASH_BITS) - 1


def test_stream_ingest_dedup_reads_each_batch_once(spark, sf_small, tmp_path):
    """Each ingest micro-batch scans its staged file once: the probe
    reads the batch's shingles three times, and the sink persists them
    for its write. ``numInputRows`` per batch equals the staged file's
    rows, and the streamed result equals the one-shot classification
    of the same new docs."""
    import os
    import shutil

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from flat_file_social_media_database_engine_spark.sources.catalog import (
        read_table,
    )
    from flat_file_social_media_database_engine_spark.streaming.docs import (
        stage_documents_batches,
    )
    from tools.qtime import listen_to_batches

    d = str(tmp_path)
    shutil.copy(os.path.join(sf_small, "documents.parquet"), d)
    progress = []
    listener = listen_to_batches(spark, progress)
    try:
        got = {tuple(r) for r in D.docs_stream_ingest_dedup(spark, d).collect()}
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    stage, n = stage_documents_batches(spark, d)
    staged = [
        pq.ParquetFile(os.path.join(stage, f)).metadata.num_rows
        for f in sorted(os.listdir(stage))
    ]
    assert n > 1 and [rows for rows, _, _ in progress] == staged
    new = read_table(spark, d, "documents").filter(F.col("doc_id") >= D.N_OLD)
    want = {
        tuple(r)
        for r in D._probe_classify_batch(spark, d, D._batch_shingles(new)).collect()
    }
    assert got == want and len(got) == sum(staged)
