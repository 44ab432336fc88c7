"""Deduplication tier over ``documents`` — the pipeline stage every
large-scale training-data build runs: exact dedup, n-gram Jaccard
near-dup, MinHash-LSH near-dup, and SimHash fingerprinting.

Scale posture (the part that matters at 100 TB):
- ``dedup_exact`` groups on a fixed-width digest, never on raw text —
  one shuffle of (digest, doc_id), map-side combined.
- ``dedup_ngram_jaccard`` generates candidates through an inverted
  index join on shingles (pairs must SHARE a shingle) — never a
  cartesian product. Common-shingle counting is a shuffle keyed on
  the shingle string; hot shingles are bounded because shingles are
  per-doc DISTINCT.
- ``dedup_minhash_lsh`` is the real 100 TB path: 64 MinHashes banded
  16×4, candidates only within equal (band, key) buckets, exact
  Jaccard verification restricted to candidates. The signature pass
  is MAP-ONLY: shingle hashes are computed once JVM-side, then one
  Arrow-vectorized numpy pass per batch takes the 64 mins (see
  ``_minhash_sig_udf``) — the first shuffle in the pipeline is the
  band-bucket candidate join itself.
- ``dedup_simhash`` is map-only (per-doc 60-bit signature).
- ``dedup_clusters`` folds the verified pairs into connected
  components (iterative min-label propagation, count-only
  convergence probe); ``dedup_incremental`` classifies a new ingest
  batch against the corpus digest set so ingest is O(batch).

Hash family: the VALUE-carrying hashes (shingle hashes feeding the
MinHash affine family) are md5 — present and bit-identical in Spark
and DuckDB (first 15 hex chars parsed as a 60-bit int), so the whole
LSH pipeline is oracle-checked with the same seeded family on both
sides. The band BUCKET keys are different: only their EQUALITY
matters (the oracle's candidate join compares keys, never exports
them), so the Spark side uses ``xxhash64`` directly over the band's
minhash ints — no string concat, no md5, an 8-byte shuffle key —
while the oracle keeps its md5-over-varchar formulation. Both keys
are injective on the same 4-minhash tuple (collisions are ~2⁻⁶⁴ and
would only add a candidate that exact verification then re-checks),
so the verified pair sets agree.

Shared materialization: every shingle consumer (``dedup_ngram_jaccard``,
``dedup_minhash_lsh``, ``dedup_contamination``) reads ONE per-session
cached pass of the per-doc shingle arrays (``_shingle_arrays`` —
persist(DISK_ONLY) + count barrier, see ``plans.materialize``); a
bench run that executes all three pays tokenize+shingle once.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import connected_components
from ..plans.materialize import (
    materialize,
    materialize_parquet,
    scratch_dir,
    shared_pass,
)
from ..sources.catalog import read_table, spread
from . import query
# The capstone's quality floor is BY CONTRACT pipeline_clean_corpus's
# (the consistency test pins survivor counts against it) — share the
# constants so retuning text.py moves both queries together.
from .text import (
    _CLEAN_MIN_TOKENS as _PIPE_MIN_TOKENS,
    _CLEAN_MIN_UNIQ as _PIPE_MIN_UNIQ,
    _TOKENS_SQL,
    _h60,
    _h60_sql,
    _tokens,
)

SHINGLE_K = 3  # word-shingle width
NUM_HASHES = 64  # MinHash signature length
BANDS = 16  # 16 bands x 4 rows: ~s-curve threshold (1/16)^(1/4) ≈ 0.5
ROWS_PER_BAND = NUM_HASHES // BANDS
JACCARD_THRESHOLD = 0.5
_P = 1_000_000_007  # hash-family modulus (30-bit: a*g+b stays < 2^63)

_rng = random.Random(0xDEC0DE)
_AB = [(_rng.randrange(1, _P), _rng.randrange(0, _P)) for _ in range(NUM_HASHES)]


# ---------------------------------------------------------------------------
# Shared primitives (Spark + SQL twins)
# ---------------------------------------------------------------------------
def _norm() -> Column:
    """Normalization for exact dedup: casefold + collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")


_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def _shingles(toks: Column) -> Column:
    """Distinct word K-shingles. Guarded: sequence(1, n-K+1) would
    count DOWN for n < K (Spark generates descending sequences), so
    short docs get an explicit empty array."""
    n = F.size(toks)
    return F.when(
        n >= SHINGLE_K,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - SHINGLE_K + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE_K)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


_SHINGLES_SQL = f"""
    CASE WHEN len(toks) >= {SHINGLE_K}
         THEN list_distinct(list_transform(
                range(1, len(toks) - {SHINGLE_K} + 2),
                i -> array_to_string(toks[i:i+{SHINGLE_K - 1}], ' ')))
         ELSE [] END
"""


def _shingles_udf():
    """Arrow-vectorized tokenize+shingle+HASH pass — replaces the
    interpreted-HOF ``transform(_shingles(_tokens()), _h60)``
    expression in the SHARED materialization only (measured ~2.5s →
    ~0.3s for 5000 docs at sf0.1 for the string half; higher-order
    functions are evaluated interpreted, and this pass is the widest
    map stage of the dedup tier — same escape-hatch precedent as
    ``_minhash_sig_udf``). Output is the per-doc array of 60-bit
    shingle HASHES (``array<long>``), not shingle strings: the
    round-7 decade-3 audit measured the materialized string-array
    intermediate (5-10 GB at sf100) as the super-linear I/O boundary
    of the whole LSH front — 8 bytes/shingle persists, shuffles, and
    Arrow-transfers ~5× less than the ~40-byte 3-word shingle string,
    and every downstream consumer (MinHash family, inverted-index
    joins, array_intersect verification) only ever needed hash
    EQUALITY, computed identically in both engines.

    Semantics replicate the JVM expression EXACTLY (the expression
    form stays in the module as the executable spec, and equivalence
    is pinned in tests/test_dedup.py):
    - trim strips SPACES only (Spark/DuckDB ``trim``, not Python
      ``str.strip``'s all-whitespace);
    - ``re.ASCII`` makes Python's ``\\s`` the Java/RE2 ASCII class;
    - Spark's ``split`` runs with limit=-1, so trailing empty fields
      are KEPT (unlike ``String.split``'s default) — ``re.split``
      matches that natively; the equivalence test pins it;
    - distinct keeps first-occurrence order (``dict.fromkeys``) and
      applies to the STRINGS, before hashing — both engines hash the
      same distinct string set, so an md5 collision (never observed;
      p ≈ 2⁻⁶⁰) would be identical on both sides;
    - the hash is ``int(md5(s)[:15 hex], 16)`` — bit-identical to
      ``_h60`` / ``_h60_sql``."""
    import hashlib
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ws = re.compile(r"\s+", re.ASCII)
    md5 = hashlib.md5

    @pandas_udf("array<long>")
    def sh(texts):
        out = []
        for t in texts:
            t = (t or "").strip(" ")
            toks = ws.split(t)
            if len(toks) >= SHINGLE_K:
                out.append(
                    [
                        int(md5(s.encode("utf-8")).hexdigest()[:15], 16)
                        for s in dict.fromkeys(
                            " ".join(toks[i : i + SHINGLE_K])
                            for i in range(len(toks) - SHINGLE_K + 1)
                        )
                    ]
                )
            else:
                out.append([])
        return pd.Series(out)

    return sh

# ``sh`` and ``sizes`` are MATERIALIZED: DuckDB inlines CTE
# references by default, and the consumers below reference the
# shingle pass up to four times (g, both verification sides, sizes)
# — each inlined reference re-runs tokenize+shingle over the corpus.
# Materializing the ARRAY form (one row per doc — the same compact
# shape the Spark side persists in ``_shingle_arrays``) makes every
# ``e`` reference a cheap re-unnest of cached arrays; measured on
# dedup_graph_stats' oracle at sf0.1: 95 s → seconds for the
# identical 1-row result. Execution hint only — results unchanged.
# Like the Spark side, the materialized arrays are 60-bit HASHES of
# the first-occurrence-distinct shingle strings (``harr``), hashed
# with the same md5 expression — the differential covers the whole
# hash-space pipeline, not a string-space stand-in.
_DOC_SHINGLES_SQL = f"""
    WITH tok AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    sh AS MATERIALIZED (
      SELECT doc_id,
             list_transform({_SHINGLES_SQL}, s -> {_h60_sql('s')}) AS harr
      FROM tok
    ),
    e AS (
      SELECT doc_id, unnest(harr) AS h FROM sh
    ),
    sizes AS MATERIALIZED (
      SELECT doc_id, count(*) AS n_shingles FROM e GROUP BY doc_id
    )
"""


@shared_pass
def _shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE materialized shingle pass all dedup queries share:
    (doc_id, harr array<long> of 60-bit shingle hashes), cached per
    (application, sf_dir). Hash-space by round-8 decision: the
    decade-3 audit measured the string-array form (5-10 GB at sf100)
    as the I/O boundary that made the whole LSH front super-linear on
    the sf10→sf100 step; int64 arrays persist/shuffle ~5× smaller and
    no consumer ever needed the strings — only hash equality, which
    the oracle replicates with the identical md5 expression.

    The docs table arrives as few parquet splits (one, at fixture
    scale) while shingling is CPU-heavy per row — repartition to the
    cluster's parallelism first or the whole pipeline runs on one
    core (measured 10s → 0.5s at sf0.1). At real scale the scan has
    many splits and this shuffle is a no-op-sized rebalance of
    (doc_id, text) rows.

    Materialization is ``persist(DISK_ONLY)`` + a count barrier
    (``plans.materialize``): eager, so the LSH pipeline's four
    concurrent consumer branches (sizes, signatures, both sides of
    the verification join) read cached blocks instead of racing past
    a cold lazy cache; spill-safe with lineage kept, unlike the
    executor-local ``localCheckpoint`` this replaces. The array form
    is the compact one (one row per doc); explode/sizes derive from
    it per consumer — re-exploding cached arrays is cheap, it is the
    tokenize+shingle+distinct pass that must not run twice."""
    # The Arrow shingle pass is CPU-dense per BYTE (tokenize +
    # n-gram hash), so read_table's byte-proportional spread is
    # too coarse for it — ask for full cluster width explicitly
    # (spread with no byte hint; measured 2x on the whole LSH
    # front at sf0.1 when this ran at the scan's width).
    docs = spread(read_table(spark, sf_dir, "documents"))
    return materialize(
        docs.select("doc_id", _shingles_udf()("text").alias("harr"))
    )


def _doc_shingles(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(exploded (doc_id, h) shingle hashes, per-doc shingle counts),
    both derived from the shared cached array pass. ``n_shingles`` is
    the array size (shingles are per-doc distinct) — no group-by
    shuffle; zero-shingle docs are filtered to match the exploded
    form, where they never produce a row."""
    sh = _shingle_arrays(spark, sf_dir)
    e = sh.select("doc_id", F.explode("harr").alias("h"))
    sizes = sh.filter(F.size("harr") > 0).select(
        "doc_id", F.size("harr").cast("bigint").alias("n_shingles")
    )
    return e, sizes


def _pair_jaccard(e: DataFrame, sizes: DataFrame) -> DataFrame:
    """Exact Jaccard for doc pairs sharing ≥1 shingle, via the
    inverted-index self-join (candidates share a key — no cartesian).
    The join key is the 8-byte shingle hash, never the string."""
    a = e.alias("a")
    b = e.alias("b")
    common = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(
        F.col("doc_id").alias("doc_id_a"), F.col("n_shingles").alias("n_a")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_id_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        common.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .withColumn(
            "jaccard", F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
        )
    )


# ---------------------------------------------------------------------------
# Exact dedup: digest-group, keep-first (min doc_id) — the same
# first-wins discipline as the CSV loader's duplicate-key rule.
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_NORM_SQL}) AS content_digest,
           min(doc_id) AS keep_doc_id,
           count(*) AS group_size
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text. Shuffles (digest, doc_id) only
    — never the document bodies — and min/count combine map-side, so
    the reduce input is one row per distinct digest per partition."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(_norm()).alias("content_digest"), "doc_id")
        .groupBy("content_digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup: exact similarity over the inverted index.
# ---------------------------------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    {_DOC_SHINGLES_SQL},
    pairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             count(*) AS common
      FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_id_a, doc_id_b, common,
           na.n_shingles AS n_a, nb.n_shingles AS n_b,
           common / (na.n_shingles + nb.n_shingles - common) AS jaccard
    FROM pairs
    JOIN sizes na ON na.doc_id = doc_id_a
    JOIN sizes nb ON nb.doc_id = doc_id_b
    WHERE common / (na.n_shingles + nb.n_shingles - common)
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, sizes = _doc_shingles(spark, sf_dir)
    return _pair_jaccard(e, sizes).filter(
        F.col("jaccard") >= F.lit(JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Containment near-dup: |A∩B| / min(|A|,|B|). Jaccard under-scores
# asymmetric duplication (a short doc wholly embedded in a long one:
# J = |A|/|B| → 0 as the host grows, containment stays 1) — this is
# the quote/boilerplate/excerpt detector a training-data build runs
# NEXT TO symmetric near-dup, per the dedup literature (Broder's
# resemblance vs containment distinction).
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.8
# t as an exact rational for the integer prefix-length arithmetic
# (ceil(t·n) = (4n + 4) div 5); the reported/filter compare stays the
# double form the oracle uses.
_CONT_NUM, _CONT_DEN = 4, 5


@query(
    "dedup_containment_pairs",
    oracle=f"""
    {_DOC_SHINGLES_SQL},
    pairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             count(*) AS common
      FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_id_a, doc_id_b, common,
           na.n_shingles AS n_a, nb.n_shingles AS n_b,
           common / least(na.n_shingles, nb.n_shingles) AS containment,
           common / (na.n_shingles + nb.n_shingles - common) AS jaccard
    FROM pairs
    JOIN sizes na ON na.doc_id = doc_id_a
    JOIN sizes nb ON nb.doc_id = doc_id_b
    WHERE common / least(na.n_shingles, nb.n_shingles)
          >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by shingle containment, with the
    Jaccard score alongside so downstream policy can see WHICH signal
    fired (containment-high/jaccard-low = embedded excerpt;
    both-high = symmetric near-dup).

    Plan shape (round-9 rewrite — the prefix-filtered EXACT
    containment join): candidates come from joining each doc's
    CONTAINMENT PREFIX — its rarest-first first n - ceil(t·n) + 1
    shingles, a rank filter over the same materialized pass
    ``dedup_prefix_jaccard`` shares — against the FULL inverted index
    of (n, doc_id)-LARGER docs. Completeness is the standard overlap-
    prefix theorem applied to the smaller set S of a qualifying pair:
    common >= ceil(t·|S|), and S's suffix past the prefix holds only
    ceil(t·|S|) - 1 elements, so some common shingle sits in S's
    prefix — and every common shingle is in the partner's full set by
    definition. (The larger side cannot be prefix-filtered: its
    required overlap t·min depends on the PARTNER's size, so its safe
    prefix is its whole set — the asymmetry of containment.) The
    all-pairs oracle proves completeness differentially: a dropped
    true pair is a hash mismatch. Survivors verify exactly against
    the cached shingle ARRAYS in a stage ``defaultParallelism`` tasks
    wide (``_pair_overlaps``, which ``_prefix_verify`` also runs
    on); the threshold compare stays the double form the oracle
    uses.
    Replaces the df²-per-key inverted-index self-join: per key the
    join cost is prefix_count(h) × df(h), and hot (stopword) shingles
    land in almost no prefix — measured 17.5 → ~4 s at sf10."""
    sh = _shingle_arrays(spark, sf_dir)
    prefix = _prefix_rows_shared(spark, sf_dir)
    num, den = _CONT_NUM, _CONT_DEN
    pc = prefix.filter(
        F.col("rn")
        <= F.col("n") - F.expr(f"({num} * n + {den - 1}) div {den}") + 1
    ).select(F.col("doc_id").alias("doc_p"), F.col("n").alias("n_p"), "h")
    full = sh.filter(F.size("harr") > 0).select(
        F.col("doc_id").alias("doc_f"),
        F.size("harr").cast("bigint").alias("n_f"),
        F.explode("harr").alias("h"),
    )
    cand = (
        pc.join(full, "h")
        .filter(
            F.struct(F.col("n_p"), F.col("doc_p"))
            < F.struct(F.col("n_f"), F.col("doc_f"))
        )
        .select(
            F.least("doc_p", "doc_f").alias("doc_id_a"),
            F.greatest("doc_p", "doc_f").alias("doc_id_b"),
        )
    )
    return (
        _pair_overlaps(sh, cand)
        .withColumn(
            "containment", F.col("common") / F.least("n_a", "n_b")
        )
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("containment") >= F.lit(CONTAINMENT_THRESHOLD))
        .select(
            "doc_id_a", "doc_id_b", "common", "n_a", "n_b",
            "containment", "jaccard",
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT Jaccard join (PPJoin-style, Chaudhuri et al.
# ICDE'06 / Xiao et al. WWW'08): the exact-answer scale path that
# sits between the all-pairs inverted-index baseline above and the
# approximate MinHash front below. Key fact: if J(A,B) >= t then
# |A∩B| >= t·max(|A|,|B|), so under ANY global total order of
# shingles the two docs must share a shingle inside each one's first
# n - ceil(t·n) + 1 shingles ("prefix"). Candidates therefore come
# ONLY from joining prefixes — with the order chosen rarest-first
# (ascending document frequency), the joined keys are the corpus's
# LOW-df shingles, so bucket sizes stay small exactly where the
# inverted-index join explodes (a stopword shingle with df = 1M
# contributes 5·10^11 candidate rows there; here it is joined only
# by the docs for which it falls inside the ~0.3·n rarest prefix).
# Recall is 1.0 BY THEOREM (unlike LSH's s-curve) — which the oracle
# enforces: it computes the all-pairs answer with no prefix logic,
# so a dropped true pair is a hash mismatch, not a tuning note.
# ---------------------------------------------------------------------------
PREFIX_TAU_NUM, PREFIX_TAU_DEN = 7, 10  # t = 0.7, kept integer-exact


@shared_pass
def _prefix_rows_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rarest-first PREFIX rows (doc_id, n, h) of the prefix-
    filter join, materialized ONCE per (application, sf_dir). The
    self-join's two sides (pa, pb) otherwise RE-DERIVE this whole
    subtree — df groupBy + annotation join + per-doc rank window over
    the full exploded shingle table — and at the sf100 tier the
    doubled exchanges spilled ~40 GB of transient shuffle (round-8
    decade audit: disk-full abort). Materialized, the self-join reads
    one ~0.3·corpus-sized table twice with zero re-shuffle.

    ONE explicit hash repartition on the shingle hash feeds BOTH the
    df groupBy and the annotation join (round-7 verdict item 6: the
    two pre-join shuffles shared a key) — hashpartitioning(h)
    satisfies the groupBy's required distribution and the join's left
    side, so neither inserts another exchange."""

    from pyspark.sql import Window

    sh = _shingle_arrays(spark, sf_dir)
    e = (
        sh.filter(F.size("harr") > 0)
        .select(
            "doc_id",
            F.size("harr").cast("bigint").alias("n"),
            F.explode("harr").alias("h"),
        )
        .repartition(F.col("h"))
    )
    dfreq = e.groupBy("h").agg(F.count(F.lit(1)).alias("s_df"))
    w = Window.partitionBy("doc_id").orderBy("s_df", "h")
    # rn (the rarest-first rank) is KEPT in the materialization
    # (round-9): the containment front's tighter prefix
    # (n - ceil(0.8n) + 1 <= this pass's n - ceil(0.7n) + 1 for
    # every n) filters this same pass by rank instead of building
    # a second corpus-wide window pass.
    return materialize(
        e.join(dfreq, "h")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n")
            - F.expr(
                f"({PREFIX_TAU_NUM} * n + {PREFIX_TAU_DEN - 1}) "
                f"div {PREFIX_TAU_DEN}"
            )
            + 1
        )
        .select("doc_id", "n", "h", F.col("rn").cast("int").alias("rn"))
    )


@query(
    "dedup_prefix_jaccard",
    oracle=f"""
    {_DOC_SHINGLES_SQL},
    pairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             count(*) AS common
      FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_id_a, doc_id_b, common,
           na.n_shingles AS n_a, nb.n_shingles AS n_b,
           common / (na.n_shingles + nb.n_shingles - common) AS jaccard
    FROM pairs
    JOIN sizes na ON na.doc_id = doc_id_a
    JOIN sizes nb ON nb.doc_id = doc_id_b
    WHERE {PREFIX_TAU_DEN} * common
          >= {PREFIX_TAU_NUM} * (na.n_shingles + nb.n_shingles - common)
    """,
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.7 pairs via prefix filtering — same output
    contract as ``dedup_ngram_jaccard`` (at the higher threshold) but
    a fundamentally different candidate generator.

    Plan shape: (1) shingle document frequencies — one map-combined
    groupBy on the shared shingle pass; (2) rank each doc's shingles
    rarest-first — a window partitioned by ``doc_id`` (data-keyed,
    high-cardinality: every partition is one document's shingle set,
    bounded by doc length, never by corpus size); (3) join ONLY the
    prefix rows on shingle, guarded by the size filter
    (t·max(n_a,n_b) <= min — integer-exact as 7·max <= 10·min);
    (4) verify the small distinct candidate set against the cached
    shingle ARRAYS with ``array_intersect`` in a stage
    ``defaultParallelism`` tasks wide (``_pair_overlaps``) — the same
    no-second-index-pass verification as ``dedup_minhash_lsh``. All
    arithmetic that gates rows is integer (prefix length n - ceil(7n/10) + 1 is
    ``n - (7n+9) div 10 + 1``; the threshold test is
    ``10·common >= 7·(n_a+n_b-common)``), so both engines agree
    bit-for-bit; the reported ``jaccard`` double is a single divide
    of exact integers.

    Scale posture: two data-sized shuffles (df groupBy; the doc_id
    window) plus the prefix self-join whose keys are low-df by
    construction. The classic refinement ladder from here —
    positional filtering and suffix filtering (PPJoin+) — prunes
    candidates further without changing this plan's shape."""
    sh = _shingle_arrays(spark, sf_dir)
    return _prefix_verify(sh, _prefix_candidates(_prefix_rows_shared(spark, sf_dir)))


def _prefix_candidates(prefix: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b) candidate pairs of prefix rows (doc_id, n,
    h): docs sharing a prefix shingle whose sizes pass the size filter
    t·max(n_a, n_b) <= min(n_a, n_b). A pair sharing several prefix
    shingles repeats; ``_pair_overlaps`` takes the distinct."""
    pa = prefix.select(
        F.col("doc_id").alias("doc_id_a"), F.col("n").alias("pn_a"), "h"
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_id_b"), F.col("n").alias("pn_b"), "h"
    )
    return (
        pa.join(pb, "h")
        .filter(
            (F.col("doc_id_a") < F.col("doc_id_b"))
            & (
                PREFIX_TAU_NUM * F.greatest("pn_a", "pn_b")
                <= PREFIX_TAU_DEN * F.least("pn_a", "pn_b")
            )
        )
        .select("doc_id_a", "doc_id_b")
    )


def _pair_overlaps(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact overlap of each distinct candidate pair: ``cand``
    (doc_id_a, doc_id_b), duplicates allowed, joined against the
    cached shingle ARRAYS, with ``common`` = |A∩B| from
    ``array_intersect`` and the two set sizes.

    A candidate row is ~16 bytes but costs an array_intersect over
    two shingle sets, so AQE's byte-grained coalescing (1 MB floor)
    folds the distinct's shuffle into one task at any core count. The
    distinct therefore runs over an explicit hash
    ``repartition(defaultParallelism, pair)``, which AQE never
    coalesces (a repartition to a number) and which already satisfies
    the distinct, so it replaces that shuffle rather than adding one:
    the verify stage is ``defaultParallelism`` tasks wide while the
    shingle arrays are broadcast. Where they are too big to
    broadcast, the shuffled join's own exchange carries real bytes
    and coalesces to cluster width by itself."""
    n = sh.sparkSession.sparkContext.defaultParallelism
    sha = sh.select(
        F.col("doc_id").alias("doc_id_a"), F.col("harr").alias("sh_a")
    )
    shb = sh.select(
        F.col("doc_id").alias("doc_id_b"), F.col("harr").alias("sh_b")
    )
    return (
        cand.repartition(n, "doc_id_a", "doc_id_b")
        .distinct()
        .join(sha, "doc_id_a")
        .join(shb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("common"),
            F.size("sh_a").cast("bigint").alias("n_a"),
            F.size("sh_b").cast("bigint").alias("n_b"),
        )
    )


def _prefix_verify(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-Jaccard verification tail of ``_prefix_candidates``' pairs,
    in one pass or gathered over the bounded mode's key-space slices:
    the distinct candidates' exact overlaps (``_pair_overlaps``), the
    integer-exact threshold test, and the single reported divide."""
    return (
        _pair_overlaps(sh, cand)
        .filter(
            PREFIX_TAU_DEN * F.col("common")
            >= PREFIX_TAU_NUM * (F.col("n_a") + F.col("n_b") - F.col("common"))
        )
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
    )


def dedup_prefix_jaccard_bounded(
    spark: SparkSession, sf_dir: str, passes: int = 8
) -> DataFrame:
    """``dedup_prefix_jaccard`` under a DISK-BOUNDED execution mode
    (round-8 verdict: the single-pass self-join spilled ~40 GB of
    transient shuffle at sf100 and exhausted the sandbox disk —
    an exact set-similarity join has no approximate escape hatch, so
    the resource envelope has to come from scheduling, not recall).

    Key-space decomposition: the prefix self-join matches on shingle
    hash equality, so slicing the KEY space into ``passes`` disjoint
    residue classes (``pmod(h, passes) == i``) decomposes the join
    EXACTLY — every candidate pair shares ≥1 prefix shingle and is
    emitted by precisely the slices its shared shingles land in;
    union + distinct reproduces the single-pass candidate set, and
    the verification tail is unchanged (recall stays 1.0 by the same
    theorem). Each slice runs as its OWN action whose candidate
    output (pair ids only — candidate-sized, never corpus-sized) is
    appended to a temp parquet, so at most ~1/passes of the prefix
    table is in transient shuffle at any moment; the slice scans
    re-read the one materialized prefix pass (columnar, 24 B/row)
    rather than re-deriving it. On a cluster the same decomposition
    bounds peak shuffle disk per pass; the passes pipeline trivially
    since each is an independent job.

    Equivalence to the registered single-pass query is pinned in
    tests/test_dedup.py (same rows at passes=1 vs 4 on a corpus with
    multi-shingle overlaps) and exercised at sf100 by the scaling
    audit."""
    import gc

    sh = _shingle_arrays(spark, sf_dir)
    prefix = _prefix_rows_shared(spark, sf_dir)
    out = scratch_dir("prefixpass")
    for i in range(passes):
        sl = prefix.filter(F.pmod(F.col("h"), F.lit(passes)) == i)
        (
            _prefix_candidates(sl)
            .distinct()
            .write.mode("append")
            .parquet(out)
        )
        # Drop this pass's plan references and nudge the JVM so the
        # ContextCleaner reclaims the pass's shuffle files BEFORE the
        # next slice shuffles — the whole point of the mode is that
        # per-pass transient disk never accumulates across passes.
        del sl
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    return _prefix_verify(sh, spark.read.parquet(out))


# ---------------------------------------------------------------------------
# MinHash + banded LSH: the 100 TB near-dup path. Candidates come only
# from equal (band, band_key) buckets; exact Jaccard verifies them.
# ---------------------------------------------------------------------------
def _minhash_sig_udf():
    """Arrow-vectorized MinHash signatures: per doc, ``mh_i = min over
    shingle-hashes g of (a_i*g + b_i) mod P`` for the 64-member affine
    family — one ``array<long>`` out per row.

    Why a pandas_udf and not SQL: the natural JVM formulations both
    lose. 64 MIN aggregates over the exploded (doc, shingle-hash)
    table need an explode + 64-way groupBy shuffle; a per-row array
    expression invites Catalyst's CollapseProject to inline the md5
    into all 64 consumers (measured ~10× slower). Here the shingle
    hashes are computed ONCE JVM-side (``transform`` + md5), and the
    64×n multiply-mod-min runs as one numpy broadcast +
    ``minimum.reduceat`` per Arrow batch — map-only, no shuffle at
    all (measured 7.0s → 4.4s for the full LSH pipeline at sf0.1;
    results bit-identical, same family, same oracle). ``a*g + b``
    stays < 2^63: a, g < P ≈ 2^30."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    A = np.array([a for a, _ in _AB], dtype=np.int64)[:, None]
    B = np.array([b for _, b in _AB], dtype=np.int64)[:, None]

    # no type hints: pd is function-local (see similarity._signatures)
    @pandas_udf("array<long>")
    def mh_sig(garr):
        if not len(garr):
            return pd.Series([], dtype=object)
        lens = garr.str.len().to_numpy(dtype=np.int64)
        flat = np.concatenate([np.asarray(g, dtype=np.int64) for g in garr])
        H = (A * flat[None, :] + B) % _P  # (64, total_shingles)
        bounds = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=bounds[1:])
        mins = np.minimum.reduceat(H, bounds, axis=1)  # (64, n_docs)
        return pd.Series(list(mins.T))

    return mh_sig


def _band_table(sh: DataFrame) -> DataFrame:
    """(doc_id, band_key) rows — MinHash signatures (map-only Arrow
    pass) banded 16×4, each band xxhash64-keyed with the band index
    hashed INTO the key so the bucket join needs only the single
    8-byte column. Shared by the full pair query and the incremental
    probe; docs with no shingles have no MinHash (empty min) — the
    agg formulation dropped them implicitly, map-only must filter."""
    garr = sh.filter(F.size("harr") > 0).select(
        "doc_id",
        F.transform("harr", lambda h: h % _P).alias("garr"),
    )
    sig = garr.select("doc_id", _minhash_sig_udf()("garr").alias("mh"))
    band_key_cols = [
        F.xxhash64(
            F.lit(band),
            *[
                F.col("mh")[band * ROWS_PER_BAND + r]
                for r in range(ROWS_PER_BAND)
            ],
        ).alias(f"bk_{band}")
        for band in range(BANDS)
    ]
    keyed = sig.select("doc_id", *band_key_cols)
    return keyed.select(
        "doc_id",
        F.explode(
            F.array(*[F.col(f"bk_{band}") for band in range(BANDS)])
        ).alias("band_key"),
    )


# Hot-bucket cap: a bucket of n docs yields n(n-1)/2 candidate pairs,
# so ONE boilerplate cluster (identical headers, templated pages — a
# certainty in a web-scale corpus) turns the bucket join quadratic.
# Buckets larger than the cap are skipped as degenerate collisions:
# their members are overwhelmingly exact duplicates (caught upstream
# by exact dedup, which is hash-grouped and immune to this blowup),
# and the cap bounds candidate generation at CAP²/2 pairs per bucket.
# Applied IDENTICALLY in the Spark candidate front and the oracle CTE
# chain (and in the incremental probe, keyed on the same total bucket
# size), so the differential proves the cap, not just the happy path.
# Fixture buckets max out at 4 docs across all three scales, so the
# cap is provably inert on the driver fixtures. The value is SHARED
# with the embedding-signature front — one definition in _caps.py.
from ._caps import HOT_BUCKET_CAP


@shared_pass
def _band_table_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, band_key) table materialized ONCE per
    (application, sf_dir) — the signature pass (Arrow minhash UDF +
    16 xxhash64 keys, ~9 s warm over 500k docs at sf10) previously
    re-ran inside EVERY consumer (hot-key derivation, capped bands,
    both incremental probes, the committed-index build); the
    materialized table is 16 bytes/row and every consumer is a
    filter/join over it. Same shared-pass policy as
    ``_shingle_arrays`` one level down."""
    return materialize(_band_table(_shingle_arrays(spark, sf_dir)))


@shared_pass
def _hot_band_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The over-cap band-key set, computed ONCE per (application,
    sf_dir) and materialized — it is rows-of-hot-buckets tiny (empty
    on the fixtures), while the count pass that derives it scans the
    whole band table; three queries consume it (full pairs, edit
    distance, incremental probe), so per-query recomputation was the
    cap's dominant cost at fixture scale."""

    bands = _band_table_shared(spark, sf_dir)
    return materialize(
        bands.groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > HOT_BUCKET_CAP)
        .select("band_key")
    )


def _capped_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band table filtered to buckets of <= HOT_BUCKET_CAP docs.

    The filter BROADCASTS the HOT key set and anti-joins — not a
    semi-join on the allowed set: hot buckets are rare by definition,
    so the broadcast is kilobytes at any corpus size while the band
    table — the big side — stays map-only instead of reshuffling."""
    bands = _band_table_shared(spark, sf_dir)
    return bands.join(
        F.broadcast(_hot_band_keys(spark, sf_dir)), "band_key", "left_anti"
    )


def _band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct candidate (doc_id_a, doc_id_b) pairs sharing any
    non-hot LSH band bucket — the shared candidate FRONT of every
    near-dup verifier (Jaccard, edit-distance): the self-join
    shuffles the 8-byte band key only, bucket sizes are LSH collision
    sets bounded by HOT_BUCKET_CAP, and the distinct collapses
    multi-band hits before any verification work. Mirrors the oracle
    chain's ``cand`` CTE."""
    bands = _capped_bands(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .distinct()
    )


@shared_pass
def _band_candidates_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_band_candidates`` materialized ONCE per (application,
    sf_dir) — the same shared-pass policy as ``_shingle_arrays`` /
    ``lsh_pairs_shared``, for the SECONDARY verifiers (edit distance
    today): the band self-join is identical work per consumer, the
    result is LSH-bounded pairs (small at any corpus size), and the
    exact post-materialize statistics let AQE broadcast the pair side
    of the verify joins instead of estimating off a self-join plan.
    Since round 7 ``dedup_minhash_lsh`` consumes this too (its bench
    COLD pass still measures the end-to-end build from empty
    caches)."""
    return materialize(_band_candidates(spark, sf_dir))


def _bands_ctes() -> str:
    """The SIGNATURE half of the MinHash-LSH oracle chain, ending in
    the exploded ``bands`` (doc_id, band, band_key) table — shared by
    the full pair chain below and the streaming-ingest oracle (whose
    hot-bucket cap keys on corpus occupancy only)."""
    mins = ", ".join(
        f"min(({a} * g + {b}) % {_P}) AS mh_{i}" for i, (a, b) in enumerate(_AB)
    )
    band_keys = ", ".join(
        "md5("
        + " || '-' || ".join(
            f"CAST(mh_{band * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        + f") AS bk_{band}"
        for band in range(BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, bk_{band} AS band_key FROM sig"
        for band in range(BANDS)
    )
    return f"""
    {_DOC_SHINGLES_SQL},
    g AS (
      SELECT doc_id, h % {_P} AS g FROM e
    ),
    sigm AS (
      SELECT doc_id, {mins} FROM g GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id, {band_keys} FROM sigm
    ),
    bands AS MATERIALIZED ({band_rows})"""


def _lsh_pairs_ctes() -> str:
    """All CTEs of the MinHash-LSH pipeline, ending in ``lsh_pairs``
    (the verified near-dup pair set) — shared by the pair query's
    oracle and the clustering query's recursive oracle."""
    return f"""{_bands_ctes()},
    bands_ok AS (
      SELECT band, band_key FROM bands
      GROUP BY band, band_key
      HAVING count(*) <= {HOT_BUCKET_CAP}
    ),
    capped AS MATERIALIZED (
      SELECT b.* FROM bands b
      JOIN bands_ok k ON k.band = b.band AND k.band_key = b.band_key
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM capped a
      JOIN capped b ON a.band = b.band AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_id_a, c.doc_id_b, count(*) AS common
      FROM cand c
      JOIN e ea ON ea.doc_id = c.doc_id_a
      JOIN e eb ON eb.doc_id = c.doc_id_b AND eb.h = ea.h
      GROUP BY 1, 2
    ),
    lsh_pairs AS MATERIALIZED (
      SELECT v.doc_id_a, v.doc_id_b, v.common,
             na.n_shingles AS n_a, nb.n_shingles AS n_b,
             v.common / (na.n_shingles + nb.n_shingles - v.common) AS jaccard
      FROM verified v
      JOIN sizes na ON na.doc_id = v.doc_id_a
      JOIN sizes nb ON nb.doc_id = v.doc_id_b
      WHERE v.common / (na.n_shingles + nb.n_shingles - v.common)
            >= {JACCARD_THRESHOLD}
    )"""


def _lsh_oracle() -> str:
    return f"{_lsh_pairs_ctes()}\n    SELECT * FROM lsh_pairs"


@query("dedup_minhash_lsh", oracle=_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle → MinHash(64) → band(16×4) → bucket-join → verify.

    Plan shape at scale: the SHARED materialized pass builds the
    per-doc shingle ARRAYS (compact: one row per doc — see
    ``_shingle_arrays``); signatures are MAP-ONLY (md5 shingle-hashes
    JVM-side, then one Arrow-vectorized numpy pass per batch — see
    ``_minhash_sig_udf``), so the first shuffle in the whole pipeline
    is the (band, band_key) candidate bucket join — bucket sizes are
    the LSH collision sets, not the corpus; verification is two joins
    of the SMALL candidate-pair set against the array table with
    `array_intersect` doing the common count per-row — no second pass
    over the inverted index, no extra group-by. Nothing is ever
    all-pairs.

    Band keys are ``xxhash64`` straight over the band's 4 minhash
    ints (plus the band index as a literal discriminator): one JVM
    hash call per band on bigint inputs, versus the previous
    md5-over-concatenated-varchar (16 string builds + md5s per doc —
    the widest stage of the round-2 bench at 41% of headline wall).
    Only key EQUALITY matters, so the oracle's md5 formulation and
    this one generate identical candidate PAIRS (see module
    docstring).

    Round-7: consumes the SHARED candidate materialization
    (``_band_candidates_shared``) like every other verifier —
    previously this query alone re-ran signatures + bucket join every
    call "so bench measures the real pipeline", but bench's COLD pass
    already measures the end-to-end build (caches start empty), and
    the per-call rebuild made the warm wall quote producer cost that
    no at-scale deployment pays twice (the decade-2 audit flagged the
    rebuilt wall at 22x on 10x data while every stage measured
    ~linear; the shared-pass consumer wall is the honest steady-state
    number, identical rows by construction)."""
    sh = _shingle_arrays(spark, sf_dir)
    cand = _band_candidates_shared(spark, sf_dir)

    sha = sh.select(
        F.col("doc_id").alias("doc_id_a"), F.col("harr").alias("sh_a")
    )
    shb = sh.select(
        F.col("doc_id").alias("doc_id_b"), F.col("harr").alias("sh_b")
    )
    return (
        cand.join(sha, "doc_id_a")
        .join(shb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("common"),
            F.size("sh_a").cast("bigint").alias("n_a"),
            F.size("sh_b").cast("bigint").alias("n_b"),
        )
        .withColumn(
            "jaccard", F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
        )
        .filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
    )


@shared_pass
def lsh_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair set, materialized ONCE per
    (application, sf_dir) for DOWNSTREAM consumers — the same shared-
    intermediate policy as ``_shingle_arrays``, one level up. An
    iterative consumer like ``dedup_clusters`` references the pair
    set many times (every star round's lineage would otherwise
    re-run signature + bucket-join from the arrays); the pair set is
    LSH-bounded (collision sets, not corpus), so the persisted
    footprint stays small at any scale. ``dedup_minhash_lsh`` itself
    does NOT read this cache: its bench entry measures the real
    pipeline every run."""
    return materialize(dedup_minhash_lsh(spark, sf_dir))


# ---------------------------------------------------------------------------
# LSH recall audit: "measure, don't guess" turned on the dedup front
# itself. Banding is probabilistic — the 16×4 s-curve CATCHES a
# jaccard-0.5 pair with p = 1-(1-0.5^4)^16 ≈ 0.64 and a 0.9 pair with
# p ≈ 1.0 — so a production corpus build periodically audits the
# front's realized recall per similarity band on a sample, where
# ground truth (exact Jaccard all-pairs) is affordable. The sample is
# a deterministic md5-mod predicate, NOT a random split: both engines
# (and every rerun/backfill) select the identical docs, which is what
# makes the audit itself oracle-checkable.
# ---------------------------------------------------------------------------
AUDIT_SAMPLE_MOD = 10
AUDIT_SAMPLE_KEEP = 3  # audit fraction 3/10 of docs; at a 100 TB
# corpus you raise the modulus (e.g. mod 100_000 keeps ~0.003%) so
# the sample — and with it the exact all-pairs ground-truth cost —
# stays near-constant while the corpus grows.


def _lsh_recall_oracle() -> str:
    smp = f"{_h60_sql('CAST(doc_id AS VARCHAR)')} % {AUDIT_SAMPLE_MOD} < {AUDIT_SAMPLE_KEEP}"
    return f"""
    {_lsh_pairs_ctes()},
    se AS (
      SELECT * FROM e WHERE {smp}
    ),
    tp AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             count(*) AS common
      FROM se a JOIN se b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    tj AS (
      SELECT doc_id_a, doc_id_b,
             common / (na.n_shingles + nb.n_shingles - common) AS jaccard
      FROM tp
      JOIN sizes na ON na.doc_id = doc_id_a
      JOIN sizes nb ON nb.doc_id = doc_id_b
      WHERE common / (na.n_shingles + nb.n_shingles - common)
            >= {JACCARD_THRESHOLD}
    )
    SELECT CAST(floor(tj.jaccard * 10) AS BIGINT) AS j_bucket,
           count(*) AS n_true,
           CAST(sum(CASE WHEN lp.doc_id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_caught,
           CAST(sum(CASE WHEN lp.doc_id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) / count(*) AS recall
    FROM tj
    LEFT JOIN lsh_pairs lp
      ON lp.doc_id_a = tj.doc_id_a AND lp.doc_id_b = tj.doc_id_b
    GROUP BY 1
    """


@query("dedup_lsh_recall", oracle=_lsh_recall_oracle())
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized recall of the MinHash-LSH front per jaccard decile:
    (j_bucket, n_true, n_caught, recall) where n_true counts sample
    pairs with exact shingle-Jaccard >= threshold and n_caught the
    subset the banded front surfaced.

    Plan shape at scale: the sample is a map-only md5-mod PREDICATE
    on doc_id (no sampling join, no Bernoulli nondeterminism) pushed
    onto the shared exploded-shingle pass; ground truth is the
    inverted-index self-join RESTRICTED to the sample — its
    quadratic-in-collision-set cost is bounded by the sample knob
    (constants above), which is the standard shape of a recall audit:
    exactness is paid on a fixed-size slice, never the corpus. The
    caught side reuses the MATERIALIZED verified pair set
    (``lsh_pairs_shared``, LSH-bounded), so the audit adds one
    pair-keyed left join and a 6-row aggregation on top of work the
    dedup pipeline already did.

    Why per-decile: a single recall number hides exactly the failures
    that matter — banding theory says recall falls off a cliff just
    above threshold (p ≈ 0.64 at j = 0.5 for 16×4) while the >= 0.9
    deciles must be ~1.0; regressions in the hash family, band
    geometry, or the hot-bucket cap show up as a decile-shape change
    long before they move the corpus-level dup rate. Jaccard doubles
    are int/int IEEE divisions — bit-identical in both engines — so
    the decile floor() is differentially safe."""
    e, sizes = _doc_shingles(spark, sf_dir)
    in_sample = (
        _h60(F.col("doc_id").cast("string")) % AUDIT_SAMPLE_MOD
        < AUDIT_SAMPLE_KEEP
    )
    true_pairs = _pair_jaccard(e.filter(in_sample), sizes).filter(
        F.col("jaccard") >= F.lit(JACCARD_THRESHOLD)
    )
    caught = lsh_pairs_shared(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("hit")
    )
    return (
        true_pairs.join(caught, ["doc_id_a", "doc_id_b"], "left")
        .select(
            F.floor(F.col("jaccard") * 10).cast("bigint").alias("j_bucket"),
            F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
        )
        .groupBy("j_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum("hit").cast("bigint").alias("n_caught"),
        )
        .withColumn("recall", F.col("n_caught") / F.col("n_true"))
    )


# ---------------------------------------------------------------------------
# Edit-distance near-dup: the character-level verifier of the dedup
# family. Shingle Jaccard under-scores small in-place edits spread
# through a doc (every touched shingle dies); Levenshtein prices them
# directly. Same banded-LSH candidate front; exact integer metric.
# ---------------------------------------------------------------------------
EDIT_REL_DEN = 5  # keep pairs with edit_dist <= 1/5 of the longer text


@query(
    "dedup_edit_distance",
    oracle=f"""
    {_lsh_pairs_ctes()},
    nt AS (
      SELECT doc_id, {_NORM_SQL} AS ntext FROM documents
    )
    SELECT c.doc_id_a, c.doc_id_b,
           CAST(levenshtein(a.ntext, b.ntext) AS BIGINT) AS edit_dist,
           CAST(strlen(a.ntext) AS BIGINT) AS len_a,
           CAST(strlen(b.ntext) AS BIGINT) AS len_b,
           CAST(levenshtein(a.ntext, b.ntext) AS DOUBLE)
             / greatest(strlen(a.ntext), strlen(b.ntext), 1) AS rel_dist
    FROM cand c
    JOIN nt a ON a.doc_id = c.doc_id_a
    JOIN nt b ON b.doc_id = c.doc_id_b
    WHERE levenshtein(a.ntext, b.ntext) * {EDIT_REL_DEN}
          <= greatest(strlen(a.ntext), strlen(b.ntext))
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by NORMALIZED-text Levenshtein distance ≤ 20%
    of the longer text: (doc_id_a, doc_id_b, edit_dist, len_a, len_b,
    rel_dist). The character-level member of the dedup family —
    catches small in-place edits that kill every touched shingle and
    so under-score under Jaccard.

    Scale posture: candidates come ONLY from the shared banded-LSH
    front (``_band_candidates_shared`` — the same bucket join every
    other near-dup verifier rides, materialized once per session;
    never all-pairs), and a LENGTH prefilter
    runs before any Levenshtein: ``dist >= |len_a - len_b|``, so a
    pair whose length gap already exceeds the threshold skips the
    O(len²) metric entirely — lengths are a projected column, the
    metric is not. The metric itself is the THRESHOLDED form
    ``levenshtein(ta, tb, thr)`` with ``thr = floor(max_len /
    {EDIT_REL_DEN})`` per pair: Spark's 3-arg levenshtein runs the
    banded (Ukkonen-cutoff) algorithm — O(thr·n) instead of O(n·m) —
    returning the exact distance when it is ≤ thr and -1 otherwise.
    ``dist ≤ floor(max_len/DEN) ⟺ dist·DEN ≤ max_len`` on integers,
    so ``dist >= 0`` selects exactly the rows the relative threshold
    keeps, and every surviving distance is exact (the band never
    truncates a kept value). At fixture scale the verifier is
    candidate-volume-bound (sf1 A/B: ~2.5k pairs × ~335 chars — the
    metric is noise next to the candidate join), so the band buys
    nothing measurable there; it is a 100TB posture choice — real
    corpora have multi-KB documents where O(thr·n) vs O(n·m) is the
    ~DEN-fold difference between a verify stage that fits its task
    budget and one that doesn't, with the length-gap early-exit free
    on top. ``rel_dist`` divides the same exact integers once, so both
    engines agree bitwise. The Levenshtein itself is cross-engine
    differential (Spark JVM banded vs DuckDB full-matrix), not
    replayed from a shared hash — the oracle keeps the unthresholded
    metric + WHERE, so the band's exactness is itself differentially
    proven on every run.

    Unit contract — UTF-8 BYTES, deliberately: Spark's levenshtein
    edits code points while DuckDB's edits bytes (measured: é→e is
    1 vs 2), so the differential forces ONE unit. Bytes win because
    they keep the oracle a true independent implementation (code
    points are inexpressible in DuckDB SQL, so a code-point oracle
    would replay Spark, proving nothing). Spark side: the normalized
    text round-trips through encode(UTF-8)→decode(ISO-8859-1) —
    a 1:1 byte↔char map — so its code-point metric IS the byte
    metric; lengths are octet_length. Identical to code points on
    ASCII (the fixtures); per-script consistent multipliers
    otherwise (e.g. CJK ~3x on BOTH sides of the relative
    threshold, so the ratio is unit-free). Pinned on accented /
    Cyrillic / CJK / combining-char corpora in
    tests/test_unicode_differential.py."""
    cand = _band_candidates_shared(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents")
    as_bytes = lambda c: F.decode(F.encode(c, "UTF-8"), "ISO-8859-1")  # noqa: E731
    nt = docs.select("doc_id", as_bytes(_norm()).alias("ntext"))
    a = nt.select(F.col("doc_id").alias("doc_id_a"), F.col("ntext").alias("ta"))
    b = nt.select(F.col("doc_id").alias("doc_id_b"), F.col("ntext").alias("tb"))
    la = F.length("ta").cast("bigint")
    lb = F.length("tb").cast("bigint")
    longest = F.greatest(la, lb)
    pre = (
        cand.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        # necessary condition on lengths alone — prunes before the
        # metric; implied by the final threshold, so the oracle's
        # single WHERE is semantically identical
        .filter((longest - F.least(la, lb)) * EDIT_REL_DEN <= longest)
        .select(
            "doc_id_a",
            "doc_id_b",
            "ta",
            "tb",
            la.alias("len_a"),
            lb.alias("len_b"),
            F.floor(longest / EDIT_REL_DEN).cast("int").alias("__thr"),
        )
    )
    # banded metric: exact when ≤ __thr, -1 above — and -1 is exactly
    # the set the relative threshold discards (see docstring proof)
    dist = F.expr("levenshtein(ta, tb, __thr)").cast("bigint")
    return (
        pre.withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") >= 0)
        .select(
            "doc_id_a",
            "doc_id_b",
            "edit_dist",
            "len_a",
            "len_b",
            (
                F.col("edit_dist").cast("double")
                / F.greatest("len_a", "len_b", F.lit(1).cast("bigint")).cast(
                    "double"
                )
            ).alias("rel_dist"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash: per-doc 60-bit signature (tf-weighted sign-sum of token-
# hash bits). Map-only; near-dup = small Hamming distance.
# ---------------------------------------------------------------------------
_SIMHASH_BITS = 60


def _simhash_cte() -> str:
    """The signature construction as DuckDB CTEs (``sig(doc_id,
    simhash)``) — shared verbatim by the fingerprint oracle and the
    Hamming-pairs oracle so the two can never drift."""
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hv,"
        f" h -> 2 * ((h >> {b}) & 1) - 1)) >= 0"
        f" THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    return f"""tok AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    hs AS (
      SELECT doc_id,
             list_transform(toks, t -> {_h60_sql('t')}) AS hv
      FROM tok
    ),
    sig AS (
      SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM hs
    )"""


def _simhash_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — the Spark twin of ``_simhash_cte``.

    Formulation A/B history: 60 per-bit interpreted ``aggregate``
    traversals measured 1.56s for 5000 docs at sf0.1 and ~2s of
    Catalyst analysis for the 60-aggregate expression tree; the
    60-wide array-accumulator single traversal was no better (1.68s —
    HOF lambdas run interpreted either way). Round-9: the token
    hashes stay a JVM expression (codegen'd md5 — ``transform(_tokens
    (), _h60)``, identical to ``_simhash_cte``'s ``hv``), and the
    sign-sum bit fold moves to an Arrow pass (guide §4.2 — hand whole
    batches to numpy): per batch, one 1-D cumsum per bit over the
    concatenated hash stream gives every doc's tf-weighted bit sum
    with exact integer arithmetic, so the signature is bit-identical
    to the expression form (pinned in tests/test_dedup.py)."""
    hv = F.transform(_tokens(), _h60)
    return docs.select("doc_id", hv.alias("hv")).select(
        "doc_id", _simhash_bits_udf()("hv").alias("simhash")
    )


def _simhash_bits_udf():
    """Arrow-vectorized sign-sum bit fold: array<long> of 60-bit token
    hashes → the 60-bit simhash signature. Exact-integer replica of
    the per-bit ``aggregate`` expression (sum over tokens of
    ``2·bit − 1``; bit set iff sum ≥ 0 — an EMPTY hv folds to 0 from
    the zero initializer, so all bits set, matching the expression
    form). Per-bit 1-D cumsums keep transient memory at two
    flat-stream-sized vectors instead of a (tokens × 60) matrix."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def simhash(hvs):
        n = len(hvs)
        if n == 0:
            return pd.Series([], dtype="int64")
        # None -> empty array (all-bits-set signature), matching the
        # NULL-in/NULL-out-adjacent behavior of the replaced JVM
        # aggregate; currently unreachable through _tokens() (which
        # coalesces NULL text), but a future caller without that
        # tokenizer must not crash the whole Arrow batch (advisor r9).
        arrs = [
            np.asarray(v, dtype=np.int64)
            if v is not None
            else np.empty(0, dtype=np.int64)
            for v in hvs
        ]
        lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=n)
        ends = np.cumsum(lens)
        starts = ends - lens
        flat = (
            np.concatenate(arrs)
            if ends[-1] > 0
            else np.empty(0, dtype=np.int64)
        )
        sig = np.zeros(n, dtype=np.int64)
        z = np.zeros(1, dtype=np.int64)
        for b in range(_SIMHASH_BITS):
            contrib = (((flat >> b) & 1) * 2 - 1).astype(np.int64)
            cs = np.concatenate([z, np.cumsum(contrib)])
            sums = cs[ends] - cs[starts]
            sig |= (sums >= 0).astype(np.int64) << b
        return pd.Series(sig)

    return simhash


@shared_pass
def _simhash_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached materialized signature pass — the fingerprint
    query and the Hamming-pairs query both consume it, and its
    per-plan fixed cost (Catalyst analysis of the 60-aggregate
    expression, ~2s — flat across every tier, so planning not
    execution) is paid once per (app, sf_dir) like the shingle and
    hyperplane-signature passes."""
    return materialize(
        _simhash_frame(read_table(spark, sf_dir, "documents"))
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_simhash_cte()}
    SELECT doc_id, simhash FROM sig
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash. The whole signature is array expressions over
    one row — zero shuffles; at 100 TB this is a pure map stage (and
    the natural pre-filter in front of exact-Jaccard verification)."""
    return _simhash_shared(spark, sf_dir)


# ---------------------------------------------------------------------------
# SimHash near-dup PAIRS — the fingerprint turned into a dedup
# operator (Manku, Jain & Das Sarma, WWW 2007: Google's web-crawl
# near-dup detection). Pigeonhole candidate generation: split the
# 60-bit signature into 4 bands of 15 bits — any pair within Hamming
# distance 3 must agree EXACTLY on at least one band, so candidates
# are self-joins within (band, band-value) buckets, never all-pairs.
# The shared HOT_BUCKET_CAP bounds any band bucket allowed into the
# join (same posture and same constant as both LSH fronts; over-cap
# buckets are degenerate collisions — exact dupes caught upstream).
# Verification is exact: bit_count(xor) <= 3, one integer op per
# candidate. Scale: one map-only signature pass, a 4x band explode,
# one shuffle on 8-byte (band, value) keys, broadcast cap anti-
# filter — candidate volume is linear in docs for a dispersed corpus.
# ---------------------------------------------------------------------------
_SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = _SIMHASH_BITS // _SIMHASH_BANDS  # 15
_SIMHASH_BAND_MASK = (1 << _SIMHASH_BAND_BITS) - 1
_SIMHASH_HAM_MAX = _SIMHASH_BANDS - 1  # pigeonhole guarantee


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_simhash_cte()},
    bands AS (
      SELECT doc_id, simhash, band,
             (simhash >> ({_SIMHASH_BAND_BITS} * band))
               & {_SIMHASH_BAND_MASK} AS bkey
      FROM sig, (SELECT unnest(range({_SIMHASH_BANDS})) AS band)
    ),
    ok_buckets AS (
      SELECT band, bkey FROM bands GROUP BY band, bkey
      HAVING count(*) BETWEEN 2 AND {HOT_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS s_a, b.simhash AS s_b
      FROM bands a
      JOIN ok_buckets c ON a.band = c.band AND a.bkey = c.bkey
      JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
           AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(s_a, s_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(s_a, s_b)) <= {_SIMHASH_HAM_MAX}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Hamming distance <= 3 over the 60-bit
    SimHash — banded candidates, exact xor/popcount verify."""
    sig = _simhash_shared(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array([F.lit(i) for i in range(_SIMHASH_BANDS)])
        ).alias("band"),
    ).withColumn(
        "bkey",
        F.expr(
            f"shiftright(simhash, {_SIMHASH_BAND_BITS} * band)"
            f" & {_SIMHASH_BAND_MASK}"
        ),
    )
    ok_buckets = (
        bands.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= HOT_BUCKET_CAP))
        .select("band", "bkey")
    )
    left = bands.join(F.broadcast(ok_buckets), ["band", "bkey"])
    right = bands.select(
        "band",
        "bkey",
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("s_b"),
    )
    cand = (
        left.select(
            "band",
            "bkey",
            F.col("doc_id").alias("doc_a"),
            F.col("simhash").alias("s_a"),
        )
        .join(right, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "s_a", "s_b")
        .distinct()
    )
    ham = F.expr("bit_count(s_a ^ s_b)").cast("bigint")
    return cand.withColumn("hamming", ham).filter(
        F.col("hamming") <= _SIMHASH_HAM_MAX
    ).select("doc_a", "doc_b", "hamming")


# ---------------------------------------------------------------------------
# Train/test decontamination: corpus docs sharing any shingle with a
# benchmark set (here: doc_id < 10 stands in for the eval set). The
# inverted-index join touches only shingles the benchmark actually
# contains — at 100 TB the benchmark side is tiny and broadcast, so
# the scan of the corpus is one pass with a broadcast probe.
# ---------------------------------------------------------------------------
N_BENCHMARK = 10


@query(
    "dedup_contamination",
    oracle=f"""
    {_DOC_SHINGLES_SQL}
    SELECT c.doc_id AS doc_id,
           count(DISTINCT c.h) AS n_shared_shingles
    FROM e c
    JOIN (SELECT DISTINCT h FROM e WHERE doc_id < {N_BENCHMARK}) b
      ON c.h = b.h
    WHERE c.doc_id >= {N_BENCHMARK}
    GROUP BY c.doc_id
    """,
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag corpus documents overlapping the benchmark's shingle set
    (with the shared-shingle count as the contamination strength)."""
    e, _ = _doc_shingles(spark, sf_dir)
    bench = (
        e.filter(F.col("doc_id") < N_BENCHMARK).select("h").distinct()
    )
    corpus = e.filter(F.col("doc_id") >= N_BENCHMARK)
    return (
        corpus.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n_shared_shingles"))
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the verified LSH
# pair graph. Pairs aren't actionable — a pipeline keeps ONE doc per
# duplicate GROUP, and groups are the transitive closure of pairs.
# ---------------------------------------------------------------------------


def lsh_pairs_oracle_sql() -> str:
    """The verified LSH pair set as a standalone DuckDB query —
    consumed by tools/selfcheck.py's union-find CC replay at large
    corpora: the pair GENERATION stays the engine-independent oracle
    CTE chain below; only the transitive closure (which DuckDB's
    recursive CTE re-derives in O(E·diameter) — ~20 min solo at
    500k docs, see SCALING.md) is folded by an O(E·α) union-find."""
    return f"{_lsh_pairs_ctes()}\n    SELECT doc_id_a, doc_id_b FROM lsh_pairs"


def _cc_ctes() -> str:
    # Recursive-transitive-closure CTE chain ending in ``lab``
    # (doc_id, cluster_id) — shared by the clustering oracle and the
    # keep-best oracle so the closure definition can never drift.
    body = _lsh_pairs_ctes().lstrip()
    assert body.startswith("WITH ")
    return f"""
    WITH RECURSIVE {body[len("WITH "):]},
    edges AS MATERIALIZED (
      SELECT doc_id_a AS a, doc_id_b AS b FROM lsh_pairs
      UNION ALL
      SELECT doc_id_b, doc_id_a FROM lsh_pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    lab AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    )"""


def _cc_oracle() -> str:
    # DuckDB twin: recursive transitive closure (the fixture pair
    # graph is tiny; the driver runs oracles at sf0.01).
    return f"""
    {_cc_ctes()}
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           doc_id = cluster_id AS is_canonical
    FROM lab
    """


@shared_pass
def clusters_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CC label table materialized ONCE per (application, sf_dir)
    — same shared-intermediate policy as ``lsh_pairs_shared`` /
    ``pagerank_shared``: three queries consume the labels (clusters
    itself, keep-best, keep-central), and the star-contraction rounds
    plus their reliable checkpoints are identical work per consumer.
    Bench's cold pass pays the CC machinery once per session."""
    return materialize(_clusters_build(spark, sf_dir))


@query("dedup_clusters", oracle=_cc_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH near-dup pairs: every doc
    gets ``cluster_id`` = the minimum doc_id reachable through the
    pair graph (itself if unpaired), and ``is_canonical`` marks the
    per-cluster survivor — the row a dedup pass keeps. Served off the
    shared label materialization (``clusters_shared``); the build
    below is the real operator.

    Execution is alternating large-star/small-star
    (``operators.graph.connected_components``): O(log n) rounds
    regardless of component diameter, so chain-shaped duplicate
    clusters (doc A ~ B ~ C ~ … with no direct A~Z pair) converge —
    the round-2 min-label propagation was O(diameter) and SILENTLY
    returned wrong labels past its 20-round cap; the star operator
    raises on non-convergence instead. Per-round state is RELIABLY
    checkpointed (flat plans, survives executor loss — see
    ``operators.graph._reliable_checkpoint``), and the convergence
    probe is a count + one-row containment check, never a data
    collect."""
    return clusters_shared(spark, sf_dir)


def _clusters_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CC build behind ``clusters_shared`` (see
    ``dedup_clusters``'s docstring for the operator contract)."""
    pairs = lsh_pairs_shared(spark, sf_dir).select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    )
    labels, _rounds = connected_components(pairs)
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(labels, docs.doc_id == labels.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id"))
            .cast("bigint")
            .alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


# ---------------------------------------------------------------------------
# Quality-aware canonical selection: production dedup keeps the BEST
# member of each near-dup cluster, not the lowest id — the usual rule
# is longest-document-first (more content survives), with a stable id
# tiebreak. Composes directly on the clustering so the two can never
# disagree about membership.
# ---------------------------------------------------------------------------
@query(
    "dedup_keep_best",
    oracle=f"""
    {_cc_ctes()},
    tokc AS (
      SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT l.doc_id,
           CAST(l.cluster_id AS BIGINT) AS cluster_id,
           t.n_tokens,
           row_number() OVER (PARTITION BY l.cluster_id
                              ORDER BY t.n_tokens DESC, l.doc_id) = 1
               AS is_kept
    FROM lab l JOIN tokc t USING (doc_id)
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster survivor selection by quality: within each near-dup
    cluster keep the LONGEST document (token count), tie-broken by
    lowest doc_id — the keep-best rule production dedup uses instead
    of ``dedup_clusters``' keep-lowest-id canonical flag.

    Scale posture: reuses the clustering output (which itself rides
    the session-cached verified-pair materialization), joins one
    integer token count per doc, and ranks inside clusters — window
    partitions are CLUSTER-sized (bounded by the duplicate-group
    size, overwhelmingly 1), never corpus-sized, so the rank is a
    skew-free shuffle on cluster_id at any corpus scale."""
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = read_table(spark, sf_dir, "documents")
    tokc = docs.select(
        "doc_id", F.size(_tokens()).cast("bigint").alias("n_tokens")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    return (
        clusters.join(tokc, "doc_id")
        .withColumn("is_kept", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "n_tokens", "is_kept")
    )


# ---------------------------------------------------------------------------
# Per-source dedup observability: the report a pipeline operator
# actually watches — which ingest sources are flooding the corpus
# with duplicates (a crawl tier gone bad shows up here first).
# ---------------------------------------------------------------------------
@query(
    "dedup_source_stats",
    oracle=f"""
    WITH d AS (
      SELECT source, md5({_NORM_SQL}) AS content_digest FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(count(DISTINCT content_digest) AS BIGINT) AS n_distinct,
           CAST(count(*) - count(DISTINCT content_digest) AS BIGINT)
               AS n_dup_rows,
           (count(*) - count(DISTINCT content_digest)) / count(*) AS dup_rate
    FROM d
    GROUP BY source
    """,
)
def dedup_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rates over normalized digests.
    Shuffles (source, digest) only — count-distinct runs as Spark's
    two-phase partial/final expand, never materializing per-source
    digest sets; at 100 TB this is the same one-report-row-per-source
    shape regardless of corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    d = docs.select("source", F.md5(_norm()).alias("content_digest"))
    n = F.count(F.lit(1))
    nd = F.countDistinct("content_digest")
    return d.groupBy("source").agg(
        n.alias("n_docs"),
        nd.alias("n_distinct"),
        (n - nd).alias("n_dup_rows"),
        ((n - nd) / n).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: classify a NEW batch of docs against the already-
# ingested corpus — the shape a production pipeline actually runs
# (never re-dedup the whole corpus per ingest). Here doc_id >= N_OLD
# stands in for the new batch.
# ---------------------------------------------------------------------------
N_OLD = 400  # existing corpus: doc_id < N_OLD


@query(
    "dedup_incremental",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, md5({_NORM_SQL}) AS content_digest FROM documents
    ),
    old_digests AS (
      SELECT DISTINCT content_digest FROM d WHERE doc_id < {N_OLD}
    ),
    new_batch AS (
      SELECT doc_id, content_digest,
             min(doc_id) OVER (PARTITION BY content_digest) AS first_in_batch
      FROM d WHERE doc_id >= {N_OLD}
    )
    SELECT n.doc_id, n.content_digest,
           CASE WHEN o.content_digest IS NOT NULL THEN 'dup_of_corpus'
                WHEN n.doc_id > n.first_in_batch THEN 'dup_in_batch'
                ELSE 'unique' END AS status
    FROM new_batch n LEFT JOIN old_digests o
      ON o.content_digest = n.content_digest
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch dedup against the corpus digest set: each new doc is
    'dup_of_corpus' (digest already ingested), 'dup_in_batch' (an
    earlier doc in the same batch has it), or 'unique'.

    Scale posture: only the NEW batch is scanned for classification;
    the corpus side contributes just its distinct digest column (at
    100 TB that digest index is a bucketed table the join co-locates
    on — here the fixture-sized set broadcasts). The within-batch
    first-wins uses one window over the batch's own digests."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.md5(_norm()).alias("content_digest"))
    old_digests = (
        d.filter(F.col("doc_id") < N_OLD).select("content_digest").distinct()
    )
    new_batch = d.filter(F.col("doc_id") >= N_OLD).withColumn(
        "first_in_batch",
        F.min("doc_id").over(Window.partitionBy("content_digest")),
    )
    return (
        new_batch.join(
            old_digests.withColumnRenamed("content_digest", "od").hint("broadcast"),
            new_batch.content_digest == F.col("od"),
            "left",
        )
        .select(
            "doc_id",
            "content_digest",
            F.when(F.col("od").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("doc_id") > F.col("first_in_batch"), F.lit("dup_in_batch"))
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental NEAR-dup: classify a new ingest batch against the
# corpus's LSH band-bucket index — the near-dup completion of
# ``dedup_incremental`` (which catches exact digests only). Production
# shape: the corpus keeps a persisted (band_key → doc) index; ingest
# computes batch signatures map-only and probes it; the corpus is
# never re-paired against itself.
# ---------------------------------------------------------------------------
def _inc_minhash_oracle() -> str:
    return f"""
    {_lsh_pairs_ctes()},
    cross_pairs AS (
      -- corpus ids < {N_OLD} <= batch ids, so batch-vs-corpus pairs
      -- are exactly the verified pairs straddling the boundary
      SELECT doc_id_a AS corpus_doc_id, doc_id_b AS doc_id, jaccard
      FROM lsh_pairs
      WHERE doc_id_a < {N_OLD} AND doc_id_b >= {N_OLD}
    ),
    best AS (
      SELECT doc_id, corpus_doc_id, jaccard,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY jaccard DESC, corpus_doc_id) AS rn
      FROM cross_pairs
    )
    SELECT d.doc_id,
           b.corpus_doc_id AS matched_doc_id,
           b.jaccard AS best_jaccard,
           CASE WHEN b.corpus_doc_id IS NOT NULL THEN 'near_dup_of_corpus'
                ELSE 'unique' END AS status
    FROM documents d
    LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
    WHERE d.doc_id >= {N_OLD}
    """


@query("dedup_incremental_minhash", oracle=_inc_minhash_oracle())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each new-batch doc either near-duplicates some corpus doc
    (best match by exact Jaccard ≥ {JACCARD_THRESHOLD}, ties to the
    lowest corpus id) or is 'unique' against the corpus. Within-batch
    near-dup is the pair query run on the batch alone; corpus-side
    self-pairs are never generated here — candidates are
    batch-probes × corpus-index bucket hits only, so probe cost is
    O(batch × bucket hit rate), independent of corpus size.

    Scale posture: the corpus band table is written once (bucketed by
    band_key at 100 TB so the probe join is co-located); the batch
    side is one map-only Arrow signature pass over new docs. The
    verification join touches only candidate pairs' shingle arrays,
    and the best-match window partitions by batch doc — batch-sized,
    never corpus-sized. The oracle replays the FULL pair pipeline and
    filters to boundary-straddling pairs, so this query's cheaper
    candidate generation is differentially proven equivalent."""
    docs = read_table(spark, sf_dir, "documents")
    sh = _shingle_arrays(spark, sf_dir)
    # Same hot-bucket cap as the full pair pipeline, keyed on TOTAL
    # bucket size (corpus + batch) — the oracle replays the full
    # chain, so the probe must skip exactly the buckets it skips.
    bands = _capped_bands(spark, sf_dir)
    corpus_idx = bands.filter(F.col("doc_id") < N_OLD).select(
        F.col("doc_id").alias("corpus_doc_id"), "band_key"
    )
    probes = bands.filter(F.col("doc_id") >= N_OLD)
    cand = (
        probes.join(corpus_idx, "band_key")
        .select("doc_id", "corpus_doc_id")
        .distinct()
    )
    return _inc_best_match(docs, sh, cand)


def _inc_best_match(
    docs: DataFrame,
    sh: DataFrame,
    cand: DataFrame,
    sh_corpus: DataFrame | None = None,
) -> DataFrame:
    """Shared verify + best-match tail of the incremental near-dup
    probes: exact-Jaccard the candidate (batch doc, corpus doc)
    pairs, keep each batch doc's best corpus match at the threshold
    (ties to the lowest corpus id), and left-join the full batch so
    non-matching docs report 'unique'. The window partitions by
    batch doc — batch-sized state, never corpus-sized.

    ``sh_corpus`` (round-9): when the corpus side's shingle arrays
    come from a COMMITTED artifact (the persisted probe) instead of
    the session-wide pass, pass them as (corpus_doc_id, harr) so the
    verify never touches a corpus-wide in-session pass."""
    from pyspark.sql import Window

    shb = sh.select(F.col("doc_id"), F.col("harr").alias("sh_new"))
    if sh_corpus is None:
        shc = sh.select(
            F.col("doc_id").alias("corpus_doc_id"),
            F.col("harr").alias("sh_old"),
        )
    else:
        shc = sh_corpus.select(
            "corpus_doc_id", F.col("harr").alias("sh_old")
        )
    common = F.size(F.array_intersect("sh_new", "sh_old")).cast("bigint")
    verified = (
        cand.join(shb, "doc_id")
        .join(shc, "corpus_doc_id")
        .select(
            "doc_id",
            "corpus_doc_id",
            (
                common
                / (
                    F.size("sh_new").cast("bigint")
                    + F.size("sh_old").cast("bigint")
                    - common
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("corpus_doc_id")
    )
    best = verified.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        docs.filter(F.col("doc_id") >= N_OLD)
        .select("doc_id")
        .join(best.select("doc_id", "corpus_doc_id", "jaccard"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("corpus_doc_id").alias("matched_doc_id"),
            F.col("jaccard").alias("best_jaccard"),
            F.when(
                F.col("corpus_doc_id").isNotNull(), F.lit("near_dup_of_corpus")
            )
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted corpus band index: sim_topk_ivf_persisted's pattern on the
# text-dedup front (round-6 verdict item 6). The (band_key → corpus
# doc) index every incremental-probe docstring gestures at is
# COMMITTED through SnapshotStore — a durable, versioned artifact with
# an fsync'd manifest, not a session cache — hive-partitioned by a
# 64-way band bucket and range-clustered by band_key within each
# bucket (file min/max footers carve the key space). The probe reads
# the committed files with Dynamic Partition Pruning off the broadcast
# batch join: only the bucket directories the batch's band keys hash
# into are listed, so a trickle ingest against a 100 TB corpus index
# touches a sliver of it and the corpus is never re-paired against
# itself. Same answer set as dedup_incremental_minhash (identical cap,
# verify, best-match), so it shares that oracle.
# ---------------------------------------------------------------------------
BAND_INDEX_BUCKETS = 64


def _band_bucket(key: Column) -> Column:
    """Low-cardinality hive-partition column for the committed index:
    band_key is already an xxhash64, so a pmod is a uniform 64-way
    split (pmod, not %, for the negative half of the hash space)."""
    return F.pmod(key, F.lit(BAND_INDEX_BUCKETS)).cast("int")


@shared_pass
def _band_index_committed(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """Commit the corpus-side probe artifacts once per (application,
    sf_dir) and return the read-back DataFrames:

    - ``band_index`` (corpus_doc_id, band_key, band_bucket) —
      ``partition_by band_bucket`` (the DPP prune unit) composed with
      ``cluster_by band_key`` (disjoint key ranges per file → footer
      min/max skipping for point probes).
    - ``band_counts`` (band_key, c_idx) — per-bucket corpus
      occupancy, so the probe's hot-bucket cap (keyed on TOTAL
      bucket size, corpus + batch, exactly like the full-chain
      oracle) is a join against committed metadata instead of a
      corpus-wide count pass at probe time.
    - ``corpus_shingles`` (corpus_doc_id, harr) — the verify step's
      corpus side, so exact-Jaccard verification reads committed
      arrays instead of the session-wide shingle pass.

    Round-9: the index builds from the CORPUS SLICE of the documents
    scan directly (doc_id pushdown → row-group pruning), not by
    filtering the corpus-wide ``_band_table_shared`` pass — the
    commit job is O(corpus) and the probe never triggers a pass
    sized to the whole table (the round-8 decade receipt grew with
    the tier for exactly that reason). ``SnapshotStore.read`` takes
    the schema from the manifest, so an empty corpus (zero files,
    zero partition dirs) reads back as an empty scan. The cache keeps
    the read-back DataFrames, so a probe re-reads no manifest. Store
    location policy is ``plans.snapshots.index_dir``."""
    from ..plans.snapshots import SnapshotStore, index_dir

    store = SnapshotStore(spark, index_dir(spark, "band", sf_dir))
    corpus_docs = spread(
        read_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < N_OLD
        )
    )
    sh = materialize(
        corpus_docs.select(
            F.col("doc_id").alias("corpus_doc_id"),
            _shingles_udf()("text").alias("harr"),
        )
    )
    bands = materialize(
        _band_table(
            sh.select(F.col("corpus_doc_id").alias("doc_id"), "harr")
        ).select(
            F.col("doc_id").alias("corpus_doc_id"),
            "band_key",
            _band_bucket(F.col("band_key")).alias("band_bucket"),
        )
    )
    counts = bands.groupBy("band_key").agg(
        F.count(F.lit(1)).alias("c_idx")
    )
    store.commit(
        {
            "band_index": bands,
            "band_counts": counts,
            "corpus_shingles": sh,
        },
        partition_by={"band_index": ["band_bucket"]},
        cluster_by={"band_index": (["band_key"], 2)},
    )
    # a rebuild after reset_session_caches supersedes the last one
    store.vacuum(retain_last=1)
    sh.unpersist()
    bands.unpersist()
    return {
        n: store.read(n)
        for n in ("band_index", "band_counts", "corpus_shingles")
    }


@shared_pass
def _batch_signing(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Sign ONLY the ingest batch: (shingle arrays, band table) for
    ``doc_id >= N_OLD``, computed from the documents scan directly —
    doc_id pushdown prunes row groups, so a trickle batch against a
    huge table reads a sliver. This is the round-9 fix for the fixed-batch decade receipt: the probe
    previously filtered the CORPUS-WIDE ``_band_table_shared`` pass,
    so a constant 50k-doc batch still paid a pass sized to the whole
    table (1.13 → 3.98 s across the sf10→sf100 step). Session-cached
    per (application, sf_dir) like every shared pass; both frames
    are batch-sized."""

    docs = spread(
        read_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") >= N_OLD
        )
    )
    sh = materialize(
        docs.select("doc_id", _shingles_udf()("text").alias("harr"))
    )
    return (sh, materialize(_band_table(sh)))


@query("dedup_incremental_persisted", oracle=_inc_minhash_oracle())
def dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental_minhash`` probing the COMMITTED corpus band
    index instead of the session-cached band table: identical results
    (it shares the oracle — same hot-bucket cap, Jaccard verify, and
    best-match tail), but the corpus side is the durable SnapshotStore
    artifact and the probe scan carries a ``dynamicpruning`` subquery
    on band_bucket (pinned in tests/test_dedup.py) — only the bucket
    directories the batch actually hashes into are read.

    Scale posture: the index is written once per corpus version
    (an offline job exactly like the IVF build); each ingest batch is
    one map-only Arrow signature pass + one broadcast probe join, so
    probe cost is O(batch × bucket hit rate) against committed files
    — the never-re-dedup-the-corpus shape with the durability story
    attached. The hot-bucket filter needs only the BATCH side: a
    candidate pair requires band_key equality, so dropping hot keys
    from the probe side alone keeps the scan side filter-free (and
    DPP-eligible) while producing the exact capped candidate set.

    Decade-audit note (round-7 verdict item 4, warm probe 6.4s →
    14.1s on the 10× sf10→sf100 step): on the synthetic tiers the
    "corpus" is the FIXED doc_id < N_OLD slice (400 docs — the
    committed index is ~6,400 rows at every tier), while the BATCH is
    everything else and therefore grows 10× per tier (499,600 docs at
    sf10 → 4,999,600 at sf100). A fixed-size-batch probe (constant
    input against the committed index) was measured across tiers in
    the round-9 fixed-batch receipt (SCALING.md, Decade 3, structural
    fix 3: a constant 50k-doc batch probes in 0.81 s at sf10 and
    0.74 s at sf100).

    Round-9 (verdict item 3): every input is now sized to the BATCH
    or to committed metadata — batch shingles/bands sign
    the batch's documents directly (``_batch_signing``), the
    hot-bucket cap joins the batch's own bucket counts against the
    committed ``band_counts`` table (total = corpus + batch, exactly
    the full-chain oracle's cap key; corpus-only hot buckets have no
    batch member, hence no candidates, so batch-present keys
    suffice), and exact-Jaccard verification reads the committed
    ``corpus_shingles``. Nothing in the probe scans a pass sized to
    the whole table, so the constant-batch receipt is structurally
    flat across tiers."""
    docs = read_table(spark, sf_dir, "documents")
    committed = _band_index_committed(spark, sf_dir)
    sh_b, bands_b = _batch_signing(spark, sf_dir)
    # Hot-bucket cap on TOTAL bucket size (committed corpus counts +
    # this batch's counts).
    hot = (
        bands_b.groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("c_b"))
        .join(committed["band_counts"], "band_key", "left")
        .filter(
            F.col("c_b") + F.coalesce(F.col("c_idx"), F.lit(0))
            > HOT_BUCKET_CAP
        )
        .select("band_key")
    )
    return _probe_committed(
        committed, docs.filter(F.col("doc_id") >= N_OLD), sh_b, bands_b, hot
    )


def _probe_committed(
    committed: dict[str, DataFrame],
    docs: DataFrame,
    sh: DataFrame,
    bands: DataFrame,
    hot: DataFrame,
) -> DataFrame:
    """Best committed-corpus match of each batch doc: the batch's
    (doc_id, band_key) ``bands`` minus the ``hot`` band keys probe the
    committed band index on [band_bucket, band_key], and the distinct
    candidates verify against the committed corpus shingles
    (``_inc_best_match``). ``docs`` and ``sh`` are the batch's rows and
    shingle arrays.

    Hot keys are rare by definition, so the set broadcasts at any
    corpus size while the batch side stays map-only (left_anti), same
    shape as _capped_bands. The batch side itself is NOT
    force-broadcast: a trickle batch is kilobytes and the planner
    broadcasts it unhinted — which is what arms DPP
    (reuseBroadcastOnly) — while a bulk backfill batch is corpus-sized
    and force-broadcasting it collected 80M rows through the driver
    at the sf100 tier (driver.maxResultSize abort; 73s of
    collect+relation-build at sf10). In the bulk shape the planner
    instead broadcasts the small COMMITTED-INDEX side and the batch
    stays map-only — the correct plan in both regimes, chosen by
    size, not by hint."""
    batch = bands.join(F.broadcast(hot), "band_key", "left_anti").withColumn(
        "band_bucket", _band_bucket(F.col("band_key"))
    )
    cand = (
        committed["band_index"]
        .join(
            batch.select("doc_id", "band_key", "band_bucket"),
            ["band_bucket", "band_key"],
        )
        .select("doc_id", "corpus_doc_id")
        .distinct()
    )
    return _inc_best_match(docs, sh, cand, sh_corpus=committed["corpus_shingles"])


# ---------------------------------------------------------------------------
# STREAMING ingest dedup: the probe family's production shape made a
# Structured Streaming entry. Document batches arrive as a file
# stream; each micro-batch is classified against the COMMITTED corpus
# band index inside foreachBatch and appended EXACTLY-ONCE (the
# SnapshotStore batch-marker sink of streaming/ingest.py — a replayed
# batch after a crash is a no-op) to a durable results table.
#
# Contract: classification is per-doc against the committed corpus
# ONLY, with the hot-bucket cap keyed on COMMITTED-CORPUS occupancy —
# the only occupancy an online system knows at arrival. That makes
# the answer a pure function of (corpus index, the single doc):
# batch-partitioning-independent, redelivery-safe, and exactly
# SQL-replayable (oracle below). The offline twins key their cap on
# corpus+batch (dedup_incremental_persisted) / the full table
# (dedup_incremental_minhash); the three flavors agree whenever no
# bucket crosses the cap only under summed-batch occupancy — the
# fixtures' buckets max out at 4 docs vs CAP=64, and the streaming
# flavor's own cap semantics are pinned by an adversarial pytest.
# ---------------------------------------------------------------------------
def _stream_ingest_oracle() -> str:
    return f"""
    {_bands_ctes()},
    corpus_ok AS (
      -- hot-bucket cap on COMMITTED-CORPUS occupancy only (see the
      -- contract note): buckets the committed index lists more than
      -- CAP times are degenerate collisions, dropped from probing
      SELECT band, band_key FROM bands WHERE doc_id < {N_OLD}
      GROUP BY band, band_key
      HAVING count(*) <= {HOT_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT c.doc_id AS corpus_doc_id, p.doc_id
      FROM bands c
      JOIN corpus_ok k ON k.band = c.band AND k.band_key = c.band_key
      JOIN bands p ON p.band = c.band AND p.band_key = c.band_key
      WHERE c.doc_id < {N_OLD} AND p.doc_id >= {N_OLD}
    ),
    verified AS (
      SELECT c.doc_id, c.corpus_doc_id, count(*) AS common
      FROM cand c
      JOIN e ea ON ea.doc_id = c.doc_id
      JOIN e eb ON eb.doc_id = c.corpus_doc_id AND eb.h = ea.h
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT v.doc_id, v.corpus_doc_id,
             v.common / (nn.n_shingles + nc.n_shingles - v.common)
                 AS jaccard
      FROM verified v
      JOIN sizes nn ON nn.doc_id = v.doc_id
      JOIN sizes nc ON nc.doc_id = v.corpus_doc_id
      WHERE v.common / (nn.n_shingles + nc.n_shingles - v.common)
            >= {JACCARD_THRESHOLD}
    ),
    best AS (
      SELECT doc_id, corpus_doc_id, jaccard,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY jaccard DESC, corpus_doc_id) AS rn
      FROM scored
    )
    SELECT d.doc_id,
           b.corpus_doc_id AS matched_doc_id,
           b.jaccard AS best_jaccard,
           CASE WHEN b.corpus_doc_id IS NOT NULL THEN 'near_dup_of_corpus'
                ELSE 'unique' END AS status
    FROM documents d
    LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
    WHERE d.doc_id >= {N_OLD}
    """


def _batch_shingles(batch_docs: DataFrame) -> DataFrame:
    """(doc_id, harr): the Arrow shingle signing of an ingest batch's
    (doc_id, text, ...) rows."""
    return batch_docs.select("doc_id", _shingles_udf()("text").alias("harr"))


def _probe_classify_batch(
    spark: SparkSession, sf_dir: str, sh_b: DataFrame
) -> DataFrame:
    """Classify ONE ingest batch, given as its ``_batch_shingles``,
    against the committed corpus artifacts — the per-micro-batch body
    of the streaming entry: band signing over the batch's shingles,
    then ``_probe_committed`` with the hot keys taken from committed
    corpus occupancy alone. The plan reads ``sh_b`` three times (the
    batch's doc ids, its bands and its verify side)."""
    committed = _band_index_committed(spark, sf_dir)
    hot = committed["band_counts"].filter(
        F.col("c_idx") > HOT_BUCKET_CAP
    ).select("band_key")
    return _probe_committed(committed, sh_b, sh_b, _band_table(sh_b), hot)


@query("docs_stream_ingest_dedup", oracle=_stream_ingest_oracle())
@shared_pass
def docs_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup classification of a document-ingest STREAM against the
    committed corpus band index — the never-re-dedup-the-corpus shape
    run end-to-end on the streaming path: file-source batches →
    foreachBatch probe (``_probe_classify_batch``) → exactly-once
    append into a durable SnapshotStore results table (batch-marker
    sink: crash-replayed batches are no-ops), then the table read
    back. Per-doc classification is batch-independent by contract
    (corpus-only cap — see the section note), so the union over
    micro-batches equals the one-shot answer regardless of how the
    stream was chopped, which is also what makes redelivery safety
    testable row-for-row.

    Scale posture: each micro-batch pays one Arrow signing pass over
    its own rows + one DPP-pruned probe of the committed index + a
    candidate-sized verify; state is the stream checkpoint and the
    store manifest — no stateful shuffle at all (the operator is
    stateless per batch), so STREAM_STATE_PARTITIONS is irrelevant
    here. At 100 TB this is the admission filter in front of the
    training corpus: the index is rebuilt per corpus version offline,
    batches classify in O(batch) forever."""

    import os as _os

    from ..plans.snapshots import SnapshotStore, index_dir
    from ..streaming.docs import stage_documents_batches
    from ..streaming.ingest import make_batch_sink
    from ..schemas import FIXTURE_SCHEMAS

    out_schema = (
        "doc_id bigint, matched_doc_id bigint, "
        "best_jaccard double, status string"
    )
    stage, n_files = stage_documents_batches(spark, sf_dir)
    if n_files == 0:  # no new docs → no batches → empty result
        return spark.createDataFrame([], out_schema)
    store = SnapshotStore(spark, index_dir(spark, "res", sf_dir))
    sink = make_batch_sink(store, "ingest_dedup", stream_id="docs")

    def classify_sink(batch_df: DataFrame, batch_id: int) -> None:
        # persisted for the sink's write only: the probe reads the
        # shingles three times, and each read would otherwise rescan
        # the batch's file and re-sign it
        sh_b = _batch_shingles(batch_df).persist()
        try:
            sink(_probe_classify_batch(spark, sf_dir, sh_b), batch_id)
        finally:
            sh_b.unpersist()

    stream = (
        spark.readStream.schema(FIXTURE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    ckpt = scratch_dir("ingest_dedup_ckpt")
    q = (
        stream.writeStream.foreachBatch(classify_sink)
        .option("checkpointLocation", _os.path.join(ckpt, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return store.read("ingest_dedup").select(
        "doc_id", "matched_doc_id", "best_jaccard", "status"
    )


# ---------------------------------------------------------------------------
# Exact repeated-span detection (substring-level dedup): positional
# K-gram hashes, a gram is "duplicated" when it occurs >= 2 times in
# the corpus, per-doc coverage = distinct token positions under any
# duplicated gram. This is the span-granular complement of the
# document-granular dedup family above (the reference dedups whole
# rows by key, buzzdb_lab1.cpp:202; training pipelines additionally
# cut REPEATED PASSAGES out of otherwise-unique documents).
# ---------------------------------------------------------------------------
SPAN_K = 5  # token width of the exact-match span unit

# The shared CTE chain of the span family (tokens → positional gram
# hashes → corpus-wide counts → flagged occurrences) — both span
# queries' oracles compose on `j` exactly like their Spark sides
# compose on the one materialized gram pass.
_SPAN_CTES = f"""
    tok AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(range(1, len(toks) - {SPAN_K} + 2)) AS pos, toks
      FROM tok WHERE len(toks) >= {SPAN_K}
    ),
    gh AS (
      SELECT doc_id, pos,
             {_h60_sql(f"array_to_string(toks[pos:pos+{SPAN_K - 1}], ' ')")} AS h
      FROM g
    ),
    cnt AS (
      SELECT h, CAST(count(*) AS BIGINT) AS c FROM gh GROUP BY h
    ),
    j AS (
      SELECT doc_id, pos, h, c FROM gh JOIN cnt USING (h)
    )"""

# Canonical-keep removal rule shared by the strip query and the
# capstone pipeline — composes after CTEs ``gh`` (doc_id, pos, h) and
# ``cnt`` (h, c). `_noncanonical_removal` below is its Spark twin;
# the rule (tie-break, threshold, coverage width) lives ONLY here and
# there.
_SPAN_REMOVAL_CTES = f"""
    nc AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, c,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM gh JOIN cnt USING (h)
      ) WHERE c >= 2 AND rn > 1
    ),
    rem AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + {SPAN_K})) AS p
      FROM nc
    )"""


def _dup_occurrences(grams: DataFrame) -> DataFrame:
    """Occurrences of gram hashes that appear >= 2 times corpus-wide,
    via a LEFT SEMI join against the filtered hash set. The semi join
    and the count share the same h-partitioned exchange of ``grams``
    (ReusedExchange), and every downstream consumer (window, per-doc
    aggs) now processes only the duplicated occurrences instead of
    the whole gram table — at real dup rates that is a small fraction
    of the corpus."""
    cnt = grams.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    dup_h = cnt.filter(F.col("c") >= 2).select("h")
    return grams.join(dup_h, "h", "left_semi")


def _noncanonical_starts(grams: DataFrame) -> DataFrame:
    """(doc_id, pos) START positions of NON-canonical duplicated-gram
    occurrences (canonical = corpus-wide lowest (doc_id, pos) per gram
    hash) — the single Spark statement of the canonical-keep rule;
    ``_SPAN_REMOVAL_CTES``'s ``nc`` is its SQL twin. Covered-position
    expansion is left to the CONSUMER as per-doc array arithmetic
    (round-8: the old explode-to-(doc_id,p)-and-distinct shape
    shuffled one row per covered TOKEN; both consumers only ever
    needed per-doc aggregates of the starts).

    Skew posture: the canonical pick is a per-h ``min(struct(doc_id,
    pos))`` — an ordinary PARTIAL-AGGREGABLE group-by (map-side
    combine collapses a boilerplate mega-gram — licence headers,
    navigation chrome, millions of occurrences corpus-wide — to one
    row per map task before the shuffle), NOT a
    ``partitionBy("h")`` row_number window, which would funnel every
    occurrence of that hash through ONE sort task at 100 TB (the
    round-5 verdict's remaining skew class). The join marking
    non-canonicals shuffles on the same h key (exchange reused with
    the count pass) and is an O(1) compare per row — a hot h spills
    at worst into AQE's skew-join splitting, which windows cannot
    use. (doc_id, pos) is unique per occurrence, so the min struct is
    a total-order pick — same rows as the rank>1 formulation, pinned
    by the span-family oracles and the planted hot-gram test in
    tests/test_dedup.py.

    Round-9 fusion (guide §2.4 — do fewer shuffles): the occurrence
    count and the canonical min(struct) are ONE partial-aggregable
    groupBy over the gram pass (previously two passes: a count
    feeding a semi join, then a second min agg over the survivors).
    The duplicated-h set with its canonical pick joins back once;
    rows are identical — occurrences of c>=2 hashes minus the per-h
    minimum (doc_id, pos)."""
    agg = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct("doc_id", "pos")).alias("__canon"),
        )
        .filter(F.col("__c") >= 2)
        .select("h", "__canon")
    )
    return (
        grams.join(agg, "h")
        .filter(
            (F.col("doc_id") != F.col("__canon.doc_id"))
            | (F.col("pos") != F.col("__canon.pos"))
        )
        .select("doc_id", "pos")
    )


def _removal_positions(grams: DataFrame) -> DataFrame:
    """Per-doc REMOVED token positions as one sorted-distinct bigint
    array: (doc_id, rem_ps) — the union of ``[pos, pos+SPAN_K-1]``
    over that doc's non-canonical duplicated-gram starts. ONE
    map-combinable shuffle of (doc_id, pos) start pairs (16 bytes a
    row); the expansion to covered positions is JVM array arithmetic
    on the doc-sized result, so no row per covered token ever crosses
    the wire — this replaced the explode+distinct shape the decade-3
    audit measured super-linear (13.7×) at sf100."""
    starts = _noncanonical_starts(grams)
    expand = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    "__starts",
                    lambda p: F.sequence(p, p + SPAN_K - 1),
                )
            )
        )
    )
    return (
        starts.groupBy("doc_id")
        .agg(F.collect_list(F.col("pos").cast("bigint")).alias("__starts"))
        .select("doc_id", expand.alias("rem_ps"))
    )


def _interval_union_count(positions, width: int):
    """Count of DISTINCT integer points covered by the union of
    ``[p, p + width - 1]`` intervals, as a pure JVM fold over the
    SORTED position array — equivalent to (and replacing) the
    explode + distinct + count shape, with zero extra shuffles.

    ``positions`` is an unsorted bigint-array column (e.g. a
    ``collect_list``) of values >= 1 (the accumulator's high-water
    mark starts at 0, i.e. "nothing at or below 0 covered" — gram
    positions are 1-based); the fold sorts it and carries
    (covered_count, highest_covered) through each interval, adding
    only the part of the new interval past the running high-water
    mark. Property-tested against a pure-Python set-union model in
    tests/test_property_ops.py."""
    k1 = F.lit(width - 1).cast("bigint")
    return F.aggregate(
        F.array_sort(positions),
        F.struct(
            F.lit(0).cast("bigint").alias("cov"),
            F.lit(0).cast("bigint").alias("hi"),
        ),
        lambda acc, p: F.struct(
            (
                acc["cov"]
                + F.greatest(p + k1 - F.greatest(acc["hi"], p - 1), F.lit(0))
            ).alias("cov"),
            F.greatest(acc["hi"], p + k1).alias("hi"),
        ),
        lambda acc: acc["cov"],
    )


@shared_pass
def _span_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE materialized positional-gram pass the span family
    shares: (doc_id, pos, h), cached per (application, sf_dir) like
    ``_shingle_arrays``. Gram generation (tokenize + per-position
    md5) is the expensive map stage and has multiple consumers in
    each query (count agg + both sides of the flag join) and multiple
    query consumers (stats + strip + capstone).

    Round-8: PARQUET-backed (``materialize_parquet``) instead of a
    persist(DISK_ONLY) cache — the decade-3 audit measured the span
    family as the I/O boundary at sf100 (the 24-byte-row cached pass
    re-read whole by every consumer). Parquet re-reads are columnar
    (the corpus-wide count pass prunes to the 8-byte ``h`` column
    alone) and snappy+delta-compressed (docs emit grams in doc/pos
    order, so both encode tightly); the files live for the
    application lifetime like every session cache."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", _tokens().alias("toks"))
    n = F.size("toks")
    return materialize_parquet(
        spark,
        tok.select(
            "doc_id",
            F.posexplode(
                F.when(
                    n >= SPAN_K,
                    F.transform(
                        F.sequence(F.lit(1), n - SPAN_K + 1),
                        lambda i: _h60(
                            F.concat_ws(" ", F.slice(F.col("toks"), i, SPAN_K))
                        ),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            ).alias("pos0", "h"),
        ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h"),
        "span_grams",
    )


@query(
    "dedup_span_exact",
    oracle=f"""
    WITH {_SPAN_CTES},
    stats AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(*) FILTER (WHERE c >= 2) AS BIGINT) AS n_dup_grams
      FROM j GROUP BY doc_id
    ),
    cov AS (
      SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS n_dup_tokens
      FROM (SELECT doc_id, unnest(range(pos, pos + {SPAN_K})) AS p
            FROM j WHERE c >= 2)
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           COALESCE(s.n_grams, 0) AS n_grams,
           COALESCE(s.n_dup_grams, 0) AS n_dup_grams,
           COALESCE(c2.n_dup_tokens, 0) AS n_dup_tokens,
           COALESCE(c2.n_dup_tokens, 0) / CAST(len(t.toks) AS BIGINT)
               AS dup_token_frac
    FROM tok t
    LEFT JOIN stats s ON s.doc_id = t.doc_id
    LEFT JOIN cov c2 ON c2.doc_id = t.doc_id
    """,
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repeated-span stats: how much of each document is
    covered by an exact SPAN_K-token span that also occurs elsewhere
    in the corpus (including a second time in the same doc).

    Scale posture — the classic distributed exact-substring-dedup
    shape: gram generation is map-only off the token arrays; the
    occurrence count is ONE map-side-combined shuffle keyed on an
    8-byte gram hash (never the gram text); duplicate flags come back
    as a LEFT SEMI join against the (c >= 2)-filtered hash set on the
    SAME key (ReusedExchange — and the semi build side is the rare
    fraction, not the corpus); ``n_grams`` per doc is arithmetic
    (``max(n_tokens - K + 1, 0)`` by construction — no aggregation
    over the full gram table at all); and distinct-covered-token
    counting is an interval-union fold over each doc's SORTED
    duplicated positions INSIDE the one per-doc aggregation — no
    explode, no distinct, no second shuffle. Per-doc collect_list
    rows are bounded by document length (the same bound as the
    document row itself), so row width stays O(doc) at any corpus
    size. "Duplicated" is defined on the 60-bit gram hash identically
    in both engines, so the oracle is a true differential of the
    whole pipeline, not a reimplementation detail."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", _tokens().alias("toks"))
    n = F.size("toks")
    grams = _span_grams(spark, sf_dir)
    dup = _dup_occurrences(grams)
    dstats = dup.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        _interval_union_count(
            F.collect_list(F.col("pos").cast("bigint")), SPAN_K
        ).alias("n_dup_tokens"),
    )
    return (
        tok.select("doc_id", n.cast("bigint").alias("n_tokens"))
        .join(dstats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.greatest(F.col("n_tokens") - SPAN_K + 1, F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            (F.coalesce("n_dup_tokens", F.lit(0)) / F.col("n_tokens")).alias(
                "dup_token_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter ingest prefilter: the approximate-membership gate a
# 100 TB pipeline puts IN FRONT of exact incremental dedup — the
# corpus digest index is too big to join every micro-batch against,
# but its Bloom bitmap is megabytes and broadcastable. Exact-join
# confirmation runs only for bloom hits. Implemented fully JVM-side:
# a "set bit" is a row in a distinct (bit) DataFrame (the bitmap in
# relational clothing), membership is a broadcast join + count match.
# ---------------------------------------------------------------------------
BLOOM_M = 4096  # bits
BLOOM_K = 4  # hash functions


@query(
    "dedup_bloom_prefilter",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, md5({_NORM_SQL}) AS digest FROM documents
    ),
    old AS (
      SELECT DISTINCT digest FROM d WHERE doc_id < {N_OLD}
    ),
    bits AS (
      SELECT DISTINCT
             {_h60_sql("digest || '|' || CAST(j AS VARCHAR)")} % {BLOOM_M} AS bit
      FROM old, unnest([0, 1, 2, 3]) AS t(j)
    ),
    new_batch AS (
      SELECT doc_id, digest FROM d WHERE doc_id >= {N_OLD}
    ),
    probes AS (
      SELECT DISTINCT doc_id,
             {_h60_sql("digest || '|' || CAST(j AS VARCHAR)")} % {BLOOM_M} AS bit
      FROM new_batch, unnest([0, 1, 2, 3]) AS t(j)
    ),
    need AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_need FROM probes GROUP BY doc_id
    ),
    hit AS (
      SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_hit
      FROM probes p JOIN bits b USING (bit) GROUP BY p.doc_id
    )
    SELECT n.doc_id,
           COALESCE(h.n_hit, 0) = nd.n_need AS bloom_hit,
           o.digest IS NOT NULL AS in_corpus,
           CASE WHEN COALESCE(h.n_hit, 0) = nd.n_need
                     AND o.digest IS NOT NULL THEN 'true_positive'
                WHEN COALESCE(h.n_hit, 0) = nd.n_need THEN 'false_positive'
                WHEN o.digest IS NOT NULL THEN 'false_negative'
                ELSE 'true_negative' END AS status
    FROM new_batch n
    JOIN need nd ON nd.doc_id = n.doc_id
    LEFT JOIN hit h ON h.doc_id = n.doc_id
    LEFT JOIN old o ON o.digest = n.digest
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify a new ingest batch through a Bloom filter built over
    the corpus digest set, then confirm against the exact set — the
    output labels every new doc true_positive / false_positive /
    true_negative (false_negative cannot occur by construction; the
    CASE arm exists so a logic regression surfaces as a wrong label,
    not silence).

    Scale posture: the corpus side collapses to <= BLOOM_M distinct
    bit rows — a KILOBYTES-sized broadcast regardless of corpus size
    (the real win: exact confirm joins only bloom hits, ~1% of a
    fresh-content batch at these parameters: k=4, m=4096, n~400
    gives (1-e^(-kn/m))^k ~ 1e-2). Bit positions derive from
    the md5-based 60-bit hash family (`_h60`) so both engines compute
    identical bitmaps — the oracle differentials the filter itself,
    false positives included, not just the exact confirm."""
    docs = read_table(spark, sf_dir, "documents")
    # The md5-digest projection has four consumers (corpus bits,
    # corpus exact set, batch probes, batch final) — one materialized
    # pass instead of four scans+digests of the corpus.
    d = materialize(docs.select("doc_id", F.md5(_norm()).alias("digest")))
    old = d.filter(F.col("doc_id") < N_OLD).select("digest").distinct()

    def positions(col: Column) -> Column:
        return F.array_distinct(
            F.array(
                *[
                    _h60(F.concat_ws("|", col, F.lit(str(j)))) % BLOOM_M
                    for j in range(BLOOM_K)
                ]
            )
        )

    bits = (
        old.select(F.explode(positions(F.col("digest"))).alias("bit")).distinct()
    )
    new_batch = d.filter(F.col("doc_id") >= N_OLD).select(
        "doc_id", "digest", positions(F.col("digest")).alias("pbits")
    )
    probes = new_batch.select(
        "doc_id", F.size("pbits").cast("bigint").alias("n_need"),
        F.explode("pbits").alias("bit"),
    )
    hit = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy("doc_id", "n_need")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .select("doc_id", (F.col("n_hit") == F.col("n_need")).alias("bloom_hit"))
    )
    return (
        new_batch.join(hit, "doc_id", "left")
        .join(
            F.broadcast(old.withColumnRenamed("digest", "od")),
            new_batch.digest == F.col("od"),
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("bloom_hit", F.lit(False)).alias("bloom_hit"),
            F.col("od").isNotNull().alias("in_corpus"),
            F.when(
                F.coalesce("bloom_hit", F.lit(False)) & F.col("od").isNotNull(),
                F.lit("true_positive"),
            )
            .when(F.coalesce("bloom_hit", F.lit(False)), F.lit("false_positive"))
            .when(F.col("od").isNotNull(), F.lit("false_negative"))
            .otherwise(F.lit("true_negative"))
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup graph statistics: edges are the VERIFIED LSH pairs, so this
# composes on the shared pair materialization like dedup_clusters.
# Triangle counting is the classic distributed graph primitive
# (oriented-edge join-join, each triangle counted exactly once);
# wedges + global clustering coefficient characterize how "clumpy"
# the duplicate structure is — chains dedup very differently from
# cliques, and this one row tells an operator which corpus they have.
# ---------------------------------------------------------------------------
@query(
    "dedup_graph_stats",
    oracle=f"""
    {_lsh_pairs_ctes()},
    edges AS MATERIALIZED (
      SELECT doc_id_a AS a, doc_id_b AS b FROM lsh_pairs
    ),
    deg AS MATERIALIZED (
      SELECT id, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT a AS id FROM edges UNION ALL SELECT b AS id FROM edges)
      GROUP BY id
    ),
    tri AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           -- COALESCE: sum() over an empty deg set is NULL; an
           -- edge-free graph must report 0 wedges like every other
           -- count column, not NULL (Spark side mirrors this).
           COALESCE(CAST((SELECT sum(d * (d - 1)) FROM deg) AS BIGINT) // 2, 0)
               AS n_wedges,
           (SELECT n FROM tri) AS n_triangles,
           CASE WHEN COALESCE((SELECT sum(d * (d - 1)) FROM deg) // 2, 0) > 0
                THEN (3 * (SELECT n FROM tri))
                     / ((SELECT sum(d * (d - 1)) FROM deg) // 2)
                ELSE 0.0 END AS clustering_coeff
    """,
)
def dedup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row structure profile of the verified near-dup graph:
    edge/node/wedge/triangle counts + global clustering coefficient
    (3*triangles/wedges, exact integer inputs so the double divides
    bit-equal across engines; 0.0 on a wedge-free graph).

    Triangles use the oriented-edge formulation: pairs are already
    stored a < b, so joining e1(a,b)->e2(b,c) builds each a<b<c path
    once and the closing-edge join counts each triangle EXACTLY once
    — no /6 correction pass, no undirected blowup. Scale posture: the
    edge set is the LSH-bounded shared materialization (collision
    sets, not corpus); both joins key on node ids. Id-orientation can
    skew on hub nodes — the standard refinement at real scale is
    degree-ordering the orientation ((deg, id) instead of id), which
    bounds every node's out-neighborhood by sqrt(edges); the join
    shape is identical, so the swap is a key change, not a replan."""
    pairs = lsh_pairs_shared(spark, sf_dir).select(
        F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b")
    )
    deg = (
        pairs.select(F.col("a").alias("id"))
        .unionAll(pairs.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = pairs.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    e2 = pairs.select(F.col("a").alias("t_b"), F.col("b").alias("t_c"))
    e3 = pairs.select(F.col("a").alias("t_a"), F.col("b").alias("t_c"))
    tri = e1.join(e2, "t_b").join(e3, ["t_a", "t_c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    edge_stats = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(F.expr("sum(d * (d - 1)) div 2"), F.lit(0).cast("bigint")).alias(
            "n_wedges"
        ),
    )
    return (
        edge_stats.crossJoin(node_stats)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_nodes",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                (3 * F.col("n_triangles")) / F.col("n_wedges"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# PageRank centrality over the verified near-dup graph — the ranking
# signal that picks CANONICAL documents in dup clusters by structure
# rather than by min-id (dedup_clusters) or by quality score
# (dedup_keep_best): the most-connected member of a clique of mirrors
# is the one every mirror points at. All arithmetic is FIXED-POINT
# BIGINT so the iterated sums are order-independent (float PageRank
# sums would differ in low bits across shuffle orders and engines):
# ranks carry 1e9 scale, the damping multiply d·x = (17·x) div 20 and
# the per-edge contribution rank div deg are exact integer ops both
# engines define identically for the positive values used here.
# ---------------------------------------------------------------------------
PR_ITERS = 8
PR_SCALE = 1_000_000_000  # fixed-point: rank 1.0 == 1e9
PR_BASE = (3 * PR_SCALE) // 20  # (1-d)·SCALE with d = 17/20 = 0.85


def _pagerank_iter_ctes() -> str:
    """The r0..r{PR_ITERS} recurrence chain — requires upstream CTEs
    ``deg(src, deg)`` and ``ed(src, dst, deg)``. Shared by the
    standalone pagerank oracle and the keep-central composition so
    the recurrence definition can never drift."""
    head = f""",
    r0 AS (
      SELECT src AS doc_id, CAST({PR_SCALE} AS BIGINT) AS rank_fp FROM deg
    )"""
    return head + "".join(
        f""",
    r{i} AS (
      SELECT ed.dst AS doc_id,
             CAST({PR_BASE} + (17 * sum(r.rank_fp // ed.deg)) // 20
                  AS BIGINT) AS rank_fp
      FROM ed JOIN r{i - 1} r ON r.doc_id = ed.src
      GROUP BY 1
    )"""
        for i in range(1, PR_ITERS + 1)
    )


def _pagerank_oracle() -> str:
    # ed/deg are referenced by EVERY unrolled iteration; without
    # MATERIALIZED DuckDB inlines each reference and re-evaluates the
    # whole upstream LSH CTE chain per iteration — measured 265s vs
    # ~2s at sf0.01 for the identical result.
    head = f"""
    {_lsh_pairs_ctes()},
    edges AS MATERIALIZED (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM lsh_pairs
      UNION ALL
      SELECT doc_id_b, doc_id_a FROM lsh_pairs
    ),
    deg AS MATERIALIZED (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1
    ),
    ed AS MATERIALIZED (
      SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON d.src = e.src
    )"""
    return f"""{head}{_pagerank_iter_ctes()}
    SELECT r.doc_id, d.deg AS degree, r.rank_fp
    FROM r{PR_ITERS} r JOIN deg d ON d.src = r.doc_id
    """


@shared_pass
def pagerank_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank table materialized ONCE per (application, sf_dir) —
    the same shared-intermediate policy as ``lsh_pairs_shared``, one
    level further up: the canonical-picker (``dedup_keep_central``)
    consumes the ranks the standalone query produces, and the
    8-iteration chain is ~16 sequential stage barriers whose cost is
    pure scheduler latency at fixture scale (measured FLAT 4.7 s →
    4.3 s across sf1 → sf10 — iteration-count-bound, not data-bound).
    Bench's cold pass still pays the full chain once per session."""
    return materialize(
        pagerank_pairs(
            lsh_pairs_shared(spark, sf_dir).select("doc_id_a", "doc_id_b")
        )
    )


@query("dedup_pagerank", oracle=_pagerank_oracle())
def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d = 0.85, PR_ITERS = 8 synchronous iterations)
    on the undirected verified-pair graph; emits (doc_id, degree,
    rank_fp) for every node in the graph, rank in 1e9 fixed point.

    Plan shape: edges+degrees come off the shared LSH pair
    materialization (collision-bounded, never corpus-sized as a pair
    set); the (src, dst, deg) table is materialized ONCE and each
    iteration is exactly one hash join (ranks ⋈ edges on src — both
    sides keyed, no broadcast needed at scale) plus one map-combined
    groupBy(dst) sum: the canonical O(iters) shuffle budget of
    synchronous PageRank, with nothing driver-side and no lineage
    recursion (each rank table is consumed exactly once).

    Every node of the pair graph has degree >= 1 and — the graph
    being undirected — at least one in-edge, so the groupBy re-emits
    every node each round: no dangling-mass correction term is
    needed, and total rank mass is exactly conserved up to the
    per-node floor truncations.

    Overflow headroom: a node's rank is bounded by total mass
    N·SCALE; 17·(5·10^6·10^9) ≈ 8.5·10^16 << 2^63, so BIGINT holds
    through ~500M graph nodes at this SCALE — past that a deployment
    drops SCALE one decade per corpus decade (the same answer ranks
    are preserved; only resolution shifts), which the oracle mirrors
    by construction since both read the module constant."""
    return pagerank_shared(spark, sf_dir)


def pagerank_pairs(pairs: DataFrame) -> DataFrame:
    """The fixed-point PageRank recurrence over an arbitrary
    undirected (doc_id_a, doc_id_b) pair set — split out so tests can
    rank planted graph TOPOLOGIES directly (a clean star/chain/clique
    cannot be forced through the LSH front: set similarity makes a
    high-J star geometrically impossible)."""
    from ..operators.graph import _reliable_checkpoint

    edges = pairs.select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst"))
    )
    # Reliable checkpoints, not persist: each of the PR_ITERS
    # iterations embeds the build side's ANALYZED plan again, so with
    # lineage kept the final plan nests the whole LSH-front subtree
    # once per iteration — measured 10.3 MB of formatted plan / 16k
    # InMemoryRelation nodes at sf0.1, seconds of pure Catalyst
    # analysis per action even on warm cache hits (optimization guide
    # §3.3: materialize to truncate giant plans). Checkpointing deg
    # (node-sized) and ed (edge-sized) restarts lineage from flat
    # scans: the final rank plan is 8 small join+agg layers (~30 KB).
    # Same fault-tolerance posture as connected_components' rounds.
    deg = _reliable_checkpoint(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = _reliable_checkpoint(edges.join(deg, "src"))  # (src, dst, deg), reused 8x
    ranks = deg.select(
        F.col("src").alias("doc_id"),
        F.lit(PR_SCALE).cast("bigint").alias("rank_fp"),
    )
    for _ in range(PR_ITERS):
        contrib = ed.join(
            ranks, ed["src"] == ranks["doc_id"]
        ).select("dst", F.expr("rank_fp div deg").alias("c"))
        ranks = (
            contrib.groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum("c").alias("csum"))
            .select(
                "doc_id",
                (F.lit(PR_BASE) + F.expr("(17 * csum) div 20"))
                .cast("bigint")
                .alias("rank_fp"),
            )
        )
    return ranks.join(
        deg.select(F.col("src").alias("doc_id"), F.col("deg").alias("degree")),
        "doc_id",
    ).select("doc_id", "degree", "rank_fp")


# ---------------------------------------------------------------------------
# Keep-central: the third canonical-picking POLICY, completing the
# triple — dedup_clusters keeps min-id (arbitrary but stable),
# dedup_keep_best keeps the longest (quality proxy), this keeps the
# most CENTRAL member of each cluster by PageRank (the doc every
# mirror points at — robust when length is adversarial, e.g. a
# boilerplate-padded copy out-lengthing the original).
# ---------------------------------------------------------------------------
def _keep_central_oracle() -> str:
    # composes the CC closure chain (edges(a,b), lab) with the shared
    # pagerank recurrence (which wants deg(src,deg) / ed(src,dst,deg))
    return f"""
    {_cc_ctes()},
    deg AS MATERIALIZED (
      SELECT a AS src, CAST(count(*) AS BIGINT) AS deg
      FROM edges GROUP BY 1
    ),
    ed AS MATERIALIZED (
      SELECT e.a AS src, e.b AS dst, d.deg
      FROM edges e JOIN deg d ON d.src = e.a
    ){_pagerank_iter_ctes()}
    SELECT l.doc_id,
           CAST(l.cluster_id AS BIGINT) AS cluster_id,
           r.rank_fp,
           row_number() OVER (PARTITION BY l.cluster_id
                              ORDER BY r.rank_fp DESC NULLS LAST,
                                       l.doc_id) = 1 AS is_kept
    FROM lab l LEFT JOIN r{PR_ITERS} r ON r.doc_id = l.doc_id
    """


@query("dedup_keep_central", oracle=_keep_central_oracle())
def dedup_keep_central(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster survivor selection by graph centrality: within
    each near-dup cluster keep the member with the highest fixed-
    point PageRank (ties → lowest doc_id); singleton docs (no rank —
    they are not in the pair graph) keep themselves.

    Scale posture: composes two session-cached products — the CC
    labels and the pair graph's rank table — with one left join and a
    cluster-partitioned rank window (cluster-sized partitions, same
    skew posture as dedup_keep_best). The is_kept tie order is fully
    deterministic: rank_fp is exact integer, NULLS LAST explicit in
    both engines."""
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    ranks = pagerank_shared(spark, sf_dir).select("doc_id", "rank_fp")
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("rank_fp").desc_nulls_last(), F.col("doc_id")
    )
    return (
        clusters.join(ranks, "doc_id", "left")
        .withColumn("is_kept", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "rank_fp", "is_kept")
    )


# ---------------------------------------------------------------------------
# Repeated-span REMOVAL — the rewrite that completes the span family:
# every duplicated gram keeps exactly ONE canonical occurrence (the
# corpus-wide lowest (doc_id, pos)); token positions covered only by
# non-canonical occurrences are cut, and the document is re-emitted
# without them. Cleaned text is whitespace-NORMALIZED by contract
# (tokens re-joined with single spaces) — the tokenizer is lossy on
# whitespace runs by design, both engines agree exactly.
# ---------------------------------------------------------------------------
@query(
    "docs_strip_dup_spans",
    oracle=f"""
    WITH {_SPAN_CTES},
    {_SPAN_REMOVAL_CTES},
    tp AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks
      FROM tok
    ),
    kept AS (
      SELECT tp.doc_id, tp.p, tp.toks[tp.p] AS tk
      FROM tp LEFT JOIN rem ON rem.doc_id = tp.doc_id AND rem.p = tp.p
      WHERE rem.p IS NULL
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             array_to_string(list(tk ORDER BY p), ' ') AS cleaned_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) AS BIGINT) - COALESCE(a.n_kept, 0) AS n_removed,
           COALESCE(a.cleaned_text, '') AS cleaned_text
    FROM tok t LEFT JOIN agg a ON a.doc_id = t.doc_id
    """,
)
def docs_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut duplicated spans out of every document, keeping one
    canonical occurrence per gram corpus-wide: (doc_id, n_tokens,
    n_removed, cleaned_text).

    Semantics: for each gram hash occurring >= 2 times, the lowest
    (doc_id, pos) occurrence is canonical; every token position
    covered by a NON-canonical occurrence is removed. A canonical
    span overlapping a removed region keeps only its uncovered
    positions — the contract is positional, not span-atomic, which
    keeps it a pure composition of window + anti-join (no interval
    merging) and therefore identical in both engines.

    Scale posture, on top of the shared materialized gram pass: the
    canonical choice is a partial-aggregable per-h min(struct) +
    equi-join back on the SAME h key as the count shuffle (exchange
    reused; no per-h sort — see ``_noncanonical_starts`` for the
    hot-gram argument); removal positions aggregate as (doc_id, pos)
    START pairs only — 16 bytes a row, a small fraction of the corpus
    at real dup rates — and expand to covered positions as per-doc
    JVM array arithmetic (``_removal_positions``); the rewrite itself
    is ONE doc-level join of (doc_id, toks) against the doc-sized
    removal arrays, with the surviving text rebuilt by
    ``array_except`` over the position range + ``element_at`` — no
    per-token row ever shuffles. (Round-8 rewrite: the previous
    per-token (doc_id, pos, token-string) explode → anti-join →
    collect_list shape was the decade-3 audit's worst row, 13.7× on
    the 10× sf10→sf100 step; the corpus-sized shuffle that remains is
    the doc-level join — the floor for a query whose OUTPUT is the
    rewritten corpus.)"""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", _tokens().alias("toks"))
    rem = _removal_positions(_span_grams(spark, sf_dir))
    n = F.size("toks").cast("bigint")
    # Positions are 1-based; guard the (theoretical) zero-token doc —
    # Spark's sequence(1, 0) would generate DESCENDING [1, 0].
    all_ps = F.when(
        n >= 1, F.sequence(F.lit(1).cast("bigint"), n)
    ).otherwise(F.array().cast("array<bigint>"))
    kept_ps = F.array_except(
        all_ps, F.coalesce("rem_ps", F.array().cast("array<bigint>"))
    )
    return (
        tok.join(rem, "doc_id", "left")
        .select(
            "doc_id",
            n.alias("n_tokens"),
            (n - F.size(kept_ps)).cast("bigint").alias("n_removed"),
            F.array_join(
                F.transform(
                    kept_ps, lambda p: F.element_at("toks", p.cast("int"))
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


# ---------------------------------------------------------------------------
# Capstone composition: the front half of a real training-data build
# in ONE plan — quality floor -> exact keep-first dedup -> repeated-
# span removal (counts computed over SURVIVORS only, so dropped dups
# don't inflate span counts) -> per-source token budget. Stage order
# is the optimization: the quality filter rides the scan, dedup cuts
# the corpus before the gram shuffle, and the span pass prices what
# actually ships.
# ---------------------------------------------------------------------------
@query(
    "pipeline_dedup_corpus",
    oracle=f"""
    WITH tok0 AS (
      SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id, source, toks,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
             md5({_NORM_SQL}) AS digest
      FROM (SELECT doc_id, source, text FROM documents) d
      JOIN tok0 USING (doc_id, source)
    ),
    q AS (
      SELECT * FROM m
      WHERE n_tokens >= {_PIPE_MIN_TOKENS}
        AND n_uniq / n_tokens >= {_PIPE_MIN_UNIQ}
    ),
    kept AS (
      SELECT q.* FROM q
      JOIN (SELECT digest, min(doc_id) AS keep_id FROM q GROUP BY digest) k
        ON k.digest = q.digest AND k.keep_id = q.doc_id
    ),
    g AS (
      SELECT doc_id, unnest(range(1, len(toks) - {SPAN_K} + 2)) AS pos, toks
      FROM kept WHERE len(toks) >= {SPAN_K}
    ),
    gh AS (
      SELECT doc_id, pos,
             {_h60_sql(f"array_to_string(toks[pos:pos+{SPAN_K - 1}], ' ')")} AS h
      FROM g
    ),
    cnt AS (
      SELECT h, CAST(count(*) AS BIGINT) AS c FROM gh GROUP BY h
    ),
    {_SPAN_REMOVAL_CTES},
    cov AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
      FROM rem GROUP BY doc_id
    )
    SELECT k.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(k.n_tokens) AS BIGINT) AS n_tokens_raw,
           CAST(sum(COALESCE(cov.n_removed, 0)) AS BIGINT) AS n_tokens_stripped,
           CAST(sum(k.n_tokens) - sum(COALESCE(cov.n_removed, 0)) AS BIGINT)
               AS n_tokens_final,
           CAST(sum(k.n_tokens) - sum(COALESCE(cov.n_removed, 0)) AS BIGINT)
               / CAST(sum(k.n_tokens) AS BIGINT) AS keep_frac
    FROM kept k LEFT JOIN cov ON cov.doc_id = k.doc_id
    GROUP BY k.source
    """,
)
def pipeline_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget after quality floor + exact keep-first
    dedup + repeated-span removal over the surviving corpus:
    (source, n_docs, n_tokens_raw, n_tokens_stripped, n_tokens_final,
    keep_frac).

    Composition notes (scale order is the point):
    - the quality floor is a map-side predicate on the scan;
    - exact dedup groups survivors on their md5 digest (first-wins),
      cutting the corpus BEFORE any gram work;
    - span counts come from the SHARED cached gram pass semi-joined
      to survivors — a gram occurrence inside a dropped duplicate no
      longer exists, so counts price exactly what ships (and the
      cache means this query never re-tokenizes);
    - canonical-keep removal is the same partial-aggregable
      min(struct)-per-h shape as ``docs_strip_dup_spans``; the final
      per-source rollup is one
      map-side-combined aggregation of integer counts, so keep_frac
      divides identical bigints in both engines."""
    docs = read_table(spark, sf_dir, "documents")
    toks = _tokens()
    m = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
        F.md5(_norm()).alias("digest"),
    )
    q = m.filter(
        (F.col("n_tokens") >= _PIPE_MIN_TOKENS)
        & (F.col("n_uniq") / F.col("n_tokens") >= _PIPE_MIN_UNIQ)
    )
    # First-wins dedup as ONE aggregation: doc_id is unique, so the
    # per-digest min(struct(doc_id, source, n_tokens)) IS the lowest-
    # doc_id survivor row — no keep_ids join back, and the quality
    # scan runs once instead of on both join sides (round-9, guide
    # §2.4). kept still has two consumers (the gram semi-join and the
    # final rollup); materialize it once — dedup-output-sized, not
    # corpus-sized.
    kept = materialize(
        q.groupBy("digest")
        .agg(F.min(F.struct("doc_id", "source", "n_tokens")).alias("__r"))
        .select("__r.doc_id", "__r.source", "__r.n_tokens")
    )
    grams = _span_grams(spark, sf_dir).join(
        kept.select("doc_id"), "doc_id", "left_semi"
    )
    # Distinct covered-token count per doc = interval-union fold over
    # the sorted non-canonical START positions — same machinery as
    # dedup_span_exact's coverage; only (doc_id, pos) start pairs
    # shuffle, never one row per covered token.
    cov = (
        _noncanonical_starts(grams)
        .groupBy("doc_id")
        .agg(
            _interval_union_count(
                F.collect_list(F.col("pos").cast("bigint")), SPAN_K
            ).alias("n_removed")
        )
    )
    raw = F.sum("n_tokens")
    stripped = F.sum(F.coalesce("n_removed", F.lit(0)))
    return (
        kept.join(cov, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            raw.alias("n_tokens_raw"),
            stripped.alias("n_tokens_stripped"),
            (raw - stripped).alias("n_tokens_final"),
            ((raw - stripped) / raw).alias("keep_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source duplication matrix: WHERE duplicates come from. A
# near-dup pair within one source is crawl noise; heavy mass between
# two sources means one mirrors the other — the observability that
# decides which ingest tier to deprioritize. Composes on the verified
# pair set, so "duplicate" means exactly what the LSH pipeline means.
# ---------------------------------------------------------------------------
@query(
    "dedup_cross_source",
    oracle=f"""
    {_lsh_pairs_ctes()},
    src AS (SELECT doc_id, source FROM documents),
    m AS (
      SELECT least(a.source, b.source) AS source_x,
             greatest(a.source, b.source) AS source_y
      FROM lsh_pairs p
      JOIN src a ON a.doc_id = p.doc_id_a
      JOIN src b ON b.doc_id = p.doc_id_b
    )
    SELECT source_x, source_y,
           count(*) AS n_pairs,
           source_x = source_y AS within_source
    FROM m GROUP BY source_x, source_y
    """,
)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pair counts by UNORDERED source pair:
    (source_x, source_y, n_pairs, within_source) — the duplication
    provenance matrix (within-source = crawl noise; cross-source =
    mirroring).

    Scale posture: rides the session-cached verified pair set (pairs
    are LSH-bounded, not corpus-sized) and joins the two doc sides
    against a (doc_id, source) projection of the fact table. NO
    broadcast hint on either side: the source projection is
    corpus-sized (a hint here would force a per-document collect to
    the driver — the round-3 advisor's finding), and the pair side is
    bounded but not provably kilobytes; both joins key on doc_id, so
    AQE picks broadcast exactly when the runtime pair/projection
    sizes justify it. The rollup is one map-side-combined groupBy
    whose output is |sources|² rows at most."""
    pairs = lsh_pairs_shared(spark, sf_dir).select("doc_id_a", "doc_id_b")
    docs = read_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa"))
    b = src.select(F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb"))
    return (
        pairs.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("within_source", F.col("source_x") == F.col("source_y"))
    )
