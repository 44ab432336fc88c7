"""Document-ingest staging for the streaming dedup entry.

The reference's ingest is a synchronous single-row append
(``addEngagement``, buzzdb_lab1.cpp:663-672); a training-data pipeline
ingests DOCUMENT BATCHES and needs each batch classified against the
committed corpus before it is admitted. This module stages the fixture
documents table as a deterministic batch-file replay for that stream:
the NEW docs (``doc_id >= N_OLD``) split into ``N_BATCHES`` contiguous
doc_id ranges of (near-)equal row counts, one parquet file per batch,
strictly increasing mtimes so the file source replays them
oldest-first under ``maxFilesPerTrigger=1``.

Fully DISTRIBUTED staging (round-9 lesson: the first cut staged
through one driver-side ``toPandas`` and aborted on
``driver.maxResultSize`` at the 5M-doc tier): the equal-count range
boundaries come from the engine's own exact rank-select (a
metadata-sized collect of k-1 boundary doc_ids), and each batch file
is a Spark range-filtered single-task write whose part file is moved
into the stage — no corpus-sized data ever crosses the driver. Same
staging discipline as ``events.stage_events_daily`` otherwise:
content-keyed directory, atomic rename publication."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .events import _source_tag

N_BATCHES = 4


def stage_documents_batches(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Stage new docs as up to ``N_BATCHES`` doc_id-range parquet
    files and return (directory, number of staged files). Zero new
    docs stages an empty directory (the stream drains no batches)."""
    from ..operators.rankselect import rank_select
    from ..sources.catalog import read_table
    from ..workloads.dedup import N_OLD

    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))
    # rg4m in the tag: stage layout is part of the content key, so the
    # row-group-size change below invalidates stages written before it
    tag = _source_tag(f"docbatch{N_BATCHES}rg4m", src)
    stage = os.path.join(tempfile.gettempdir(), f"docs_ingest_{tag}")
    if os.path.isdir(stage):
        return stage, len(
            [f for f in os.listdir(stage) if f.endswith(".parquet")]
        )
    new = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= N_OLD
    )
    n = new.count()
    tmp = f"{stage}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    written = 0
    if n > 0:
        k = min(N_BATCHES, n)
        # exact equal-count boundaries: doc_id at rank floor(n*i/k),
        # i = 1..k-1 — a metadata-sized collect (k-1 rows), the same
        # rank-select machinery the percentile queries run on
        bounds: list[int] = []
        if k > 1:
            picked = rank_select(
                new,
                [],
                ["doc_id"],
                {
                    f"c{i}": (lambda i: lambda tot: (tot * i) / k)(i)
                    for i in range(1, k)
                },
            ).collect()[0]
            bounds = [int(picked[f"c{i}"]["doc_id"]) for i in range(1, k)]
        t0 = 1_700_000_000
        lo = None
        for i in range(k):
            hi = bounds[i] if i < len(bounds) else None
            part = new
            if lo is not None:
                part = part.filter(F.col("doc_id") > lo)
            if hi is not None:
                part = part.filter(F.col("doc_id") <= hi)
            lo = hi
            sub = os.path.join(tmp, f".w{i}")
            # small row groups, deliberately: a coalesce(1) write
            # defaults to one ~128MB row group per file, and parquet
            # byte-range splits assign each row group to the ONE split
            # holding its midpoint — so the stream's scan saw 4 splits
            # but every row in one of them, and the CPU-heavy Arrow
            # signing ran single-threaded per micro-batch (measured:
            # the (3+1)/4 straggler stage dominating the sf10 wall).
            # 4MB groups spread rows across all byte-range splits with
            # zero added exchange.
            part.coalesce(1).write.option(
                "parquet.block.size", 4 * 1024 * 1024
            ).mode("overwrite").parquet(sub)
            (src_part,) = glob.glob(os.path.join(sub, "part-*.parquet"))
            dst = os.path.join(tmp, f"{i:03d}_batch.parquet")
            shutil.move(src_part, dst)
            shutil.rmtree(sub, ignore_errors=True)
            os.utime(dst, (t0 + i, t0 + i))
            written += 1
    try:
        os.rename(tmp, stage)
    except OSError:  # lost the publish race — the winner's is complete
        shutil.rmtree(tmp, ignore_errors=True)
        written = len(
            [f for f in os.listdir(stage) if f.endswith(".parquet")]
        )
    return stage, written
