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
comes from one Spark write of the doc_id-range-indexed table by
``events.stage_replay`` — no corpus-sized data ever crosses the
driver."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import FRAME, stage_replay

N_BATCHES = 4


def stage_documents_batches(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Stage new docs as up to ``N_BATCHES`` doc_id-range parquet
    files and return (directory, number of staged files). Zero new
    docs stages an empty directory (the stream drains no batches)."""
    from ..operators.rankselect import rank_select
    from ..sources.catalog import read_table
    from ..workloads.dedup import N_OLD

    def build() -> DataFrame:
        new = read_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") >= N_OLD
        )
        n = new.count()
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
        # batch i holds the doc_ids in (bounds[i-1], bounds[i]]
        frame = sum(((F.col("doc_id") > b).cast("int") for b in bounds), F.lit(0))
        return new.withColumn(FRAME, frame)

    src = os.path.join(sf_dir, "documents.parquet")
    return stage_replay(spark, f"docs{N_BATCHES}", src, build)
