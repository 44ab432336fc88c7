"""Exactly-once streaming ingest into the SnapshotStore.

Structured Streaming's file/Kafka sources give at-least-once delivery
into ``foreachBatch``: after a crash between sink side-effect and
checkpoint commit, the SAME (batch_id, data) is replayed. The classic
fix (Delta's ``txnAppId``/``txnVersion``, public Delta docs; Spark's
own foreachBatch guide) is a transactional sink that records the last
committed batch id ATOMICALLY with the data and skips replays.

The SnapshotStore already has the required primitive: ``append(...,
meta=...)`` publishes the batch's parquet AND a progress marker under
one pointer swap (plans/snapshots.py). So the sink is:

    batch_id <= last-committed  →  no-op (replay after crash)
    otherwise                   →  append rows + marker in ONE commit

giving end-to-end exactly-once for any append-shaped pipeline:
source offsets are tracked by the stream checkpoint, the sink dedups
redelivered batches, and a reader only ever sees whole batches.

Reference lineage: the reference's ingest is ``addEngagement``
(buzzdb_lab1.cpp:663-672) — a synchronous single-row CSV append with
no redelivery concept; this is the same append contract made safe
under the at-least-once replay a distributed source actually has.

At 100 TB: one version per micro-batch is the right granularity (a
batch is minutes of data); manifest growth is bounded by
``SnapshotStore.compact``, and multiple independent streams can share
a store by using distinct ``stream_id``s (each gets its own marker
key; single-writer-per-store remains the commit protocol, as
documented in plans/snapshots.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..plans.snapshots import SnapshotStore


def _marker(stream_id: str, table: str) -> str:
    return f"stream::{stream_id}::{table}"


def make_batch_sink(
    store: SnapshotStore, table: str, stream_id: str = "ingest"
) -> Callable[[DataFrame, int], None]:
    """The idempotent foreachBatch function, exposed separately so
    crash/replay behavior is directly testable (call it twice with the
    same batch_id — the second call must be a no-op)."""

    key = _marker(stream_id, table)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        last = store.meta().get(key, -1)
        if batch_id <= last:
            # Replayed batch: its rows are already in the table (the
            # marker and the data were published by one pointer swap).
            return
        store.append({table: batch_df}, meta={key: int(batch_id)})

    return sink


def append_stream(
    store: SnapshotStore,
    stream_df: DataFrame,
    table: str,
    checkpoint_dir: str,
    stream_id: str = "ingest",
):
    """Run ``stream_df`` into ``store[table]`` exactly-once, draining
    the current source contents and stopping (an AvailableNow trigger).

    Returns the started StreamingQuery; callers own awaitTermination/
    stop.
    """
    return (
        stream_df.writeStream.foreachBatch(make_batch_sink(store, table, stream_id))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
