"""Incrementally-maintained rollups over SnapshotStore tables.

A reporting aggregate over an append-mostly fact table should not
re-scan history on every refresh: appended data arrives as whole new
manifest directories (``SnapshotStore.append`` is add-files), so the
delta since the last fold IS a directory list. ``MaintainedRollup``
aggregates ONLY those new directories and merges the partial into the
stored rollup — classic incremental view maintenance restricted to
self-mergeable aggregates (sum/count/min/max), which is exactly the
restriction that makes IVM sound without retraction logic.

Consistency protocol (same shape as streaming/ingest.py): the folded
rollup table and the fold marker (which directories are folded)
publish in ONE snapshot commit — a crashed or replayed refresh sees
either the old state+marker or the new state+marker, never a torn
pair, so ``refresh()`` is idempotent.

Rewrites (compact / delete_where / merge_upsert / commit) invalidate
the add-only premise: a rewritten table's directory list no longer
contains the folded prefix. ``refresh()`` detects that (folded set ⊄
current set) and falls back to a FULL recompute — correctness never
depends on guessing what a rewrite changed.

At 100 TB: each refresh prices O(new data) + O(rollup size), and the
rollup is groups-sized, not fact-sized. The reference has no
incremental anything — its every query re-reads the CSV
(buzzdb_lab1.cpp:167-170); this is the maintained-aggregate upgrade
of that full-rescan model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .snapshots import SnapshotStore

# aggregate -> (per-directory partial expr, merge expr over partials)
_MERGEABLE = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(c), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


class MaintainedRollup:
    """A named, incrementally-maintained group-by aggregate.

    ``aggs`` maps output column -> (kind, source column) with kind in
    {sum, count, min, max}. The rollup state lives in the same store
    as the source, under ``rollup_<name>``; the fold marker lives in
    snapshot meta, so state and marker move atomically.
    """

    def __init__(
        self,
        store: SnapshotStore,
        name: str,
        source: str,
        group_cols: list[str],
        aggs: dict[str, tuple[str, str]],
    ):
        for out, (kind, _src) in aggs.items():
            if kind not in _MERGEABLE:
                raise ValueError(
                    f"{out}: '{kind}' is not self-mergeable (supported: "
                    f"{sorted(_MERGEABLE)}) — non-mergeable aggregates "
                    "need a full recompute, not a maintained rollup"
                )
        self.store = store
        self.name = name
        self.source = source
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)

    @property
    def table(self) -> str:
        return f"rollup_{self.name}"

    def _marker_key(self) -> str:
        return f"rollup::{self.name}::folded_dirs"

    def _partial(self, df: DataFrame) -> DataFrame:
        exprs = [
            _MERGEABLE[kind][0](F.col(src)).alias(out)
            for out, (kind, src) in self.aggs.items()
        ]
        return df.groupBy(*self.group_cols).agg(*exprs)

    def _merge(self, parts: DataFrame) -> DataFrame:
        exprs = [
            _MERGEABLE[kind][1](F.col(out)).alias(out)
            for out, (kind, _src) in self.aggs.items()
        ]
        return parts.groupBy(*self.group_cols).agg(*exprs)

    def read(self) -> DataFrame:
        """The maintained state as last folded (refresh() to advance)."""
        return self.store.read(self.table)

    def refresh(self) -> dict:
        """Fold everything not yet folded; returns {"mode", "version",
        "new_dirs"}. No new data → no-op (no version burned)."""
        # plan against one version: its file lists and schema
        v = self.store.current_version()
        by_table = self.store.tables(v)
        current = by_table[self.source]
        schema = self.store.table_schema(self.source, v)
        folded: list[str] = self.store.meta().get(self._marker_key(), [])
        have_state = self.table in by_table

        rewritten = any(d not in current for d in folded)
        new_dirs = [d for d in current if d not in folded]
        if have_state and not rewritten and not new_dirs:
            return {"mode": "noop", "version": v, "new_dirs": 0}

        if rewritten or not have_state:
            # add-only premise broken (compact/delete/merge/commit
            # rewrote the table) or first fold: full recompute.
            fresh = self._partial(self.store.read_dirs(current, schema))
            mode = "full"
        else:
            partial = self._partial(self.store.read_dirs(new_dirs, schema))
            fresh = self._merge(
                self.read().unionByName(partial, allowMissingColumns=False)
            )
            mode = "incremental"
        version = self.store.commit(
            {self.table: fresh}, meta={self._marker_key(): current}
        )
        return {"mode": mode, "version": version, "new_dirs": len(new_dirs)}
