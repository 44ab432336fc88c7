"""Engine facade.

The reference's ``FlatFile`` class (buzzdb_lab1.cpp:90-969) bundles
storage, loaders, queries, and updates behind six methods. The Spark
equivalent is thin: a SparkSession plus named temp views (so every
operator is also runnable as SQL) plus a snapshot store for persisted
mutations. There is no lock anywhere — immutable DataFrames and
pointer-swap publishing make readers isolated by construction
(SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.mutations import apply_view_deltas, rename_user, validated_append
from .operators.queries import get_all_user_comments, get_engagements_by_location
from .plans.snapshots import SnapshotStore
from .sources.csv_source import load_social_tables
from .sources.integrity import ri_sweep, validate_batch


class Engine:
    """Social-media engine with the reference's six-method API
    (buzzdb_lab1.cpp: loadFlatFile :126, loadMultipleFlatFilesInParallel
    :329, getAllUserComments :682, getAllEngagementsByLocation :725,
    updatePostViews :603, addEngagementRecord :639, updateUserName
    :775), re-expressed over DataFrames + snapshots."""

    def __init__(self, spark: SparkSession, store_root: str | None = None):
        self.spark = spark
        self.tables: dict[str, DataFrame] = {}
        self.store = SnapshotStore(spark, store_root) if store_root else None

    # -- load (S1/S2/S3) ---------------------------------------------------
    def load_flat_files(self, data_dir: str) -> None:
        """Load CSVs with coerce-or-drop + RI filtering, then "commit"
        by registering views — the reference's snapshot swap
        (buzzdb_lab1.cpp:308-315) without the mutexes. Spark reads the
        files partition-parallel, so this is also S2.

        With a store attached, the load seeds a FULL snapshot of all
        tables: later commits persist only changed tables, so without
        the seed a restart after a partial mutation history would
        silently drop never-mutated tables."""
        self.tables = load_social_tables(self.spark, data_dir)
        if self.store is not None:
            self.store.commit(dict(self.tables))
            self.tables = {n: self.store.read(n) for n in self.tables}
        self._register()

    def load_snapshot(self) -> None:
        """Re-open the current persisted snapshot (restart path —
        reference Test 12 reloads and re-asserts RI,
        buzzdb_lab1.cpp:1650-1675)."""
        assert self.store is not None
        self.tables = self.store.read_all()
        self._register()

    def _register(self) -> None:
        for name, df in self.tables.items():
            df.createOrReplaceTempView(name)

    # -- reads (Q1/Q2) ------------------------------------------------------
    def get_all_user_comments(self, user_id: int) -> DataFrame:
        return get_all_user_comments(
            self.tables["users"], self.tables["engagements"], user_id
        )

    def get_engagements_by_location(self, location: str) -> DataFrame:
        return get_engagements_by_location(
            self.tables["users"], self.tables["engagements"], location
        )

    # -- writes (M1/M2/M3) ---------------------------------------------------
    def update_post_views(self, deltas: DataFrame) -> None:
        """M1 batched (buzzdb_lab1.cpp:603-631). ``deltas``:
        (id, delta) rows; concurrent increments become rows in one
        batch — associativity replaces Test 7's locking."""
        self.tables["posts"] = apply_view_deltas(self.tables["posts"], deltas)
        self._commit(["posts"])

    def add_engagement_records(self, batch: DataFrame) -> None:
        """M2 (buzzdb_lab1.cpp:639-673): FK-validated append.

        Persisted path writes O(batch): only the validated rows are
        written (``SnapshotStore.append`` adds a file to the table's
        manifest list); the existing table files are never rewritten
        — the reference appends one CSV line (:663-672), and at scale
        rewriting the fact table per batch would be the bottleneck.
        Validation scans each dim's key column once, with no shuffle:
        the batch semi-joins the bare key column, which AQE
        broadcasts while it is small."""
        checks = [
            (self.tables["posts"], "postId", "id"),
            (self.tables["users"], "username", "username"),
        ]
        if self.store is not None:
            ok = validate_batch(
                batch.select(*self.tables["engagements"].columns), checks
            )
            self.store.append({"engagements": ok})
            self.tables["engagements"] = self.store.read("engagements")
        else:
            self.tables["engagements"] = validated_append(
                self.tables["engagements"], batch, checks
            )
        self._register()

    def update_user_name(self, user_id: int, new_username: str) -> None:
        """M3 (buzzdb_lab1.cpp:775-963): cascading rename, committed as
        ONE multi-table snapshot (all-or-nothing; stronger than the
        reference's three separate renames)."""
        u, p, e = rename_user(
            self.tables["users"],
            self.tables["posts"],
            self.tables["engagements"],
            user_id,
            new_username,
        )
        self.tables.update(users=u, posts=p, engagements=e)
        self._commit(["users", "posts", "engagements"])

    def delete_user(self, user_id: int) -> None:
        """Cascade user deletion — the inverse of M3's rename cascade
        and the one mutation a social-media engine owes its users
        that the reference never had (its six-method API,
        buzzdb_lab1.cpp:90-969, has no delete): remove the user row,
        every post they authored, and every engagement referencing
        either the user directly (username FK) or any of their posts
        (postId FK), committed as ONE multi-table snapshot so readers
        never observe a partially-deleted user. Deleting an unknown
        id is a clean no-op on all three tables.

        Plan shape: the victim usernames and doomed post ids are
        single-row/small broadcast sides of semi/anti joins — the
        fact tables are each scanned once and never shuffled."""
        users = self.tables["users"]
        posts = self.tables["posts"]
        eng = self.tables["engagements"]
        victim = users.filter(F.col("id") == user_id).select("username")
        doomed_posts = posts.join(
            F.broadcast(victim), "username", "left_semi"
        ).select(F.col("id").alias("postId"))
        self.tables.update(
            users=users.filter(F.col("id") != user_id),
            # joins with on="col" hoist the key to column 0 — restore
            # the reference column order (export_csv is positional)
            posts=posts.join(
                F.broadcast(victim), "username", "left_anti"
            ).select(*posts.columns),
            engagements=eng.join(F.broadcast(victim), "username", "left_anti")
            .join(F.broadcast(doomed_posts), "postId", "left_anti")
            .select(*eng.columns),
        )
        self._commit(["users", "posts", "engagements"])

    def _commit(self, changed: list[str]) -> None:
        """Persist ``changed`` exactly when a store is attached — every
        update is durable, as in the reference (buzzdb_lab1.cpp:1032-1059)."""
        if self.store is not None:
            self.store.commit({n: self.tables[n] for n in changed})
            # Re-open from storage so downstream plans read the
            # materialized snapshot, not an ever-growing lineage.
            for n in changed:
                self.tables[n] = self.store.read(n)
        self._register()

    # -- export (reference's durable format) ---------------------------------
    def maintain(self, vacuum_retain: int = 10) -> dict:
        """Periodic table maintenance in one call (the cron job a
        long-lived deployment runs): compact every table whose
        manifest has grown past one directory (bounds read fan-in),
        then vacuum data behind the retention horizon (bounds disk).
        Compaction first — its rewrite supersedes the append debris
        vacuum then reclaims. Re-resolves the engine's table handles
        afterwards so readers follow the new current version."""
        assert self.store is not None
        fragmented = {
            name: self.store.read(name)
            for name, dirs in self.store.tables().items()
            if len(dirs) > 1
        }
        if fragmented:
            # ONE multi-table commit: N fragmented tables cost one
            # version (one manifest write, one pointer swap), not N.
            self.store.commit(fragmented)
        out = self.store.vacuum(retain_last=vacuum_retain)
        out["compacted"] = sorted(fragmented)
        self.load_snapshot()
        return out

    def export_csv(self, out_dir: str) -> None:
        """Write every table back to header CSVs in the reference's
        column order — the flat-file format IS the reference's durable
        representation, and its Test 13 asserts the persisted files
        stay strictly re-parseable (buzzdb_lab1.cpp:1677-1709). Tested
        by an export → re-load → equality round-trip.

        Single-file-per-table (coalesce(1) + rename) mirrors the
        reference's one-CSV-per-table layout; at scale you would drop
        the coalesce and export a sharded directory instead."""
        import glob
        import os
        import shutil
        import tempfile

        os.makedirs(out_dir, exist_ok=True)
        for name, df in self.tables.items():
            staging = tempfile.mkdtemp(prefix=f"csv_{name}_")
            (
                df.coalesce(1)
                .write.mode("overwrite")
                .option("header", True)
                .option("emptyValue", "")
                # no quote option: the format forbids commas/quotes in
                # fields, so the writer never needs to quote
                .csv(staging)
            )
            part = glob.glob(os.path.join(staging, "part-*.csv"))[0]
            shutil.move(part, os.path.join(out_dir, f"{name}.csv"))
            shutil.rmtree(staging, ignore_errors=True)

    # -- invariants ----------------------------------------------------------
    def ri_report(self) -> DataFrame:
        """J5 sweep (check_no_dangling_post_ids,
        buzzdb_lab1.cpp:1063-1070) over both FK edges."""
        t = self.tables
        return ri_sweep(
            [
                (t["engagements"], t["posts"], "postId", "id", "engagements->posts"),
                (t["engagements"], t["users"], "username", "username", "engagements->users"),
                (t["posts"], t["users"], "username", "username", "posts->users"),
            ]
        )
