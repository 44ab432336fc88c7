"""Versioned snapshot store with atomic multi-table commit.

The reference's durability story is per-file: stream to ``.tmp`` then
``remove``+``rename`` (rewrite_post_views_file,
buzzdb_lab1.cpp:1032-1059); its crash test (Test 11,
buzzdb_lab1.cpp:1603-1648) asserts a reader never sees a torn file.
But its multi-table mutation (updateUserName, :775-963) renames the
three files *separately* — a crash between renames leaves cross-table
inconsistency.

This store is strictly stronger: every commit writes a complete new
version directory (any subset of tables; unchanged tables carry
forward by reference) and publishes it by atomically renaming a
pointer file. Readers resolve the pointer once and then read immutable
parquet — the lock-free equivalent of the reference's
snapshot-build-then-swap load protocol (buzzdb_lab1.cpp:308-315).

At cluster scale the same design maps onto an object store: version
directories are immutable prefixes, the pointer is a small manifest
(this is the essence of the Iceberg/Delta commit protocol, reduced to
the single-writer case the reference supports).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


_DEFAULT_INDEX_ROOT: str | None = None


def index_root(spark, prefix: str) -> str:
    """Root directory for persisted index artifacts (the IVF cell
    index, the corpus band index). Configurable via
    ``spark.flatfile.indexDir`` — on a real cluster set it to shared
    storage (HDFS/S3) so every executor sees the same files; the
    default (a driver-local temp dir, removed at interpreter exit) is
    a LOCAL-MODE convenience only, exactly like `spark-warehouse/`
    defaults."""
    import atexit
    import shutil
    import tempfile

    conf_dir = spark.conf.get("spark.flatfile.indexDir", None)
    if conf_dir:
        return conf_dir.rstrip("/")
    global _DEFAULT_INDEX_ROOT
    if _DEFAULT_INDEX_ROOT is None:
        _DEFAULT_INDEX_ROOT = tempfile.mkdtemp(prefix=f"{prefix}_")
        atexit.register(shutil.rmtree, _DEFAULT_INDEX_ROOT, True)
    return _DEFAULT_INDEX_ROOT


def index_dir(spark, stem: str, sf_dir: str) -> str:
    """The store directory of the ``stem`` index over the corpus at
    ``sf_dir``: ``<index_root>/<stem>_<digest>``, the digest being
    sha256(application id, sf_dir) cut to 16 hex digits, so a rebuild
    in the same application reuses its own store instead of leaking a
    new one."""
    key = f"{spark.sparkContext.applicationId}\x00{sf_dir}"
    digest = hashlib.sha256(key.encode()).hexdigest()[:16]
    return f"{index_root(spark, stem)}/{stem}_{digest}"


def _nullable(dt: DataType) -> DataType:
    """``dt`` as a parquet read returns it: Spark writes every field,
    array element, map key and map value as nullable."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _written_schema(df: DataFrame, partition_cols: list[str]) -> StructType:
    """The schema a parquet read of ``df``'s written directory returns:
    every field nullable, hive partition columns moved last."""
    fields = {f.name: f for f in _nullable(df.schema)}
    return StructType(
        [f for n, f in fields.items() if n not in partition_cols]
        + [fields[n] for n in partition_cols]
    )


def _merge_schema(old: dict | None, new: StructType) -> dict | None:
    """The ``mergeSchema`` union of a table's recorded schema (manifest
    JSON) and a new directory's: ``old``'s columns in order, then
    ``new``'s additive ones. None — read by inference — when ``old``
    is unrecorded or a column changed type."""
    if old is None:
        return None
    have = {f.name: f for f in StructType.fromJson(old)}
    if any(f.name in have and have[f.name].dataType != f.dataType for f in new):
        return None
    added = [f for f in new if f.name not in have]
    return StructType(list(have.values()) + added).jsonValue()


class ConcurrentWriteError(RuntimeError):
    """Another writer committed (or is committing) the version this
    writer tried to claim. The losing commit is cleanly aborted —
    nothing was published — and the caller may re-plan against the
    new current snapshot and retry."""


class SnapshotStore:
    """Directory layout::

        root/
          _CURRENT              # json: {"version": N}
          v00001/
            _MANIFEST.json      # {"tables": {"name": [paths...]},
            users/ ...parquet   #  "schemas": {"name": StructType JSON}}
          v00002/
            _MANIFEST.json      # may point back into v00001 for
            posts/ ...          # tables unchanged by the commit

    A table is a *list* of immutable parquet directories; readers
    union them under the table's ``schemas`` entry — the schema a
    ``mergeSchema`` read of the list returns (every field nullable,
    partition columns last), recorded by the writer so a read runs no
    footer-inference job (Delta and Iceberg keep the schema in their
    metadata log for the same reason). A manifest without ``schemas``
    (written before they were recorded) is read by inference.

    ``commit`` replaces a table's list (copy-on-write rewrite —
    updates/renames), ``append`` adds one directory holding only the
    new batch — O(batch), not O(table), which is the difference
    between an append that costs megabytes and one that rewrites a
    100 TB fact table (the reference appends a single CSV line,
    buzzdb_lab1.cpp:663-672; this is its snapshot-safe twin).
    """

    # how old an unmanifested version claim must be before it is
    # treated as a crashed writer's debris (see _claim_version)
    stale_claim_seconds = 300.0

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- pointer ----------------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._pointer_path()) as f:
                return json.load(f)["version"]
        except FileNotFoundError:
            return 0

    def _manifest(self, version: int) -> dict:
        if version == 0:
            return {}
        with open(os.path.join(self.root, f"v{version:05d}", "_MANIFEST.json")) as f:
            return json.load(f)

    # -- read -------------------------------------------------------------
    def tables(self, version: int | None = None) -> dict[str, list[str]]:
        """Manifest as name → list of parquet dirs. ``version``
        time-travels to any committed snapshot — commits never delete
        prior versions' files, so every manifest stays readable (the
        Iceberg/Delta read-at-version contract) UNTIL an explicit
        ``vacuum`` reclaims history behind its retention horizon;
        reads at reclaimed versions raise a clear ValueError."""
        if version is not None and not 1 <= version <= self.current_version():
            raise ValueError(
                f"version {version} not in [1, {self.current_version()}]"
            )
        v = self.current_version() if version is None else version
        if v == 0:
            return {}
        try:
            return self._manifest(v)["tables"]
        except FileNotFoundError:
            raise ValueError(
                f"version {v} was vacuumed (pre-horizon history is "
                "physically reclaimed; see SnapshotStore.vacuum)"
            ) from None

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Union-read the table's file list under the version's
        recorded schema: the UNION of all listed directories' schemas,
        so a column added by a later append is nullable-absent in
        older files instead of silently dropped — parquet's additive
        schema evolution. Passing the schema launches no Spark job; a
        ``mergeSchema`` footer-inference read is only the fallback for
        manifests written before schemas were recorded. Each version's
        manifest is immutable, so time-travel reads resolve the schema
        as of that version (pinned in tests/test_durability.py)."""
        v = self.current_version() if version is None else version
        # resolve the pointer once: the file list and the schema must
        # come from the same version (tables(None) answers {} on an
        # empty store)
        by_table = self.tables(v or version)
        if name not in by_table:
            if v and name in self._manifest(v).get("vacuumed_tables", []):
                raise ValueError(
                    f"table '{name}' at version {v} was vacuumed (its "
                    "directories were reclaimed behind the retention "
                    "horizon; see SnapshotStore.vacuum)"
                )
            raise KeyError(name)
        return self.read_dirs(by_table[name], self.table_schema(name, v))

    def table_schema(self, name: str, version: int) -> StructType | None:
        """The schema recorded for table ``name`` at ``version``; None
        when that manifest predates recorded schemas or a column
        changed type (read by inference)."""
        schema = self._manifest(version).get("schemas", {}).get(name)
        return None if schema is None else StructType.fromJson(schema)

    def read_dirs(self, paths: list[str], schema: StructType | None) -> DataFrame:
        """Read some of a table's directories under ``schema``, as
        ``table_schema`` returns it for the version the caller planned
        against — no Spark job. None falls back to ``mergeSchema``
        inference, one footer-reading job."""
        if schema is None:
            return self.spark.read.option("mergeSchema", True).parquet(*paths)
        return self.spark.read.schema(schema).parquet(*paths)

    def read_all(self) -> dict[str, DataFrame]:
        return {n: self.read(n) for n in self.tables()}

    # -- write ------------------------------------------------------------
    def commit(
        self,
        changed: dict[str, DataFrame],
        partition_by: dict[str, list[str]] | None = None,
        cluster_by: dict[str, tuple[list[str], int]] | None = None,
        meta: dict | None = None,
    ) -> int:
        """Copy-on-write REPLACE: each changed table's file list is
        rewritten to one fresh directory (updates / renames / loads).
        Unchanged tables carry forward by reference.

        ``partition_by`` maps table name → partition columns: the
        rewrite lays the table out hive-partitioned so downstream
        scans with predicates on those columns prune whole directories
        (the 100 TB layout lever — e.g. events by event date, facts by
        key range).

        ``cluster_by`` maps table name → (columns, n_files): the
        rewrite range-partitions rows across ``n_files`` files and
        sorts within each, so every file owns a disjoint key range
        (pinned in tests/test_durability.py). This is the second
        layout lever: parquet footers carry per-column min/max, so a
        range/point predicate on the cluster columns skips whole
        files at scan time. Hive partitioning prunes on LOW-
        cardinality columns (directories); clustering prunes on
        high-cardinality ones (timestamps, keys) without directory
        explosion. Composable with ``partition_by`` (cluster within
        each partition).

        ``meta`` rides the same manifest commit as on ``append`` —
        e.g. an incremental-rollup fold marker published atomically
        with the folded state (plans/rollup.py)."""
        return self._publish(
            changed,
            append=False,
            partition_by=partition_by,
            cluster_by=cluster_by,
            meta=meta,
        )

    def append(
        self, appended: dict[str, DataFrame], meta: dict | None = None
    ) -> int:
        """O(batch) APPEND: write only the new rows as an extra
        directory on the table's file list; prior files are untouched
        (Iceberg/Delta-style add-files commit, single-writer case).

        ``meta`` rides the SAME manifest commit (merged over the prior
        version's meta), so a writer can record progress markers —
        e.g. a streaming sink's last-committed batch id — atomically
        with the data they describe: one pointer swap publishes both
        or neither, which is what makes foreachBatch replay idempotent
        (see streaming/ingest.py).

        Schema is ENFORCED at the sink (the Delta contract): a batch
        column whose dtype differs from the table's is either aligned
        by a value-exact cast — only the TIMESTAMP↔TIMESTAMP_NTZ pair
        qualifies, same µs integer under the engine's pinned-UTC
        sessions (streaming event-time must be TIMESTAMP while the
        parquet fixtures scan as NTZ, so mixed writers are the normal
        case) — or rejected loudly. Silent drift would poison every
        later union read."""
        appended = {
            n: self._align_append_schema(n, df) for n, df in appended.items()
        }
        return self._publish(appended, append=True, meta=meta)

    def _align_append_schema(self, name: str, df: DataFrame) -> DataFrame:
        from pyspark.sql.types import TimestampNTZType, TimestampType

        existing = self.tables().get(name)
        if not existing:
            return df
        ts_family = (TimestampType, TimestampNTZType)
        current = {f.name: f.dataType for f in self.read(name).schema.fields}
        out, realigned = [], False
        for f in df.schema.fields:
            # the table's types are as read back: nested fields nullable
            want = current.get(f.name)
            if want is None or _nullable(f.dataType) == want:
                out.append(F.col(f.name))
            elif isinstance(f.dataType, ts_family) and isinstance(want, ts_family):
                out.append(F.col(f.name).cast(want).alias(f.name))
                realigned = True
            else:
                raise ValueError(
                    f"append to '{name}': column '{f.name}' is "
                    f"{f.dataType.simpleString()} but the table has "
                    f"{want.simpleString()} — rewrite the batch (only "
                    "timestamp-flavor drift is auto-aligned)"
                )
        return df.select(*out) if realigned else df

    def meta(self) -> dict:
        """Writer-defined metadata of the current version (empty for
        v0 and for manifests written before meta existed)."""
        return self._manifest(self.current_version()).get("meta", {})

    def compact(self, name: str) -> int:
        """Rewrite ``name``'s file list to ONE fresh directory in a
        new version. ``append`` grows the manifest list by one entry
        per batch — unbounded, and at scale each entry is another
        directory listing per read — so periodic compaction bounds
        read fan-in, exactly like Iceberg/Delta table maintenance.

        Time-travel safe by construction: compaction is an ordinary
        copy-on-write commit of the union-read, so prior versions'
        manifests and files are untouched and every historical read
        still resolves (pinned in tests/test_durability.py) — until
        an explicit ``vacuum`` later reclaims pre-horizon history.
        The rewrite is plain: it does not re-partition or re-cluster."""
        return self.commit({name: self.read(name)})

    def vacuum(self, retain_last: int = 10) -> dict:
        """Physically delete data directories unreachable from the
        manifests of the last ``retain_last`` versions — the
        Delta-style VACUUM that bounds DISK growth the way ``compact``
        bounds manifest growth. Copy-on-write never deletes, so a
        long-lived store otherwise keeps every superseded rewrite
        forever.

        Carry-by-reference is the subtlety: a retained manifest may
        point INTO an older version's directory (tables unchanged
        since then), so the keep-set is computed from retained
        manifests' path lists, never from version-directory age. A
        fully-reclaimed version loses its manifest (reads raise the
        clear "was vacuumed" error); a PARTIALLY-reclaimed one (some
        dirs carried by retained manifests) keeps its manifest with
        the dead table entries pruned into ``vacuumed_tables``, so
        reads of reclaimed tables also fail clearly instead of with a
        raw path-not-found. Versions a previous, tighter vacuum
        already removed are skipped, so loosening ``retain_last``
        between runs is safe. Returns {"removed_dirs",
        "removed_versions", "horizon"}."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        cur = self.current_version()
        horizon = max(1, cur - retain_last + 1)
        keep: set[str] = set()
        for v in range(horizon, cur + 1):
            try:
                by_table = self.tables(v)
            except ValueError:
                continue  # removed by an earlier, tighter vacuum
            for dirs in by_table.values():
                keep.update(os.path.realpath(p) for p in dirs)
        # Refuse to delete ANYTHING if the keep-set doesn't resolve:
        # manifest paths inherit the root's spelling, so a relative-
        # root store vacuumed from a different CWD would judge every
        # still-referenced directory "unreachable" and rmtree it —
        # irreversible, since copy-on-write keeps no second copy.
        missing = sorted(p for p in keep if not os.path.isdir(p))
        if missing:
            raise RuntimeError(
                "vacuum aborted: retained manifests reference paths that "
                f"do not resolve from here (first: {missing[0]}) — open "
                "the store with the same root spelling/CWD it was "
                "written with"
            )
        removed_dirs = removed_versions = 0
        for v in range(1, horizon):
            vdir = os.path.join(self.root, f"v{v:05d}")
            if not os.path.isdir(vdir):
                continue
            for entry in os.listdir(vdir):
                p = os.path.join(vdir, entry)
                if (
                    entry != "_MANIFEST.json"
                    and os.path.isdir(p)
                    and os.path.realpath(p) not in keep
                ):
                    shutil.rmtree(p)
                    removed_dirs += 1
            manifest_path = os.path.join(vdir, "_MANIFEST.json")
            if not [e for e in os.listdir(vdir) if e != "_MANIFEST.json"]:
                if os.path.exists(manifest_path):
                    os.remove(manifest_path)
                os.rmdir(vdir)
                removed_versions += 1
            elif os.path.exists(manifest_path):
                m = self._manifest(v)
                tbls = m["tables"]
                live = {
                    n: ps
                    for n, ps in tbls.items()
                    if all(os.path.isdir(p) for p in ps)
                }
                dead = sorted(set(tbls) - set(live))
                if dead:
                    m["tables"] = live
                    m["vacuumed_tables"] = sorted(
                        set(m.get("vacuumed_tables", [])) | set(dead)
                    )
                    fd, tmp = tempfile.mkstemp(dir=vdir, prefix="_MANIFEST.")
                    with os.fdopen(fd, "w") as f:
                        json.dump(m, f)
                        f.flush()
                        os.fsync(f.fileno())
                    os.replace(tmp, manifest_path)
        return {
            "removed_dirs": removed_dirs,
            "removed_versions": removed_versions,
            "horizon": horizon,
        }

    def delete_where(self, name: str, condition: Column | str) -> int:
        """File-level copy-on-write DELETE: rows where ``condition`` is
        TRUE are removed; rows where it is FALSE **or NULL** are kept
        (SQL DELETE semantics — a NULL predicate never deletes).

        Scale shape (the Delta/Iceberg rewrite-only-affected-files
        protocol, directory-granular here because a directory is this
        store's add-files unit): ONE planning job scans every entry
        with the predicate pushed down (parquet min/max stats can
        skip whole files) and collects the DIRECTORY NAMES that hold
        matches — metadata-scale, like ``merge_upsert``'s planning —
        then only those entries rewrite into one fresh directory;
        untouched entries carry forward by reference. Every entry is
        read under the table's recorded schema, so an entry written
        before an additive column reads it as NULL, which never
        deletes. A delete that matches nothing is a no-op and does not
        burn a version."""
        import functools

        cond = F.expr(condition) if isinstance(condition, str) else condition
        v = self.current_version()
        paths = self.tables(v)[name]
        schema = self.table_schema(name, v)
        planned = functools.reduce(
            DataFrame.unionByName,
            [
                self.read_dirs([p], schema)
                .filter(cond)
                .select(F.lit(p).alias("_dir"))
                for p in paths
            ],
        )
        matched = {r["_dir"] for r in planned.distinct().collect()}
        touched = [p for p in paths if p in matched]
        kept = [p for p in paths if p not in matched]
        if not touched:
            return self.current_version()
        survivors = self.read_dirs(touched, schema).filter(
            ~F.coalesce(cond.cast("boolean"), F.lit(False))
        )
        return self._publish({name: survivors}, append=False, carry={name: kept})

    def merge_upsert(
        self, name: str, updates: DataFrame, key_cols: list[str]
    ) -> int:
        """Copy-on-write MERGE (upsert): rows of ``updates`` replace
        existing rows with equal ``key_cols``; unmatched update rows
        insert. Caller guarantees ``updates`` has at most one row per
        key (all update rows land, so in-batch duplicates would both
        survive).

        Scale shape: one key-projected scan over the table, tagged by
        manifest entry, semi-joined against the (broadcast,
        batch-sized) update keys to find which entries actually hold
        matched keys — the collected result is DIRECTORY NAMES
        (metadata-scale, Delta-style file planning), never rows. Only
        matched entries rewrite (their unmatched rows + the whole
        update batch, schema-evolved by name); untouched entries carry
        forward by reference. A pure-insert merge degenerates to
        ``append``'s O(batch) shape."""
        import functools

        v = self.current_version()
        paths = self.tables(v)[name]
        schema = self.table_schema(name, v)
        upd_keys = updates.select(*key_cols).distinct()
        tagged = functools.reduce(
            DataFrame.unionByName,
            [
                self.read_dirs([p], schema)
                .select(*key_cols)
                .withColumn("_dir", F.lit(p))
                for p in paths
            ],
        )
        touched = {
            r["_dir"]
            for r in tagged.join(F.broadcast(upd_keys), key_cols)
            .select("_dir")
            .distinct()
            .collect()
        }
        kept = [p for p in paths if p not in touched]
        if touched:
            base = self.read_dirs(list(touched), schema)
            merged = base.join(
                F.broadcast(upd_keys), key_cols, "left_anti"
            ).unionByName(updates, allowMissingColumns=True)
        else:
            merged = updates
        return self._publish({name: merged}, append=False, carry={name: kept})

    def _claim_version(self, version: int) -> str:
        """CLAIM the next version directory with an atomic ``mkdir`` —
        the optimistic commit protocol (Delta/Iceberg's
        rename-if-absent, reduced to what a POSIX filesystem gives
        for free). Exactly one writer can create ``vNNNNN``; a
        concurrent second writer gets ``FileExistsError`` and aborts
        with :class:`ConcurrentWriteError` BEFORE writing anything —
        the previous silent behavior was two writers sharing one
        version directory and the later pointer swap discarding one
        commit's data.

        Crash recovery: a claimed directory the pointer never reached
        is debris from a writer that died mid-commit (publication IS
        the pointer swap — even a fully-written manifest is
        unpublished without it). Claim-present alone cannot
        distinguish a crashed writer from a slow live one, so the
        sweep additionally requires every file under the claim to be
        older than ``stale_claim_seconds`` (a live commit keeps
        touching its directory as parquet lands, and swaps the
        pointer within moments of the manifest). Two live writers
        racing over the same swept debris still resolve to one winner
        (the second ``mkdir`` fails); a lock service would only be
        needed for filesystems without atomic ``mkdir`` (object
        stores — where the real Iceberg/Delta commit coordinators
        come in)."""
        import time

        vdir = os.path.join(self.root, f"v{version:05d}")
        for attempt in (0, 1):
            try:
                os.mkdir(vdir)
                return vdir
            except FileExistsError:
                newest = 0.0
                for dirpath, _dirs, files in os.walk(vdir):
                    paths = [dirpath] + [os.path.join(dirpath, f) for f in files]
                    for p in paths:
                        try:
                            newest = max(newest, os.stat(p).st_mtime)
                        except OSError:
                            pass
                stale = (
                    self.current_version() < version
                    and time.time() - newest > self.stale_claim_seconds
                )
                if stale and attempt == 0:
                    shutil.rmtree(vdir, ignore_errors=True)
                    continue
                raise ConcurrentWriteError(
                    f"version {version} already claimed by another "
                    "writer; re-plan against the current snapshot and retry"
                ) from None
        raise AssertionError("unreachable")

    def _write_all(self, writes: list[tuple[DataFrameWriter, str]]) -> None:
        """Run a commit's table writes concurrently, one pool thread per
        table up to the session's ``defaultParallelism``: at OLTP sizes
        each write is a few short Spark jobs, so the commit is bound by
        job latency, not by cores. Every task inherits the caller's local properties
        (job group, scheduler pool) through ``inheritable_thread_target``,
        wrapped per task on the caller's thread. Returns after every
        write has finished; a failed write re-raises."""
        n_threads = max(
            1, min(len(writes), self.spark.sparkContext.defaultParallelism)
        )
        with ThreadPoolExecutor(n_threads) as pool:
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(writer.parquet), path)
                for writer, path in writes
            ]
        for future in futures:
            future.result()

    def _publish(
        self,
        changed: dict[str, DataFrame],
        append: bool,
        partition_by: dict[str, list[str]] | None = None,
        cluster_by: dict[str, tuple[list[str], int]] | None = None,
        carry: dict[str, list[str]] | None = None,
        meta: dict | None = None,
    ) -> int:
        cur = self.current_version()
        old = self._manifest(cur)
        new_tables = self.tables(cur) if cur else {}
        schemas = dict(old.get("schemas", {}))
        version = cur + 1
        vdir = self._claim_version(version)

        try:
            writes = []
            for name, df in changed.items():
                path = os.path.join(vdir, name)
                parts = (partition_by or {}).get(name, [])
                if cluster_by and name in cluster_by:
                    cols, n_files = cluster_by[name]
                    df = df.repartitionByRange(n_files, *cols).sortWithinPartitions(
                        *cols
                    )
                writer = df.write.mode("overwrite")
                if parts:
                    writer = writer.partitionBy(*parts)
                writes.append((writer, path))
                if append and name in new_tables:
                    prior = new_tables[name]
                elif carry is not None and name in carry:
                    # partial rewrite (delete_where / merge_upsert):
                    # untouched directories carry forward by reference
                    # ahead of the freshly rewritten one.
                    prior = list(carry[name])
                else:
                    prior = []
                new_tables[name] = prior + [path]
                written = _written_schema(df, parts)
                schemas[name] = (
                    _merge_schema(schemas.get(name), written)
                    if prior
                    else written.jsonValue()
                )
            self._write_all(writes)
        except BaseException:
            # nothing was published: release the claim so the next
            # commit need not wait out stale_claim_seconds
            shutil.rmtree(vdir, ignore_errors=True)
            raise

        with open(os.path.join(vdir, "_MANIFEST.json"), "w") as f:
            json.dump(
                {
                    "version": version,
                    "tables": new_tables,
                    # meta carries forward (merged) so progress markers
                    # survive unrelated commits between stream batches.
                    "meta": {**old.get("meta", {}), **(meta or {})},
                    "schemas": schemas,
                },
                f,
                separators=(",", ":"),
            )
            f.flush()
            os.fsync(f.fileno())
        # Sync the version dir too, so the manifest's directory entry
        # is durable before the pointer can reference it.
        dfd = os.open(vdir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

        # Atomic publish: write-tmp + rename, same primitive the
        # reference uses per data file (buzzdb_lab1.cpp:1053-1057),
        # but applied once to the pointer so the multi-table commit
        # is all-or-nothing.
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="_CURRENT.")
        with os.fdopen(fd, "w") as f:
            json.dump({"version": version}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._pointer_path())
        return version
