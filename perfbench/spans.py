"""Outside-in layer tracer: spans around calls into the engine's
public functions, recorded from the benchmark's own code.

``Tracer.install()`` rebinds each traced function in its defining
module AND in every loaded package module that imported it at top
level (``from ..plans.materialize import session_cached`` copies the
binding, so patching only the defining module would miss those call
sites; function-local imports re-read the module attribute and see the
patch). ``uninstall()`` restores every binding, so traced and untraced
passes can alternate in one process.

Spans (name, start, end, parent, unit id) stay in memory; ``dump``
writes them out once at exit. Self time is a span's duration minus the
union of its children's intervals — shared passes nest (a verified-pair
build consumes the shingle pass), so inclusive times would double-bill.

Spark's own counters come from the status store, per job group: the
benchmark tags every query/op with a unique group, and ``stage_counters``
reads each stage's last attempt right after the unit finishes, before
stage retention can evict it.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time
import uuid
from contextlib import contextmanager

PKG = "flat_file_social_media_database_engine_spark"

SHARED = "plans.materialize.shared_pass"
RELAYOUT = "sources.catalog.relayout"


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "unit", "attrs")

    def __init__(self, sid, name, start, parent, unit, attrs):
        self.sid = sid
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.unit = unit
        self.attrs = attrs

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Single-client span recorder (the workloads run one closed-loop
    client on one thread, so a plain stack tracks the parent)."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.unit: str | None = None
        # job group ids must differ between tracers: the status tracker
        # keeps a group's jobs after the unit ends, so a reused id would
        # count them again
        self._tag = uuid.uuid4().hex[:8]

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent, self.unit, attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def unit_span(self, sc, name: str, unit: str, **attrs):
        """Span for one query or op: every span inside it carries
        ``unit``, its Spark jobs run under a unique job group, and on
        exit it gets the group's stage counters and ``idle_s`` — its
        wall minus the union of its jobs' run intervals (planning, py4j,
        collects: time no job was running)."""
        group = f"perfbench-{self._tag}-{len(self.spans)}"
        sc.setJobGroup(group, group)
        self.unit = unit
        w0 = time.time()
        try:
            with self.span(name, **attrs) as s:
                yield s
        finally:
            self.unit = None
        w1 = time.time()
        counters, intervals = stage_counters(sc, group)
        s.attrs.update(counters)
        s.attrs["idle_s"] = (w1 - w0) - covered(intervals, w0, w1)
        sc.setJobGroup("perfbench-idle", "")

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__name__ = getattr(fn, "__name__", name)
        traced.__doc__ = fn.__doc__
        return traced

    # -- patching ------------------------------------------------------
    def _rebind(self, module: str, attr: str, make) -> None:
        orig = getattr(importlib.import_module(f"{PKG}.{module}"), attr)
        new = make(orig)
        for m in list(sys.modules.values()):
            name = getattr(m, "__name__", "") or ""
            if name.startswith(PKG) and m.__dict__.get(attr) is orig:
                self._patches.append((m, attr, orig))
                setattr(m, attr, new)

    def _rebind_method(self, module: str, cls: str, attr: str, make) -> None:
        klass = getattr(importlib.import_module(f"{PKG}.{module}"), cls)
        orig = klass.__dict__[attr]
        self._patches.append((klass, attr, orig))
        setattr(klass, attr, make(orig))

    def _store_writer(self, name: str, fn):
        """Span around a SnapshotStore write, tagged with the bytes of
        the files it added (listed outside the span's interval)."""

        def traced(store, *args, **kwargs):
            before = _files(store.root)
            with self.span(name) as s:
                out = fn(store, *args, **kwargs)
            s.attrs["bytes"] = sum(
                size for p, size in _files(store.root).items() if p not in before
            )
            return out

        return traced

    def install(self) -> None:
        catalog = importlib.import_module(f"{PKG}.sources.catalog")

        def shared(orig):
            def session_cached(cache, spark, sf_dir, build):
                relayout = any(cache is c for c in catalog._RELAYOUT_CACHES.values())
                kind = RELAYOUT if relayout else SHARED
                built = []

                def traced_build():
                    built.append(True)
                    with self.span(kind + ".build"):
                        return build()

                with self.span(kind + ".call", cache=id(cache)) as s:
                    out = orig(cache, spark, sf_dir, traced_build)
                    s.attrs["hit"] = not built
                return out

            return session_cached

        self._rebind("plans.materialize", "session_cached", shared)
        plain = [
            ("sources.catalog", "read_table", "sources.catalog.read_table"),
            ("streaming.events", "run_stream_to_parquet", "streaming.events.drain"),
            ("sources.csv_source", "load_social_tables", "sources.csv_source.load"),
            ("sources.integrity", "semi_filter", "sources.integrity.check"),
            ("sources.integrity", "validate_batch", "sources.integrity.check"),
            ("sources.integrity", "ri_sweep", "sources.integrity.check"),
        ]
        for module, attr, name in plain:
            self._rebind(module, attr, lambda f, n=name: self.wrap(n, f))
        for attr in ("commit", "append", "read", "vacuum"):
            name = f"plans.snapshots.{attr}"
            if attr in ("commit", "append"):
                make = lambda f, n=name: self._store_writer(n, f)  # noqa: E731
            else:
                make = lambda f, n=name: self.wrap(n, f)  # noqa: E731
            self._rebind_method("plans.snapshots", "SnapshotStore", attr, make)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- analysis ------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent.sid, []).append(s)
        return out

    @staticmethod
    def self_time(span: Span, kids: dict[int, list[Span]]) -> float:
        return span.dur - covered(
            [(c.start, c.end) for c in kids.get(span.sid, [])], span.start, span.end
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                    "parent": None if s.parent is None else s.parent.sid,
                    "unit": s.unit, **s.attrs,
                }) + "\n")


def _files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # removed by a concurrent vacuum
                pass
    return out


def dir_bytes(root: str) -> int:
    return sum(_files(root).values())


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def ancestors(span: Span):
    p = span.parent
    while p is not None:
        yield p
        p = p.parent


# -- Spark status store ------------------------------------------------
STAGE_FIELDS = (
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


def stage_counters(sc, group: str) -> tuple[dict, list[tuple[float, float]]]:
    """Sum the last attempt of every stage run by ``group``'s jobs, and
    return the jobs' run intervals (epoch seconds) for idle-time
    accounting. Stages skipped by shuffle reuse have no attempt data
    and count as nothing."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    intervals = []
    for jid in tracker.getJobIdsForGroup(group):
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: stage skipped
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
    return out, intervals


def jvm_peak_rss_mb(sc) -> float:
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
