"""``social_oltp``: the reference's own surface through ``engine.Engine``
backed by a ``SnapshotStore``, one closed-loop client.

Input: the CSVs of ``sources.social_fixture.generate_social_csvs(dir,
seed)`` (~26k rows, dirty rows mixed in).

- Cold pass: ``load_flat_files`` into an empty store (CSV parse,
  coerce-or-drop, RI filtering, the seeding snapshot commit), twice
  into fresh store directories.
- Warm pass: one block of the seeded op stream. Every block holds the
  same ten ops — 6 reads (3 × Q1 ``get_all_user_comments``, 3 × Q2
  ``get_engagements_by_location``, each collected) in seeded positions
  and 4 writes in a fixed order (M1 ``update_post_views`` with a 10-row
  delta batch, M3 ``update_user_name``, ``delete_user``, M2
  ``add_engagement_records`` with a 10-row batch of which ~10% carry
  dangling foreign keys) — then ``maintain()``. Fixed block composition
  keeps block walls comparable across seeds; writes run beside reads,
  so an append that fragments tables shows up as slower reads.

Correctness: a shadow model replays every op in Python; each read must
equal it, and at the end a fresh ``Engine.load_snapshot()`` must hold
exactly the shadow's tables with an empty ``ri_report()``.
"""

from __future__ import annotations

import os
import random
import sys
import time

from cputime import Meter, clean
from layers import unit_of
from spans import STAGE_FIELDS, Tracer, ancestors, dir_bytes
from stats import median, percentile

BLOCK = ("q1",) * 3 + ("q2",) * 3 + ("m1", "m3", "delete", "m2")
READS = ("q1", "q2")
OP_NAMES = {
    "q1": "q1_comments", "q2": "q2_location", "m1": "m1_views", "m2": "m2_append",
    "m3": "m3_rename", "delete": "delete_user", "maintain": "maintain",
}
# two loads and one block fit the run's time budget next to ~30 s of
# set-up; the JIT-cold first load runs in set-up
LOADS = 2
DANGLING_SHARE = 0.1


class Shadow:
    """Python model of the three tables, updated op by op."""

    def __init__(self, users, posts, eng):
        self.users = {r[0]: list(r[1:]) for r in users}  # id -> [username, location]
        self.posts = {r[0]: list(r[1:]) for r in posts}  # id -> [content, username, views]
        self.eng = {r[0]: list(r[1:]) for r in eng}  # id -> [postId, username, type, comment, ts]

    def q1(self, uid):
        if uid not in self.users:
            return []
        name = self.users[uid][0]
        return sorted(
            (e[0], e[3]) for e in self.eng.values() if e[1] == name and e[2] == "comment"
        )

    def q2(self, loc):
        names = {u[0] for u in self.users.values() if u[1] == loc}
        likes = sum(1 for e in self.eng.values() if e[1] in names and e[2] == "like")
        comments = sum(1 for e in self.eng.values() if e[1] in names and e[2] == "comment")
        return [(likes, comments)]

    def m1(self, deltas):
        net: dict[int, int] = {}
        for pid, d in deltas:
            net[pid] = net.get(pid, 0) + d
        for pid, d in net.items():
            if pid in self.posts:
                self.posts[pid][2] = max(0, self.posts[pid][2] + d)

    def m2(self, rows):
        names = {u[0] for u in self.users.values()}
        for r in rows:
            if r[1] in self.posts and r[2] in names:
                self.eng[r[0]] = list(r[1:])

    def m3(self, uid, new):
        if uid not in self.users:
            return
        old = self.users[uid][0]
        self.users[uid][0] = new
        for table in (self.posts, self.eng):  # username is field 1 of both
            for row in table.values():
                if row[1] == old:
                    row[1] = new

    def delete(self, uid):
        if uid not in self.users:
            return
        name = self.users.pop(uid)[0]
        doomed = {pid for pid, p in self.posts.items() if p[1] == name}
        self.posts = {k: v for k, v in self.posts.items() if k not in doomed}
        self.eng = {
            k: v for k, v in self.eng.items() if v[1] != name and v[0] not in doomed
        }

    def tables(self):
        return {
            "users": sorted((k, *v) for k, v in self.users.items()),
            "posts": sorted((k, *v) for k, v in self.posts.items()),
            "engagements": sorted((k, *v) for k, v in self.eng.items()),
        }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class Client:
    """Draws seeded op arguments from the shadow's current state, runs
    each op against the engine, and checks reads against the shadow."""

    def __init__(self, run, engine, shadow: Shadow, seed: int, tag: str):
        from flat_file_social_media_database_engine_spark.sources.social_fixture import LOCATIONS

        self.run = run
        self.engine = engine
        self.shadow = shadow
        self.rng = random.Random(seed)
        self.locations = LOCATIONS
        self.tag = tag
        self.next_eid = 10_000_000
        self.renames = 0
        self.lat: dict[str, list[float]] = {}  # untraced ops only
        self.fan_in: list[float] = []  # parquet files per table at traced reads

    def _user(self):
        return self.rng.choice(sorted(self.shadow.users))

    def op(self, kind: str, tracer: Tracer | None = None) -> float:
        spark, e, sh, rng = self.run.spark, self.engine, self.shadow, self.rng
        if kind == "q1":
            arg = self._user()
            call = lambda: e.get_all_user_comments(arg).collect()  # noqa: E731
            want = sh.q1(arg)
        elif kind == "q2":
            arg = rng.choice(self.locations)
            call = lambda: e.get_engagements_by_location(arg).collect()  # noqa: E731
            want = sh.q2(arg)
        elif kind == "m1":
            posts = sorted(sh.posts)
            arg = [(rng.choice(posts), rng.randint(-3, 5)) for _ in range(10)]
            call = lambda: e.update_post_views(spark.createDataFrame(arg, "id int, delta int"))  # noqa: E731
        elif kind == "m2":
            posts, users = sorted(sh.posts), sorted(sh.users)
            arg = []
            for _ in range(10):
                self.next_eid += 1
                pid = rng.choice(posts)
                name = sh.users[rng.choice(users)][0]
                if rng.random() < DANGLING_SHARE:
                    if rng.random() < 0.5:
                        pid = 9_000_000 + rng.randrange(1000)
                    else:
                        name = f"ghost{rng.randrange(1000)}"
                if rng.random() < 0.5:
                    typ, text = "like", "None"
                else:
                    typ, text = "comment", rng.choice(("nice", "agreed", "wow"))
                arg.append((self.next_eid, pid, name, typ, text, 1_700_000_000 + self.next_eid))
            schema = e.tables["engagements"].schema
            call = lambda: e.add_engagement_records(spark.createDataFrame(arg, schema))  # noqa: E731
        elif kind == "m3":
            self.renames += 1
            arg = (self._user(), f"renamed-{self.tag}-{self.renames}")
            call = lambda: e.update_user_name(*arg)  # noqa: E731
        elif kind == "delete":
            arg = self._user()
            call = lambda: e.delete_user(arg)  # noqa: E731
        else:
            arg = None
            call = e.maintain

        self.run.attempted += 1
        try:
            dt, got = self._timed(kind, call, tracer)
        except Exception as ex:  # a failed op is an error, not a crash
            self.run.fail(f"{kind}: {type(ex).__name__}: {ex}")
            return 0.0
        if kind in READS:
            got = [tuple(r) for r in got]
            if kind == "q2":
                got = [(int(a), int(b)) for a, b in got]
            if got != want:
                self.run.fail(f"{kind}({arg!r}) returned {got[:5]}... != shadow {want[:5]}...")
        elif kind == "m1":
            sh.m1(arg)
        elif kind == "m2":
            sh.m2(arg)
        elif kind == "m3":
            sh.m3(*arg)
        elif kind == "delete":
            sh.delete(arg)
        if tracer is None:
            self.lat.setdefault(kind, []).append(dt)
        return dt

    def _timed(self, kind: str, call, tracer: Tracer | None):
        """(seconds, result) of one op; traced ops also record the
        read fan-in and their Spark counters."""
        if tracer is None:
            t0 = time.perf_counter()
            got = call()
            return time.perf_counter() - t0, got
        name = f"engine.{OP_NAMES[kind]}"
        if kind in READS:
            self.fan_in.append(files_per_table(self.engine.store, ("users", "engagements")))
        with tracer.unit_span(self.run.spark.sparkContext, name, f"{name}-{len(tracer.spans)}") as s:
            got = call()
        return s.dur, got

    def block(self, tracer: Tracer | None = None) -> Meter:
        # reads land in seeded positions; the writes keep one order, with
        # the append last so every block's maintain() has a fragmented
        # table to compact (a fixed amount of storage work per block)
        reads = [k for k in BLOCK if k in READS]
        self.rng.shuffle(reads)
        writes = iter(k for k in BLOCK if k not in READS)
        slots = set(self.rng.sample(range(len(BLOCK)), len(BLOCK) - len(reads)))
        kinds = [next(writes) if i in slots else reads.pop() for i in range(len(BLOCK))]
        self.run.quiesce()
        with Meter() as m:
            for k in kinds + ["maintain"]:
                self.op(k, tracer)
        return m


def files_per_table(store, names) -> float:
    dirs = store.tables()
    counts = [
        sum(1 for d in dirs.get(n, []) for f in os.listdir(d) if f.endswith(".parquet"))
        for n in names
    ]
    return sum(counts) / len(counts)


def run(run, process_age) -> None:
    from flat_file_social_media_database_engine_spark.engine import Engine
    from flat_file_social_media_database_engine_spark.sources.social_fixture import (
        generate_social_csvs,
    )

    csv_dir = run.path("csv")
    expected = generate_social_csvs(csv_dir, run.seed)
    user_bytes = dir_bytes(csv_dir)
    run.start_session()

    # JIT warm-up: every load and op code path once, on a store of its own
    t = time.perf_counter()
    e = Engine(run.spark, store_root=run.path("store-warmup"))
    e.load_flat_files(csv_dir)
    sh = Shadow(_rows(e.tables["users"]), _rows(e.tables["posts"]), _rows(e.tables["engagements"]))
    warm = Client(run, e, sh, run.seed, "warmup")
    for k in OP_NAMES:
        warm.op(k)
    run.put("session.jit_warm_s", time.perf_counter() - t, "s")
    run.attempted -= len(OP_NAMES)  # set-up ops are not measured units
    run.put("setup_s", process_age(), "s")

    engines = []

    def load() -> Meter:
        engines.append(Engine(run.spark, store_root=run.path(f"store{len(engines)}")))
        run.quiesce()
        run.attempted += 1
        with Meter() as m:
            engines[-1].load_flat_files(csv_dir)
        return m

    loads = [load() for _ in range(LOADS)]
    ok = clean(loads)
    run.put("cold_pass_s", median([m.wall for m in ok]), "s", len(ok))
    run.put("engine.load_s", median([m.wall for m in ok]), "s", len(ok))
    tracer = run.tracer = Tracer() if run.trace else None
    if tracer is not None:
        engines.append(Engine(run.spark, store_root=run.path("store-traced")))
        run.quiesce()
        run.attempted += 1
        tracer.install()
        try:
            with tracer.unit_span(run.spark.sparkContext, "engine.load", "load") as s:
                engines[-1].load_flat_files(csv_dir)
        finally:
            tracer.uninstall()
        traced_load, load_spans = s.dur, list(tracer.spans)
    e = engines[-1]

    users, posts, eng = (_rows(e.tables[n]) for n in ("users", "posts", "engagements"))
    for name, rows in (("users", users), ("posts", posts), ("engagements", eng)):
        if len(rows) != expected[name]:
            run.fail(f"load {name}: {len(rows)} rows, generator expects {expected[name]}")
    client = Client(run, e, Shadow(users, posts, eng), run.seed, f"s{run.seed}")

    blocks, traced_blocks = [], []
    if tracer is not None:
        i_blocks = len(tracer.spans)
    t0 = time.perf_counter()
    while not blocks or time.perf_counter() - t0 < run.seconds:
        blocks.append(client.block())
        if len(blocks) == 1:  # a block ends in maintain(): fixed measuring point
            stored = dir_bytes(e.store.root) / user_bytes
        if tracer is not None:  # traced blocks alternate with untraced ones
            tracer.install()
            try:
                traced_blocks.append(client.block(tracer).wall)
            finally:
                tracer.uninstall()
    measured = time.perf_counter() - t0
    print(f"perfbench: loads {loads}; blocks {blocks}", file=sys.stderr)
    ok = clean(blocks)
    run.put("warm_pass_s", median([m.wall for m in ok]), "s", len(ok))
    run.put("process.cold_pass_cpu_s", median([m.cpu for m in loads]), "s", len(loads))
    run.put("process.warm_pass_cpu_s", median([m.cpu for m in blocks]), "s", len(blocks))
    run.put("store_bytes_per_user_byte", stored, "B/B")

    lat = client.lat
    for kind, name in OP_NAMES.items():
        run.put(f"engine.{name}_p50_ms", 1e3 * median(lat.get(kind, [])), "ms", len(lat.get(kind, [])))
    reads = [x for k in READS for x in lat.get(k, [])]
    writes = [x for k in ("m1", "m2", "m3", "delete") for x in lat.get(k, [])]
    run.put("engine.read_p50_ms", 1e3 * median(reads), "ms", len(reads))
    run.put("engine.read_p90_ms", 1e3 * percentile(reads, 90), "ms", len(reads))
    run.put("engine.write_p50_ms", 1e3 * median(writes), "ms", len(writes))
    run.put("engine.write_p90_ms", 1e3 * percentile(writes, 90), "ms", len(writes))
    n_ops = sum(len(v) for v in lat.values())
    run.put("engine.ops_per_s", n_ops / sum(m.wall for m in blocks), "1/s", n_ops)
    run.put("bench.measure_s", measured, "s")

    if tracer is not None:
        op_spans = tracer.spans[i_blocks:]
        _layers(run, tracer, load_spans, op_spans, client.fan_in, len(traced_blocks))
        run.put("trace.cold_pass_s", traced_load, "s")
        run.put("trace.warm_pass_s", median(traced_blocks), "s", len(traced_blocks))
        run.put("trace.cold_overhead_s", traced_load - run.metrics["cold_pass_s"][0], "s")
        run.put("trace.warm_overhead_s", median(traced_blocks) - run.metrics["warm_pass_s"][0], "s")

    # final maintenance, then durability + equality against the shadow
    t = time.perf_counter()
    run.attempted += 1
    try:
        e.maintain()
        fresh = Engine(run.spark, store_root=e.store.root)
        fresh.load_snapshot()
        want = client.shadow.tables()
        for name in ("users", "posts", "engagements"):
            if _rows(fresh.tables[name]) != want[name]:
                run.fail(f"reopened {name} differs from the shadow model")
        dangling = [r for r in fresh.ri_report().collect() if r["dangling_count"]]
        if dangling:
            run.fail(f"ri_report not empty: {dangling}")
    except Exception as ex:
        run.fail(f"final check: {type(ex).__name__}: {ex}")
    run.put("bench.check_s", time.perf_counter() - t, "s")


def _layers(run, tracer, load_spans, op_spans, fan_in, n_blocks):
    """Per-layer values: ``spark.*`` and ``driver.idle_s`` for the
    traced load (the cold pass), ``warm.spark.*`` and
    ``warm.driver.idle_s`` per traced op block (the warm pass), storage
    layers per call."""

    def put(name, value, n=1):
        run.put(name, value, unit_of(name), n)

    csv = [s for s in load_spans if s.name == "sources.csv_source.load"]
    kids = tracer.children()
    put("sources.csv_source.load_s", sum(tracer.self_time(s, kids) for s in csv))
    put("sources.integrity.check_s", sum(
        s.dur for s in load_spans if s.name == "sources.integrity.check"
    ))
    ops = [s for s in op_spans if s.name.startswith("engine.")]
    load = next(s for s in load_spans if s.name == "engine.load")
    for prefix, units, n in (("", [load], 1), ("warm.", ops, n_blocks)):
        for f in STAGE_FIELDS:
            put(f"{prefix}spark.{f}", sum(s.attrs.get(f, 0.0) for s in units) / n, n)
        put(f"{prefix}spark.cpu_per_wall", sum(
            s.attrs.get("executor_cpu_s", 0.0) for s in units
        ) / (sum(s.dur for s in units) * run.cpus))
        put(f"{prefix}driver.idle_s", sum(s.attrs.get("idle_s", 0.0) for s in units) / n, n)

    def in_maintain(s):
        return any(a.name == "engine.maintain" for a in ancestors(s))

    by = {
        "commit": [s for s in op_spans if s.name == "plans.snapshots.commit" and not in_maintain(s)],
        "compact": [s for s in op_spans if s.name == "plans.snapshots.commit" and in_maintain(s)],
        "append": [s for s in op_spans if s.name == "plans.snapshots.append"],
        "read": [s for s in op_spans if s.name == "plans.snapshots.read"],
        "vacuum": [s for s in op_spans if s.name == "plans.snapshots.vacuum"],
    }
    for k, v in by.items():
        put(f"plans.snapshots.{k}_s", median([s.dur for s in v]), len(v))
    writes = [s for s in ops if s.name in WRITE_USER_BYTES]
    written = sum(s.attrs.get("bytes", 0) for s in by["commit"] + by["append"])
    put("plans.snapshots.bytes_written", written / max(1, len(writes)), len(writes))
    user = sum(WRITE_USER_BYTES[s.name] for s in writes)
    put("plans.snapshots.bytes_written_per_user_byte", written / user if user else 0.0)
    put("plans.snapshots.files_per_table", median(fan_in), len(fan_in))


# user bytes of one write: its payload as CSV text (10 rows for M1/M2,
# one row for M3 and delete)
WRITE_USER_BYTES = {
    "engine.m1_views": 10 * len("1234,3\n"),
    "engine.m2_append": 10 * len("10000001,1234,user01234,comment,agreed,1700000000\n"),
    "engine.m3_rename": len("1234,renamed-s1-1\n"),
    "engine.delete_user": len("1234\n"),
}
