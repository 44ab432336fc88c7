"""``analytic_sf0.1``: timed passes over a fixed list of registered
queries on sf0.1 fixtures, one closed-loop client.

Six queries, one per workload family (the list is short because every
query costs seconds of first-execution JIT per process, and each run
must fit the benchmark's time budget):

- ``q_pricing_summary`` — lineitem scan, the ``read_table`` relayout,
  a grouped-aggregate exchange (analytics);
- ``events_stream_attribution`` — an AvailableNow stream-stream join
  drained to parquet (eventflow, streaming.events);
- ``dedup_minhash_lsh`` — the nested shingle, signature and LSH-pair
  shared passes and their Arrow ``pandas_udf`` hashing (dedup);
- ``sim_topk_ivf`` — k-means cells and an inverted-file top-k over the
  embeddings (similarity);
- ``text_quality_score`` — token arrays and per-document scoring folds
  (text);
- ``mm_decode_features`` — Arrow decode of the embedding payloads
  (multimodal).

A cold pass runs after ``spark.catalog.clearCache()`` and
``reset_session_caches()``, so it pays relayouts, shared-pass builds and
stream drains; a warm pass reuses them. Each query's result is
collected to the driver (``toPandas``) and, after the clock stops,
hashed against its DuckDB oracle. The seed permutes query order; each
shared pass is built once per cold pass whichever query asks first, so
cold-pass work is order-invariant.
"""

from __future__ import annotations

import os
import random
import sys
import time

from cputime import Meter, clean
from layers import FAMILIES, unit_of
from stats import median
from spans import (
    RELAYOUT, SHARED, STAGE_FIELDS, Tracer, ancestors, covered, dir_bytes,
)

QUERIES = (
    "q_pricing_summary",
    "events_stream_attribution",
    "dedup_minhash_lsh",
    "sim_topk_ivf",
    "text_quality_score",
    "mm_decode_features",
)
SF = 0.1
WARM_SF = 0.001
# warm passes per cold pass: the first after a cold pass still pays JIT
# compilation at sf0.1 and scatters; two fit the run's time budget next
# to the six queries' first-execution JIT in set-up (~25 s on 4 cores)
WARM_PER_COLD = 2
# layers the warm pass is reported for, as warm.<name>
WARM_LAYERS = ("workloads.", "spark.", "driver.")


def family(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


class Passes:
    """Runs passes over ``order`` and keeps the per-pass bookkeeping."""

    def __init__(self, run, order: list[str]):
        from flat_file_social_media_database_engine_spark import workloads
        from flat_file_social_media_database_engine_spark.plans import materialize

        workloads.load_all()
        self.run = run
        self.order = order
        self.registry = workloads.QUERIES
        self.materialize = materialize
        self.n = 0
        self.results: dict = {}  # name -> pandas result of the latest pass

    def one(self, sf_dir: str, cold: bool, tracer: Tracer | None = None) -> Meter:
        spark = self.run.spark
        if cold:
            spark.catalog.clearCache()
            self.materialize.reset_session_caches()
        self.run.quiesce()
        self.n += 1
        self.results = {}
        with Meter() as m:
            for name in self.order:
                self.run.attempted += 1
                try:
                    if tracer is None:
                        self.results[name] = self.registry[name](spark, sf_dir).toPandas()
                    else:
                        self._traced(name, sf_dir, tracer)
                except Exception as ex:  # a failed query is an error, not a crash
                    self.run.fail(f"{name} pass {self.n}: {type(ex).__name__}: {ex}")
        return m

    def _traced(self, name: str, sf_dir: str, tracer: Tracer) -> None:
        spark = self.run.spark
        fam = family(self.registry[name])
        with tracer.unit_span(spark.sparkContext, f"workloads.{fam}.query", name):
            with tracer.span(f"workloads.{fam}.plan"):
                df = self.registry[name](spark, sf_dir)
            with tracer.span(f"workloads.{fam}.execute"):
                self.results[name] = df.toPandas()


def materialized_bytes(spark) -> float:
    """Bytes the session holds for reuse: persisted blocks (memory +
    disk) plus the temp directories passes, relayouts and stream sinks
    wrote (all under this run's TMPDIR)."""
    blocks = sum(
        info.memSize() + info.diskSize()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )
    return float(blocks + dir_bytes(os.environ["TMPDIR"]))


def fixture_dir(run, sf: float) -> str:
    """Fixtures are seed-independent, so they are generated once per
    checkout into ``.perfbench/fixtures/sf<sf>-<generator hash>``
    (written to a temp name, then renamed, so an interrupted run leaves
    no partial set and an edited generator never reuses stale files)."""
    import hashlib

    import fixtures

    with open(fixtures.__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(run.base, "fixtures", f"sf{sf}-{tag}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        fixtures.generate(tmp, sf)
        os.replace(tmp, out)
    return out


def layer_metrics(spans, wall: float, cpus: int) -> dict[str, float]:
    """Per-layer totals for one traced pass (see layers.py)."""
    build_names = (SHARED + ".build", RELAYOUT + ".build")
    builds = [s for s in spans if s.name in build_names]

    def outer_build(s):
        return next((a for a in ancestors(s) if a.name in build_names), None)

    nested: dict[int, list] = {}
    for b in builds:
        o = outer_build(b)
        nested.setdefault(-1 if o is None else o.sid, []).append(b)

    def exclusive(s) -> float:
        inner = [(c.start, c.end) for c in nested.get(s.sid, [])]
        return s.dur - covered(inner, s.start, s.end)

    out: dict[str, float] = {}
    shared_b = [b for b in builds if b.name == SHARED + ".build"]
    relayout_b = [b for b in builds if b.name == RELAYOUT + ".build"]
    calls = [s for s in spans if s.name == SHARED + ".call"]
    hits = sum(1 for s in calls if s.attrs.get("hit"))
    out["plans.materialize.shared_pass_builds"] = len(shared_b)
    out["plans.materialize.shared_pass_hits"] = hits
    out["plans.materialize.shared_pass_hit_ratio"] = hits / len(calls) if calls else 0.0
    out["plans.materialize.shared_pass_build_self_s"] = sum(exclusive(b) for b in shared_b)
    out["sources.catalog.relayout_builds"] = len(relayout_b)
    out["sources.catalog.relayout_s"] = sum(exclusive(b) for b in relayout_b)
    reads = [s for s in spans if s.name == "sources.catalog.read_table"]
    out["sources.catalog.read_table_calls"] = len(reads)
    out["sources.catalog.read_table_s"] = sum(
        s.dur - covered([(b.start, b.end) for b in builds if s in ancestors(b)], s.start, s.end)
        for s in reads
    )
    drains = [s for s in spans if s.name == "streaming.events.drain"]
    out["streaming.events.drains"] = len(drains)
    out["streaming.events.drain_s"] = sum(s.dur for s in drains)

    top_builds = nested.get(-1, [])
    for fam in FAMILIES:
        out[f"workloads.{fam}.plan_s"] = 0.0
        out[f"workloads.{fam}.query_self_s"] = 0.0
    for f in STAGE_FIELDS:
        out[f"spark.{f}"] = 0.0
    out["driver.idle_s"] = 0.0
    for s in spans:
        fam, _, kind = s.name.rpartition(".")
        if not fam.startswith("workloads.") or kind not in ("plan", "query"):
            continue
        # the builds run inside a plan or query span are billed to
        # shared_pass_build_self_s and relayout_s, not to the family
        mine = [(b.start, b.end) for b in top_builds if b.unit == s.unit]
        own = s.dur - covered(mine, s.start, s.end)
        if kind == "plan":
            out[fam + ".plan_s"] += own
        else:
            out[fam + ".query_self_s"] += own
            for f in STAGE_FIELDS:
                out[f"spark.{f}"] += s.attrs.get(f, 0.0)
            out["driver.idle_s"] += s.attrs.get("idle_s", 0.0)
    out["spark.cpu_per_wall"] = out["spark.executor_cpu_s"] / (wall * cpus) if wall else 0.0
    return out


def check(run, results: dict, cold_hashes: dict, sf_dir: str) -> None:
    """Untimed: hash each query's warm-pass result against its DuckDB
    oracle over the same fixture files (``tools/selfcheck.py``'s
    ``value_hash``, ``dtype_drift`` and replay-substituted oracles), and
    require the cold pass to have produced the same hash."""
    import duckdb

    from flat_file_social_media_database_engine_spark.workloads import ORACLE
    from tools import selfcheck

    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET threads={run.cpus}")
    for t in os.listdir(sf_dir):
        name = t.rsplit(".", 1)[0]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}')")
    for name, sdf in results.items():
        run.attempted += 1
        sql = ORACLE[name]
        try:
            if name == "dedup_minhash_lsh":
                odf = selfcheck._lsh_pairs_replay(con)
            else:
                sub = selfcheck.cc_substituted_oracle(sql, con) or selfcheck.pair_substituted_oracle(sql, con)
                odf = con.sql(sub or sql).df()
        except Exception as ex:
            run.fail(f"oracle {name}: {type(ex).__name__}: {ex}")
            continue
        if len(sdf) != len(odf) or sorted(sdf.columns) != sorted(odf.columns):
            run.fail(f"check {name}: shape {sdf.shape} vs oracle {odf.shape}")
        elif drift := selfcheck.dtype_drift(sdf, odf):
            run.fail(f"check {name}: dtype drift {drift}")
        elif (h := selfcheck.value_hash(sdf)) != selfcheck.value_hash(odf):
            run.fail(f"check {name}: value hash differs from oracle")
        elif cold_hashes.get(name) != h:
            run.fail(f"check {name}: cold-pass result differs from warm-pass result")
        else:
            print(f"perfbench: ok {name}: {len(sdf)} rows match the oracle", file=sys.stderr)
    con.close()


def run(run, process_age) -> None:
    from tools.selfcheck import value_hash

    # fixtures are cached per checkout: only the first run generates
    # them, so their generation is not part of set-up
    t = time.perf_counter()
    data, warm_dir = fixture_dir(run, SF), fixture_dir(run, WARM_SF)
    fixtures_s = time.perf_counter() - t
    run.put("bench.fixtures_s", fixtures_s, "s")
    run.start_session()
    order = list(QUERIES)
    random.Random(run.seed).shuffle(order)
    passes = Passes(run, order)
    run.put("session.jit_warm_s", passes.one(warm_dir, cold=True).wall, "s")
    run.attempted -= len(order)  # the warm-up is set-up, not a measured unit
    run.put("setup_s", process_age() - fixtures_s, "s")

    if run.trace:
        # The traced pair takes the position the untraced runs measure
        # (first cold pass after set-up); the untraced pair follows, so
        # the overhead estimate also carries that pair's extra JIT warmth
        # and errs high.
        tracer = run.tracer = Tracer()
        tracer.install()
        try:
            c_traced = passes.one(data, cold=True, tracer=tracer).wall
            run.put("plans.materialize.materialized_bytes", materialized_bytes(run.spark), "B")
            i_warm = len(tracer.spans)
            w_traced = passes.one(data, cold=False, tracer=tracer).wall
        finally:
            tracer.uninstall()
        for k, v in layer_metrics(tracer.spans[:i_warm], c_traced, run.cpus).items():
            run.put(k, v, unit_of(k))
        for k, v in layer_metrics(tracer.spans[i_warm:], w_traced, run.cpus).items():
            if k.startswith(WARM_LAYERS):
                run.put("warm." + k, v, unit_of("warm." + k))

    cold, warm = [], []
    t0 = time.perf_counter()
    # rounds of one cold and WARM_PER_COLD warm passes, for at least
    # run.seconds
    while not cold or time.perf_counter() - t0 < run.seconds:
        cold.append(passes.one(data, cold=True))
        if len(cold) == 1:  # after the first cold pass: a fixed measuring point
            stored = materialized_bytes(run.spark) / dir_bytes(data)
        cold_hashes = {n: value_hash(df) for n, df in passes.results.items()}
        warm += [passes.one(data, cold=False) for _ in range(WARM_PER_COLD)]
    run.put("bench.measure_s", time.perf_counter() - t0, "s")
    print(f"perfbench: cold passes {cold}; warm passes {warm}", file=sys.stderr)
    for name, ms in (("cold_pass", cold), ("warm_pass", warm)):
        ok = clean(ms)
        run.put(f"{name}_s", median([m.wall for m in ok]), "s", len(ok))
        run.put(f"process.{name}_cpu_s", median([m.cpu for m in ms]), "s", len(ms))
    run.put("store_bytes_per_user_byte", stored, "B/B")
    if run.trace:
        run.put("trace.cold_pass_s", c_traced, "s")
        run.put("trace.warm_pass_s", w_traced, "s")
        run.put("trace.cold_overhead_s", c_traced - run.metrics["cold_pass_s"][0], "s")
        run.put("trace.warm_overhead_s", w_traced - run.metrics["warm_pass_s"][0], "s")

    t = time.perf_counter()
    check(run, passes.results, cold_hashes, data)
    run.put("bench.check_s", time.perf_counter() - t, "s")
