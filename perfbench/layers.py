"""Workloads and metrics of the benchmark, and which end-to-end metric
each per-layer metric is expected to move, on which workload.

``BENCHMARK.json`` at the repository root lists the same names, units
and directions (``perfbench/test_perfbench.py`` checks the two agree);
the ``moves`` pairs live only here because that file's schema is fixed.
A later performance change names its claim with these pairs.

Aggregation of per-layer values — unprefixed names belong to the cold
pass, ``warm.`` names to the warm pass:

- ``analytic_sf0.1``: totals over ONE traced cold pass (the pass that
  pays every layer) and ONE traced warm pass.
  ``shared_pass_build_self_s + relayout_s + Σ workloads.*.query_self_s``
  equals the sum of the cold pass's query walls by construction; the
  pass wall exceeds that sum only by the loop's own bookkeeping.
- ``social_oltp``: ``spark.*`` and ``driver.idle_s`` cover the traced
  ``load_flat_files`` (its cold pass); ``warm.spark.*`` and
  ``warm.driver.idle_s`` are means per traced op block (its warm
  pass); ``plans.snapshots.*_s`` are medians per call; ``engine.*``
  latencies come from the untraced blocks.

A layer that a workload does not exercise reports 0.
"""

from __future__ import annotations

A, O = "analytic_sf0.1", "social_oltp"

WORKLOADS = {
    A: (
        "sf0.1 passes over 6 queries, one per family: scan, relayout, exchange, a stream drain, "
        "shared-pass builds and Arrow UDFs; no snapshot store, so it controls OLTP changes"
    ),
    O: (
        "the reference's own surface: CSV load, point reads and snapshot writes through "
        "engine.Engine; no parquet fixtures or shared passes"
    ),
}

# The pass metrics are wall seconds, what a user waits. Their medians
# are taken over the passes during which the hypervisor stole at most
# 2% of the host's CPU time, if any (see cputime.py). CPU seconds of the
# whole process tree (driver, JVM, Python workers) — the work done,
# blind to steal but not to contention from other guests — are
# per-layer metrics (``process.*``): over ten runs their IQR/median was
# 0.10-0.19, the walls' 0.04-0.14. Stored bytes repeat to ~1%.
END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "cold_pass_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "warm_pass_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "store_bytes_per_user_byte", "unit": "B/B", "better": "lower", "bound": 0.05},
]

FAMILIES = ("analytics", "eventflow", "dedup", "similarity", "text", "multimodal")
STAGE_LAYERS = [
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("cpu_per_wall", "ratio", "higher"),
    ("input_bytes", "B", "lower"),
    ("shuffle_write_bytes", "B", "lower"),
    ("shuffle_read_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
]


COLD_A, WARM_A = [("cold_pass_s", A)], [("warm_pass_s", A)]
COLD_O, WARM_O = [("cold_pass_s", O)], [("warm_pass_s", O)]

# (name, unit, better, [(end-to-end metric, workload), ...])
_LAYERS = [
    ("session.build_s", "s", "lower", [("setup_s", A), ("setup_s", O)]),
    ("session.jit_warm_s", "s", "lower", [("setup_s", A), ("setup_s", O)]),
    ("session.jvm_peak_rss_mb", "MB", "lower", [("setup_s", A), ("setup_s", O)]),
    ("process.cold_pass_cpu_s", "s", "lower", COLD_A + COLD_O),
    ("process.warm_pass_cpu_s", "s", "lower", WARM_A + WARM_O),
    ("sources.catalog.read_table_calls", "count", "lower", COLD_A),
    ("sources.catalog.read_table_s", "s", "lower", COLD_A),
    ("sources.catalog.relayout_builds", "count", "lower", COLD_A),
    ("sources.catalog.relayout_s", "s", "lower", COLD_A),
    ("plans.materialize.shared_pass_builds", "count", "lower", COLD_A),
    ("plans.materialize.shared_pass_hits", "count", "higher", COLD_A),
    ("plans.materialize.shared_pass_hit_ratio", "ratio", "higher", COLD_A),
    ("plans.materialize.shared_pass_build_self_s", "s", "lower", COLD_A),
    ("plans.materialize.materialized_bytes", "B", "lower",
     [("store_bytes_per_user_byte", A), *COLD_A]),
    *[
        (f"{prefix}workloads.{fam}.{m}", "s", "lower", moves)
        for prefix, moves in (("", COLD_A), ("warm.", WARM_A))
        for fam in FAMILIES
        for m in ("plan_s", "query_self_s")
    ],
    ("streaming.events.drains", "count", "lower", COLD_A),
    ("streaming.events.drain_s", "s", "lower", COLD_A),
    *[
        (f"{prefix}spark.{f}", unit, better, moves)
        for prefix, moves in (("", COLD_A + COLD_O), ("warm.", WARM_A + WARM_O))
        for f, unit, better in STAGE_LAYERS
    ],
    ("driver.idle_s", "s", "lower", COLD_A + COLD_O),
    ("warm.driver.idle_s", "s", "lower", WARM_A + WARM_O),
    ("plans.snapshots.commit_s", "s", "lower", WARM_O + COLD_O),
    ("plans.snapshots.append_s", "s", "lower", WARM_O),
    ("plans.snapshots.read_s", "s", "lower", WARM_O),
    ("plans.snapshots.compact_s", "s", "lower", WARM_O),
    ("plans.snapshots.vacuum_s", "s", "lower", WARM_O),
    ("plans.snapshots.bytes_written", "B", "lower", [("store_bytes_per_user_byte", O), *WARM_O]),
    ("plans.snapshots.bytes_written_per_user_byte", "B/B", "lower",
     [("store_bytes_per_user_byte", O)]),
    ("plans.snapshots.files_per_table", "count", "lower", WARM_O),
    ("sources.csv_source.load_s", "s", "lower", COLD_O),
    ("sources.integrity.check_s", "s", "lower", COLD_O),
    *[
        (f"engine.{op}_p50_ms", "ms", "lower", WARM_O)
        for op in ("q1_comments", "q2_location", "m1_views", "m2_append",
                   "m3_rename", "delete_user", "maintain")
    ],
    ("engine.read_p50_ms", "ms", "lower", WARM_O),
    ("engine.read_p90_ms", "ms", "lower", WARM_O),
    ("engine.write_p50_ms", "ms", "lower", WARM_O),
    ("engine.write_p90_ms", "ms", "lower", WARM_O),
    ("engine.ops_per_s", "1/s", "higher", WARM_O),
    ("engine.load_s", "s", "lower", COLD_O),
    ("trace.cold_pass_s", "s", "lower", COLD_A + COLD_O),
    ("trace.warm_pass_s", "s", "lower", WARM_A + WARM_O),
    ("trace.cold_overhead_s", "s", "lower", COLD_A + COLD_O),
    ("trace.warm_overhead_s", "s", "lower", WARM_A + WARM_O),
]

PER_LAYER = [{"name": n, "unit": u, "better": b} for n, u, b, _ in _LAYERS]
MOVES = {n: moves for n, _, _, moves in _LAYERS}
_UNITS = {m["name"]: m["unit"] for m in END_TO_END + PER_LAYER}


def unit_of(name: str) -> str:
    return _UNITS[name]
