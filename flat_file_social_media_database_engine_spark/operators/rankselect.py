"""Distributed exact rank: k-th-smallest lookups and running sums
without an unpartitioned window.

Spark's ``Window.orderBy(...)`` (no partitionBy) funnels EVERY row
through one reducer — fine on a reduced fixture table, a
drive-the-cluster-through-one-task bottleneck at 10^9 rows (and the
literal source of the ``WindowExec: No Partition Defined`` warnings
the round-3 bench tail carried). Likewise ``partitionBy(k)`` over a
low-cardinality key makes each key's whole history one unsplittable
task. This module computes the SAME exact rank with only bounded
windows, the o1 global-sort decomposition applied to ranking:

1. range-repartition on the composite sort key (group cols, then
   order cols). The key includes the caller's unique tiebreak, so
   Spark's range partitioner balances even when a prefix of the key
   is massively tied (a hot ``frequency=1`` run splits across
   partitions by the tiebreak).
2. per-(partition, group) row counts — metadata-sized (``partitions
   × groups`` rows, NOT data-sized).
3. exclusive prefix-sum of those counts in partition order — a
   window over ≤ ``partitions`` rows per group (a literal partition
   key when there are no groups, so no WindowExec warning and no
   accident if the counts table ever grows).
4. broadcast the offsets back and take ``row_number`` per
   (partition, group) — every window partition is a range-partition
   slice, sized by the range partitioner, never a whole key's data.

Exactness does not depend on where the sampled range boundaries
fall — offsets + local rank telescope to the global rank for ANY
partitioning that respects key order. What DOES matter is that the
counts pass and the rank pass see the SAME boundaries: Spark
re-samples ``repartitionByRange`` per query evaluation (each derived
DataFrame re-plans from the logical plan), so the stamped table is
materialized once (``plans/materialize.py``) and both passes read
those blocks; block loss recomputes through the persisted lineage's
existing shuffle dependency, keeping the boundaries pinned.

The caller's ordering MUST be a total order (end with a unique
tiebreak): equal composite keys would make both this and the window
formulation nondeterministic.

Reference lineage: the reference's ordered-map iteration makes every
key scan globally ordered for free (buzzdb_lab1.cpp:92-94, ordered
``std::map``); this is that total-order contract re-established on a
partitioned engine. Consumers: ``orders_rfm_segments`` (exact ntile
quartiles via 3-point rank lookup) and ``events_value_percentiles``
(exact grouped p50/p90/p99) — both pinned hash-identical to their
single-reducer window formulations in tests/test_rankselect.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.materialize import materialize

_PID = "__rs_pid"
_CNT = "__rs_cnt"
_OFF = "__rs_off"
_CUT = "__rs_cut"
_LRN = "__rs_lrn"
_GRP = "__rs_g"


def _nullsafe_join(left, right, eq_cols, nullsafe_cols, how="inner"):
    """Equi-join whose ``nullsafe_cols`` match with NULL == NULL.

    Grouping semantics demand it: ``PARTITION BY g`` / ``GROUP BY g``
    treat NULL as a real group, but a list-of-names equi-join silently
    drops every NULL-group row (NULL never equals NULL) — caught by
    the null-robustness differential on a NULL ``event_type`` group.
    The right side is broadcast (all callers pass metadata-sized
    offset/target tables); its join columns are renamed away and
    dropped from the output."""
    ren = {c: f"__rs_r_{c}" for c in [*eq_cols, *nullsafe_cols]}
    r = right
    for c, rc in ren.items():
        r = r.withColumnRenamed(c, rc)
    r = F.broadcast(r)
    cond = F.lit(True)
    for c in eq_cols:
        cond = cond & (left[c] == r[ren[c]])
    for c in nullsafe_cols:
        cond = cond & left[c].eqNullSafe(r[ren[c]])
    out = left.join(r, cond, how)
    return out if how == "leftsemi" else out.drop(*ren.values())


def _sentinel_group(proj):
    """A REAL stored constant group column for the no-group case.

    ``Window.partitionBy(F.lit(0))`` does not survive Catalyst —
    constant folding erases the foldable partition key, the spec
    degenerates to unpartitioned, and WindowExec logs the very
    single-partition warning this module exists to eliminate (caught
    empirically: 51 warnings in a bench sweep of the first cut).
    Materializing the constant INTO the stamped table makes it an
    attribute of the cached relation — non-foldable downstream, so
    the offsets window keeps a partition key while still describing
    one (metadata-sized) partition."""
    return proj.withColumn(_GRP, F.lit(0))


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """EXCLUSIVE running sum — ``sum(value_col) OVER (PARTITION BY
    group_cols ORDER BY order_by ROWS BETWEEN UNBOUNDED PRECEDING AND
    1 PRECEDING)``, 0 for each group's first row — computed with
    bounded windows only (the module docstring's rank decomposition
    with the per-(partition, group) COUNT pass generalized to a SUM
    pass):

    1. range-repartition on (group_cols, order_by) — the order must
       end in a unique tiebreak, making the composite key a total
       order, so the running sum is well-defined and the range
       partitioner balances hot groups across partitions;
    2. per-(partition, group) value sums — metadata-sized;
    3. exclusive prefix of those sums in partition order — a window
       over ≤ ``partitions`` rows per group;
    4. broadcast back, local exclusive running sum per (partition,
       group) + the partition's offset.

    Telescoping is exact for any boundary placement: every row of an
    earlier range partition of the same group precedes every row of a
    later one in the total order, so the partition's offset (the sum
    over the group's earlier partitions) plus the local running sum
    IS the group-wide running sum. The stamp is materialized so the
    sum pass and the local pass see identical boundaries. Unlike a
    ``partitionBy(group)`` window, a group holding most of the table
    (e.g. one dominant ``source`` at 100 TB) never becomes one
    unsplittable sort task. Consumer: ``docs_pack_sequences``
    (per-source token start offsets), pinned hash-identical to the
    monolithic-window formulation in tests/test_rankselect.py."""
    spark = df.sparkSession
    parts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    src = df if group_cols else _sentinel_group(df)
    grp_cols = list(group_cols) or [_GRP]
    part_keys = [F.col(c).asc() for c in grp_cols] + list(order_by)
    stamped = materialize(
        src.repartitionByRange(parts, *part_keys).withColumn(
            _PID, F.spark_partition_id()
        )
    )

    sums = stamped.groupBy(_PID, *grp_cols).agg(
        F.sum(value_col).alias(_CNT)
    )
    off_w = (
        Window.partitionBy(*grp_cols)
        .orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sums.withColumn(
        _OFF, F.coalesce(F.sum(_CNT).over(off_w), F.lit(0))
    ).drop(_CNT)

    joined = _nullsafe_join(stamped, offsets, [_PID], grp_cols)
    local_w = (
        Window.partitionBy(_PID, *grp_cols)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = joined.withColumn(
        out_col,
        F.coalesce(F.sum(value_col).over(local_w), F.lit(0)) + F.col(_OFF),
    ).drop(_PID, _OFF)
    return out if group_cols else out.drop(_GRP)


def rank_select(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    cuts: dict[str, "object"],
    total_col: str = "n",
    num_partitions: int | None = None,
) -> DataFrame:
    """The k-th-smallest lookup: for each group and each named cut —
    a callable mapping the group's row-count column ``n`` to a
    1-based rank expression — the row at that rank under
    ``order_cols`` (all ascending; must end in a unique tiebreak).

    Ranks telescope like ``grouped_prefix_sum``'s running sums: a
    row's global rank is its range partition's offset (the group's row
    count in earlier partitions) plus its local ``row_number``, exact
    for any boundary placement that respects key order. So only a few
    ranks (quartile boundaries, p50/p90/p99) never need a full
    ranking: the per-(partition, group) counts LOCATE the one range
    partition holding each target rank, a broadcast semi-join keeps
    only those partitions' rows, and the local sort runs over ≤ |cuts|
    partition slices instead of re-shuffling the whole table — the
    full-data work is exactly one range repartition plus one
    map-side-combined count pass.

    Returns one row per group present in ``df`` (exactly one row,
    all-null cuts, when ``group_cols`` is empty and ``df`` has no
    rows): ``group_cols + [total_col] + one struct(order_cols) per
    cut name``. A cut whose rank falls outside [1, n] yields null —
    including when EVERY cut for a group is out of range: the group
    row survives (totals from the metadata-sized offsets table,
    all cuts null), it does not vanish from the output.
    """
    if not cuts:
        # fail fast and loud: the fold below would otherwise pay the
        # full range-repartition + materialize before dying on a bare
        # AttributeError from the never-assigned targets frame
        raise ValueError("rank_select requires at least one cut")
    spark = df.sparkSession
    parts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    proj = df.select(*group_cols, *order_cols)
    if not group_cols:
        proj = _sentinel_group(proj)
    grp_cols = list(group_cols) or [_GRP]
    part_keys = [F.col(c).asc() for c in [*grp_cols, *order_cols]]
    stamped = materialize(
        proj.repartitionByRange(parts, *part_keys).withColumn(
            _PID, F.spark_partition_id()
        )
    )

    counts = stamped.groupBy(_PID, *grp_cols).agg(
        F.count(F.lit(1)).alias(_CNT)
    )
    off_w = (
        Window.partitionBy(*grp_cols)
        .orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # materialized (metadata-sized: partitions × groups rows) so the
    # target scan and the final pick don't re-run the count pass.
    offsets = materialize(
        counts.withColumn(
            _OFF, F.coalesce(F.sum(_CNT).over(off_w), F.lit(0))
        ).withColumn(
            total_col, F.sum(_CNT).over(Window.partitionBy(*grp_cols))
        )
    )

    targets = None
    for name, fn in cuts.items():
        c = fn(F.col(total_col)).cast("bigint")
        t = offsets.filter(
            (c > F.col(_OFF)) & (c <= F.col(_OFF) + F.col(_CNT))
        ).select(
            *grp_cols,
            F.lit(name).alias(_CUT),
            F.col(_PID),
            (c - F.col(_OFF)).cast("int").alias(_LRN),
            F.col(total_col),
        )
        targets = t if targets is None else targets.unionByName(t)

    hit = _nullsafe_join(
        stamped,
        targets.select(_PID, *grp_cols).distinct(),
        [_PID],
        grp_cols,
        how="leftsemi",
    )
    local_w = Window.partitionBy(_PID, *grp_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    picked = _nullsafe_join(
        hit.withColumn(_LRN, F.row_number().over(local_w)),
        targets,
        [_PID, _LRN],
        grp_cols,
    )
    aggs = [
        F.max(
            F.when(
                F.col(_CUT) == name,
                F.struct(*[F.col(c) for c in order_cols]),
            )
        ).alias(name)
        for name in cuts
    ]
    if not group_cols:
        # Totals from the metadata-sized offsets table, mirroring the
        # grouped spine below: with rows present but EVERY cut outside
        # [1, n], `picked` is empty and an agg over it would return a
        # NULL total instead of the real n. Both aggs are one-row;
        # the cross join is a 1×1 broadcast.
        totals = offsets.agg(F.max(F.col(total_col)).alias(total_col))
        return totals.crossJoin(picked.agg(*aggs))
    # One row per group present in df even when every cut for the
    # group falls outside [1, n] (then no target row survives the
    # rank filter and the group would otherwise vanish): the group
    # universe and totals live in the metadata-sized offsets table,
    # so aggregate it for the spine and left-join the picked cuts on.
    groups = offsets.groupBy(*grp_cols).agg(
        F.max(F.col(total_col)).alias(total_col)
    )
    picked_agg = picked.groupBy(*group_cols).agg(*aggs)
    return _nullsafe_join(groups, picked_agg, [], grp_cols, how="left")
