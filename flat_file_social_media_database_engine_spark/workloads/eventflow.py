"""Event-stream workloads (batch-mode equivalents of the streaming
tier). The reference's ``timestamp`` is a never-interpreted int
(buzzdb_lab1.cpp:75); here it graduates to real event time: JSON
prop extraction, tumbling-window rollups, and gap-based
sessionization. The same transformations run under Structured
Streaming via streaming/events.py (readStream → identical column
expressions → writeStream).

Determinism notes: SUM over doubles goes through DECIMAL (see
analytics.py); window tie-breaks are (ts, event_id); timestamps are
compared at microsecond precision via unix_micros/epoch_us.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rankselect import rank_select
from ..plans.materialize import scratch_dir, shared_pass
# kept bound here: perfbench's test_tracer_rebinds_and_restores_top_level_imports
from ..plans.materialize import session_cached  # noqa: F401
from ..sources.catalog import read_table
from . import ORACLE, query
from .text import _h60, _h60_sql

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes in microseconds


def _epoch_us(col) -> F.Column:
    """Microseconds since epoch for either timestamp flavor. The
    fixture parquet carries `timestamp[us]` with no UTC adjustment, so
    Spark reads ``ts`` as TIMESTAMP_NTZ — which ``unix_micros`` rejects.
    Under the engine's pinned-UTC session (set at every ``read_table``),
    casting NTZ→TIMESTAMP is value-exact, so both flavors yield the
    same integer the DuckDB oracle computes from its naive TIMESTAMP."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


# ---------------------------------------------------------------------------
# JSON prop extraction + grouped rollup (events.props is a JSON string)
# ---------------------------------------------------------------------------
@query(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           -- DuckDB sum(BIGINT) is HUGEINT (int128); Spark's is bigint.
           -- Cast the *aggregate* so the oracle dtype matches Spark.
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return (
        events.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Tumbling 1-hour window rollup (F.window ≙ time_bucket).
# ---------------------------------------------------------------------------
@query(
    "events_hourly_rollup",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization (30-min inactivity gap) — the stateful-
# streaming operator expressed as window functions for the batch/oracle
# path; the streaming path uses session_window (streaming/events.py).
# ---------------------------------------------------------------------------
@query(
    "events_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_US}
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_id,
             -- CAST: DuckDB windowed sum(int) is HUGEINT; Spark emits
             -- bigint — dtype must match for the driver's value hash.
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via two windows over partitionBy(user_id).

    Skew posture: a hot user is an unsplittable key for window
    functions (AQE skew-join splitting does not apply). The always-on
    mitigation is the streaming twin (streaming/events.py uses
    session_window whose state is per-(user, open-session), not
    per-user-history); for pathological batch skew use
    ``events_sessionize_twophase`` below — same output (checked
    against the same oracle), but no window ever spans one user's
    full raw history.
    """
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (
                _epoch_us("ts") - F.lag(_epoch_us("ts")).over(w)
                > F.lit(SESSION_GAP_US)
            )
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.withColumn("session_id", F.sum("is_new").over(wsum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Sliding-window rollup (1-hour windows every 30 minutes): each event
# lands in exactly two windows. Batch twin of F.window(size, slide);
# the oracle materializes the two covering window starts per event.
# ---------------------------------------------------------------------------
@query(
    "events_sliding_rollup",
    oracle="""
    SELECT ws AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events,
         unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts)
                   - INTERVAL '30 minutes']) AS t(ws)
    GROUP BY 1, 2
    """,
)
def events_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Two-phase sessionization — the skew-capped plan for 100 TB. The
# plain form windows over partitionBy(user_id), so one hot user is an
# unsplittable task. Here no window ever spans a user's full raw
# history: phase 1 sessionizes WITHIN (user, day) chunks; phase 2
# fixes each chunk's first-event flag and renumbers using windows
# over the per-(user, day) AGGREGATE table (rows = users × active
# days — tiny next to the event table). Output (and oracle) are
# identical to events_sessionize.
# ---------------------------------------------------------------------------
@query("events_sessionize_twophase", oracle=ORACLE["events_sessionize"])
def events_sessionize_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    e = events.select(
        "user_id", "ts", "event_id", F.date_trunc("day", "ts").alias("chunk")
    )

    # phase 1: local flags within (user, day) — the skew-capped window
    w_local = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "chunk",
        "ts",
        "event_id",
        F.when(
            (
                _epoch_us("ts") - F.lag(_epoch_us("ts")).over(w_local)
                > F.lit(SESSION_GAP_US)
            )
            | F.lag("ts").over(w_local).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new_local"),
        F.row_number().over(w_local).alias("rn_local"),
    )

    # phase 2a: per-chunk boundary facts (small table: user × day)
    chunks = flagged.groupBy("user_id", "chunk").agg(
        F.min(_epoch_us("ts")).alias("first_us"),
        F.max(_epoch_us("ts")).alias("last_us"),
        F.sum("is_new_local").alias("n_new_local"),
    )
    w_user = Window.partitionBy("user_id").orderBy("chunk")
    chunks = chunks.withColumn("prev_last_us", F.lag("last_us").over(w_user))
    # does this chunk's first event CONTINUE the previous chunk's
    # session? (gap ≤ threshold across the boundary)
    chunks = chunks.withColumn(
        "first_continues",
        F.col("prev_last_us").isNotNull()
        & (F.col("first_us") - F.col("prev_last_us") <= F.lit(SESSION_GAP_US)),
    )
    # sessions actually STARTED in this chunk, after boundary fix
    chunks = chunks.withColumn(
        "n_new",
        F.col("n_new_local") - F.when(F.col("first_continues"), 1).otherwise(0),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunks = chunks.select(
        "user_id",
        "chunk",
        "first_continues",
        F.coalesce(F.sum("n_new").over(w_cum), F.lit(0)).alias("sessions_before"),
    )

    # phase 2b: join the small chunk table back; local running sum of
    # (fixed) flags + sessions_before = the global session number
    w_run = (
        Window.partitionBy("user_id", "chunk")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fixed = (
        flagged.join(chunks, ["user_id", "chunk"])
        .withColumn(
            "is_new",
            F.when(
                (F.col("rn_local") == 1) & F.col("first_continues"), 0
            ).otherwise(F.col("is_new_local")),
        )
        .withColumn(
            "session_id", F.col("sessions_before") + F.sum("is_new").over(w_run)
        )
    )
    return fixed.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Funnel analysis: users who progressed view -> click -> purchase in
# event-time order (each later stage strictly after the earliest
# occurrence of the previous one).
# ---------------------------------------------------------------------------
@query(
    "events_funnel",
    oracle="""
    WITH stage AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(t_view) AS BIGINT) AS stage_view,
           CAST(count(CASE WHEN t_click > t_view THEN 1 END) AS BIGINT)
               AS stage_click,
           CAST(count(CASE WHEN t_click > t_view AND t_purchase > t_click
                           THEN 1 END) AS BIGINT) AS stage_purchase
    FROM stage
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic ordered-funnel conversion: one grouped pass computes
    each user's earliest time per stage, then counts survivors of
    each strict-order prefix. Single shuffle (user_id), min aggs
    combine map-side; no self-joins, no windows — the per-user state
    is three timestamps regardless of event volume."""
    events = read_table(spark, sf_dir, "events")

    def first_ts(et: str):
        return F.min(F.when(F.col("event_type") == et, F.col("ts")))

    stage = events.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_click") > F.col("t_view")
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return stage.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("stage_view"),
        F.count(F.when(clicked, 1)).alias("stage_click"),
        F.count(F.when(purchased, 1)).alias("stage_purchase"),
    )


# ---------------------------------------------------------------------------
# Cohort retention: group users by first-seen day, report how many
# come back k days later (the engagement-over-time readout).
# ---------------------------------------------------------------------------
@query(
    "events_retention",
    oracle="""
    WITH first_day AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN first_day f ON f.user_id = e.user_id
    )
    SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(day_offset AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM activity
    GROUP BY cohort_day, day_offset
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-by-first-day retention counts. Two shuffles on user_id
    (first-seen agg + the distinct) then a small rollup; the
    first_day side joins broadcast at fixture scale and co-locates on
    user_id at 100 TB (both sides already hash-partitioned by the
    same key, so AQE plans a no-exchange join)."""
    events = read_table(spark, sf_dir, "events")
    first_day = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = (
        events.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy(
            # date → timestamp: pandas reads Spark DATE as object but
            # TIMESTAMP as datetime64, matching the DuckDB oracle dtype
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# ---------------------------------------------------------------------------
# As-of join (charter: "an operator Spark lacks"): last-click
# attribution — for each purchase, the user's latest click at-or-
# before the purchase time. Spark has no ASOF JOIN; the scale-honest
# composition is union-the-streams + one ordered window per user
# (carry-forward of the last click seen). DuckDB HAS a native ASOF
# JOIN, which makes the oracle a true cross-engine differential of
# the operator's semantics, not a restatement of our plan.
# ---------------------------------------------------------------------------
@query(
    "events_asof_attribution",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, CAST(max(event_id) AS BIGINT) AS click_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, p.purchase_ts,
           c.click_id AS attributed_click_id,
           c.ts AS attributed_click_ts
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND c.ts <= p.purchase_ts
    """,
)
def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join via union + carry-forward window.

    Both sides land in ONE shuffle keyed by user_id, sorted by
    (ts, side) — clicks sort before purchases at equal ts so a
    same-instant click attributes (the <= bound). `last(..,
    ignorenulls)` carries the latest click forward; purchases then
    filter out with their attribution attached. No per-row probe, no
    range join, no skew beyond the user key itself. Clicks sharing
    (user, ts) pre-aggregate to max event_id so both engines
    tie-break identically."""
    events = read_table(spark, sf_dir, "events")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").cast("bigint").alias("click_id"))
        .select(
            "user_id",
            F.col("ts").alias("t"),
            "click_id",
            F.lit(None).cast("bigint").alias("purchase_id"),
            F.lit(0).alias("side"),
        )
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(None).cast("bigint").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = clicks.unionByName(purchases).select(
        "user_id",
        "t",
        "purchase_id",
        "side",
        F.last("click_id", ignorenulls=True).over(w).alias("attributed_click_id"),
        F.last(F.when(F.col("side") == 0, F.col("t")), ignorenulls=True)
        .over(w)
        .alias("attributed_click_ts"),
    )
    return carried.filter(F.col("side") == 1).select(
        F.col("purchase_id"),
        "user_id",
        F.col("t").alias("purchase_ts"),
        "attributed_click_id",
        "attributed_click_ts",
    )


# ---------------------------------------------------------------------------
# Range join (charter: "an operator Spark lacks"): clicks within the
# trailing hour of each purchase. A naive inequality join is a
# per-user cross product; the scale form BUCKETS time at the window
# width — each click posts to its own bucket and the next, purchases
# probe exactly one bucket, so every candidate pair is within 2h
# before the exact predicate trims to 1h. Expansion factor is a
# constant 2x, independent of data volume or window population.
# ---------------------------------------------------------------------------
_RANGE_WINDOW_US = 3_600_000_000  # 1 hour


@query(
    "events_range_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           CAST(count(c.ts) AS BIGINT) AS n_clicks_trailing_1h
    FROM events p LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    GROUP BY 1, 2, 3
    """,
)
def events_range_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    bucket = lambda t: F.floor(_epoch_us(t) / F.lit(_RANGE_WINDOW_US))  # noqa: E731
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        bucket(F.col("ts")).alias("b"),
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withColumn(
            "b",
            F.explode(
                F.array(
                    bucket(F.col("click_ts")), bucket(F.col("click_ts")) + 1
                )
            ),
        )
    )
    in_window = (F.col("click_ts") <= F.col("purchase_ts")) & (
        F.col("click_ts")
        > F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
    )
    return (
        purchases.join(clicks, ["user_id", "b"], "left")
        .groupBy("purchase_id", "user_id", "purchase_ts")
        .agg(
            F.count(F.when(in_window, 1)).alias("n_clicks_trailing_1h")
        )
    )


# ---------------------------------------------------------------------------
# Pivot: event_type counts as columns per day. Spark's pivot with an
# EXPLICIT value list compiles to conditional aggregates in one pass
# (no second job to discover values — at 100 TB value-discovery is a
# full extra scan, so the domain is pinned, like every schema here).
# ---------------------------------------------------------------------------
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "events_pivot_daily",
    oracle=f"""
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           {", ".join(
               f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
               f" AS n_{t}" for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY 1
    """,
)
def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    out = (
        events.select(
            F.to_date("ts").cast("timestamp").alias("day"), "event_type"
        )
        .groupBy("day")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves absent combinations null; the oracle's conditional
    # counts yield 0 — align, and name columns identically
    return out.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


# ---------------------------------------------------------------------------
# Volume-anomaly detection: z-score of each hour's event count against
# its event_type's own distribution — the monitoring query an ingest
# pipeline alerts on (a crawler going dark or a bot flood both show up
# as |z| spikes). Two map-side-combinable aggregations and a broadcast
# join back; all moments are exact integer sums, so the doubles
# derived from them are deterministic cross-engine (no Welford, no
# order-dependent float accumulation).
# ---------------------------------------------------------------------------
ANOMALY_Z = 2.0


@query(
    "events_anomaly_zscore",
    oracle=f"""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type,
             count(*) AS n_events
      FROM events
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             count(*) AS n_hours,
             CAST(sum(n_events) AS DOUBLE) AS s1,
             CAST(sum(n_events * n_events) AS DOUBLE) AS s2
      FROM hourly
      GROUP BY event_type
    ),
    m AS (
      SELECT h.window_start, h.event_type, h.n_events,
             s.s1 / s.n_hours AS mean_events,
             sqrt(greatest(0.0, s.s2 / s.n_hours
                  - (s.s1 / s.n_hours) * (s.s1 / s.n_hours))) AS std_events
      FROM hourly h JOIN stats s USING (event_type)
    )
    SELECT window_start, event_type, n_events, mean_events, std_events,
           CASE WHEN std_events = 0.0 THEN 0.0
                ELSE (CAST(n_events AS DOUBLE) - mean_events) / std_events
           END AS zscore,
           CASE WHEN std_events = 0.0 THEN FALSE
                ELSE abs((CAST(n_events AS DOUBLE) - mean_events)
                         / std_events) >= {ANOMALY_Z}
           END AS is_anomaly
    FROM m
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, hour) volume z-scores. Population moments come
    from exact BIGINT sums (sum, sum-of-squares) so mean/std/z are
    bit-deterministic; std=0 degenerates to z=0, never NaN (variance
    clamped at 0 before sqrt for float-rounding safety). Plan: hourly
    group-by (one shuffle), a per-type stats agg that collapses to a
    handful of rows, and a broadcast join back — the 100 TB shape is
    unchanged because stats rows scale with |event_type|, not data."""
    events = read_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n_events").cast("double").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n_hours")
    std = F.sqrt(
        F.greatest(
            F.lit(0.0), F.col("s2") / F.col("n_hours") - mean * mean
        )
    )
    m = hourly.join(F.broadcast(stats), "event_type").select(
        "window_start",
        "event_type",
        "n_events",
        mean.alias("mean_events"),
        std.alias("std_events"),
    )
    z = (F.col("n_events").cast("double") - F.col("mean_events")) / F.col(
        "std_events"
    )
    zero_std = F.col("std_events") == 0.0
    return m.select(
        "window_start",
        "event_type",
        "n_events",
        "mean_events",
        "std_events",
        F.when(zero_std, F.lit(0.0)).otherwise(z).alias("zscore"),
        F.when(zero_std, F.lit(False))
        .otherwise(F.abs(z) >= ANOMALY_Z)
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# At-least-once redelivery reconciliation (keep-earliest per event_id).
# The fixture's event_ids are unique, so redeliveries are synthesized
# deterministically (the p6 dirty-data pattern): every 10th event is
# re-sent 5s late, and every 20th instead arrives 3s EARLY
# (out-of-order), so keep-earliest must sometimes prefer the
# redelivered copy — a pass-through would fail the hash.
# ---------------------------------------------------------------------------
@query(
    "events_dedup_redelivery",
    oracle="""
    WITH base AS (
      SELECT event_id, ts, user_id, event_type, value FROM events
    ),
    redelivered AS (
      SELECT event_id,
             CASE WHEN event_id % 20 = 0 THEN ts - INTERVAL 3 SECOND
                  ELSE ts + INTERVAL 5 SECOND END AS ts,
             user_id, event_type, value
      FROM base WHERE event_id % 10 = 0
    ),
    delivered AS (
      SELECT * FROM base UNION ALL SELECT * FROM redelivered
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
      FROM delivered
    )
    SELECT event_id, ts, user_id, event_type, value FROM r WHERE rn = 1
    """,
)
def events_dedup_redelivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once reconciliation of an at-least-once feed: per
    event_id keep the EARLIEST delivery. One window over the
    event_id-shuffled union — the same single-shuffle shape whether
    duplicates are synthetic (here) or real; at 100 TB the window
    carries one row of state per in-flight key, which is what the
    streaming twin bounds with its watermark instead."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    red = ev.filter(F.col("event_id") % 10 == 0).withColumn(
        "ts",
        F.when(
            F.col("event_id") % 20 == 0,
            F.col("ts") - F.expr("INTERVAL 3 SECONDS"),
        ).otherwise(F.col("ts") + F.expr("INTERVAL 5 SECONDS")),
    )
    delivered = ev.unionByName(red)
    w = Window.partitionBy("event_id").orderBy("ts")
    return (
        delivered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Markov next-event transition matrix: per-user event sequences →
# (from_type, to_type) counts and conditional probabilities. The
# user-path analytics twin of the funnel query: funnel asks "did the
# ordered pattern complete", this asks "where do users actually go
# next" — the input to churn prediction and UX flow analysis.
# ---------------------------------------------------------------------------
@query(
    "events_next_transition",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ),
    t AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
    FROM t
    """,
)
def events_next_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type → to_type) transition counts + P(to | from).

    ONE user-keyed shuffle serves the lead() window (deterministic
    (ts, event_id) order within user); the pair counts map-side
    combine down to ≤ |types|² rows, and the per-from normalization
    runs over that tiny aggregate — at 100 TB the second and third
    exchanges move kilobytes. The probability is a single division of
    exact integer counts, bit-equal across engines.
    """
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    norm = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        (
            F.col("n").cast("double") / F.sum("n").over(norm).cast("double")
        ).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Date-spine gap filling: reporting rollups must emit a row for EVERY
# day in the observed range, including zero-activity days (a missing
# row and a zero row are different facts to a dashboard / anomaly
# model). The spine generates from the corpus min/max — metadata-
# scale — and the daily aggregate joins onto it.
# ---------------------------------------------------------------------------
@query(
    "events_daily_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('day', min(ts)) AS mn,
             date_trunc('day', max(ts)) AS mx
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
      FROM bounds
    ),
    daily AS (
      SELECT date_trunc('day', ts) AS day,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    )
    SELECT s.day,
           COALESCE(d.n_events, 0) AS n_events,
           COALESCE(d.sum_value, 0.0) AS sum_value
    FROM spine s LEFT JOIN daily d ON d.day = s.day
    """,
)
def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event rollup over a DENSE date spine: one row per
    calendar day from the corpus's first to last event, zero-filled
    on silent days — the gap-filling shape every reporting /
    anomaly-detection rollup needs (a missing day must surface as an
    explicit zero, not an absent row).

    Scale posture: the spine derives from ONE map-side-combined
    min/max aggregate (a single row) exploded into ~days rows —
    metadata-scale regardless of corpus size; the daily aggregate is
    the same one-shuffle rollup as events_hourly_rollup; the
    gap-fill join broadcasts the AGGREGATED daily side (days-count
    rows — Spark cannot build the preserved left side of a left-outer
    BroadcastHashJoin, so hinting the spine would be silently ignored;
    round-3 advisor finding), so no corpus-sized side reshuffles."""
    events = read_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("day", F.min("ts")).alias("mn"),
        F.date_trunc("day", F.max("ts")).alias("mx"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    daily = events.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    )
    return (
        spine
        .join(F.broadcast(daily), "day", "left")
        .select(
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Top session paths: the sequence-mining upgrade of the transition
# matrix — whole per-session event-type journeys (first PATH_LEN
# events), counted corpus-wide, top-20. Funnel asks "did THIS pattern
# complete", the transition matrix asks "one step from X", this asks
# "what are the dominant journeys" — the discovery query that tells
# you WHICH funnels to define.
# ---------------------------------------------------------------------------
PATH_LEN = 8  # bound per-session path width (row width stays O(1))
PATH_TOPK = 20


@query(
    "events_top_paths",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_US}
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_id
      FROM flagged
    ),
    numbered AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS rn
      FROM sessions
    ),
    paths AS (
      SELECT user_id, session_id,
             array_to_string(list(event_type ORDER BY rn), ' > ') AS path
      FROM numbered WHERE rn <= {PATH_LEN}
      GROUP BY user_id, session_id
    )
    SELECT path, count(*) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT {PATH_TOPK}
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PATH_TOPK} per-session event-type journeys (first
    {PATH_LEN} events per session, ' > '-joined), with session and
    distinct-user counts.

    Plan shape: the SAME one user-keyed shuffle as sessionize serves
    all three stacked windows (gap flag, running session id, within-
    session rank — identical partitioning, so Catalyst plans one
    exchange); per-session paths build via an rn-sorted collect_list
    whose width is capped at {PATH_LEN} entries; path counts map-side
    combine; and the final top-k is orderBy+limit, which Spark
    executes as TakeOrderedAndProject — per-partition heaps + a
    k-row driver merge, never a global sort. The (n_sessions DESC,
    path ASC) order is total, so the k-boundary is deterministic
    cross-engine."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            (
                _epoch_us("ts") - F.lag(_epoch_us("ts")).over(w)
                > F.lit(SESSION_GAP_US)
            )
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sessions = flagged.withColumn("session_id", F.sum("is_new").over(wsum))
    numbered = sessions.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
        ),
    )
    paths = (
        numbered.filter(F.col("rn") <= PATH_LEN)
        .groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
                " > ",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# Count-min-sketch heavy hitters: the sketch a 100 TB stream runs when
# exact per-key counts don't fit — d x w counters bound memory at
# d*w*8 bytes REGARDLESS of key cardinality, estimates overcount but
# never undercount. Here the exact counts (cheap at fixture scale) ride
# along as the verification twin, so the driver differential checks
# the sketch's actual estimates, collisions included.
# ---------------------------------------------------------------------------
CMS_D = 4  # hash rows
CMS_W = 512  # counters per row
CMS_TOPK = 10


def _cms_bucket(col, j: int) -> F.Column:
    return _h60(F.concat_ws("|", col.cast("string"), F.lit(str(j)))) % CMS_W


def _cms_bucket_sql(expr: str, j: str) -> str:
    inner = f"CAST({expr} AS VARCHAR) || '|' || CAST({j} AS VARCHAR)"
    return f"{_h60_sql(inner)} % {CMS_W}"


_CMS_J = ", ".join(str(j) for j in range(CMS_D))


def cms_cells(src: DataFrame, keep: list[str]) -> DataFrame:
    """Fan each row into its CMS_D (d, w) sketch cells, carrying the
    ``keep`` columns through. THE single definition of the cell
    derivation — the sketch build and the heavy-hitter probes both
    call this, so the sketch geometry cannot silently diverge between
    them."""
    uid = F.col("user_id")
    return src.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("d"), _cms_bucket(uid, j).alias("w"))
                    for j in range(CMS_D)
                ]
            )
        ).alias("cell"),
    ).select(*keep, F.col("cell.d").alias("d"), F.col("cell.w").alias("w"))


def _cms_oracle() -> str:
    b = _cms_bucket_sql("user_id", "j")
    return f"""
    WITH cms AS (
      SELECT j AS d, {b} AS w, CAST(count(*) AS BIGINT) AS cnt
      FROM events, unnest([{_CMS_J}]) AS t(j)
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM events GROUP BY user_id
    ),
    top AS (
      SELECT user_id, exact_cnt FROM exact
      ORDER BY exact_cnt DESC, user_id LIMIT {CMS_TOPK}
    ),
    probes AS (
      SELECT user_id, exact_cnt, j AS d, {b} AS w
      FROM top, unnest([{_CMS_J}]) AS t(j)
    )
    SELECT p.user_id, p.exact_cnt, min(c.cnt) AS cms_est,
           min(c.cnt) - p.exact_cnt AS overcount
    FROM probes p JOIN cms c ON c.d = p.d AND c.w = p.w
    GROUP BY p.user_id, p.exact_cnt
    """


@query("events_heavy_hitters", oracle=_cms_oracle())
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K event producers with their count-min-sketch estimates:
    (user_id, exact_cnt, cms_est, overcount), overcount >= 0 always
    (CMS never undercounts; a negative value = implementation bug the
    differential would catch).

    Scale posture: the sketch is CMS_D x CMS_W = 2048 counters — the
    events scan fans each row into CMS_D (row, bucket) cells that
    map-side combine to at most d*w rows per partition, so the
    sketch's shuffle moves KILOBYTES at any event volume, and the
    result broadcasts to wherever estimates are needed. The exact
    top-K side exists as the verification twin (at 100 TB you keep
    only the sketch; the fixture is small enough to afford ground
    truth, which is exactly what makes the oracle differential check
    the sketch's collision behavior, not just its happy path)."""
    events = read_table(spark, sf_dir, "events")
    cms = cms_cells(events, []).groupBy("d", "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), "user_id").limit(CMS_TOPK)
    probes = cms_cells(top, ["user_id", "exact_cnt"])
    return (
        probes.join(F.broadcast(cms), ["d", "w"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "user_id",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# Bitmap cohort retention: per-user activity compressed into ONE
# 30-bit day mask (bit k = "active on cohort_day + k"), cohort
# retention derived by bit arithmetic. The production pattern behind
# roaring-bitmap retention engines: the expensive corpus pass reduces
# to one bigint per user (bit_or map-side combines like any sum), and
# every downstream retention/frequency question is popcount math on
# that compact state — contrast with events_retention's join-based
# formulation of the same business question.
# ---------------------------------------------------------------------------
RETENTION_DAYS = 30
_US_PER_DAY = 86_400_000_000


@query(
    "events_bitmap_retention",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // {_US_PER_DAY} AS day
      FROM events
    ),
    cohort AS (
      SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
    ),
    masked AS (
      SELECT d.user_id, c.cohort_day,
             bit_or(CAST(1 AS BIGINT) << CAST(d.day - c.cohort_day AS INT))
                 AS mask
      FROM days d JOIN cohort c ON c.user_id = d.user_id
      WHERE d.day - c.cohort_day < {RETENTION_DAYS}
      GROUP BY d.user_id, c.cohort_day
    ),
    sizes AS (
      SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(bit_count(mask)) AS BIGINT) AS sum_active_days
      FROM masked GROUP BY cohort_day
    ),
    hits AS (
      SELECT cohort_day, off, CAST(count(*) AS BIGINT) AS n_retained
      FROM masked, unnest(range(0, {RETENTION_DAYS})) AS t(off)
      WHERE ((mask >> off) & 1) = 1
      GROUP BY cohort_day, off
    )
    SELECT h.cohort_day, CAST(h.off AS BIGINT) AS off,
           s.n_users, s.sum_active_days, h.n_retained,
           h.n_retained / s.n_users AS retained_frac
    FROM hits h JOIN sizes s ON s.cohort_day = h.cohort_day
    """,
)
def events_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention from per-user 30-bit activity masks:
    (cohort_day, off, n_users, sum_active_days, n_retained,
    retained_frac) — one row per cohort per active day-offset.

    Scale posture: the corpus-sized work is the distinct
    (user, day) reduction and the per-user `bit_or` mask — both
    map-side-combining shuffles keyed on user_id, and the mask state
    is 8 BYTES per user regardless of event volume (vs the join-based
    `events_retention`, which shuffles (cohort x offset) pairs).
    Everything after the per-user reduction operates on one row per
    user: popcounts and bit probes are O(1) integer ops, and the
    final per-cohort aggregate is map-side combined. The 30x offset
    fan-out happens on user-count rows, never event rows."""
    events = read_table(spark, sf_dir, "events")
    days = events.select(
        "user_id",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_US_PER_DAY}").alias("day"),
    ).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    from ..plans.materialize import materialize

    # The 8-bytes-per-user mask table has two consumers (cohort sizes
    # and the offset fan-out) — materialize it so the event-scan +
    # distinct + bit_or chain runs once.
    masked = materialize(
        days.join(cohort, "user_id")
        .filter(F.col("day") - F.col("cohort_day") < RETENTION_DAYS)
        .groupBy("user_id", "cohort_day")
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT),"
                " CAST(day - cohort_day AS INT)))"
            ).alias("mask")
        )
    )
    sizes = masked.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.expr("bit_count(mask)")).cast("bigint").alias("sum_active_days"),
    )
    hits = (
        masked.select(
            "cohort_day",
            F.explode(F.sequence(F.lit(0), F.lit(RETENTION_DAYS - 1))).alias("off"),
            "mask",
        )
        .filter(F.expr("(mask >> off) & 1 = 1"))
        .groupBy("cohort_day", F.col("off").cast("bigint").alias("off"))
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    return hits.join(sizes, "cohort_day").select(
        "cohort_day",
        "off",
        "n_users",
        "sum_active_days",
        "n_retained",
        (F.col("n_retained") / F.col("n_users")).alias("retained_frac"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival profile — per event type, the distribution of the gap
# between a user's consecutive events (any type): the telemetry twin
# of sessionize's gap rule, reported instead of thresholded. Real
# deployments read this to CHOOSE the session gap and to spot
# bot-like traffic (near-zero inter-arrival at volume).
# ---------------------------------------------------------------------------
@query(
    "events_interarrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_arrivals,
           CAST(CAST(sum(gap_us) AS BIGINT) AS DOUBLE) / count(*)
             / 1000000.0 AS mean_gap_s,
           CAST(min(gap_us) AS DOUBLE) / 1000000.0 AS min_gap_s,
           CAST(max(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_s
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival gaps. Same single user-keyed window
    shuffle as sessionize (skew levers identical — see
    events_sessionize_twophase), then one map-side-combined agg
    carrying a report row per event type. Gap sums stay exact BIGINT
    microseconds until the final double division, so the reduction is
    order-independent without the DECIMAL detour."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "event_type",
        (_epoch_us("ts") - F.lag(_epoch_us("ts")).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    n = F.count(F.lit(1))
    return gaps.groupBy("event_type").agg(
        n.cast("bigint").alias("n_arrivals"),
        (F.sum("gap_us").cast("double") / n / F.lit(1000000.0)).alias("mean_gap_s"),
        (F.min("gap_us").cast("double") / F.lit(1000000.0)).alias("min_gap_s"),
        (F.max("gap_us").cast("double") / F.lit(1000000.0)).alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# Session-level distribution report — the one-row summary read off the
# sessionize output (the dashboard twin: sessionize emits the per-
# session table, this emits what an operator actually looks at).
# Composes on events_sessionize the way session_stats SQL composes on
# its CTE, so the two stay in lockstep by construction.
# ---------------------------------------------------------------------------
@query(
    "events_session_stats",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_US}
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts, event_id,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_id
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_id,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us,
             count(*) AS n_events
      FROM numbered
      GROUP BY user_id, session_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_single_event,
           CAST(max(n_events) AS BIGINT) AS max_events,
           CAST(CAST(sum(n_events) AS BIGINT) AS DOUBLE) / count(*)
               AS avg_events,
           CAST(max(dur_us) AS BIGINT) AS max_dur_us,
           CAST(CAST(sum(dur_us) AS BIGINT) AS DOUBLE) / count(*)
               AS avg_dur_us
    FROM sessions
    """,
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row session distribution summary over the sessionize
    output: volume (sessions/users), quality (single-event "bounce"
    sessions), and exact-integer duration/size moments with ONE final
    double division each (order-independent reduction — no float sums
    cross the shuffle).

    Plan shape: events_sessionize's one user-keyed window shuffle +
    per-session agg, then a map-side-combined global agg collapsing
    to a single row — the collapse carries one partial row per task,
    so the report costs nothing beyond the sessionize it reads. Same
    skew posture as sessionize (the twophase variant's plan applies
    unchanged if one user's history is pathological)."""
    sess = events_sessionize(spark, sf_dir)
    dur = (_epoch_us("session_end") - _epoch_us("session_start")).alias(
        "dur_us"
    )
    base = sess.select("user_id", dur, "n_events")
    n = F.count(F.lit(1))
    return base.agg(
        n.cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_single_event"),
        F.max("n_events").cast("bigint").alias("max_events"),
        (F.sum("n_events").cast("double") / n).alias("avg_events"),
        F.max("dur_us").cast("bigint").alias("max_dur_us"),
        (F.sum("dur_us").cast("double") / n).alias("avg_dur_us"),
    )


# ---------------------------------------------------------------------------
# DAU + rolling 7-day active users. The trap this query exists to
# demonstrate: WAU is NOT a windowed sum of DAU (users repeat across
# days) — it needs a distinct-over-sliding-window, which has no
# partial aggregation. The scale-right decomposition: reduce events
# to DISTINCT (user, day) pairs first (the only corpus-sized shuffle,
# map-side combined), then explode each pair into the ≤7 window-ends
# it contributes to — a constant 7× expansion of the already-tiny
# pair table, never of raw events — and count per window end.
# ---------------------------------------------------------------------------
_ROLLING_DAYS = 7


@query(
    "events_dau_rolling",
    oracle=f"""
    WITH ud AS (
      -- NULL user_id (logged-out traffic) is not an active USER;
      -- also count(DISTINCT u.user_id) would drop it on the wau side
      -- while the dau side's count(*) kept it — asymmetric without
      -- the explicit filter.
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
      WHERE user_id IS NOT NULL
    ),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (
      SELECT day, count(*) AS dau FROM ud GROUP BY day
    ),
    wau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau
      FROM days d JOIN ud u
        ON u.day BETWEEN d.day - {_ROLLING_DAYS - 1} AND d.day
      GROUP BY d.day
    )
    SELECT CAST(dau.day AS TIMESTAMP) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau
    FROM dau JOIN wau ON wau.day = dau.day
    """,
)
def events_dau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives + trailing-7-day actives per day.

    The oracle states the semantics as the naive range join
    (day BETWEEN d-6 AND d); the Spark plan is the scalable explode
    form — each distinct (user, day) pair emits the window-end days
    it can count toward, distinct again, count per day — so no range
    join and no per-day rescan ever touches raw events. Output days
    are calendar midnights as timestamps (both engines' DATE→pandas
    paths differ; TIMESTAMP is the common exact type). Only days
    that actually appear in the data are reported, so leading windows
    are partial by construction (standard dashboard semantics)."""
    from ..plans.materialize import materialize

    events = read_table(spark, sf_dir, "events")
    # Both report branches (dau, wau-contrib) consume the distinct
    # pair table; without an explicit materialization each re-runs
    # the events scan + distinct shuffle (plan-audited: scans=2).
    # The pair table is users×days — tiny relative to events — so one
    # spill-safe persist beats a second corpus pass at any scale.
    ud = materialize(
        events.filter(F.col("user_id").isNotNull())  # see oracle note
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    contrib = (
        ud.select(
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.col("day") + F.expr(
                        f"INTERVAL {_ROLLING_DAYS - 1} DAYS"
                    ),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("day"),
            "user_id",
        )
        .distinct()
    )
    wau = contrib.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("wau")
    )
    return dau.join(wau, "day").select("day", "dau", "wau")


# ---------------------------------------------------------------------------
# Exact per-group percentiles — the telemetry report (p50/p90/p99 of
# event value per type) done by explicit rank selection so both
# engines agree bit-for-bit (quantile built-ins interpolate
# differently across engines; rank selection picks an actual data
# point by a total order).
# ---------------------------------------------------------------------------
@query(
    "events_value_percentiles",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      -- NULL values are excluded from the rank (standard percentile
      -- semantics); without the filter the engines also disagree on
      -- where NULL sorts (Spark NULLS FIRST vs DuckDB NULLS LAST).
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                    THEN value END) AS p50,
           max(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT)
                    THEN value END) AS p90,
           max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                    THEN value END) AS p99
    FROM ranked
    GROUP BY event_type
    """,
)
@shared_pass
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 per event type, selected by rank (row_number
    with event_id tiebreak — a total order, so the picked element is
    engine-independent; among EQUAL values any tiebreak picks the
    same value).

    Scale posture (round-3 verdict item 3 — the ladder the old
    docstring promised, now built): NO window partitioned by the
    ~5-value event_type (which made each type's whole history one
    unsplittable task). operators/rankselect.rank_select
    range-partitions on the composite (event_type, value, event_id)
    — the unique tiebreak splits a hot type across partitions — and
    per-(partition, type) counts locate the one partition slice that
    holds each ceil(p·n)-th rank; only those ≤3 slices per type
    sort. Full-data cost: one range repartition + one map-side-
    combined count pass. The oracle deliberately keeps the window
    row_number spec; the pin against the old window formulation at
    all three fixture scales lives in tests/test_rankselect.py."""

    events = read_table(spark, sf_dir, "events").filter(
        # exclude NULL metric values from the rank — standard
        # percentile semantics, and the engines disagree on NULL
        # sort placement (Spark NULLS FIRST vs DuckDB NULLS LAST)
        F.col("value").isNotNull()
    ).select("event_type", "value", "event_id")
    cuts = {
        name: (lambda p: lambda n: F.ceil(F.lit(p) * n))(p)
        for name, p in (("p50", 0.50), ("p90", 0.90), ("p99", 0.99))
    }
    sel = rank_select(
        events,
        ["event_type"],
        ["value", "event_id"],
        cuts,
        total_col="n_events",
    )
    return sel.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("p50").getField("value").alias("p50"),
        F.col("p90").getField("value").alias("p90"),
        F.col("p99").getField("value").alias("p99"),
    )


# ---------------------------------------------------------------------------
# Driver-visible STREAMING-PATH entry (round-3 verdict item 8): the
# streaming surface was pytest-pinned via batch-twin equivalence but
# had no entry the driver's independent harness ever executed. This
# one runs the genuine Structured Streaming machinery — readStream →
# stream-stream interval join (bounded state via two watermarks) →
# AvailableNow micro-batch execution into a parquet sink — and
# returns the sink contents, differentialed against the plain batch
# interval-join SQL. Inner interval-join matches emit as found, and
# the fixture replay delivers everything before any watermark
# eviction, so the streamed result set EQUALS the batch join.
# ---------------------------------------------------------------------------


@query(
    "events_stream_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id AS c_user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_ts
    FROM purchases p
    JOIN clicks c
      ON c.c_user_id = p.user_id
     AND c.click_ts <= p.purchase_ts
     AND c.click_ts > p.purchase_ts - INTERVAL 1 HOUR
    """,
)
@shared_pass
def events_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (purchase, click) pair of the same user with the click in
    the purchase's trailing hour — computed on the STREAMING path
    (streaming/events.py::attribution_join_stream over
    read_events_stream), not a batch twin.

    Mechanics: AvailableNow processes the staged fixture as
    micro-batches and terminates; the parquet sink is the
    deterministic replayable output (the interval join's result is a
    set — append-mode emission order doesn't reach the hash, which is
    order-insensitive). Session-cached so the driver's repeated
    invocations (count, then collect) run the stream once. Timestamps
    come back as instants under the stream's pinned-UTC session and
    are cast to TIMESTAMP_NTZ so the schema matches the batch tables.

    Scale posture: both join sides are watermarked and the join
    condition bounds click_ts to a finite interval around
    purchase_ts, so an always-on run holds only the watermark horizon
    of state per side; the sink is append-only files — no driver
    collect anywhere."""

    from ..streaming.events import (
        attribution_join_stream,
        read_events_stream,
        run_stream_to_parquet,
    )

    # Single micro-batch over the whole source: a multi-part-file
    # table streamed one-file-per-trigger could advance the
    # watermark past rows in later files (file order is mtime, not
    # event time) and silently drop joins the batch oracle keeps.
    # Measured (round 8): the event-time-ordered weekly staging
    # that WOULD make multi-batch watermark-safe (same rows —
    # differential pinned in tests/test_streaming.py) costs 24.9s
    # vs 15.4s cold at sf0.1 — each local micro-batch pays fixed
    # state-store commit overhead — so the single batch IS the
    # wall-clock floor at fixture scale. The round-7 regression
    # root cause was state-store count, not batch shape: a
    # stream-stream join keeps 4 state stores per shuffle
    # partition and commits each per batch; sizing state
    # partitions to stream volume (8 at 32 cores, one per core
    # below 8: STREAM_STATE_PARTITIONS, _drain_session) cut the
    # warm wall 7.5s → 2.5s, identical result.
    got = run_stream_to_parquet(
        spark,
        lambda s: attribution_join_stream(
            read_events_stream(s, sf_dir, max_files_per_trigger=1_000_000)
        ),
        "stream_attr",
        "purchase_id bigint, user_id bigint,"
        " purchase_ts timestamp, click_ts timestamp",
    )
    return got.select(
        "purchase_id",
        "user_id",
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )


# ---------------------------------------------------------------------------
# Second driver-visible streaming entry: a watermark-CLOSED append-
# mode aggregation — the other half of the streaming machinery the
# interval join above cannot exercise (state finalization + eviction
# rather than match emission). The drain problem and its sentinel
# solution live in streaming/events.py::stage_events_with_sentinels.
# ---------------------------------------------------------------------------


@query(
    "events_stream_sessionize",
    oracle=f"""
    WITH flagged AS (
      -- ts IS NOT NULL: session_window cannot assign a null event
      -- time to any window (the row vanishes on the streaming side),
      -- so the oracle applies the same predicate — the contract the
      -- sibling clamp entry pins the same way
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_US}
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
    ),
    sessions AS (
      SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
@shared_pass
def events_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user computed on the STREAMING path
    in APPEND mode: readStream → ``session_window`` aggregation
    (stateful merging windows, watermark-bounded state) → AvailableNow
    micro-batches → parquet sink — then the sink read back, sentinel
    user removed.

    What this adds over ``events_stream_attribution``: that entry's
    stream-stream interval join emits matches as they are found, so
    it never exercises watermark-driven STATE FINALIZATION. Append-
    mode aggregation does — a session row reaches the sink only when
    the watermark passes session_end + gap, which on a finite replay
    requires the sentinel watermark-advancer staged by
    ``stage_events_with_sentinels`` (the drain marker of a planned
    always-on shutdown). The oracle is the independent batch
    formulation: DuckDB's lag/cumsum gap sessionization — so the
    differential proves session_window's merge semantics, the
    watermark close-out, and the drain protocol in one hash.

    Scale posture: state is per-(user, OPEN session), not per-user
    history (the skew answer to the batch twin's unsplittable hot-user
    window); the sink is append-only files; nothing collects to the
    driver. Session-cached like every streaming entry so the driver's
    repeated invocations run the stream once.

    State-partition receipt (round-9, OPTIMIZATION_r09.md — the
    sessionize twin of attribution's 7.5→2.5 s curve, measured under
    BOTH drain shapes at sf0.1, min-of-2 cold streams, identical
    95,465-row result at every point): single-batch drain 2.45 s at
    4 state partitions / 1.72 s at 8 / 2.02 s at 16 / 2.77 s at 32;
    multi-batch production shape (5 weekly files + 2 sentinels,
    maxFilesPerTrigger=1 → 7 micro-batches) 4.13 / 4.30 / 5.49 /
    8.43 s, on 32 cores. The default of 8 (STREAM_STATE_PARTITIONS,
    capped at one per core by ``_drain_session``) is the single-shape
    optimum and within noise of the multi-shape optimum; the
    multi-batch walls grow ~linearly in partition count past 8
    because EVERY micro-batch commits one snapshot per state store —
    the same lesson as attribution, now measured on the
    state-finalization path too."""

    from ..streaming.events import (
        SENTINEL_USER,
        read_staged_events_stream,
        run_stream_to_parquet,
        sessionize,
        stage_events_with_sentinels,
    )

    # The stager writes the whole table, whatever its part-file
    # count, plus sentinel 0 as ONE file, so one-file-per-trigger
    # always yields the exact two-batch drain sequence: all real rows
    # (watermark 0 — inter-file event-time order can never drop a row
    # as late), then sentinel 1, which runs past every real session's
    # close.
    stage = stage_events_with_sentinels(spark, sf_dir)
    got = run_stream_to_parquet(
        spark,
        lambda s: sessionize(read_staged_events_stream(s, stage)),
        "stream_sess",
        "user_id bigint, session_start timestamp,"
        " session_end timestamp, n_events bigint",
    )
    # eqNullSafe: a plain != evaluates NULL for null-user sessions
    # (logged-out traffic) and would silently drop rows the oracle
    # and the batch twin both keep
    return got.filter(~F.col("user_id").eqNullSafe(SENTINEL_USER)).select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Third streaming entry: the CUSTOM STATEFUL OPERATOR
# (applyInPandasWithState) made driver-verifiable. The clamp fold is
# non-associative — per-batch semantics — so verification requires a
# fully specified batch sequence: stage_events_weekly gives one file
# per calendar ISO week (same state machinery as per-day at 1/6 the
# micro-batch scheduling overhead), and the oracle replays the
# identical fold with a DuckDB RECURSIVE CTE (one step per
# (user, present-week)). Building
# this differential found a real bug in the first-batch timeout
# scheduling of the shipped clamp (state wiped for any user absent
# from batch 2) — see running_net_clamp_micro's timeout comment.
# ---------------------------------------------------------------------------


@query(
    "events_stream_clamp",
    oracle="""
    WITH RECURSIVE days AS (
      -- ts IS NOT NULL / COALESCE: the replay excludes rows an
      -- event-time operator can't watermark, and null values count
      -- toward n but add 0 — mirrored in stage_events_daily and
      -- running_net_clamp_micro's NaN-safe fold
      SELECT user_id, date_trunc('week', ts) AS d,
             SUM(COALESCE(CAST(floor(value * 1e6) AS BIGINT), 0)) AS s,
             COUNT(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    seq AS (
      SELECT user_id, s, n,
             row_number() OVER (PARTITION BY user_id ORDER BY d) AS k,
             count(*) OVER (PARTITION BY user_id) AS nk
      FROM days
    ),
    fold AS (
      SELECT user_id, k, nk, greatest(0, s) AS cum, n AS n_events
      FROM seq WHERE k = 1
      UNION ALL
      SELECT q.user_id, q.k, q.nk, greatest(0, f.cum + q.s),
             f.n_events + q.n
      FROM fold f JOIN seq q ON q.user_id = f.user_id AND q.k = f.k + 1
    )
    SELECT user_id, CAST(cum AS BIGINT) AS cum_micro,
           CAST(n_events AS BIGINT) AS n_events
    FROM fold WHERE k = nk
    """,
)
@shared_pass
def events_stream_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running net-sum of ``value``, clamped at zero once per
    micro-batch, computed by the CUSTOM STATEFUL OPERATOR
    (``running_net_clamp_micro``: applyInPandasWithState, event-time
    timeout, update mode) over a deterministic one-file-per-ISO-week
    replay: (user_id, cum_micro, n_events) — final state per user.

    Why this entry exists: the clamp makes the fold non-associative,
    which is exactly why it needs arbitrary stateful processing — and
    also why it was the one streaming operator with no SQL oracle
    (its value depends on the micro-batch partitioning). Pinning the
    partitioning to calendar weeks — ``date_trunc('week')`` is ISO
    Monday-start in Spark and DuckDB alike — makes the fold a pure
    function of the data (weeks, not days: identical machinery at 5
    micro-batches instead of 30, each batch ~1.5s of local fixed
    overhead), and integer micro-units (floor(value*1e6) — floor, not
    round: IEEE multiply + floor is bit-identical in both engines,
    while round differs in half-way tie rules) make every fold step
    exact, so DuckDB can replay it with a recursive CTE and the
    driver hash-checks a stateful streaming trajectory end to end.

    Mechanics: update-mode emission goes through ``foreachBatch`` into
    an append-only parquet log with the epoch id stamped on each row
    (parquet sinks don't accept update mode; the log-then-latest read
    is the standard pattern); the final state per user is the row at
    the max epoch — one partitioned max-struct aggregation, no
    driver-side state. Retention is set past the fixture horizon so
    no TTL fires (TTL behavior is pinned separately in
    tests/test_streaming.py); watermark stays the production 1 hour —
    week files are contiguous in time, so nothing is ever late.

    Scale posture: state is one (int, int) pair per user; emission is
    one row per touched user per batch into append-only files; the
    final aggregation shuffles (user_id)-keyed rows once."""

    from ..streaming.events import (
        read_staged_events_stream,
        run_stream_to_parquet,
        running_net_clamp_micro,
        stage_events_weekly,
    )

    out_schema = "user_id bigint, cum_micro bigint, n_events bigint"
    stage, n_weeks = stage_events_weekly(spark, sf_dir)
    if n_weeks == 0:
        return spark.createDataFrame([], out_schema)
    log = run_stream_to_parquet(
        spark,
        lambda s: running_net_clamp_micro(
            read_staged_events_stream(s, stage),
            retention_ms=90 * 24 * 3600 * 1000,  # past the fixture span
        ),
        "stream_clamp",
        out_schema,
        output_mode="update",
        stamp_epoch=True,
    )
    return (
        log.groupBy("user_id")
        .agg(F.max(F.struct("batch_id", "cum_micro", "n_events")).alias("s"))
        .select(
            "user_id",
            F.col("s.cum_micro").alias("cum_micro"),
            F.col("s.n_events").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Fourth streaming entry: EXACTLY-ONCE INGEST into the snapshot store
# (streaming/ingest.py) made driver-verifiable — the integration seam
# between the streaming tier and the storage tier. The stream appends
# one snapshot version per micro-batch with the batch id published
# atomically alongside the data; the entry then REDELIVERS an
# already-committed batch id (the crash-replay every at-least-once
# source eventually produces) and the oracle — simply the events
# table — proves every row landed exactly once anyway.
# ---------------------------------------------------------------------------


@query(
    "events_stream_ingest",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events WHERE ts IS NOT NULL
    """,
)
@shared_pass
def events_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events fixture through the exactly-once snapshot
    sink (one ``SnapshotStore.append`` commit per micro-batch, batch
    id marker published by the same pointer swap) and return the
    ingested table: every event row, exactly once.

    The differential is end-to-end: the week-staged replay runs ~5
    micro-batches (5 append commits, 5 versions), then the entry
    REDELIVERS a full copy of the data under the last committed batch
    id — the deterministic stand-in for the crash-between-sink-and-
    checkpoint replay that at-least-once delivery guarantees will
    eventually happen. The marker check makes the redelivery a no-op;
    if it ever stopped being one, every row would double and the
    row-count + hash compare against the plain events table would
    fail. (The same idempotence is unit-pinned in
    tests/test_streaming.py; this entry makes it driver-visible.)

    Null-ts rows are excluded by the replay stager and by the
    oracle's predicate — the same event-time contract as the sibling
    streaming entries.

    Scale posture: each micro-batch writes only its own rows
    (O(batch) add-files commit); manifest growth is bounded by
    ``SnapshotStore.compact``; the redelivery probe reads back only
    the committed manifest head. Nothing collects to the driver."""

    import os

    from ..plans.snapshots import SnapshotStore
    from ..streaming.events import (
        read_staged_events_stream,
        stage_events_weekly,
    )
    from ..streaming.ingest import _marker, append_stream, make_batch_sink

    out_schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint,"
        " event_type string, value double, props string"
    )
    stage, n_weeks = stage_events_weekly(spark, sf_dir)
    if n_weeks == 0:
        return spark.createDataFrame([], out_schema)
    base = scratch_dir("stream_ingest")
    store = SnapshotStore(spark, os.path.join(base, "store"))
    q = append_stream(
        store,
        read_staged_events_stream(spark, stage),
        "events",
        os.path.join(base, "ckpt"),
        stream_id="driver",
    )
    q.awaitTermination()
    # Crash-replay probe: redeliver under the last COMMITTED id.
    sink = make_batch_sink(store, "events", stream_id="driver")
    last = store.meta()[_marker("driver", "events")]
    sink(store.read("events"), last)
    # Table maintenance under streaming ingest: per-batch appends
    # grow the manifest's file list unboundedly at 100 TB, so the
    # production loop periodically compacts; running it here keeps
    # the whole lifecycle — N append commits + replayed commit +
    # compaction rewrite — under the same whole-table oracle
    # (compaction must preserve contents AND the batch-id marker:
    # the meta carries forward, so a post-compaction redelivery is
    # still a no-op).
    store.compact("events")
    sink(store.read("events"), last)  # replay AFTER compaction
    return store.read("events").select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
