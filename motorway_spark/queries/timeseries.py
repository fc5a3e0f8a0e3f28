"""Time-series operators: sessionization, hypertable rollup, range joins.

North-star extensions beyond the reference's streaming surface — the
batch time-series toolkit a 100 TB event pipeline needs (reference
analogue: motorway's per-queue time handling is stream-only; these are
their set-oriented twins over the ``events`` table).

Scale notes per operator:

- ``sessionize_events``: one hash exchange on user_id + one
  in-partition sort; state per partition is bounded by events-per-user.
  Identical shape to the as-of join (joins.py) — survives billions of
  events/user-day because nothing is materialized per session until the
  final agg.
- ``hypertable_rollup``: the TimescaleDB continuous-aggregate pattern —
  the fine (hour) rollup is computed once from raw data, the coarse
  (day) rollup re-aggregates the HOUR aggregates, not the raw events.
  At 100 TB the second pass reads ~1/3600th of the input; decimal
  partial sums re-aggregate exactly (associative), so the day numbers
  are bit-identical to a from-raw computation.
- ``range_join_point_in_interval``: the equality-dominant temporal
  join (point ∈ interval with a shared key): Catalyst plans a plain
  shuffle hash join on (user_id, day) with the range predicate applied
  post-match — linear, no nested-loop.
- ``range_join_interval_overlap``: overlap join WITHOUT a selective
  equality key — the hard case. Naive form is a per-day cross join
  (O(n² per day)); instead each interval explodes into the hour chunks
  it covers and pairs join on chunk equality (the Timescale/ALA chunk
  trick). Candidates are bounded per chunk, duplicates from
  multi-chunk overlaps removed by ``distinct`` — exact semantics, hash
  join physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from motorway_spark.catalog import Catalog
from motorway_spark.queries.registry import query

# 30 min: the reference's MESSAGE_TIMEOUT (/root/reference/motorway/
# controller.py:31,176 — messages idle past this are timed out); here the
# same constant delimits activity sessions.
SESSION_GAP_US = 30 * 60 * 1_000_000
HOUR_US = 3_600 * 1_000_000


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    return ev.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))


@query(
    "sessionize_events",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
    m AS (SELECT user_id, event_id, ts_us,
            CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    s AS (SELECT user_id, ts_us,
            CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_no
          FROM m)
    SELECT user_id, session_no, COUNT(*) AS n_events,
           MIN(ts_us) AS start_us,
           CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS duration_us
    FROM s GROUP BY user_id, session_no
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a >30-min silence starts a new session.

    The classic gaps-and-islands formulation — lag() marks session
    starts, a running sum numbers them, then one groupBy per
    (user, session). Streaming twin: stream_session_window
    (streaming_queries.py) computes the same sessions incrementally.
    """
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "ts_us")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    new_sess = F.when(
        F.lag("ts_us").over(w).isNull()
        | (F.col("ts_us") - F.lag("ts_us").over(w) > SESSION_GAP_US),
        1,
    ).otherwise(0)
    sess_no = F.sum(new_sess).over(
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.withColumn("session_no", sess_no)
        .groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_us").alias("start_us"),
            (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        )
    )


@query(
    "hypertable_rollup",
    oracle="""
    WITH hourly AS MATERIALIZED (
      SELECT date_trunc('hour', ts) AS bucket_ts, COUNT(*) AS n_events,
             SUM(CAST(value AS DECIMAL(38,6))) AS sum_dec
      FROM events GROUP BY 1)
    SELECT 'hour' AS resolution, epoch_us(bucket_ts) AS bucket_us,
           CAST(n_events AS BIGINT) AS n_events,
           ROUND(CAST(sum_dec AS DOUBLE), 4) AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day' AS resolution, epoch_us(date_trunc('day', bucket_ts)) AS bucket_us,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(sum_dec) AS DOUBLE), 4) AS sum_value
    FROM hourly GROUP BY 2
    """,
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time-bucket rollup (continuous-aggregate shape).

    Day rows re-aggregate the HOUR aggregates (exact: decimal partial
    sums are associative) — the coarse resolution costs a shuffle over
    ~n/3600 rows, not a second scan of the raw table. Physically this
    relies on exchange reuse: both union branches canonicalize to the
    same hourly shuffle, and the final adaptive plan feeds the daily
    re-agg from a ReusedExchange (asserted in test_plan_audit) — the
    raw scan and hourly partial aggregation run ONCE.
    """
    ev = Catalog(spark, sf_dir).events
    hourly = (
        ev.select(
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
            F.col("value").cast("decimal(38,6)").alias("v"),
        )
        .groupBy("bucket_ts")
        .agg(F.count("*").alias("n_events"), F.sum("v").alias("sum_dec"))
    )
    daily = (
        hourly.groupBy(F.date_trunc("day", "bucket_ts").alias("bucket_ts"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("sum_dec").alias("sum_dec"))
    )

    def _finish(df: DataFrame, res: str) -> DataFrame:
        return df.select(
            F.lit(res).alias("resolution"),
            F.unix_micros("bucket_ts").alias("bucket_us"),
            F.col("n_events"),
            F.round(F.col("sum_dec").cast("double"), 4).alias("sum_value"),
        )

    return _finish(hourly, "hour").unionAll(_finish(daily, "day"))


def _purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user, day) purchase-activity interval [first, last] in µs."""
    ev = _events_us(spark, sf_dir)
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.col("user_id"),
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.min("ts_us").alias("s_us"), F.max("ts_us").alias("e_us"))
    )


_SQL_INTERVALS = """
    iv AS MATERIALIZED (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
"""


@query(
    "range_join_point_in_interval",
    oracle=f"""
    WITH {_SQL_INTERVALS}
    SELECT iv.user_id, CAST(iv.day AS VARCHAR) AS day,
           COUNT(e.event_id) AS n_clicks_in_span
    FROM iv JOIN events e
      ON e.user_id = iv.user_id
     AND CAST(date_trunc('day', e.ts) AS DATE) = iv.day
     AND epoch_us(e.ts) BETWEEN iv.s_us AND iv.e_us
     AND e.event_type = 'click'
    GROUP BY iv.user_id, iv.day
    """,
)
def range_join_point_in_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal point-in-interval join with a shared equality key:
    clicks that fall inside the same user's same-day purchase span.

    The equality keys (user_id, day) carry the join — Catalyst plans a
    shuffle hash join with the BETWEEN as a cheap post-probe filter;
    nothing quadratic survives at any scale.
    """
    iv = _purchase_intervals(spark, sf_dir)
    clicks = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.date_trunc("day", "ts").cast("date").alias("c_day"),
            F.col("ts_us").alias("c_ts_us"),
            F.col("event_id"),
        )
    )
    return (
        iv.join(
            clicks,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_day") == F.col("day"))
            & F.col("c_ts_us").between(F.col("s_us"), F.col("e_us")),
        )
        .groupBy("user_id", F.col("day").cast("string").alias("day"))
        .agg(F.count("event_id").alias("n_clicks_in_span"))
    )


@query(
    "range_join_interval_overlap",
    oracle=f"""
    WITH {_SQL_INTERVALS}
    SELECT CAST(a.day AS VARCHAR) AS day, COUNT(*) AS n_pairs,
           CAST(SUM(LEAST(a.e_us, b.e_us) - GREATEST(a.s_us, b.s_us)) AS BIGINT)
             AS sum_overlap_us
    FROM iv a JOIN iv b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s_us <= b.e_us AND b.s_us <= a.e_us
    GROUP BY a.day
    """,
)
def range_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap statistics without a selective equality key —
    per day, how many pairs of users' purchase-activity intervals
    overlap and by how much in total.

    Scale path (sweep line): the output is AGGREGATE-only, so no plan
    should ever materialize the pairs — with k same-day intervals the
    pair count itself is Θ(k²) (the round-5 sf1 measurement: a
    chunk-bucketed pair join took 99 s at 10× density, ~100× the sf0.1
    time, because the ANSWER has ~100× pairs). Instead each interval
    contributes a +1 start and a −1 end point; one per-day window sort
    gives the active-interval count at every point, and then
      n_pairs        = Σ over starts of (actives just before the start)
      sum_overlap_us = Σ over segments of C(active, 2) · segment_length
    — the measure-theoretic identity Σ_pairs |a∩b| = ∫ C(active(t), 2) dt.
    O(n log n) per day, one shuffle, no join at all; ends sort AFTER
    starts at the same µs so closed-interval touching counts as a pair
    (with zero overlap contribution), matching the oracle's
    ``a.s <= b.e AND b.s <= a.e``. The oracle keeps the explicit
    pair-join formulation (DuckDB IEJoin) as ground truth. At 100 TB,
    partition by (day) — or (day, shard) with a final re-merge — and
    note C(active,2)·µs stays under int64 while active ≤ ~10⁴ per day.
    Exact integer arithmetic throughout (intervals are unique per
    (user, day), so unordered user pairs = interval pairs)."""
    return _overlap_stats(_purchase_intervals(spark, sf_dir))


def _overlap_stats(iv: DataFrame) -> DataFrame:
    """Sweep-line pair-overlap aggregates over a (day, user_id, s_us,
    e_us) closed-interval frame — shared by the registered query and the
    semantics tests (tests/test_timeseries.py pins touching-interval and
    multi-overlap cases against hand counts)."""
    pts = iv.select(
        "day",
        F.col("s_us").alias("t"),
        F.lit(1).alias("delta"),
        F.lit(1).alias("is_start"),
    ).unionAll(
        iv.select(
            "day",
            F.col("e_us").alias("t"),
            F.lit(-1).alias("delta"),
            F.lit(0).alias("is_start"),
        )
    )
    order = [F.col("t"), F.col("is_start").desc()]
    w_run = (
        Window.partitionBy("day")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = Window.partitionBy("day").orderBy(*order)
    stepped = pts.select(
        "day",
        "t",
        "is_start",
        F.sum("delta").over(w_run).alias("active"),
        F.lead("t").over(w_next).alias("next_t"),
    )
    per_day = (
        stepped.groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("is_start") == 1, F.col("active") - 1).otherwise(0)
            ).alias("n_pairs"),
            F.sum(
                F.expr("active * (active - 1) div 2")
                * (F.coalesce(F.col("next_t"), F.col("t")) - F.col("t"))
            ).alias("sum_overlap_us"),
        )
        # the oracle's inner join emits only days with >= 1 overlapping pair
        .where(F.col("n_pairs") > 0)
    )
    return per_day


@query(
    "scd2_intervals",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
    m AS (SELECT user_id, event_id, event_type, ts_us,
            CASE WHEN lag(event_type) OVER w IS NULL
                   OR event_type <> lag(event_type) OVER w
                 THEN 1 ELSE 0 END AS changed
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    isl AS (SELECT user_id, event_type, ts_us,
              CAST(SUM(changed) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS island
            FROM m),
    rec AS (SELECT user_id, island, event_type,
              MIN(ts_us) AS valid_from_us, COUNT(*) AS n_events
            FROM isl GROUP BY user_id, island, event_type)
    SELECT user_id, event_type, valid_from_us,
           lead(valid_from_us) OVER w2 AS valid_to_us,
           lead(valid_from_us) OVER w2 IS NULL AS is_current,
           n_events
    FROM rec WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from_us, island)
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture → SCD type-2 validity intervals: per user,
    each run of consecutive identical event_types becomes one record
    valid from its first event until the next state change (NULL
    valid_to = current state). This is the batch twin of what the
    upsert sink (sinks/upsert.py) does record-at-a-time: replaying a
    change stream into versioned dimension rows.

    Scale shape: gaps-and-islands on value change — one hash exchange
    on user_id, two in-partition window passes (change marking, then
    lead over the collapsed islands). The second window runs over
    ~one row per state change, not per event; nothing widens.
    """
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "event_type", "ts_us")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changed = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w)),
        1,
    ).otherwise(0)
    island = F.sum(changed).over(
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rec = (
        ev.withColumn("island", island)
        .groupBy("user_id", "island", "event_type")
        .agg(F.min("ts_us").alias("valid_from_us"), F.count("*").alias("n_events"))
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us", "island")
    return rec.select(
        "user_id",
        "event_type",
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
        F.lead("valid_from_us").over(w2).isNull().alias("is_current"),
        "n_events",
    )


@query(
    "sessionize_native",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
    m AS (SELECT user_id, event_id, ts_us,
            CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w >= {SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    s AS (SELECT user_id, ts_us,
            CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_no
          FROM m)
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) + {SESSION_GAP_US} AS session_end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_no
    """,
)
def sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's BUILT-IN session_window aggregate —
    the JVM-native twin of sessionize_events (which hand-rolls
    gaps-and-islands). One groupBy, no window functions; Spark merges
    overlapping [ts, ts+gap) intervals per key inside the aggregate.

    Semantics note the oracle encodes: session_window uses a
    HALF-OPEN gap (a new session starts when the gap is >= 30 min,
    vs the strict > of the manual version), and each session's end is
    last_event + gap. Both formulations shuffle once on user_id.
    """
    ev = _events_us(spark, sf_dir)
    return (
        ev.groupBy(
            "user_id",
            F.session_window(F.col("ts"), "30 minutes").alias("sw"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("sw.end")).alias("session_end_us"),
            "n_events",
        )
    )


@query(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.t1
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.t2
      GROUP BY e.user_id),
    counts AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase)
    SELECT * FROM (
      SELECT 1 AS stage_no, 'view' AS stage, n_view AS n_users,
             CAST(n_view AS DOUBLE) / n_view AS frac_of_top FROM counts
      UNION ALL
      SELECT 2, 'click', n_click, CAST(n_click AS DOUBLE) / n_view FROM counts
      UNION ALL
      SELECT 3, 'purchase', n_purchase, CAST(n_purchase AS DOUBLE) / n_view
      FROM counts)
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click -> purchase): a user
    advances a stage only with an event AT OR AFTER their entry into
    the previous stage — the product-analytics query behind every
    conversion dashboard (the reference's vendor domain: Plecto builds
    KPI dashboards; motorway feeds them — README.md:8).

    Shape: one events scan, one exchange on user_id. The three stage
    entry times are per-user window minima over that partitioning (no
    joins); a per-user rollup and a 1-row count follow. The window sorts
    each user's full event history, so a single very heavy user bounds
    one task, not the plan. Timestamps compare as exact
    microsecond instants; counts are integers; the conversion fractions
    are single integer/integer IEEE divisions — bit-identical
    cross-engine."""
    from pyspark.sql import Window as W

    events = Catalog(spark, sf_dir).events
    # ONE events scan + ONE user_id exchange: the three stage entry
    # times are per-user window minima over the same partitioning (the
    # three Window nodes and the per-user rollup all reuse one
    # exchange), replacing three filtered scans + two user-keyed joins
    # + three count aggregates whose shared subtrees each re-ran the
    # scan — 6 FileScans -> 1 (guide §1.2/§2.4). Semantics identical:
    # t1 = min view ts (NULL when none); a click row qualifies for t2
    # iff ts >= t1 (a NULL t1 disqualifies it, exactly the inner join
    # against v); t3 likewise against t2. n_view counts users with >=1
    # view ROW (hv flag — v kept a user even when every view ts is
    # NULL), n_click/n_purchase count non-NULL t2/t3 (c/p rows always
    # carry non-NULL minima by construction).
    wu = W.partitionBy("user_id")
    typ = F.col("event_type")
    staged = (
        events.where(typ.isin("view", "click", "purchase"))
        .select("user_id", "event_type", "ts")
        .withColumn("hv", F.max(F.when(typ == "view", 1)).over(wu))
        .withColumn("t1", F.min(F.when(typ == "view", F.col("ts"))).over(wu))
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (typ == "click") & (F.col("ts") >= F.col("t1")),
                    F.col("ts"),
                )
            ).over(wu),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (typ == "purchase") & (F.col("ts") >= F.col("t2")),
                    F.col("ts"),
                )
            ).over(wu),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("hv").alias("hv"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    counts = per_user.agg(
        F.count("hv").alias("n_view"),
        F.count("t2").alias("n_click"),
        F.count("t3").alias("n_purchase"),
    )
    return counts.select(
        F.expr(
            "stack(3, "
            "1, 'view', n_view, CAST(n_view AS DOUBLE) / n_view, "
            "2, 'click', n_click, CAST(n_click AS DOUBLE) / n_view, "
            "3, 'purchase', n_purchase, CAST(n_purchase AS DOUBLE) / n_view) "
            "AS (stage_no, stage, n_users, frac_of_top)"
        )
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH first_signup AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('day', CAST(f.cohort_week AS DATE),
                            CAST(date_trunc('week', e.ts) AS DATE)) // 7
                  AS BIGINT) AS week_offset
      FROM events e JOIN first_signup f ON e.user_id = f.user_id
      WHERE e.ts >= f.cohort_week)
    SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
    FROM activity GROUP BY cohort_week, week_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the ISO week of their
    first signup; each cell counts cohort members active (any event) in
    week N after signup — the other canonical KPI-dashboard query of
    the reference vendor's domain, next to ``events_funnel``.

    Shape: one aggregate for cohort assignment, one user-keyed equality
    join to stamp events with their cohort, then distinct + count —
    all co-partitioned on user_id, and the matrix is |cohorts| x
    |offsets| rows regardless of event volume. Determinism: week
    truncation (Monday-start in both engines), day-difference integer
    division, and distinct-user counts are all exact integer/timestamp
    arithmetic."""
    events = Catalog(spark, sf_dir).events
    first_signup = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = (
        events.join(first_signup, "user_id")
        .where(F.col("ts") >= F.col("cohort_week"))
        .select(
            "user_id",
            "cohort_week",
            F.expr(
                "CAST(datediff(CAST(date_trunc('week', ts) AS DATE), "
                "CAST(cohort_week AS DATE)) div 7 AS BIGINT)"
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


@query(
    "events_dau_wau",
    oracle="""
    WITH day_user AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
      FROM events),
    bounds AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM day_user),
    covered AS (
      SELECT day + to_days(CAST(i AS INTEGER)) AS cover_day, user_id
      FROM day_user, UNNEST(range(0, 7)) AS t(i)),
    wau AS (
      SELECT cover_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM covered GROUP BY cover_day),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM day_user GROUP BY day)
    SELECT d.day, d.dau, w.wau
    FROM dau d JOIN wau w ON w.cover_day = d.day, bounds b
    WHERE d.day BETWEEN b.lo AND b.hi
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + trailing-7-day WAU per day — the daily-active metric pair
    on every KPI dashboard. Rolling DISTINCT counts cannot ride a
    window frame (distinct isn't frame-mergeable), so the scale
    formulation inverts it: each (day, user) activity row COVERS the 7
    days it contributes to (a 7x explode of the deduplicated day-user
    table — tiny next to raw events), and WAU is then a plain
    count-distinct per covered day. One heavy reduction (raw events →
    day-user), one bounded explode, two aggregates; no per-day
    re-scan, no quadratic self-join."""
    events = Catalog(spark, sf_dir).events
    day_user = events.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    dau = day_user.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    covered = (
        day_user.join(
            F.broadcast(
                day_user.sparkSession.range(0, 7).withColumnRenamed("id", "i")
            )
        )
        .select(
            F.expr("timestampadd(DAY, CAST(i AS INT), day)").alias("cover_day"),
            "user_id",
        )
    )
    wau = covered.groupBy("cover_day").agg(
        F.count_distinct("user_id").alias("wau")
    )
    bounds = day_user.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    return (
        dau.join(wau, dau.day == wau.cover_day)
        .crossJoin(F.broadcast(bounds))
        .where((F.col("day") >= F.col("lo")) & (F.col("day") <= F.col("hi")))
        .select("day", "dau", "wau")
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM ordered
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: counts of consecutive
    (prev_type -> next_type) steps per user stream — the sufficient
    statistic for a Markov model of user behavior (and the input to
    next-action features). One window pass per user (hash shuffle on
    user_id + in-partition sort, the asof_join shape), then a plain
    count; ordering ties break on event_id so the lag sequence is
    deterministic. Output is |types|² rows regardless of volume."""
    from pyspark.sql import Window

    events = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


# Fixed scoring anchor: recency is measured against a constant, not
# now() (Date.now-style nondeterminism has no place in an oracle-paired
# operator; production would pass the run date in).
RFM_ANCHOR = "1998-12-31 00:00:00"


@query(
    "orders_rfm_segmentation",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       CAST(TIMESTAMP '{RFM_ANCHOR}' AS DATE)) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey,
             CAST(ntile(5) OVER (ORDER BY recency_days ASC,  o_custkey) AS INTEGER) AS r_score,
             CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_score,
             CAST(ntile(5) OVER (ORDER BY monetary DESC,  o_custkey) AS INTEGER) AS m_score
      FROM per_cust)
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(o_custkey) AS BIGINT) AS member_checksum
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (Recency/Frequency/Monetary quintile
    scores) — the classic CRM scoring matrix on every revenue
    dashboard. One aggregate builds the per-customer profile (exact:
    day-diff against a FIXED anchor, bigint counts, decimal money),
    three ntile windows assign quintiles — each with a custkey
    tiebreak so bucket boundaries are total-order deterministic in
    both engines — and the final rollup sizes each (r, f, m) cell with
    a membership checksum. Scale: the windows order |customers| score
    rows, never raw orders."""
    from pyspark.sql import Window as W

    orders = Catalog(spark, sf_dir).orders
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_ANCHOR).cast("timestamp").cast("date"),
            F.max("o_orderdate").cast("date"),
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    scored = per_cust.select(
        "o_custkey",
        F.ntile(5).over(W.orderBy(F.asc("recency_days"), "o_custkey")).alias("r_score"),
        F.ntile(5).over(W.orderBy(F.desc("frequency"), "o_custkey")).alias("f_score"),
        F.ntile(5).over(W.orderBy(F.desc("monetary"), "o_custkey")).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("o_custkey").alias("member_checksum"),
    )


@query(
    "events_type_cooccurrence",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    """,
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence matrix: for each unordered type pair,
    how many users exhibit BOTH — the market-basket/feature-affinity
    primitive. The self-join runs on the DEDUPLICATED (user, type)
    table (at most |types| rows per user — bounded fan-out, the same
    reduce-before-join move as events_dau_wau), so candidate width is
    users x C(|types|,2), never raw-event quadratic. Output is
    C(|types|,2) rows regardless of volume."""
    events = Catalog(spark, sf_dir).events
    ut = events.select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_LERP_FRAC = (
    "(CAST(epoch_us(h) - epoch_us(ph) AS DOUBLE)"
    " / CAST(epoch_us(nh) - epoch_us(ph) AS DOUBLE))"
)


@query(
    "events_gap_fill_lerp",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             SUM(CAST(value AS DECIMAL(38,6))) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM hourly),
    spine AS (
      SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
    joined AS (SELECT spine.h, hourly.v FROM spine LEFT JOIN hourly USING (h)),
    ctx AS (
      SELECT h, v,
             last_value(v IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS ph,
             first_value(v IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wn AS nh
      FROM joined
      WINDOW wp AS (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT CAST(h AS TIMESTAMP) AS bucket_hour,
           v IS NOT NULL AS observed,
           CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
                WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
                ELSE CAST(pv AS DOUBLE)
                     + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE)) * {_LERP_FRAC}
           END AS filled_value
    FROM ctx
    """,
)
def events_gap_fill_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with linear interpolation: hourly
    purchase totals on a complete hour spine; missing hours take the
    straight line between their nearest observed neighbors (edges
    clamp to the nearest observation) — the standard imputation step
    before any rate/trend model (at sf0.001 only 170 of 720 hours are
    observed). Complements sql_api_recursive_cte's spine-only gap fill
    with actual value imputation.

    Determinism: observed values are exact decimal sums; the
    interpolation is one fixed IEEE expression over those exact
    endpoints and exact microsecond offsets — no rounding needed, the
    filled doubles are bit-identical cross-engine. Scale note: the
    windows order the SPINE (one row per hour — 8,760/year), not raw
    events; the heavy reduction happened in the hourly aggregate, so
    the single-partition window is a non-issue at any data size."""
    from pyspark.sql import Window as W

    ev = Catalog(spark, sf_dir).events
    hourly = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.sum(F.col("value").cast("decimal(38,6)")).alias("v"))
    )
    spine = (
        hourly.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("h")
        )
    )
    joined = spine.join(hourly, "h", "left")
    wp = W.orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    wn = W.orderBy("h").rowsBetween(0, W.unboundedFollowing)
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    ctx = joined.select(
        "h",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(wn).alias("nh"),
    )
    frac = F.expr(
        "CAST(unix_micros(h) - unix_micros(ph) AS DOUBLE)"
        " / CAST(unix_micros(nh) - unix_micros(ph) AS DOUBLE)"
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v").cast("double"))
        .when(F.col("pv").isNull(), F.col("nv").cast("double"))
        .when(F.col("nv").isNull(), F.col("pv").cast("double"))
        .otherwise(
            F.col("pv").cast("double")
            + (F.col("nv").cast("double") - F.col("pv").cast("double")) * frac
        )
    )
    return ctx.select(
        F.col("h").alias("bucket_hour"),
        F.col("v").isNotNull().alias("observed"),
        filled.alias("filled_value"),
    )


@query(
    "events_seasonality_dow_hour",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1)
    SELECT CAST(isodow(h) AS INTEGER) AS dow,
           CAST(hour(h) AS INTEGER) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_per_hour
    FROM hourly GROUP BY 1, 2
    """,
)
def events_seasonality_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: average event volume per (day-of-week,
    hour-of-day) cell — the weekly heatmap behind capacity planning
    and the denominator anomaly models normalize by (the z-score
    monitor above treats all hours alike; this is the input for a
    seasonal baseline). Two-level reduction: raw events collapse to
    hourly counts (the heavy exchange), then 7x24 cells aggregate the
    hourly table; averages are integer/integer IEEE divisions. Day numbering is the classic portability trap —
    Spark dayofweek is 1=Sunday, DuckDB's is 0=Sunday — so both sides
    use ISO numbering (Spark weekday()+1, DuckDB isodow: 1=Monday)."""
    events = Catalog(spark, sf_dir).events
    hourly = (
        events.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        hourly.groupBy(
            (F.weekday("h") + 1).alias("dow"),  # ISO 1=Mon..7=Sun both engines
            F.hour("h").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("c").alias("n_events"),
            (F.sum("c").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avg_per_hour"
            ),
        )
    )


@query(
    "events_path_topk",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS s1,
             lead(event_type, 1) OVER w AS s2,
             lead(event_type, 2) OVER w AS s3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    paths AS (
      SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS n_paths
      FROM seq WHERE s3 IS NOT NULL GROUP BY s1, s2, s3)
    SELECT s1, s2, s3, n_paths FROM paths
    ORDER BY n_paths DESC, s1, s2, s3 LIMIT 10
    """,
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential path mining: the 10 most common 3-step event-type
    paths across all user streams — the second-order extension of
    events_markov_transitions and the workhorse behind funnel discovery
    ('which 3-step journeys actually happen?'). Two leads in ONE window
    pass (same partition/order spec → Catalyst evaluates both in a
    single Window operator), then a global count over at most |types|³
    path keys and a deterministic top-10.

    Scale shape: one hash exchange on user_id + in-partition sort for
    the leads; the path aggregation is map-side-combinable into at most
    |types|³ (here 5³=125) groups, so the final shuffle and the sort are
    over a constant-size table no matter the event volume."""
    from pyspark.sql import Window

    events = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    ).where(F.col("s3").isNotNull())
    return (
        seq.groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "s1", "s2", "s3")
        .limit(10)
    )


# The scaled-integer CUSUM chain over a (event_type, hour, x) series —
# shared by the observed-bucket query and its zero-filled-spine
# composition so the two oracles can never drift apart.
_CUSUM_SQL_TAIL = """
    scaled AS (
      SELECT event_type, hour, x,
             CAST(COUNT(*) OVER wp AS BIGINT) AS n,
             CAST(SUM(x) OVER wp AS BIGINT) AS total
      FROM {src}
      WINDOW wp AS (PARTITION BY event_type)),
    cum AS (
      SELECT event_type, hour, x, total,
             CAST(SUM(2 * n * x - 3 * total) OVER wo AS BIGINT) AS c
      FROM scaled
      WINDOW wo AS (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    cusum AS (
      SELECT event_type, hour, x, total, c,
             CAST(MIN(c) OVER wo AS BIGINT) AS runmin
      FROM cum
      WINDOW wo AS (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type, hour, x,
           c - least(CAST(0 AS BIGINT), runmin) AS cusum_scaled,
           (c - least(CAST(0 AS BIGINT), runmin)) > 2 * total AS changepoint
    FROM cusum
"""


def _cusum_over(hourly: DataFrame) -> DataFrame:
    """Spark side of the shared chain: scaled-integer CUSUM over a
    (event_type, hour, x) frame (see events_changepoint_cusum docstring
    for the reduction)."""
    from pyspark.sql import Window

    wp = Window.partitionBy("event_type")
    scaled = hourly.select(
        "event_type",
        "hour",
        "x",
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("x").over(wp).alias("total"),
    )
    wo = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    y = 2 * F.col("n") * F.col("x") - 3 * F.col("total")
    cum = scaled.select(
        "event_type", "hour", "x", "total", F.sum(y).over(wo).alias("c")
    )
    cusum = cum.withColumn("runmin", F.min("c").over(wo))
    s = F.col("c") - F.least(F.lit(0).cast("long"), F.col("runmin"))
    return cusum.select(
        "event_type",
        "hour",
        "x",
        s.alias("cusum_scaled"),
        (s > 2 * F.col("total")).alias("changepoint"),
    )


@query(
    "events_changepoint_cusum",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    {_CUSUM_SQL_TAIL.format(src="hourly")}
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over per-type hourly event rates —
    the sequential rate-shift monitor (Page 1954) behind 'did this
    event stream's behavior change, and when'. The one-sided CUSUM
    recursion s_t = max(0, s_{t-1} + x_t - mu - k) is NOT directly a
    window function, but the classic reduction IS: with
    y_t = x_t - mu - k and C_t = cumsum(y), s_t = C_t - min(0,
    running_min(C)) — two frames over one partition spec. With slack
    k = mu/2 and everything scaled by 2n (n = hours per type), every
    quantity is an INTEGER: y_scaled = 2n*x - 3*total, threshold
    s > 2*total (one mean-rate of cumulative excess) — no float exists
    anywhere, so the oracle is exact by construction.

    Bucket semantics: the series is the OBSERVED hourly buckets —
    hours with zero events are absent rather than zero-filled (the
    fixture stream is dense, so both engines see identical series
    either way); a strict wall-clock cadence composes this with the
    events_gap_fill_lerp spine the way production monitors do.

    Scale shape: the raw stream pre-aggregates to (type, hour) counts
    FIRST (map-side combinable; the shuffle carries hourly states, not
    events), then the CUSUM windows sort |hours| rows per type —
    bounded by the time range, not the event volume. Per-partition
    window state is O(1) (running sum + running min)."""
    events = Catalog(spark, sf_dir).events
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("x"))
    return _cusum_over(hourly)


@query(
    "events_changepoint_cusum_filled",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    bounds AS (
      SELECT event_type, MIN(hour) AS lo, MAX(hour) AS hi
      FROM hourly GROUP BY event_type),
    spine AS (
      SELECT event_type,
             UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
      FROM bounds),
    dense AS (
      SELECT s.event_type, CAST(s.hour AS TIMESTAMP) AS hour,
             COALESCE(h.x, CAST(0 AS BIGINT)) AS x
      FROM spine s LEFT JOIN hourly h
        ON h.event_type = s.event_type AND h.hour = s.hour),
    {_CUSUM_SQL_TAIL.format(src="dense")}
    """,
)
def events_changepoint_cusum_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production monitor shape: events_changepoint_cusum composed
    with a per-type zero-filled hour spine (the events_gap_fill_lerp
    cadence pattern) — every wall-clock hour inside a type's observed
    range contributes a bucket, with x = 0 where no events arrived. A
    silent outage now SHIFTS the rate and trips the detector, which
    the observed-bucket variant structurally cannot see; the CUSUM
    tail is the shared _cusum_over/_CUSUM_SQL_TAIL chain, so the two
    variants cannot drift.

    Scale shape: bounds is a 2-value-per-type aggregate; the spine
    explodes one row per (type, hour) — time-range-bounded, not
    event-bounded (8,760/type/year) — and the left join back to the
    hourly counts is a hash join on the (type, hour) key. Everything
    downstream is the bounded-window CUSUM chain."""
    events = Catalog(spark, sf_dir).events
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("x"))
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    dense = spine.join(hourly, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce(F.col("x"), F.lit(0).cast("long")).alias("x"),
    )
    return _cusum_over(dense)


@query(
    "orders_pareto_concentration",
    oracle="""
    WITH cust_rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
      FROM orders GROUP BY o_custkey),
    tot AS (
      SELECT CAST(SUM(rev) AS DECIMAL(38,2)) AS total,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM cust_rev),
    ranked AS (
      SELECT o_custkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rnk
      FROM cust_rev)
    SELECT t.n AS n_customers,
           CAST(MIN(CASE WHEN r.cum * 10 >= t.total * 8 THEN r.rnk END)
                AS BIGINT) AS n_for_80pct,
           ROUND(CAST(SUM(CASE WHEN r.rnk * 10 <= t.n THEN r.rev
                               ELSE CAST(0 AS DECIMAL(38,2)) END) AS DOUBLE)
                 / CAST(t.total AS DOUBLE), 6) AS top_decile_share
    FROM ranked r, tot t
    GROUP BY t.n, t.total
    """,
)
def orders_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto/80-20 summary): how many customers
    it takes to reach 80% of revenue, and what share the top decile
    holds — the whale-curve KPI behind account prioritization, and the
    skew diagnostic that tells an engineer whether the customer key
    needs salting (complements agg_gini's single-number inequality with
    the actionable crossing points).

    Determinism: per-customer revenues are exact decimal sums; the
    80% crossing test is decimal-integer arithmetic (cum*10 >= total*8
    — no float in any predicate); the top-decile membership is an
    integer comparison (rnk*10 <= n); only the final reported share is
    one double division, ROUND 6.

    Scale shape: the heavy reduction is the per-customer aggregate
    (map-side combinable); the ranked pass runs over the CUSTOMER
    rollup, not raw orders — but it is a GLOBAL ordered prefix-sum, a
    single-task window at billions of customers. The 100 TB path
    replaces it with the standard two-level scheme: repartitionByRange
    on rev desc, per-partition prefix sums, then a driver-side (or
    broadcast) partition-offset pass — same numbers, no global sort on
    one task. At this SF the rollup is thousands of rows and the single
    window is the honest cheapest plan."""
    from pyspark.sql import Window as W

    orders = Catalog(spark, sf_dir).orders
    cust_rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("rev")
    )
    w = W.orderBy(F.desc("rev"), "o_custkey")
    # total/n ride the SAME global window as the prefix sum (unbounded
    # frame, no new exchange or sort) — the previous cust_rev.agg() +
    # crossJoin referenced the customer rollup twice and re-ran the
    # orders scan + aggregate per side (no exchange reuse across the
    # divergent tops; guide §1.2/§2.4). Decimal/bigint sums are exact
    # in any order, so total and n are bit-identical.
    joined = cust_rev.select(
        "rev",
        F.sum("rev").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(w).alias("rnk"),
        F.sum("rev")
        .over(w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .cast("decimal(38,2)")
        .alias("total"),
        F.count(F.lit(1))
        .over(w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n"),
    )
    zero = F.lit(0).cast("decimal(38,2)")
    return (
        joined.groupBy("n", "total")
        .agg(
            F.min(
                F.when(F.col("cum") * 10 >= F.col("total") * 8, F.col("rnk"))
            ).cast("long").alias("n_for_80pct"),
            F.round(
                F.sum(
                    F.when(F.col("rnk") * 10 <= F.col("n"), F.col("rev")).otherwise(zero)
                ).cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("top_decile_share"),
        )
        .select(
            F.col("n").alias("n_customers"), "n_for_80pct", "top_decile_share"
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (weekly seasonality, hourly grain).
# ---------------------------------------------------------------------------
@query(
    "events_forecast_seasonal_naive",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    scored AS (
      SELECT a.event_type, a.c AS actual, f.c AS forecast,
             ABS(a.c - f.c) AS abs_err
      FROM hourly a
      JOIN hourly f
        ON f.event_type = a.event_type
       AND f.h = a.h - INTERVAL '168' HOUR)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours_scored,
           CAST(SUM(actual) AS BIGINT) AS total_actual,
           CAST(SUM(abs_err) AS BIGINT) AS total_abs_err,
           CAST(FLOOR(CAST(2 * SUM(abs_err) * 1000000 + SUM(actual) AS DOUBLE)
                      / CAST(2 * SUM(actual) AS DOUBLE)) AS DOUBLE)
             / 1000000.0 AS wmape
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
)
def events_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecasting backtest — the baseline every
    forecasting deployment must beat, run as a query: the forecast for
    hour t is the actual at t-168h (same hour last week), scored over
    every hour whose seasonal ancestor exists, reported per event type
    as WMAPE (sum|err| / sum actual — the volume-weighted error that
    doesn't explode on near-zero hours like per-row MAPE does).

    Determinism: counts are exact integers; abs errors and both sums
    are integer; WMAPE uses the integer-exact half-up division
    (floor((2e*1e6 + a) / (2a)) — the _km_mean_sql trick) so the one
    ratio is bit-identical cross-engine.

    Scale shape: one shuffle to hourly granularity (raw events collapse
    ~3 orders of magnitude), a self-equi-join on (event_type, hour) —
    int/timestamp keys, co-partitioned by the groupBy exchange — and a
    |event_type|-row final aggregate. Missing hours simply don't score
    (no spine needed; the zero-filled variant is
    events_changepoint_cusum_filled's spine composed with this join).

    Reference: motorway's KPI domain (Plecto) is exactly this shape —
    per-metric hourly rollups with week-over-week comparison."""
    events = Catalog(spark, sf_dir).events
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    a = hourly.select("event_type", "h", F.col("c").alias("actual"))
    f = hourly.select(
        "event_type",
        F.expr("h + INTERVAL '168' HOUR").alias("h"),
        F.col("c").alias("forecast"),
    )
    scored = a.join(f, ["event_type", "h"]).withColumn(
        "abs_err", F.abs(F.col("actual") - F.col("forecast"))
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours_scored"),
            F.sum("actual").alias("total_actual"),
            F.sum("abs_err").alias("total_abs_err"),
            F.expr(
                "CAST(FLOOR(CAST(2 * SUM(abs_err) * 1000000 + SUM(actual)"
                " AS DOUBLE) / CAST(2 * SUM(actual) AS DOUBLE)) AS DOUBLE)"
                " / 1000000.0"
            ).alias("wmape"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) over irregular samples.
# ---------------------------------------------------------------------------
@query(
    "events_twap_daily",
    oracle="""
    WITH samples AS (
      SELECT user_id, ts, value,
             lag(ts) OVER w AS prev_ts,
             lag(value) OVER w AS prev_v
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    intervals AS (
      SELECT user_id, strftime(date_trunc('day', prev_ts), '%Y-%m-%d') AS day,
             epoch_us(ts) - epoch_us(prev_ts) AS dt_us, prev_v
      FROM samples
      WHERE prev_ts IS NOT NULL AND epoch_us(ts) > epoch_us(prev_ts))
    SELECT user_id, day,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt_us) AS BIGINT) AS total_us,
           CAST(FLOOR((CAST(SUM(CAST(prev_v AS DECIMAL(38,6)) * dt_us)
                            AS DOUBLE)
                       / CAST(SUM(dt_us) AS DOUBLE)) * 1000000.0 + 0.5)
                AS DOUBLE) / 1000000.0 AS twap
    FROM intervals GROUP BY user_id, day
    """,
)
def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WEIGHTED average per (user, day) over irregularly sampled
    measurements — the correct mean when samples are unevenly spaced
    (a plain AVG over-weights bursts; TWAP weights each value by how
    long it held). Left-continuous step semantics: the lagged value
    holds over [prev_ts, ts); an interval belongs to the day it STARTS.
    The financial TWAP / monitoring-gauge rollup primitive.

    Determinism: interval lengths are exact integer microseconds;
    value x dt products accumulate as exact DECIMAL(38,6) (the
    helpers.py convention — value casts to decimal BEFORE the integer
    multiply, so the product is exact); the one division produces the
    identical double in both engines and quantizes on the micro-grid
    with FLOOR (not ROUND — see _km_mean_sql's engine-divergence
    notes). Zero-length intervals (duplicate timestamps) are excluded
    on both sides rather than contributing zero weight.

    Scale shape: one hash exchange on user_id + in-partition sort (lag
    window), then a (user, day) hash aggregate — map-side combinable;
    nothing global, nothing Python-side."""
    events = Catalog(spark, sf_dir).events.filter(F.col("value").isNotNull())
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    samples = events.select(
        "user_id",
        "ts",
        "value",
        F.lag("ts").over(w).alias("prev_ts"),
        F.lag("value").over(w).alias("prev_v"),
    )
    intervals = samples.filter(
        F.col("prev_ts").isNotNull()
        & (F.unix_micros("ts") > F.unix_micros("prev_ts"))
    ).select(
        "user_id",
        F.date_format(F.col("prev_ts"), "yyyy-MM-dd").alias("day"),
        (F.unix_micros("ts") - F.unix_micros("prev_ts")).alias("dt_us"),
        "prev_v",
    )
    return intervals.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt_us").alias("total_us"),
        F.expr(
            "CAST(FLOOR((CAST(SUM(CAST(prev_v AS DECIMAL(38,6)) * dt_us)"
            " AS DOUBLE) / CAST(SUM(dt_us) AS DOUBLE)) * 1000000.0 + 0.5)"
            " AS DOUBLE) / 1000000.0"
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Marketing attribution: first/last-touch conversion credit.
# ---------------------------------------------------------------------------
_ATTR_TOUCH_TYPES = "('click', 'view', 'signup')"
_ATTR_WINDOW_H = 24


@query(
    "events_attribution_touch",
    oracle=f"""
    WITH conv AS (
      SELECT user_id, ts AS cts, event_id AS conv_id, value
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT user_id, ts AS tts, event_id AS tid, event_type AS channel
      FROM events WHERE event_type IN {_ATTR_TOUCH_TYPES}),
    j AS (
      SELECT c.conv_id, c.value, t.tts, t.tid, t.channel
      FROM conv c LEFT JOIN touch t
        ON t.user_id = c.user_id
       AND t.tts <= c.cts
       AND t.tts >= c.cts - INTERVAL {_ATTR_WINDOW_H} HOUR),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY conv_id
                ORDER BY tts DESC NULLS LAST, tid DESC NULLS LAST) AS rl,
             row_number() OVER (PARTITION BY conv_id
                ORDER BY tts ASC NULLS LAST, tid ASC NULLS LAST) AS rf
      FROM j),
    last_c AS (
      SELECT COALESCE(channel, '(direct)') AS channel,
             CAST(COUNT(*) AS BIGINT) AS last_conversions,
             ROUND(CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,6))), 0)
                        AS DOUBLE), 4) AS last_revenue
      FROM ranked WHERE rl = 1 GROUP BY 1),
    first_c AS (
      SELECT COALESCE(channel, '(direct)') AS channel,
             CAST(COUNT(*) AS BIGINT) AS first_conversions,
             ROUND(CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,6))), 0)
                        AS DOUBLE), 4) AS first_revenue
      FROM ranked WHERE rf = 1 GROUP BY 1)
    SELECT COALESCE(l.channel, f.channel) AS channel,
           COALESCE(l.last_conversions, 0) AS last_conversions,
           COALESCE(l.last_revenue, 0.0) AS last_revenue,
           COALESCE(f.first_conversions, 0) AS first_conversions,
           COALESCE(f.first_revenue, 0.0) AS first_revenue
    FROM last_c l FULL OUTER JOIN first_c f USING (channel)
    """,
)
def events_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion attribution — the canonical marketing-analytics
    reduction: every purchase credits the LAST and the FIRST qualifying
    touch (click/view/signup by the same user within the prior
    {_ATTR_WINDOW_H} h); a purchase with no touch in window lands in
    '(direct)'. One row per channel with both credit models side by
    side (conversions + exact-decimal revenue), so the two models'
    disagreement — the thing attribution analyses actually look at —
    is a single-frame diff.

    Determinism: credit picks are max/min over (ts, event_id) structs
    (total order, no arbitrary-row max_by); Spark's ASC=nulls-first
    default differs from DuckDB's nulls-last, so the oracle says NULLS
    LAST explicitly and the Spark side uses struct extremes over
    non-null rows only (a no-touch conversion joins to nothing and
    coalesces to '(direct)'). Revenue follows the DECIMAL(38,6)
    convention.

    Scale shape (100 TB): conversions and touches hash-partition on
    user_id (the events table's natural key); the window join is
    per-user — candidate pairs are bounded by per-user activity, and a
    skewed power user is exactly the asof_join salting case. The
    credit reduction is two hash aggregates over one row per
    conversion. No global sort, no driver data.

    Reference: extends the KPI family (events_funnel,
    events_retention_cohorts — SURVEY.md §2b north-star); the
    reference vendor's dashboard domain is exactly this query."""
    ev = Catalog(spark, sf_dir).events
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("cts"),
        F.col("event_id").alias("conv_id"),
        "value",
    )
    touch = ev.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
    )
    j = conv.join(
        touch,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("tts") <= F.col("cts"))
        & (
            F.col("tts")
            >= F.col("cts") - F.expr(f"INTERVAL {_ATTR_WINDOW_H} HOUR")
        ),
        "left",
    )
    per_conv = j.groupBy("conv_id", "value").agg(
        F.max(F.struct("tts", "tid", "channel")).alias("last_t"),
        F.min(F.struct("tts", "tid", "channel")).alias("first_t"),
    )

    def credit(pick: str, n_alias: str, rev_alias: str) -> DataFrame:
        return (
            per_conv.select(
                F.coalesce(F.col(f"{pick}.channel"), F.lit("(direct)")).alias(
                    "channel"
                ),
                "value",
            )
            .groupBy("channel")
            .agg(
                F.count(F.lit(1)).alias(n_alias),
                F.round(
                    F.coalesce(
                        F.sum(F.col("value").cast("decimal(38,6)")),
                        F.lit(0).cast("decimal(38,6)"),
                    ).cast("double"),
                    4,
                ).alias(rev_alias),
            )
        )

    last_c = credit("last_t", "last_conversions", "last_revenue")
    first_c = credit("first_t", "first_conversions", "first_revenue")
    return last_c.join(first_c, "channel", "full").select(
        "channel",
        F.coalesce(F.col("last_conversions"), F.lit(0)).alias(
            "last_conversions"
        ),
        F.coalesce(F.col("last_revenue"), F.lit(0.0)).alias("last_revenue"),
        F.coalesce(F.col("first_conversions"), F.lit(0)).alias(
            "first_conversions"
        ),
        F.coalesce(F.col("first_revenue"), F.lit(0.0)).alias("first_revenue"),
    )
