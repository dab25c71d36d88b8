"""Event-time windows + temporal joins (SURVEY.md §2.7, §2.3 J7) in batch
form over ``events``.

The reference is cron-batch with no streaming operators; this is the ▲
extension surface. Each op uses the same primitives Structured Streaming
uses (``window()``, ``session_window()`` work identically on static frames),
so the plans transfer 1:1 to `readStream` — see
``ntd_gtfs_to_socrata_spark/streaming/`` for the streaming variants with
watermarks.

Window starts/ends are emitted as epoch seconds (BIGINT) so the value-hash
comparison is timezone-free.
"""

from __future__ import annotations

from uuid import uuid4

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.io import load_table
from ntd_gtfs_to_socrata_spark.operators.stagecache import checkpoint
from ntd_gtfs_to_socrata_spark.queries import register

# ---------------------------------------------------------------------------
# Tumbling window
# ---------------------------------------------------------------------------

TUMBLING_ORACLE = """
SELECT CAST(floor(epoch(time_bucket(INTERVAL '10 minutes', ts))) AS BIGINT) AS window_start,
       event_type,
       count(*) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS sum_value
FROM events
GROUP BY window_start, event_type
"""


@register("tw_tumbling_counts", TUMBLING_ORACLE)
def tw_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows — ``window()`` on a static frame; in
    streaming the identical expression runs with a watermark. One shuffle
    on (window, event_type)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), (F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("double") / 100.0).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Sliding window
# ---------------------------------------------------------------------------

SLIDING_ORACLE = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS s, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS s, value FROM events
)
SELECT CAST(floor(epoch(s)) AS BIGINT) AS window_start,
       count(*) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS sum_value
FROM assigned
GROUP BY window_start
"""


@register("tw_sliding_counts", SLIDING_ORACLE)
def tw_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min length, 5 min slide): each event lands in 2
    windows; Spark expands via the window() generator — the oracle models
    the same expansion as a 2-way UNION ALL of bucket assignments."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), (F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("double") / 100.0).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Session window (5-minute inactivity gap per user)
# ---------------------------------------------------------------------------

SESSION_ORACLE = """
WITH gaps AS (
  SELECT user_id, ts, event_id,
         -- >=: a Spark session window spans [start, last+gap), so an event
         -- at exactly last+gap starts a NEW session
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL '5 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM gaps
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS session_last,
       count(*) AS n_events
FROM islands
GROUP BY user_id, session_no
"""


@register("tw_session_windows", SESSION_ORACLE)
def tw_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: ``session_window(ts, '5 minutes')`` — Spark merges
    per-user events into inactivity-gap sessions in one pass (streaming:
    the same expression is stateful with watermark eviction). Oracle is the
    classic gaps-and-islands SQL."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("session_start"),
            F.unix_timestamp(F.max("ts")).alias("session_last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_last", "n_events")
    )


# ---------------------------------------------------------------------------
# As-of join (J7): each click joined to the user's most recent prior view
# ---------------------------------------------------------------------------

ASOF_ORACLE = """
WITH clicks AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
     views  AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view')
SELECT c.event_id AS click_id,
       v.event_id AS view_id,
       CAST(floor(epoch(c.ts) - epoch(v.ts)) AS BIGINT) AS gap_secs
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


@register("asof_join_click_to_view", ASOF_ORACLE)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 as-of join, the scalable formulation: union both sides tagged,
    one window sort per user carries the last-seen view forward
    (``last(..., ignorenulls)``), then keep clicks. O(n log n) per key and
    ONE shuffle — no range cross-join blowup; this is the pattern that
    survives 100 TB where a naive non-equi join would not.

    DuckDB oracle uses its native ASOF JOIN.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    # views sort before clicks at identical ts (is_click asc) => a view at
    # exactly click-time is visible to the click, matching ASOF's >=.
    tagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("event_type") == "click").cast("int").alias("is_click"),
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("view_event_id"),
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "is_click", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = tagged.select(
        "user_id",
        "event_id",
        "ts",
        "is_click",
        F.last("view_event_id", ignorenulls=True).over(w).alias("view_id"),
        F.last("view_ts", ignorenulls=True).over(w).alias("last_view_ts"),
    ).filter(F.col("is_click") == 1)
    return joined.select(
        F.col("event_id").alias("click_id"),
        "view_id",
        F.floor(
            F.col("ts").cast("double") - F.col("last_view_ts").cast("double")
        ).alias("gap_secs"),
    )


# ---------------------------------------------------------------------------
# Range join (J7): fact rows to interval buckets
# ---------------------------------------------------------------------------

RANGE_ORACLE = """
SELECT r_name AS band, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
JOIN region ON l_quantity >= r_regionkey * 10 AND l_quantity < (r_regionkey + 1) * 10
GROUP BY r_name
"""


@register("range_join_quantity_bands", RANGE_ORACLE)
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 range join: fact to interval dimension. The dim is tiny ⇒
    broadcast nested-loop with the range predicate evaluated map-side — at
    any fact-table scale this stays a single scan, no shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = load_table(spark, sf_dir, "region").select(
        F.col("r_name").alias("band"),
        (F.col("r_regionkey") * 10).cast("double").alias("lo"),
        ((F.col("r_regionkey") + 1) * 10).cast("double").alias("hi"),
    )
    return (
        li.join(
            F.broadcast(bands),
            (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Funnel analysis: ordered stage progression per user
# ---------------------------------------------------------------------------

FUNNEL_ORACLE = """
WITH c AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'click' GROUP BY user_id
),
v AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'view' AND e.ts > c.t1
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t2
  GROUP BY e.user_id
)
SELECT 'click' AS stage, (SELECT count(*) FROM c) AS n_users
UNION ALL SELECT 'view',     (SELECT count(*) FROM v)
UNION ALL SELECT 'purchase', (SELECT count(*) FROM p)
"""


@register("funnel_stages", FUNNEL_ORACLE)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (click → view after click → purchase after view):
    users reaching each stage, where later stages must occur strictly
    after the user's FIRST occurrence of the prior stage.

    Scale posture: ONE shuffle on user_id, then three chained window
    projections (each stage's first-touch time conditioned on the prior
    stage's) and a per-user aggregate that all REUSE that partitioning —
    the naive join-chained form re-reads events per stage and recomputes
    each prior stage's subtree (8 exchanges vs 2 here; caught by
    tools/audit_plans.py). The final stack() emits the 3-row funnel."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
    )
    t2 = t1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "view") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    t3 = t2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = t3.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    counts = per_user.agg(
        F.sum(F.col("t1").isNotNull().cast("long")).alias("n_click"),
        F.sum(F.col("t2").isNotNull().cast("long")).alias("n_view"),
        F.sum(F.col("t3").isNotNull().cast("long")).alias("n_purchase"),
    )
    return counts.selectExpr(
        "stack(3, 'click', n_click, 'view', n_view, 'purchase', n_purchase)"
        " AS (stage, n_users)"
    )


# ---------------------------------------------------------------------------
# Cohort retention: weekly activity relative to first-seen week
# ---------------------------------------------------------------------------

COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT CAST(floor(epoch(cohort_week)) AS BIGINT) AS cohort_week_epoch,
       CAST(week_offset AS INT) AS week_offset,
       count(*) AS n_active
FROM active
WHERE week_offset <= 4
GROUP BY cohort_week_epoch, week_offset
"""


@register("cohort_retention", COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week, counted
    as active per subsequent week offset (0..4). The denominator for rate
    is the week_offset=0 row of each cohort.

    Scale posture: first-seen is a per-user min (one shuffle on user_id);
    the join back is on the same key (exchange reused); the distinct
    collapses (user, week) duplicates BEFORE the cohort count so heavy
    users don't inflate retention. date_trunc keeps everything in native
    timestamp ops — no per-row Python."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    # NOTE: min(date_trunc) == date_trunc(min) since trunc is monotone.
    active = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    (
                        F.unix_timestamp(F.date_trunc("week", F.col("ts")))
                        - F.unix_timestamp("cohort_week")
                    )
                    / (7 * 86400)
                ).cast("int")
            ).alias("week_offset"),
        )
        .distinct()
    )
    return (
        active.filter(F.col("week_offset") <= 4)
        .groupBy(
            F.unix_timestamp("cohort_week").alias("cohort_week_epoch"), "week_offset"
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Sessionization via lag-gap-cumsum (the pre-session_window formulation)
# ---------------------------------------------------------------------------

LAG_GAP_ORACLE = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 1800
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         sum(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM gaps
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       count(*) AS n_events,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec
FROM sessions
GROUP BY user_id, session_seq
"""


def lag_gap_sessions(ev: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Reusable lag-gap-cumsum sessionizer over (user_id, event_id, ts)
    rows; see sessionize_lag_gap for semantics and scale posture."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_sess = (
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > gap_sec)
    ).cast("long")
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = ev.select(
        "user_id", "event_id", "ts", new_sess.alias("is_new")
    ).select("user_id", "ts", F.sum("is_new").over(wsum).alias("session_seq"))
    return sessions.groupBy("user_id", "session_seq").agg(
        F.unix_timestamp(F.min("ts")).alias("session_start_epoch"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
            "duration_sec"
        ),
    )


@register("sessionize_lag_gap", LAG_GAP_ORACLE)
def sessionize_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization by lag-gap-cumsum: a new session starts after a
    >30-min silence; the running sum of session-start flags numbers the
    sessions. The classic formulation `session_window()` internalized —
    kept as first-class surface because it generalizes (per-session
    sequence numbers, custom gap predicates involving OTHER columns) where
    session_window cannot.

    Scale posture: both windows and the final aggregate partition by
    user_id — ONE shuffle, one sort per partition, everything downstream
    reuses it. Same cost envelope as tw_session_windows."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    return lag_gap_sessions(ev, gap_sec=1800)


# ---------------------------------------------------------------------------
# Day-over-day volume anomaly (median/MAD robust z-score)
# ---------------------------------------------------------------------------

DQ_ANOMALY_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, count(*) AS n_events
  FROM events GROUP BY 1
),
med AS (SELECT median(n_events) AS med FROM daily),
dev AS (
  SELECT event_date, n_events, abs(n_events - med) AS adev
  FROM daily, med
),
mad AS (SELECT median(adev) AS mad FROM dev)
SELECT d.event_date, d.n_events,
       round(d.adev / greatest(m.mad, 0.5), 4) AS robust_z,
       (d.adev / greatest(m.mad, 0.5) > 3.0) AS is_anomaly
FROM dev d, mad m
"""


@register("dq_anomaly_daily_counts", DQ_ANOMALY_ORACLE)
def dq_anomaly_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-health anomaly detection: per-day event volumes scored
    with a median/MAD robust z-score (outlier days don't poison the
    baseline the way mean/stddev would) — the ingest-monitoring query a
    production feed runs after every load to catch partial days, double
    loads, and upstream outages.

    Scale posture: the data-plane work is ONE date-key aggregate
    (map-side combined; cardinality = days, not rows). Everything after
    operates on the tiny daily series: the median and MAD are 1-row
    scalar aggregates broadcast back via crossJoin — never a global
    window over the raw events. The MAD floor (0.5) keeps the score
    finite on perfectly regular feeds. At 100 TB swap median() for
    approx_percentile on the DAILY frame only if the date range is
    genuinely unbounded."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").cast("string").alias("event_date")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    med = daily.agg(F.median("n_events").alias("med"))
    dev = daily.crossJoin(F.broadcast(med)).select(
        "event_date",
        "n_events",
        F.abs(F.col("n_events") - F.col("med")).alias("adev"),
    )
    mad = dev.agg(F.median("adev").alias("mad"))
    rz = F.col("adev") / F.greatest(F.col("mad"), F.lit(0.5))
    return dev.crossJoin(F.broadcast(mad)).select(
        "event_date",
        "n_events",
        F.round(rz, 4).alias("robust_z"),
        (rz > 3.0).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Calendar gap fill + LOCF (sparse-metric densification)
# ---------------------------------------------------------------------------

GAP_FILL_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         count(*) AS n, CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS day_value
  FROM events WHERE user_id % 50 = 0 GROUP BY 1, 2
),
span AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
),
grid AS (
  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
)
SELECT g.user_id, CAST(g.day AS VARCHAR) AS day,
       coalesce(d.n, 0) AS n_events,
       (d.n IS NULL) AS is_gap,
       last_value(d.day_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
"""


@register("tw_gap_fill_locf", GAP_FILL_ORACLE)
def tw_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: per-user daily grid from first to last
    active day (``sequence`` + explode — no calendar dim needed), missing
    days joined in as explicit zero/gap rows, and the day value carried
    forward with LOCF (``last(..., ignorenulls)`` over the per-user
    frame). The sparse-metrics staple for dashboards and feature
    engineering; user subset (1 in 50) keeps the checked output readable.

    Scale posture: the grid explode is bounded by span-days per user (31
    here), the join is keyed on (user, day), and the LOCF window is
    partitioned BY USER — bounded partitions, never a global order. The
    daily aggregate is map-side combined before anything fans out."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    daily = (
        ev.groupBy(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("double") / 100.0).alias("day_value"),
        )
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    joined = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.col("n").isNull().alias("is_gap"),
        F.last("day_value", ignorenulls=True).over(w).alias("locf_value"),
    )


# ---------------------------------------------------------------------------
# OHLC bars (min_by/max_by time-series aggregation)
# ---------------------------------------------------------------------------

OHLC_ORACLE = """
SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS bar_start,
       round(arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                            || lpad(CAST(event_id AS VARCHAR), 12, '0')), 2) AS open,
       round(max(value), 2) AS high,
       round(min(value), 2) AS low,
       round(arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                            || lpad(CAST(event_id AS VARCHAR), 12, '0')), 2) AS close,
       count(*) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS volume
FROM events WHERE event_type = 'purchase'
GROUP BY bar_start
"""


@register("tw_ohlc_bars", OHLC_ORACLE)
def tw_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars over purchase values — the canonical time-series
    downsample, expressed with ``min_by``/``max_by`` (open = value at the
    earliest (ts, event_id), close = at the latest; the zero-padded
    micros+id string key is identically ordered on both engines, making
    ties deterministic) instead of the
    window-rank-then-filter detour. One map-side-combinable aggregation:
    min_by/max_by carry (key, value) partials, so bars reduce like any
    other agg — no per-bar sort anywhere.

    Scale posture: one shuffle keyed on the bar; at 100 TB add the
    symbol/series id to the group key and nothing else changes."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    # engine-portable deterministic order key: zero-padded micros + id
    tskey = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("bar_start")
        )
        .agg(
            F.round(F.min_by("value", tskey), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", tskey), 2).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("double") / 100.0).alias("volume"),
        )
    )


# ---------------------------------------------------------------------------
# Exponentially weighted moving average (bounded-window, bit-exact)
# ---------------------------------------------------------------------------

_EWMA_SPAN = 16  # window rows; alpha = 1/2 so every weight is a power of two

EWMA_ORACLE = f"""
WITH win AS (
  SELECT user_id, event_id,
         list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {_EWMA_SPAN - 1} PRECEDING AND CURRENT ROW) AS vals
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, event_id,
       list_reduce(list_transform(vals, (x, i) -> x * pow(0.5, len(vals) - i)),
                   (a, b) -> a + b)
         / (2 - pow(0.5, len(vals) - 1)) AS ewma
FROM win
"""


@register("tw_ewma_smoothed", EWMA_ORACLE)
def tw_ewma_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha = 1/2) of purchase values over the last
    {span} events — the classic trend smoother, built to be BIT-EXACT
    across engines rather than merely round-tolerant:

    - alpha = 1/2 makes every weight 2^-k, and multiplying a double by a
      power of two never rounds (exponent shift only), so the weighted
      terms are exact;
    - the window's ordered ``collect_list`` fixes ONE summation order
      (ts then event_id, micros on both engines) and both sides fold the
      list left-to-right — no partial-aggregation order to drift;
    - the normalizer 2 - 2^-(s-1) is itself exact, and the final
      division is a single correctly-rounded IEEE op.

    So the oracle comparison here is EXACT float equality with no
    round() anywhere — the strongest determinism tier in the suite
    (SCALE.md float policy: this is the 'design the arithmetic to be
    order-free' endpoint).

    Scale posture: one shuffle on user_id; the frame is ROWS-bounded at
    {span}, so window state is O(span) per key regardless of history
    length (unlike an unbounded running EWMA, which is inherently
    sequential); skewed power-users cost O(span) extra memory, not
    O(history). The same expression runs per micro-batch in Structured
    Streaming over ``applyInPandasWithState`` with the span as state.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_SPAN - 1), 0)
    )
    vals = F.collect_list("value").over(w)
    s = F.size(F.col("vals"))
    weighted = F.transform(
        F.col("vals"), lambda x, i: x * F.pow(F.lit(0.5), s - 1 - i)
    )
    num = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    denom = F.lit(2.0) - F.pow(F.lit(0.5), s - 1)
    return (
        ev.select("user_id", "event_id", vals.alias("vals"))
        .select("user_id", "event_id", (num / denom).alias("ewma"))
    )


tw_ewma_smoothed.__doc__ = tw_ewma_smoothed.__doc__.format(span=_EWMA_SPAN)


# ---------------------------------------------------------------------------
# Regular-grid resampling with linear interpolation
# ---------------------------------------------------------------------------

_RESAMPLE_US = 3_600_000_000  # 1-hour grid, in epoch microseconds

RESAMPLE_ORACLE = f"""
WITH obs AS (
  SELECT user_id, epoch_us(ts) AS t, max(value) AS v
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, epoch_us(ts)
),
bounds AS (
  SELECT user_id,
         CAST(ceil(CAST(min(t) AS DOUBLE) / {_RESAMPLE_US}) AS BIGINT)
           * {_RESAMPLE_US} AS g0,
         CAST(floor(CAST(max(t) AS DOUBLE) / {_RESAMPLE_US}) AS BIGINT)
           * {_RESAMPLE_US} AS g1
  FROM obs GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(range(g0, g1 + 1, {_RESAMPLE_US})) AS t
  FROM bounds WHERE g0 <= g1
),
unioned AS (
  SELECT user_id, t, v, 0 AS is_grid FROM obs
  UNION ALL
  SELECT user_id, t, NULL AS v, 1 AS is_grid FROM grid
),
filled AS (
  SELECT user_id, t, is_grid,
    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, is_grid
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY t, is_grid
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, is_grid
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY t, is_grid
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
  FROM unioned
)
SELECT user_id, t // 1000000 AS grid_epoch,
  CASE WHEN t0 = t THEN CAST(floor(v0 * 1000000 + 0.5) AS BIGINT)
       ELSE CAST(floor((v0 + (v1 - v0)
                        * (CAST(t - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE)))
                 * 1000000 + 0.5) AS BIGINT) END AS value_micro
FROM filled WHERE is_grid = 1
"""


@register("tw_resample_interpolate", RESAMPLE_ORACLE)
def tw_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular events -> regular hourly grid by LINEAR INTERPOLATION
    between the surrounding observations — the numeric companion to
    ``tw_gap_fill_locf`` (LOCF holds a step; interpolation draws the
    line), and the standard resampler feeding downstream models that
    want a fixed cadence.

    Shape (r13 rewrite): consecutive-observation PAIRS via one lead()
    window over the OBSERVATIONS ONLY (tiny — the distinct (user, ts)
    set), then each pair [t0, t1) map-side explodes exactly the grid
    instants it brackets; a grid instant landing on t0 takes the exact
    value, the span's final instant (== the last observation when
    on-grid) comes from the pair-less tail row. Same rows and values as
    the previous union+window formulation — the oracle is unchanged —
    but the window now touches only observations. The old shape ran
    first(ignorenulls) over a CURRENT ROW..UNBOUNDED FOLLOWING frame
    across the UNION of grid+obs, and Spark evaluates unbounded-
    FOLLOWING frames by re-aggregating the remaining frame per row —
    O(rows^2) per user partition; with hour-grids that quadratic term
    dominated (9.1 s -> ~1.5 s at sf0.1 for identical output).
    Interpolation closes over exact integer micros cast to double once,
    so both engines walk the identical IEEE expression; outputs are
    floor-quantized micro BIGINTs per the float policy.

    Scale posture: everything is keyed or windowed per user — bounded
    partitions, never a global sort; observations collapse to distinct
    (user, ts) via an order-free max() first so the anchors are
    engine-deterministic. At 100 TB the grid explode stays
    span-proportional and happens AFTER the per-user window, map-side:
    the exploded grid is never shuffled, sorted, or window-scanned."""
    us = F.lit(_RESAMPLE_US).cast("long")
    obs = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.unix_micros("ts").alias("t"))
        .agg(F.max("value").alias("v"))
    )
    w = Window.partitionBy("user_id").orderBy("t")
    pairs = obs.select(
        "user_id",
        F.col("t").alias("t0"),
        F.col("v").alias("v0"),
        F.lead("t").over(w).alias("t1"),
        F.lead("v").over(w).alias("v1"),
    )
    # Grid instants bracketed by [t0, t1): start at the first on-grid
    # instant >= t0, stop before t1 (the forward anchor must be strictly
    # later, so the instant == t1 belongs to the NEXT pair's t0 — or to
    # the tail row below when t1 is the span's last observation). The
    # pair-less tail row (lead is null) contributes exactly its own
    # instant when the last observation is on-grid — floor(max)'s grid
    # point; every earlier grid instant < t_last falls inside some pair.
    s0 = (F.ceil(F.col("t0").cast("double") / F.lit(float(_RESAMPLE_US))).cast("long") * us)
    grid_ts = F.when(
        F.col("t1").isNotNull(),
        F.when(
            s0 < F.col("t1"),
            F.sequence(s0, F.col("t1") - 1, us),
        ).otherwise(F.array().cast("array<long>")),
    ).otherwise(
        F.when(
            F.col("t0") % us == 0, F.array(F.col("t0"))
        ).otherwise(F.array().cast("array<long>"))
    )
    exploded = pairs.select(
        "user_id", "t0", "v0", "t1", "v1", F.explode(grid_ts).alias("t")
    )
    interp = F.col("v0") + (F.col("v1") - F.col("v0")) * (
        (F.col("t") - F.col("t0")).cast("double")
        / (F.col("t1") - F.col("t0")).cast("double")
    )
    grid_epoch = (F.col("t") / F.lit(1_000_000)).cast("long").alias("grid_epoch")
    # The exact arm fires when the grid instant IS an observation (t0 on
    # grid, and the pair-less tail); the interp division never sees
    # t1 = t0 (obs are distinct per (user, t), so t0 < t < t1 there).
    value = F.when(
        F.col("t0") == F.col("t"),
        F.floor(F.col("v0") * F.lit(1000000.0) + F.lit(0.5)).cast("long"),
    ).otherwise(
        F.floor(interp * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    )
    return exploded.select("user_id", grid_epoch, value.alias("value_micro"))


# ---------------------------------------------------------------------------
# Time-RANGE window frame (trailing 30-minute aggregate per event)
# ---------------------------------------------------------------------------

_RANGE_SEC = 1800

RANGE_FRAME_ORACLE = f"""
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_u
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, event_id,
  CAST(sum(v_u) OVER w AS BIGINT) AS sum_value_micro,
  CAST(count(*) OVER w AS BIGINT) AS n_in_window
FROM p
WINDOW w AS (PARTITION BY user_id ORDER BY tsec
             RANGE BETWEEN {_RANGE_SEC} PRECEDING AND CURRENT ROW)
"""


@register("tw_range_frame_sum", RANGE_FRAME_ORACLE)
def tw_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing TIME-RANGE frame: per purchase, the sum/count of the
    user's purchases in the last {sec} seconds of EVENT TIME — the
    velocity feature (fraud/abuse scoring, rate limits) that a ROWS frame
    cannot express because it must include a variable number of rows.
    This is the one window-frame kind (`rangeBetween` on a numeric time
    key) the W2 sweep didn't cover.

    Determinism: values are micro-quantized BIGINTs BEFORE the frame sum,
    so the aggregate is exact whatever order the engine folds frame
    members in — equal-ts rows are RANGE peers whose float-sum order
    would otherwise be unspecified (the r7 policy's "make the arithmetic
    order-free" rule applied to window frames).

    Scale posture: one shuffle on user_id; the range frame scans each
    partition once with a sliding two-pointer (Spark's WindowExec range
    mode), state bounded by the densest {sec}-second burst per user."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    p = ev.select(
        "user_id",
        "event_id",
        (F.unix_micros("ts") / F.lit(1_000_000)).cast("long").alias("tsec"),
        F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("v_u"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsec")
        .rangeBetween(-_RANGE_SEC, 0)
    )
    return p.select(
        "user_id",
        "event_id",
        F.sum("v_u").over(w).alias("sum_value_micro"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


tw_range_frame_sum.__doc__ = tw_range_frame_sum.__doc__.format(sec=_RANGE_SEC)


# ---------------------------------------------------------------------------
# Nearest-event as-of join (bidirectional, tolerance-bounded)
# ---------------------------------------------------------------------------

_NEAREST_TOL_US = 1800 * 1_000_000  # ±30 min

NEAREST_ASOF_ORACLE = f"""
WITH clicks AS (
  SELECT user_id, event_id, epoch_us(ts) AS t
  FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, event_id, epoch_us(ts) AS t
  FROM events WHERE event_type = 'view'
),
back AS (
  SELECT c.event_id AS click_id, v.event_id AS view_id, c.t - v.t AS d
  FROM clicks c JOIN views v
    ON v.user_id = c.user_id AND v.t <= c.t AND c.t - v.t <= {_NEAREST_TOL_US}
  QUALIFY row_number() OVER (PARTITION BY c.event_id
                             ORDER BY v.t DESC, v.event_id DESC) = 1
),
fwd AS (
  SELECT c.event_id AS click_id, v.event_id AS view_id, c.t - v.t AS d
  FROM clicks c JOIN views v
    ON v.user_id = c.user_id AND v.t > c.t AND v.t - c.t <= {_NEAREST_TOL_US}
  QUALIFY row_number() OVER (PARTITION BY c.event_id
                             ORDER BY v.t ASC, v.event_id ASC) = 1
)
SELECT c.event_id AS click_id,
       CASE WHEN b.view_id IS NOT NULL
                 AND (f.view_id IS NULL OR b.d <= -f.d) THEN b.view_id
            ELSE f.view_id END AS view_id,
       CASE WHEN b.view_id IS NOT NULL
                 AND (f.view_id IS NULL OR b.d <= -f.d) THEN b.d
            ELSE f.d END AS delta_us
FROM clicks c
LEFT JOIN back b ON b.click_id = c.event_id
LEFT JOIN fwd f ON f.click_id = c.event_id
"""


@register("asof_join_nearest", NEAREST_ASOF_ORACLE)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event as-of join: each click matched to the closest view
    by |Δt| within ±30 min, EITHER direction — the sensor-fusion /
    attribution semantic the backward-only [[asof_join_click_to_view]]
    cannot express (ties prefer the backward match, then the window's
    deterministic event-id pick). Emits signed delta_us (positive = view
    before click); clicks with no view in tolerance keep NULLs (left
    semantics).

    Scalable formulation: union both sides tagged, ONE per-user ordered
    window pass computing the backward anchor (last view at-or-before;
    equal-ts views sort before clicks so they count as backward — ASOF's
    >=) and the forward anchor (first view strictly after), then a
    map-side CASE picks the nearer. O(n log n) per key, one shuffle, NO
    time-range cross join — the plan that survives 100 TB. The oracle
    replays it as two tolerance-bounded argmin joins."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    tagged = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        (F.col("event_type") == "click").cast("int").alias("is_click"),
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("v_id"),
        F.when(F.col("event_type") == "view", F.unix_micros("ts")).alias("v_t"),
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward anchor = "first at-or-after in ascending order", computed
    # as last(ignorenulls) over the REVERSED ordering with a running
    # UNBOUNDED PRECEDING..CURRENT ROW frame — the identical row set.
    # Spark evaluates running frames O(n) but re-aggregates an UNBOUNDED
    # FOLLOWING frame per row (O(n^2) per partition, the latent
    # scale-killer the r13 tw_resample_interpolate rewrite removed);
    # same partitioning, so the second sort order adds a sort, never a
    # shuffle.
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("t").desc(), F.col("is_click").desc(), F.col("event_id").desc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    anchored = tagged.select(
        "event_id",
        "t",
        "is_click",
        F.last("v_id", ignorenulls=True).over(w_back).alias("b_id"),
        F.last("v_t", ignorenulls=True).over(w_back).alias("b_t"),
        F.last("v_id", ignorenulls=True).over(w_fwd).alias("f_id"),
        F.last("v_t", ignorenulls=True).over(w_fwd).alias("f_t"),
    ).filter(F.col("is_click") == 1)
    b_ok = F.col("b_id").isNotNull() & (
        (F.col("t") - F.col("b_t")) <= F.lit(_NEAREST_TOL_US)
    )
    f_ok = F.col("f_id").isNotNull() & (
        (F.col("f_t") - F.col("t")) <= F.lit(_NEAREST_TOL_US)
    )
    b_d = F.col("t") - F.col("b_t")
    f_d = F.col("t") - F.col("f_t")  # negative (view after click)
    pick_back = b_ok & (~f_ok | (b_d <= -f_d))
    return anchored.select(
        F.col("event_id").alias("click_id"),
        F.when(pick_back, F.col("b_id"))
        .when(f_ok, F.col("f_id"))
        .alias("view_id"),
        F.when(pick_back, b_d).when(f_ok, f_d).alias("delta_us"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection over the daily per-type series
# ---------------------------------------------------------------------------

_CUSUM_SLACK_MICRO = 500_000  # k = 0.5 events of slack per day (micro units)

CUSUM_ORACLE = f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
mu AS (
  SELECT event_type,
         CAST(floor(CAST(sum(n) AS DOUBLE) / count(*) * 1000000 + 0.5) AS BIGINT)
           AS mu_micro
  FROM daily GROUP BY event_type
),
seq AS MATERIALIZED (
  SELECT d.event_type, d.day, d.n,
         d.n * 1000000 - m.mu_micro - {_CUSUM_SLACK_MICRO} AS dev,
         row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
  FROM daily d JOIN mu m ON m.event_type = d.event_type
),
rec AS (
  SELECT event_type, day, n, dev, rn,
         CAST(greatest(0, dev) AS BIGINT) AS s
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT q.event_type, q.day, q.n, q.dev, q.rn,
         CAST(greatest(0, r.s + q.dev) AS BIGINT) AS s
  FROM rec r JOIN seq q ON q.event_type = r.event_type AND q.rn = r.rn + 1
)
SELECT event_type, day, n, s AS cusum_micro
FROM rec
"""


@register("tw_cusum_drift", CUSUM_ORACLE)
def tw_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point statistic per event type over the
    daily count series: S_d = max(0, S_(d-1) + (x_d − μ − k)) — the
    SEQUENTIAL drift detector that fires on sustained small shifts the
    per-day robust-z ([[dq_anomaly_daily_counts]]) and snapshot PSI
    ([[dq_psi_drift]]) both miss. μ is the per-type series mean
    (micro-quantized once), k the slack.

    The recursion is inherently ordered, so it runs as a HIGHER-ORDER
    FOLD over the per-type ordered day array (``aggregate`` with a
    struct(state, emitted-array) accumulator) — ALL-INTEGER state, so
    both engines (Spark fold vs the oracle's recursive CTE) walk
    identical arithmetic with no float order anywhere.

    Scale posture: the corpus collapses map-side to (type, day) counts
    first (bounded: types × days, metadata-sized); the fold happens on
    that tiny series per type — the corpus is never windowed or
    collected. The same recursion shape serves any per-entity
    bounded-length sequential statistic (inventory running-min,
    drawdown, refractory counters)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").cast("string").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mu = daily.groupBy("event_type").agg(
        F.floor(
            F.sum("n").cast("double") / F.count(F.lit(1)) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mu_micro")
    )
    seq = (
        daily.join(mu, "event_type")
        .select(
            "event_type",
            F.struct(
                "day",
                "n",
                (
                    F.col("n") * F.lit(1_000_000)
                    - F.col("mu_micro")
                    - F.lit(_CUSUM_SLACK_MICRO)
                ).alias("dev"),
            ).alias("row"),
        )
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_list("row")).alias("rows"))
    )
    out_t = "array<struct<day:string,n:bigint,cusum_micro:bigint>>"
    folded = F.aggregate(
        F.col("rows"),
        F.struct(
            F.lit(0).cast("long").alias("s"),
            F.lit(None).cast(out_t).alias("out"),
        ),
        lambda acc, r: F.struct(
            F.greatest(F.lit(0).cast("long"), acc.getField("s") + r.getField("dev")).alias("s"),
            F.concat(
                F.coalesce(acc.getField("out"), F.array().cast(out_t)),
                F.array(
                    F.struct(
                        r.getField("day").alias("day"),
                        r.getField("n").alias("n"),
                        F.greatest(
                            F.lit(0).cast("long"),
                            acc.getField("s") + r.getField("dev"),
                        ).alias("cusum_micro"),
                    )
                ),
            ).alias("out"),
        ),
        lambda acc: acc.getField("out"),
    )
    return (
        seq.select("event_type", F.explode(folded).alias("o"))
        .select("event_type", "o.day", "o.n", "o.cusum_micro")
    )


# ---------------------------------------------------------------------------
# Funnel analysis (r9): ordered-stage conversion counting — the product
# analytics operator every event warehouse ships (view -> click ->
# purchase, each stage within a window of the previous).
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ["view", "click", "purchase"]
_FUNNEL_WINDOW_US = 7 * 86400 * 1_000_000  # each stage within 7 days of prior

FUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
s1 AS (
  SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.us) AS t2
  FROM e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.us > s1.t1
    AND e.us <= s1.t1 + {_FUNNEL_WINDOW_US}
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.us) AS t3
  FROM e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.us > s2.t2
    AND e.us <= s2.t2 + {_FUNNEL_WINDOW_US}
  GROUP BY e.user_id
)
SELECT stage, n_users, CAST(floor(n_users * 1000000.0 / first_n + 0.5) AS BIGINT) AS conv_micro
FROM (
  SELECT 1 AS stage, (SELECT count(*) FROM s1) AS n_users,
         (SELECT count(*) FROM s1) AS first_n
  UNION ALL
  SELECT 2, (SELECT count(*) FROM s2), (SELECT count(*) FROM s1)
  UNION ALL
  SELECT 3, (SELECT count(*) FROM s3), (SELECT count(*) FROM s1)
) t
ORDER BY stage
"""


@register("tw_funnel_stages", FUNNEL_ORACLE)
def tw_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED-STAGE FUNNEL over the events stream: stage 1 anchors at
    each user's first 'view'; stage k+1 requires the stage-k event type
    STRICTLY AFTER the user's stage-k time and within a 7-day window of
    it; output is one row per stage with the surviving user count and
    micro-quantized conversion vs stage 1. First-touch attribution
    (min-ts per stage) keeps the semantics deterministic — no
    arbitrary-row pick.

    Scale posture: per stage, ONE map-side-combinable conditional min
    aggregation keyed on user_id joined to the previous stage's
    user-keyed anchor frame — never a per-user sorted event array
    (unbounded per key at 100 TB) and never a window over the corpus;
    stage frames shrink monotonically. The final 3-row union is
    control-plane."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    counts = []
    prev = None
    for et in _FUNNEL_STAGES:
        if prev is None:
            cur = (
                e.filter(F.col("event_type") == et)
                .groupBy("user_id")
                .agg(F.min("us").alias("t"))
            )
        else:
            cur = (
                e.filter(F.col("event_type") == et)
                .join(prev.select("user_id", F.col("t").alias("t_prev")), "user_id")
                .filter(
                    (F.col("us") > F.col("t_prev"))
                    & (F.col("us") <= F.col("t_prev") + _FUNNEL_WINDOW_US)
                )
                .groupBy("user_id")
                .agg(F.min("us").alias("t"))
            )
        # the stage's user count rides its checkpoint job
        n = Observation(f"funnel_{et}_{uuid4().hex[:8]}")
        prev = checkpoint(cur.observe(n, F.count(F.lit(1)).alias("n")), supersedes=prev)
        counts.append(n.get["n"])
    first_n = counts[0]
    rows = [
        (i + 1, c, int((c * 1_000_000 + first_n // 2) // first_n) if first_n else 0)
        for i, c in enumerate(counts)
    ]
    return spark.createDataFrame(
        rows, "stage int, n_users bigint, conv_micro bigint"
    ).orderBy("stage")


# ---------------------------------------------------------------------------
# Exponentially time-decayed engagement score (r9): the recency-weighted
# aggregate behind "active user" scores and feature-store decay features.
# ---------------------------------------------------------------------------

_DECAY_HORIZON = 30  # days; weight doubles every day closer to the corpus end
_DECAY_TOPK = 20

DECAY_ORACLE = f"""
WITH t AS (SELECT max(CAST(ts AS DATE)) AS t_end FROM events),
w AS (
  SELECT e.user_id,
         CAST(round(e.value * 100) AS BIGINT)
           * (CAST(1 AS BIGINT) << ({_DECAY_HORIZON} - datediff('day', CAST(e.ts AS DATE), t.t_end)))
           AS term,
         1 AS one
  FROM events e, t
  WHERE datediff('day', CAST(e.ts AS DATE), t.t_end) < {_DECAY_HORIZON + 1}
)
SELECT user_id,
       CAST(SUM(term) AS BIGINT) AS score_units,
       CAST(SUM(one) AS BIGINT) AS n_recent
FROM w GROUP BY user_id
ORDER BY score_units DESC, user_id
LIMIT {_DECAY_TOPK}
"""


@register("tw_exp_decay_score", DECAY_ORACLE)
def tw_exp_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by EXPONENTIALLY TIME-DECAYED engagement: each event
    contributes value · 2^(horizon − age_days), so yesterday's activity
    counts double the day before's — the standard recency weighting for
    activity scores and feature-store decay features, normally quoted as
    Σ v·e^(−λ·Δt).

    EXACT: base-2 decay on integer day ages makes every weight a power of
    two and the event value is cents (two-decimal fixture), so each term
    and the per-user sum are BIGINTs — partial-agg order cannot flip bits
    and both engines agree exactly (e^-λt would hit libm differences).
    Term bound: 10⁴·2³⁰ ≈ 10¹³ per event, ~10⁶ recent events per user
    before 2⁶³ — document-checked, not enforced.

    Scale posture: one map-side-combinable user aggregation over a
    date-pruned scan (the horizon filter prunes partitions on a
    date-partitioned lake layout); top-k is TakeOrderedAndProject (k-row,
    no global sort materialization); the corpus-end date is a 1-row
    scalar broadcast. Ties are broken by user_id so the emitted SET is
    deterministic."""
    events = load_table(spark, sf_dir, "events")
    t_end = events.agg(F.max(F.to_date("ts")).alias("t_end"))
    age = F.datediff(F.col("t_end"), F.to_date("ts"))
    # shiftleft's python wrapper takes a literal bit count — build the
    # column-valued shift in SQL expression form instead
    weight = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {_DECAY_HORIZON} - datediff(t_end, to_date(ts)))"
    )
    return (
        events.crossJoin(F.broadcast(t_end))  # 1-row corpus-end scalar
        .filter(age <= _DECAY_HORIZON)
        .select(
            "user_id",
            (F.round(F.col("value") * 100).cast("long") * weight).alias("term"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("term").cast("long").alias("score_units"),
            F.count(F.lit(1)).cast("long").alias("n_recent"),
        )
        .orderBy(F.desc("score_units"), "user_id")
        .limit(_DECAY_TOPK)
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix (r9): the week-over-week retention triangle
# ---------------------------------------------------------------------------

RETENTION_ORACLE = """
WITH f AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cw
  FROM events GROUP BY user_id
),
a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
j AS (
  SELECT f.cw, CAST(datediff('day', f.cw, a.wk) // 7 AS BIGINT) AS off
  FROM a JOIN f USING (user_id)
),
c AS (SELECT cw, off, CAST(count(*) AS BIGINT) AS n_active FROM j GROUP BY cw, off),
s AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY cw)
SELECT CAST(floor(epoch(c.cw)) AS BIGINT) AS cohort_week,
       c.off AS week_offset, c.n_active, s.cohort_size,
       CAST(floor(c.n_active * 1000000.0 / s.cohort_size + 0.5) AS BIGINT)
         AS retention_micro
FROM c JOIN s USING (cw)
"""


@register("tw_retention_cohorts", RETENTION_ORACLE)
def tw_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKLY COHORT RETENTION triangle with RATES: extends the
    counts-only ``cohort_retention`` (which caps at offset 4 and leaves
    the rate to the consumer) with the cohort-size denominator and the
    micro-quantized retention fraction — the directly-consumable form,
    over the full offset range.

    Plan shape: one user-keyed min (cohort assignment), one distinct on
    (user, week) (map-side combinable — the raw event volume collapses
    to user x active-weeks before any join), then a user-keyed join that
    co-partitions with the distinct; the cohort x offset matrix is
    weeks², metadata-sized. Retention quantizes as floor(n·1e6/size+0.5)
    on exact integer counts (n, size < 2^26 keeps the product exact in
    doubles), so both engines emit identical micro-units.

    Scale posture: everything shuffles on user_id (two co-keyed
    exchanges over corpus-derived frames whose size is bounded by
    users x weeks, not events); no window over data, no sort."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cw"))
    active = ev.select("user_id", wk.alias("wk")).distinct()
    j = active.join(firsts, "user_id").select(
        "cw",
        (F.datediff(F.col("wk"), F.col("cw")) / 7).cast("long").alias("off"),
    )
    c = j.groupBy("cw", "off").agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    s = firsts.groupBy("cw").agg(F.count(F.lit(1)).cast("long").alias("cohort_size"))
    return c.join(s, "cw").select(
        F.unix_timestamp("cw").alias("cohort_week"),
        F.col("off").alias("week_offset"),
        "n_active",
        "cohort_size",
        F.floor(
            F.col("n_active") * 1000000.0 / F.col("cohort_size") + 0.5
        ).cast("long").alias("retention_micro"),
    )
