"""Event-time analytics over the events table: windows, sessions,
as-of and interval joins, funnels, retention, sketches and
pivots."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from casf_spark.operators.joins import asof_join, interval_join
from casf_spark.operators import skew as SK
from casf_spark.operators.profile import profile
from casf_spark.sources.tables import load_table
from casf_spark.streaming import events as EV
from casf_spark.queries._common import _EVENT_TYPES
from casf_spark.queries._registry import query


@query("events_running_distinct", oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
firsts AS (
  SELECT user_id, event_type, MIN(CAST(ts AS DATE)) AS day
  FROM events GROUP BY user_id, event_type),
per_day AS (
  SELECT user_id, day, COUNT(*) AS n_new FROM firsts GROUP BY user_id, day)
SELECT d.user_id, strftime(d.day, '%Y-%m-%d') AS day,
       CAST(SUM(COALESCE(p.n_new, 0)) OVER (
         PARTITION BY d.user_id ORDER BY d.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS BIGINT) AS distinct_types_so_far
FROM days d LEFT JOIN per_day p USING (user_id, day)""")
def q_events_running_distinct(spark, sf):
    """Windowed DISTINCT count — running number of distinct event types
    each user has ever used, per active day. Spark has no
    count_distinct-over-window; the scale-correct pattern is
    first-occurrence flags: min(first day) per (user, type) — one
    aggregation — then a cumulative SUM window over per-day new-type
    counts. State per user is a counter, not a set (collect_set-over-
    window would carry the whole set through every frame at 100 TB)."""
    ev = load_table(spark, sf, "events")
    days = (ev.select("user_id", F.to_date("ts").alias("day"))
            .distinct())
    firsts = (ev.groupBy("user_id", "event_type")
              .agg(F.min(F.to_date("ts")).alias("day")))
    per_day = (firsts.groupBy("user_id", "day")
               .agg(F.count(F.lit(1)).alias("n_new")))
    w = (Window.partitionBy("user_id").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (days.join(per_day, ["user_id", "day"], "left")
            .withColumn("distinct_types_so_far",
                        F.sum(F.coalesce("n_new", F.lit(0))).over(w))
            .select("user_id",
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    F.col("distinct_types_so_far").cast("long")
                    .alias("distinct_types_so_far")))


@query("events_hourly", oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') window_start,
       event_type, CAST(COUNT(*) AS BIGINT) n_events,
       ROUND(SUM(value), 6) sum_value
FROM events GROUP BY 1, 2""")
def q_events_hourly(spark, sf):
    ev = load_table(spark, sf, "events")
    return (EV.tumbling_counts(ev, "1 hour")
            .select(F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "n_events", "sum_value"))


@query("events_sliding", oracle="""
WITH pts AS (
  SELECT event_type,
         make_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 * 1000000) s1
  FROM events),
wins AS (
  SELECT event_type, s1 AS ws FROM pts
  UNION ALL
  SELECT event_type, s1 - INTERVAL 30 MINUTE FROM pts)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') window_start, event_type,
       CAST(COUNT(*) AS BIGINT) n_events
FROM wins GROUP BY 1, 2""")
def q_events_sliding(spark, sf):
    ev = load_table(spark, sf, "events")
    return (EV.sliding_counts(ev, "1 hour", "30 minutes")
            .select(F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "n_events"))


@query("events_sessions", oracle="""
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, CAST(SUM(new_s) AS BIGINT) n_sessions,
       CAST(COUNT(*) AS BIGINT) n_events
FROM g GROUP BY user_id""")
def q_events_sessions(spark, sf):
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0)
    return (ev.withColumn("new_s", new_s)
            .groupBy("user_id")
            .agg(F.sum("new_s").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


@query("events_json", oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) sum_k,
       CAST(COUNT(*) AS BIGINT) n
FROM events GROUP BY event_type""")
def q_events_json(spark, sf):
    ev = load_table(spark, sf, "events")
    return (ev.groupBy("event_type")
            .agg(F.sum(F.get_json_object("props", "$.k").cast("long"))
                 .alias("sum_k"),
                 F.count(F.lit(1)).alias("n")))


@query("events_interval", oracle="""
WITH marks AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
              OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
tagged AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) sid
  FROM marks),
sessions AS (
  SELECT user_id AS s_user, CAST(sid AS BIGINT) sid,
         CAST(floor(epoch(MIN(ts))) AS BIGINT) - 60 AS s_begin,
         CAST(floor(epoch(MAX(ts))) AS BIGINT) + 60 AS s_close
  FROM tagged GROUP BY 1, 2),
errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
SELECT e.event_id, e.user_id, s.sid, s.s_begin AS s_begin_epoch
FROM errors e JOIN sessions s
  ON e.user_id = s.s_user
 AND epoch(e.ts) >= s.s_begin AND epoch(e.ts) <= s.s_close""")
def q_events_interval(spark, sf):
    """Range/interval join: error events matched into the +/-60s-expanded
    session windows of the same user (operators.joins.interval_join —
    bucketized equi-join, no inequality-join cartesian). Expansion makes
    boundary events match adjacent sessions, so the join is a real
    containment test, not a partition lookup."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0)
    sessions = (
        ev.withColumn("new_s", new_s)
        .withColumn("sid", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(F.col("user_id").alias("s_user"), "sid")
        .agg((F.unix_timestamp(F.min("ts")) - 60).alias("s_begin"),
             (F.unix_timestamp(F.max("ts")) + 60).alias("s_close")))
    sessions = sessions.select(
        "s_user", "sid",
        F.timestamp_seconds("s_begin").alias("s_begin"),
        F.timestamp_seconds("s_close").alias("s_close"))
    errors = (ev.where(F.col("event_type") == "error")
              .select("event_id", F.col("user_id").alias("s_user"), "ts"))
    out = interval_join(errors, sessions, ["s_user"], "ts",
                        "s_begin", "s_close", bucket_seconds=1800)
    return out.select(
        "event_id", F.col("s_user").alias("user_id"), "sid",
        F.unix_timestamp("s_begin").alias("s_begin_epoch"))


@query("events_asof", oracle="""
WITH ranked AS (
  SELECT p.event_id, p.user_id, ROUND(p.value, 6) val,
         c.event_id AS click_id,
         date_diff('second', c.ts, p.ts) AS gap_sec,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts DESC, c.event_id DESC) rn
  FROM events p
  JOIN events c ON p.user_id = c.user_id AND c.ts <= p.ts
                AND c.event_type = 'click'
  WHERE p.event_type = 'purchase')
SELECT event_id, user_id, val, click_id, CAST(gap_sec AS BIGINT) gap_sec
FROM ranked WHERE rn = 1""")
def q_events_asof(spark, sf):
    """Purchase attribution via as-of join: each purchase event matched to
    the same user's most recent click at-or-before it (operators.joins.
    asof_join — one shuffle on user_id, no inequality-join explosion).
    Output keeps only attributed purchases; gap rounded to whole seconds."""
    ev = load_table(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("val"))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts")
    out = asof_join(purchases, clicks, ["user_id"], "ts", "ts", "backward")
    return (out.where(F.col("r_click_id").isNotNull())
            .select("event_id", "user_id", "val",
                    F.col("r_click_id").alias("click_id"),
                    F.floor(F.unix_timestamp("ts")
                            - F.unix_timestamp("r_ts")).alias("gap_sec")))


@query("events_distinct_users", oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) n_users
FROM events GROUP BY event_type""")
def q_events_distinct_users(spark, sf):
    """Exact per-type distinct-user counts via the two-phase salted plan
    (operators.skew.salted_count_distinct) — identical results to plain
    COUNT(DISTINCT), but the final per-key exchange carries n_salt partial
    rows instead of every (key, user) occurrence, so a hot event type
    cannot pin one reducer."""
    ev = load_table(spark, sf, "events")
    return SK.salted_count_distinct(ev, ["event_type"], "user_id",
                                    n_salt=16, out_col="n_users")


@query("events_profile", oracle="""
SELECT 'event_id' col_name, CAST(COUNT(*) AS BIGINT) n_rows,
       CAST(COUNT(*) FILTER (event_id IS NULL) AS BIGINT) n_null,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) n_distinct,
       CAST(MIN(event_id) AS VARCHAR) min_value,
       CAST(MAX(event_id) AS VARCHAR) max_value
FROM events
UNION ALL
SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (user_id IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) AS BIGINT),
       CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (event_type IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT event_type) AS BIGINT),
       CAST(MIN(event_type) AS VARCHAR), CAST(MAX(event_type) AS VARCHAR)
FROM events""")
def q_events_profile(spark, sf):
    """ANALYZE-style column profile of the events table in one aggregation
    pass (operators.profile) — null counts, exact cardinalities, ranges.
    Restricted to integer/string columns so min/max string rendering is
    engine-identical."""
    return profile(load_table(spark, sf, "events"),
                   ["event_id", "user_id", "event_type"])


@query("events_rollup", oracle="""
SELECT COALESCE(event_type, 'ALL') event_type,
       COALESCE(event_day, 'ALL') event_day,
       CAST(COUNT(*) AS BIGINT) n_events,
       ROUND(SUM(value), 6) sum_value
FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') event_day, value FROM events)
GROUP BY ROLLUP (event_type, event_day)""")
def q_events_rollup(spark, sf):
    """Rollup aggregation: counts by (event_type, day) with subtotals —
    grouping-set coverage (absent from the reference, SURVEY §2.9)."""
    ev = load_table(spark, sf, "events")
    return (ev.withColumn("event_day", F.date_format("ts", "yyyy-MM-dd"))
            .rollup("event_type", "event_day")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                    F.coalesce("event_day", F.lit("ALL")).alias("event_day"),
                    "n_events", "sum_value"))


@query("users_click_not_purchase", oracle="""
SELECT user_id FROM events
WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-02'
GROUP BY user_id
EXCEPT ALL
SELECT user_id FROM events
WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-02'
GROUP BY user_id""")
def q_users_click_not_purchase(spark, sf):
    """Set ops: users who clicked on 2024-01-01 but made no purchase that
    day (EXCEPT semantics)."""
    ev = load_table(spark, sf, "events").where(
        F.col("ts") < F.lit("2024-01-02").cast("timestamp"))
    clicks = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return clicks.exceptAll(buys).select("user_id")


@query("events_zscore", oracle="""
SELECT event_id, event_type,
       ROUND((value - AVG(value) OVER (PARTITION BY event_type))
             / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 6) zscore
FROM events""")
def q_events_zscore(spark, sf):
    """Unbounded window aggregate: per-type z-score of each event's value
    (window mean/stddev without collapsing rows)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type")
    mu, sd = F.avg("value").over(w), F.stddev_samp("value").over(w)
    return ev.select(
        "event_id", "event_type",
        F.round((F.col("value") - mu) / sd, 6).alias("zscore"))


@query("events_moving_avg", oracle="""
SELECT event_id, user_id,
  ROUND(AVG(value) OVER w, 6) avg_1h,
  CAST(COUNT(*) OVER w AS BIGINT) n_1h
FROM (SELECT *, CAST(FLOOR(epoch(ts)) AS BIGINT) sec FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""")
def q_events_moving_avg(spark, sf):
    """Time-RANGE window frame: per-user trailing 1-hour average of
    `value` for every event (feature-engineering shape). Partitioned by
    user_id — high-cardinality on purpose: a per-TYPE version would put
    each type's whole history in one task; per-entity keys keep frames
    tiny and tasks balanced at any scale."""
    ev = load_table(spark, sf, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_timestamp("ts"))
         .rangeBetween(-3600, 0))
    return ev.select(
        "event_id", "user_id",
        F.round(F.avg("value").over(w), 6).alias("avg_1h"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"))


@query("users_view_and_purchase", oracle="""
SELECT user_id FROM events WHERE event_type = 'view'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'""")
def q_users_view_and_purchase(spark, sf):
    """INTERSECT set op: users who both viewed and purchased — completes
    the set-operation family next to exceptAll
    (users_click_not_purchase)."""
    ev = load_table(spark, sf, "events")
    viewers = ev.where(F.col("event_type") == "view").select("user_id")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    return viewers.intersect(buyers)


@query("events_corr", oracle="""
SELECT event_type,
  ROUND(corr(value, CAST(EXTRACT(hour FROM ts) AS DOUBLE)), 6)
    corr_val_hour,
  ROUND(covar_samp(value, CAST(EXTRACT(hour FROM ts) AS DOUBLE)), 6)
    covar_val_hour,
  CAST(COUNT(*) AS BIGINT) n
FROM events GROUP BY 1""")
def q_events_corr(spark, sf):
    """Statistical aggregates: per-type Pearson correlation and sample
    covariance of (value, hour-of-day) in one pass."""
    ev = load_table(spark, sf, "events")
    h = F.hour("ts").cast("double")
    return (ev.groupBy("event_type")
            .agg(F.round(F.corr(F.col("value"), h), 6).alias("corr_val_hour"),
                 F.round(F.covar_samp(F.col("value"), h), 6)
                 .alias("covar_val_hour"),
                 F.count(F.lit(1)).cast("long").alias("n")))


@query("events_value_hist", oracle="""
SELECT event_type, CAST(FLOOR(value / 2) AS BIGINT) bucket,
       CAST(COUNT(*) AS BIGINT) n
FROM events GROUP BY 1, 2""")
def q_events_value_hist(spark, sf):
    """Fixed-width histogram of `value` per event type: bucket = floor
    (value / 2) — one aggregation, no windowing."""
    ev = load_table(spark, sf, "events")
    return (ev.groupBy("event_type",
                       F.floor(F.col("value") / 2).cast("long")
                       .alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


@query("events_funnel", oracle="""
WITH f AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'view' THEN ts END) t_view,
    MIN(CASE WHEN event_type = 'click' THEN ts END) t_click,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) t_purchase
  FROM events GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) n_users,
  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    n_view,
  CAST(SUM(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT)
    n_view_click,
  CAST(SUM(CASE WHEN t_view < t_click AND t_click < t_purchase
            THEN 1 ELSE 0 END) AS BIGINT) n_view_click_purchase
FROM f""")
def q_events_funnel(spark, sf):
    """Ordered conversion funnel per user (view -> click -> purchase by
    FIRST occurrence of each step): one conditional-MIN aggregation per
    user, then stage flags summed — no self-joins, no event-sequence
    explosion."""
    ev = load_table(spark, sf, "events")
    firsts = (ev.groupBy("user_id")
              .agg(*[F.min(F.when(F.col("event_type") == t, F.col("ts")))
                     .alias(f"t_{t}") for t in ("view", "click", "purchase")]))
    return firsts.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_view"),
        F.sum(F.when(F.col("t_view") < F.col("t_click"), 1).otherwise(0))
        .cast("long").alias("n_view_click"),
        F.sum(F.when((F.col("t_view") < F.col("t_click"))
                     & (F.col("t_click") < F.col("t_purchase")), 1)
              .otherwise(0)).cast("long").alias("n_view_click_purchase"))


@query("events_retention", oracle="""
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) dt FROM events),
cohort AS (SELECT user_id, MIN(dt) cohort_day FROM days GROUP BY 1)
SELECT d.cohort_day, CAST(day_offset AS INT) day_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) n_active
FROM (SELECT days.user_id, cohort.cohort_day,
             days.dt - cohort.cohort_day AS day_offset
      FROM days JOIN cohort USING (user_id)) d
GROUP BY d.cohort_day, day_offset HAVING day_offset <= 7""")
def q_events_retention(spark, sf):
    """Cohort retention: users grouped by first-activity date; for each
    (cohort_day, day_offset) the count of distinct users active that many
    days later. Two aggregations + a user-keyed join — the classic
    retention matrix without any per-day self-join fan-out."""
    ev = load_table(spark, sf, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (days.join(cohort, "user_id")
            .groupBy("cohort_day",
                     F.datediff("day", "cohort_day").alias("day_offset"))
            .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
            .where(F.col("day_offset") <= 7))


@query("events_cube", oracle="""
SELECT COALESCE(event_type, 'ALL') event_type,
       COALESCE(weekday, 'ALL') weekday,
       CAST(COUNT(*) AS BIGINT) n_events,
       CAST(GROUPING(event_type, weekday) AS BIGINT) gid
FROM (SELECT event_type, strftime(ts, '%a') weekday FROM events)
GROUP BY CUBE (event_type, weekday)""")
def q_events_cube(spark, sf):
    """CUBE over (event_type, weekday): all four grouping sets in one
    pass, with grouping_id distinguishing subtotal levels — completes the
    grouping-sets family next to events_rollup."""
    ev = load_table(spark, sf, "events")
    return (ev.withColumn("weekday", F.date_format("ts", "E"))
            .cube("event_type", "weekday")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.grouping_id().alias("gid"))
            .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                    F.coalesce("weekday", F.lit("ALL")).alias("weekday"),
                    "n_events", "gid"))


@query("events_pivot", oracle="""
SELECT strftime(ts, '%Y-%m-%d') event_day,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) n_click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) n_error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) n_signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) n_view
FROM events GROUP BY 1""")
def q_events_pivot(spark, sf):
    """Pivot: daily event counts, one column per event type."""
    ev = load_table(spark, sf, "events")
    piv = (ev.withColumn("event_day", F.date_format("ts", "yyyy-MM-dd"))
           .groupBy("event_day")
           .pivot("event_type", _EVENT_TYPES)
           .count())
    return piv.select(
        "event_day",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES])


@query("events_percentiles", oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) p50,
       ROUND(quantile_cont(value, 0.9), 6) p90,
       CAST(COUNT(*) AS BIGINT) n
FROM events GROUP BY event_type""")
def q_events_percentiles(spark, sf):
    """Exact interpolated percentiles of event value per type."""
    ev = load_table(spark, sf, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
                 F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
                 F.count(F.lit(1)).alias("n")))


@query("events_approx_distinct", oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type""")
def q_events_approx_distinct(spark, sf):
    """Sketch-based distinct users per event type (HyperLogLog++, rsd=5%)
    checked against the exact count IN the query — oracle-checkable
    contract form: the estimate itself is engine-specific, but
    ``|approx - exact| <= 15% * exact`` is a statable invariant (3x the
    requested rsd; the point estimate measures <2% off at sf0.01), so
    the DuckDB twin emits the exact count and TRUE. A broken sketch
    (wrong column, wrong rsd plumbing, merge bug) flips the hash. At
    100 TB the sketch is the default path: fixed-size state, one pass,
    no distinct shuffle."""
    ev = load_table(spark, sf, "events")
    return (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", 0.05).alias("approx"),
                 F.countDistinct("user_id").alias("exact_users"))
            .select("event_type", "exact_users",
                    (F.abs(F.col("approx") - F.col("exact_users"))
                     <= F.col("exact_users") * F.lit(0.15))
                    .alias("within_bound")))


@query("events_grouping_sets", oracle="""
SELECT COALESCE(event_type, 'ALL') event_type,
       COALESCE(weekday, 'ALL') weekday,
       CAST(COUNT(*) AS BIGINT) n_events,
       CAST(GROUPING(event_type, weekday) AS BIGINT) gid
FROM (SELECT event_type, strftime(ts, '%a') weekday FROM events)
GROUP BY GROUPING SETS ((event_type), (weekday), ())""")
def q_events_grouping_sets(spark, sf):
    """Explicit GROUPING SETS ((type), (weekday), ()): the general form
    next to rollup/cube — three subtotal levels in ONE pass over the fact
    (Spark expands to a single Expand + hash aggregate; no re-scan per
    grouping set)."""
    ev = load_table(spark, sf, "events").withColumn(
        "weekday", F.date_format("ts", "E"))
    return (ev.groupingSets([["event_type"], ["weekday"], []],
                            "event_type", "weekday")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.grouping_id().alias("gid"))
            .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                    F.coalesce("weekday", F.lit("ALL")).alias("weekday"),
                    "n_events", "gid"))


@query("events_gap_stats", oracle="""
WITH g AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT)
         - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) gap
  FROM events)
SELECT user_id, CAST(COUNT(gap) AS BIGINT) n_gaps,
       ROUND(AVG(gap), 6) avg_gap_sec, CAST(MAX(gap) AS BIGINT) max_gap_sec
FROM g GROUP BY 1 HAVING COUNT(gap) >= 1""")
def q_events_gap_stats(spark, sf):
    """Inter-arrival statistics per user (lag window + aggregate):
    average / max gap in seconds between consecutive events. Partitioned
    by user_id — per-entity frames stay tiny at any corpus size."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (ev.select("user_id", gap.alias("gap"))
            .groupBy("user_id")
            .agg(F.count("gap").cast("long").alias("n_gaps"),
                 F.round(F.avg("gap"), 6).alias("avg_gap_sec"),
                 F.max("gap").cast("long").alias("max_gap_sec"))
            .where(F.col("n_gaps") >= 1))


@query("events_transitions", oracle="""
WITH o AS (SELECT event_type,
                  LAG(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) prev_type
           FROM events),
c AS (SELECT prev_type, event_type AS next_type, COUNT(*) cnt
      FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, CAST(cnt AS BIGINT) AS cnt,
       ROUND(cnt * 1.0 / SUM(cnt) OVER (PARTITION BY prev_type), 6) AS prob
FROM c""")
def q_events_transitions(spark, sf):
    """First-order Markov transition matrix over user event streams:
    P(next_type | prev_type) from consecutive same-user events — the
    behavioral-model primitive under next-action prediction and funnel
    anomaly detection. One lag window per user (per-entity frames,
    high-cardinality partition key), one (prev, next)-grain aggregation;
    the row-normalizing SUM window runs over the <= |types|^2 aggregate,
    never the event stream."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (ev.select("user_id", "ts", "event_id", "event_type")
         .withColumn("prev_type", F.lag("event_type").over(w))
         .where(F.col("prev_type").isNotNull()))
    cnt = (t.groupBy("prev_type", F.col("event_type").alias("next_type"))
           .agg(F.count(F.lit(1)).alias("cnt")))
    tot = Window.partitionBy("prev_type")
    return cnt.select(
        "prev_type", "next_type", F.col("cnt").cast("long").alias("cnt"),
        F.round(F.col("cnt") / F.sum("cnt").over(tot), 6).alias("prob"))


@query("events_sketch_rollup", oracle="""
SELECT event_type, COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_bound
FROM events GROUP BY event_type""")
def q_events_sketch_rollup(spark, sf):
    """MERGEABLE distinct sketches (DataSketches HLL): per-day user
    sketches built once, then re-aggregated to per-type totals by sketch
    UNION — the 100 TB pattern approx_count_distinct can't do:
    pre-aggregate daily partitions incrementally, answer coarser rollups
    later without touching raw data. Oracle-checkable contract form: the
    union-merged estimate must land within 10% of the exact per-type
    distinct count (DataSketches lgK=12 measures <2% off at sf0.01), so
    the DuckDB twin states n_days, the exact count, and TRUE; a merge
    bug (unioning the wrong key, losing a day's sketch) flips the hash."""
    ev = load_table(spark, sf, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.hll_sketch_agg("user_id").alias("sk")))
    merged = (daily.groupBy("event_type")
              .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                   F.hll_sketch_estimate(F.hll_union_agg("sk"))
                   .alias("approx")))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_users")))
    return (merged.join(exact, "event_type")
            .select("event_type", "n_days", "exact_users",
                    (F.abs(F.col("approx") - F.col("exact_users"))
                     <= F.col("exact_users") * F.lit(0.10))
                    .alias("within_bound")))


@query("events_approx_percentiles", oracle="""
SELECT event_type, COUNT(*) AS n, TRUE AS rank_error_ok
FROM events GROUP BY event_type""")
def q_events_approx_percentiles(spark, sf):
    """approx_percentile rank-error contract, oracle-checkable: the
    t-digest/GK estimate itself is engine-specific, but its RANK
    guarantee is statable — the fraction of values at or below the
    approximate p50 must sit in [0.45, 0.55] (accuracy 10000 bounds rank
    error at 1e-4; the contract allows 5%). The query computes the
    fraction against the raw data itself, per event type; the oracle
    states n and TRUE. This is the sketch-percentile analogue of the
    HLL bound contract (q_events_approx_distinct)."""
    ev = load_table(spark, sf, "events")
    ap = (ev.groupBy("event_type")
          .agg(F.approx_percentile("value", F.lit(0.5), F.lit(10000))
               .alias("ap50"),
               F.count(F.lit(1)).alias("n")))
    j = ev.join(F.broadcast(ap), "event_type")
    return (j.groupBy("event_type")
            .agg(F.max("n").alias("nmax"),
                 (F.sum((F.col("value") <= F.col("ap50")).cast("long"))
                  / F.max("n")).alias("frac"))
            .select("event_type", F.col("nmax").cast("long").alias("n"),
                    F.col("frac").between(0.45, 0.55)
                    .alias("rank_error_ok")))


@query("events_hour_spine", oracle="""
WITH span AS (SELECT date_trunc('hour', MIN(ts)) lo,
                     date_trunc('hour', MAX(ts)) hi FROM events),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) hr
          FROM span),
c AS (SELECT date_trunc('hour', ts) hr, COUNT(*) n FROM events GROUP BY 1)
SELECT strftime(spine.hr, '%Y-%m-%d %H:%M:%S') hr,
       CAST(COALESCE(c.n, 0) AS BIGINT) n
FROM spine LEFT JOIN c ON spine.hr = c.hr""")
def q_events_hour_spine(spark, sf):
    """Gap-filled time series via a generated date spine: per-hour event
    counts INCLUDING empty hours across the observed span — the spine is
    sequence()-exploded from one (min,max) row (no driver loop), then
    the sparse counts left-join onto it."""
    ev = load_table(spark, sf, "events")
    counts = (ev.groupBy(F.date_trunc("hour", "ts").alias("hr"))
              .agg(F.count(F.lit(1)).alias("n")))
    span = ev.agg(F.date_trunc("hour", F.min("ts")).alias("lo"),
                  F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = span.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr"))
    return (spine.join(counts, "hr", "left")
            .select(F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hr"),
                    F.coalesce("n", F.lit(0)).cast("long").alias("n")))


@query("events_k_anonymity", oracle="""
WITH q AS (SELECT event_type, EXTRACT(hour FROM ts) hr,
                  CAST(FLOOR(value / 10) AS BIGINT) vb FROM events),
g AS (SELECT event_type, hr, vb, COUNT(*) n FROM q GROUP BY 1, 2, 3)
SELECT CAST(COUNT(*) AS BIGINT) n_groups,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         groups_under_k,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) rows_at_risk
FROM g""")
def q_events_k_anonymity(spark, sf):
    """k-anonymity audit: how many events sit in quasi-identifier groups
    (event_type, hour-of-day, value-decile-bucket) smaller than k=5 —
    the re-identification risk surface before a data release. One
    group-by; risk counts, not rows."""
    ev = load_table(spark, sf, "events")
    q = ev.select("event_type", F.hour("ts").alias("hr"),
                  F.floor(F.col("value") / 10).cast("long").alias("vb"))
    g = q.groupBy("event_type", "hr", "vb").agg(
        F.count(F.lit(1)).alias("n"))
    return (g.groupBy()
            .agg(F.count(F.lit(1)).cast("long").alias("n_groups"),
                 F.sum(F.when(F.col("n") < 5, 1).otherwise(0))
                 .cast("long").alias("groups_under_k"),
                 F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
                 .cast("long").alias("rows_at_risk")))


@query("events_unpivot", oracle="""
WITH wide AS (
  SELECT strftime(ts, '%Y-%m-%d') event_day,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) n_click,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) n_error,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) n_purchase,
         SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) n_signup,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) n_view
  FROM events GROUP BY 1)
SELECT event_day, event_type, CAST(n AS BIGINT) n
FROM wide UNPIVOT (n FOR event_type IN (
  n_click AS 'click', n_error AS 'error', n_purchase AS 'purchase',
  n_signup AS 'signup', n_view AS 'view'))
WHERE n > 0""")
def q_events_unpivot(spark, sf):
    """UNPIVOT/melt coverage: the pivoted per-day type counts melted back
    to long form via stack() — wide->long reshape without ever exploding
    the fact table (the melt runs on the day-grain pivot output)."""
    wide = q_events_pivot(spark, sf)
    cols = ", ".join(f"'{t}', n_{t}" for t in _EVENT_TYPES)
    return (wide.select(
        "event_day",
        F.expr(f"stack({len(_EVENT_TYPES)}, {cols}) AS (event_type, n)"))
        .where(F.col("n") > 0))


@query("events_click_purchase_days", oracle="""
WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS d, COUNT(*) n
           FROM events WHERE event_type = 'click' GROUP BY 1),
p AS (SELECT strftime(ts, '%Y-%m-%d') AS d, COUNT(*) n
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT COALESCE(c.d, p.d) AS "day",
       CAST(COALESCE(c.n, 0) AS BIGINT) n_clicks,
       CAST(COALESCE(p.n, 0) AS BIGINT) n_purchases
FROM c FULL OUTER JOIN p ON c.d = p.d""")
def q_events_click_purchase_days(spark, sf):
    """FULL OUTER join coverage: daily click counts vs daily purchase
    counts — days where either side is missing survive with NULL-side
    zero-fill. Both sides pre-aggregate to day grain before the join, so
    the outer join carries days, not events."""
    ev = load_table(spark, sf, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    clicks = (ev.where(F.col("event_type") == "click").select(day)
              .groupBy("day").agg(F.count(F.lit(1)).alias("n_clicks")))
    buys = (ev.where(F.col("event_type") == "purchase").select(day)
            .groupBy("day").agg(F.count(F.lit(1)).alias("n_purchases")))
    return (clicks.join(buys, "day", "full_outer")
            .select("day",
                    F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
                    F.coalesce("n_purchases", F.lit(0))
                    .alias("n_purchases")))


@query("events_forward_fill", oracle="""
SELECT event_id, user_id,
       ROUND(LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END
                        IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS filled_value
FROM events""")
def q_events_forward_fill(spark, sf):
    """Gap filling: error events carry no usable reading (value masked to
    NULL), forward-filled from the user's last non-null value — the
    last(ignorenulls) running-frame idiom, per-entity partitions."""
    ev = load_table(spark, sf, "events")
    masked = ev.select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") != "error", F.col("value"))
        .alias("value"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return masked.select(
        "event_id", "user_id",
        F.round(F.last("value", ignorenulls=True).over(w), 6)
        .alias("filled_value"))


@query("events_json_variant", oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) sum_k,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
         avg_k,
       CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) n_with_k
FROM events GROUP BY 1""")
def q_events_json_variant(spark, sf):
    """Semi-structured props via the VARIANT type (Spark 4): parse_json
    ONCE per row, then typed variant_get extractions — the open-schema
    ingestion path. At scale variant beats per-field get_json_object
    re-parses (one parse, binary-encoded fields, shredded column reads);
    this query extracts + aggregates a typed field per event type."""
    ev = load_table(spark, sf, "events")
    v = ev.select("event_type",
                  F.parse_json("props").alias("pv"))
    k = F.variant_get("pv", "$.k", "bigint")
    return (v.groupBy("event_type")
            .agg(F.sum(k).alias("sum_k"),
                 F.round(F.avg(k), 6).alias("avg_k"),
                 F.count(k).cast("long").alias("n_with_k")))


@query("events_session_window", oracle="""
WITH o AS (
  SELECT user_id, value, epoch_us(ts) us,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                      >= 1800 * 1000000
              THEN 1 ELSE 0 END brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, brk DESC
                           ROWS UNBOUNDED PRECEDING) sid
  FROM o)
SELECT user_id, MIN(us) start_us, MAX(us) + 1800 * 1000000 end_us,
       CAST(COUNT(*) AS BIGINT) n_events, ROUND(SUM(value), 6) sum_value
FROM s GROUP BY user_id, sid""")
def q_events_session_window(spark, sf):
    """Built-in session_window sessionization (gap 30 min): dynamic
    merging windows in ONE aggregation — same session semantics as the
    lag/island construction (q_events_sessions) but expressed as the
    idiomatic Spark built-in session_window
    (streaming.events.session_window_counts)."""
    ev = load_table(spark, sf, "events")
    return EV.session_window_counts(ev, "30 minutes")


@query("events_mad_outliers", oracle="""
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) med FROM events
             GROUP BY 1),
ad AS (SELECT e.event_type, m.med, ABS(e.value - m.med) ad
       FROM events e JOIN med m USING (event_type)),
mad AS (SELECT event_type, quantile_cont(ad, 0.5) mad FROM ad GROUP BY 1)
SELECT ad.event_type, ROUND(MIN(ad.med), 6) med, ROUND(MIN(mad.mad), 6) mad,
       CAST(SUM(CASE WHEN ROUND(ad.ad, 6) > ROUND(3 * mad.mad, 6)
                THEN 1 ELSE 0 END) AS BIGINT) n_outliers
FROM ad JOIN mad USING (event_type) GROUP BY 1""")
def q_events_mad_outliers(spark, sf):
    """Robust anomaly counts: per event type, the median / MAD of `value`
    (exact interpolated percentiles) and how many events sit further than
    3 MADs from the median. Two aggregation passes with tiny broadcast
    thresholds — the fact table never shuffles on a data-sized key."""
    ev = load_table(spark, sf, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    ad = (ev.join(F.broadcast(med), "event_type")
          .select("event_type", "med",
                  F.abs(F.col("value") - F.col("med")).alias("ad")))
    mad = ad.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad"))
    return (ad.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.round(F.min("med"), 6).alias("med"),
                 F.round(F.min("mad"), 6).alias("mad"),
                 F.sum(F.when(F.round(F.col("ad"), 6)
                              > F.round(3 * F.col("mad"), 6), 1)
                       .otherwise(0)).cast("long").alias("n_outliers")))


# mergeable histogram quantile sketch: the twin is ONE whole-corpus
# build — equality with the Spark side's 4-shard merge IS the
# mergeability property (counter-sum commutativity, the
# stream_cms_state contract); the estimate is closed-form
@query("events_quantile_sketch", oracle="""
WITH b AS (
  SELECT CAST(LEAST(GREATEST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 0.5),
                             0), 999) AS INT) bin
  FROM events WHERE value IS NOT NULL),
sk AS (SELECT bin, CAST(COUNT(*) AS BIGINT) cnt FROM b GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) n FROM sk),
cum AS (SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) cum
        FROM sk),
qs AS (SELECT CAST(q AS DOUBLE) q
       FROM (VALUES (0.5), (0.9), (0.99)) t(q)),
tr AS (SELECT q, CAST(CEIL(q * CAST(n AS DOUBLE)) AS BIGINT) target_rank
       FROM qs CROSS JOIN tot)
SELECT tr.q, tr.target_rank,
       ROUND(0.0 + (MIN(c.bin) + 1) * 0.5, 6) est
FROM tr JOIN cum c ON c.cum >= tr.target_rank
GROUP BY 1, 2 ORDER BY tr.q""")
def q_events_quantile_sketch(spark, sf):
    """Mergeable fixed-boundary histogram quantile sketch
    (operators.sketches.hist_sketch_*): the events value column binned
    into 1000 cells over [0, 500) by four independent ingest shards
    (event_id % 4 — four separate builds, the per-batch refresh
    shape), merged cell-wise, then p50/p90/p99 read off the binned CDF
    at nearest rank. The oracle twin is a SINGLE whole-corpus build —
    equality IS the mergeability property (the stream_cms_state
    contract: counter-sum commutativity), and the estimate itself is
    deterministic closed-form (integer target rank, integer cumulative
    counts, 6dp bin edge), unlike t-digest/GK whose state is
    order-dependent. Sketch-grain work: the row stream never shuffles
    beyond 4 bin-grain map-combined aggs."""
    from casf_spark.operators import sketches as SKC
    ev = load_table(spark, sf, "events")
    parts = None
    for i in range(4):
        s = SKC.hist_sketch_build(
            ev.where(F.col("event_id") % 4 == i), "value",
            0.0, 500.0, 1000)
        parts = s if parts is None else parts.unionByName(s)
    merged = SKC.hist_sketch_merge(parts)
    return SKC.hist_sketch_quantiles(merged, [0.5, 0.9, 0.99],
                                     0.0, 500.0, 1000)
