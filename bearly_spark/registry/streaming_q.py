"""Event-time windows (batch twins of the streaming pipelines) and event-sequence analytics: sessionization, funnels, cohorts, attribution, transitions."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from bearly_spark.sources.tables import events_with_timestamp, load_table

from bearly_spark.registry._core import register
from bearly_spark.registry._shared import _ev_sec_spark



_EV_SEC_SQL = "(epoch_ns(ts) // 1000000000)"


@register(
    "events_tumbling_hourly",
    oracle=f"""
    SELECT CAST({_EV_SEC_SQL} - ({_EV_SEC_SQL} % 3600) AS BIGINT) AS window_start_sec,
           event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_tumbling(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    sec = _ev_sec_spark()
    return (
        ev.select((sec - (sec % 3600)).cast("long").alias("window_start_sec"), "event_type", "value")
        .groupBy("window_start_sec", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "events_sliding_1h_30m",
    oracle=f"""
    WITH b AS (SELECT CAST({_EV_SEC_SQL} - ({_EV_SEC_SQL} % 1800) AS BIGINT) AS bucket
               FROM events),
    w AS (SELECT unnest([bucket - 1800, bucket]) AS window_start_sec FROM b)
    SELECT window_start_sec, COUNT(*) AS n_events FROM w GROUP BY 1
    """,
)
def q_sliding(spark, sf_dir):
    """1-hour windows sliding every 30 min — each event lands in exactly
    two windows (explode), matching F.window(ts,'1 hour','30 minutes')."""
    ev = load_table(spark, sf_dir, "events")
    sec = _ev_sec_spark()
    bucket = (sec - (sec % 1800)).cast("long")
    return (
        ev.select(
            F.explode(F.array(bucket - 1800, bucket)).alias("window_start_sec")
        )
        .groupBy("window_start_sec")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "events_sessionization",
    oracle=f"""
    WITH e AS (SELECT user_id, CAST({_EV_SEC_SQL} AS BIGINT) AS ts_sec FROM events),
    m AS (SELECT user_id, ts_sec,
                 CASE WHEN LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) IS NULL
                        OR ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM e),
    s AS (SELECT user_id, ts_sec,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM m)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts_sec) AS session_start_sec, MAX(ts_sec) AS session_end_sec
    FROM s GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark, sf_dir):
    """Batch sessionization (30-min inactivity gap) via lag + cumulative
    flag-sum — the batch twin of streaming session_window."""
    from pyspark.sql import Window as SW

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", _ev_sec_spark().cast("long").alias("ts_sec")
    )
    w = SW.partitionBy("user_id").orderBy("ts_sec")
    marked = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts_sec").over(w).isNull()
            | ((F.col("ts_sec") - F.lag("ts_sec").over(w)) > 1800),
            1,
        ).otherwise(0),
    )
    wsum = w.rowsBetween(SW.unboundedPreceding, SW.currentRow)
    sessions = marked.withColumn("session_id", F.sum("new_session").over(wsum).cast("long"))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_sec").alias("session_start_sec"),
        F.max("ts_sec").alias("session_end_sec"),
    )


@register(
    "event_transitions",
    oracle="""
    WITH s AS (SELECT user_id, event_type,
                      LEAD(event_type) OVER (PARTITION BY user_id
                          ORDER BY epoch_ns(ts), event_id) AS next_type
               FROM events),
    c AS (SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
          FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY from_type), 6) AS p
    FROM c
    """,
)
def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams
    — the path-analysis face of product analytics beside the funnel
    (`funnel_conversion_events`) and sessionization: P(next event type |
    current) from each user's time-ordered stream. One shuffle on
    user_id for the LEAD window, then a |types|²-row groupBy; the
    probability normalization runs over the tiny transition matrix
    itself. At 100 TB this is per-key window + wordcount — scales like
    sessionization."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as _W

    w = _W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = _W.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wt), 6).alias("p"),
    )


@register(
    "sequence_pattern_events",
    oracle="""
    WITH s AS (SELECT user_id,
                      string_agg(event_type, ',' ORDER BY epoch_ns(ts), event_id,
                                 event_type) AS sequence
               FROM events GROUP BY user_id)
    SELECT user_id, sequence,
           length(regexp_extract_all(sequence, 'view,(click,)*purchase'))
               AS n_matches,
           length(regexp_extract_all(sequence, 'view,(click,)*purchase')) > 0
               AS matched
    FROM s
    """,
)
def q_sequence_pattern(spark, sf_dir):
    """Event-sequence pattern matching (``mining.sequence_pattern``,
    the MATCH_RECOGNIZE-lite face): each user's stream ordered by
    (ts, event_id) becomes one symbol string; `view,(click,)*purchase`
    counts view→purchase conversions with any click run between —
    non-overlapping leftmost counting, identical in Java regex and
    DuckDB's RE2. One shuffle on user_id, one regex per KEY."""
    from bearly_spark.operators.mining import sequence_pattern

    ev = load_table(spark, sf_dir, "events")
    return sequence_pattern(
        ev, "user_id", ["ts", "event_id"], "event_type",
        "view,(click,)*purchase",
    )


@register(
    "attribution_events",
    oracle="""
    WITH s AS (
      SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS)
               OVER w AS touch_type,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN epoch_ns(ts) END IGNORE NULLS)
               OVER w AS touch_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT user_id, ts, event_id, touch_type, touch_ts
    FROM s WHERE event_type = 'purchase'
    """,
)
def q_attribution(spark, sf_dir):
    """Last-touch attribution (``mining.last_touch_attribution``):
    every purchase credited to the most recent preceding view/click in
    the user's stream; purchases with no prior touch report NULL
    (organic). One window per user — single key shuffle, no self-join,
    O(1) state per row."""
    from bearly_spark.operators.mining import last_touch_attribution

    ev = load_table(spark, sf_dir, "events")
    return last_touch_attribution(
        ev, "user_id", ["ts", "event_id"], "event_type",
        ["view", "click"], "purchase",
    )


@register(
    "active_users_events",
    oracle="""
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY 1),
    wau AS (SELECT day + CAST(o AS INTEGER) AS day, user_id
            FROM du, LATERAL unnest(generate_series(0, 6)) AS t(o)),
    w AS (SELECT day, COUNT(DISTINCT user_id) AS wau7 FROM wau GROUP BY 1)
    SELECT dau.day, dau, wau7,
           ROUND(CAST(dau AS DOUBLE) / wau7, 6) AS stickiness
    FROM dau JOIN w ON dau.day = w.day
    """,
)
def q_active_users(spark, sf_dir):
    """DAU / rolling-7-day-WAU / stickiness per day
    (``windows.rolling_active_users``): rolling DISTINCT via the
    contribute-forward explode of the day-level (day, user) table —
    distincts don't merge across window frames, so each day-user row
    feeds the 7 windows it belongs to, then one count-distinct per
    target day. The engagement dashboard primitive at stream scale."""
    from bearly_spark.operators.windows import rolling_active_users

    ev = events_with_timestamp(spark, sf_dir)
    days = ev.select(
        F.to_date("ts_ts").alias("day"), "user_id"
    )
    return rolling_active_users(days, "user_id", "day", window_days=7)


@register(
    "events_rollup_hourly_daily",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             (CAST(epoch_ns(ts) // 1000000000 AS BIGINT) // 3600) * 3600 AS hour_sec,
             COUNT(*) AS n_events, SUM(value) AS sum_value, MAX(value) AS max_value
      FROM events GROUP BY 1, 2)
    SELECT event_type, (hour_sec // 86400) * 86400 AS day_sec,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           ROUND(SUM(sum_value), 2) AS sum_value,
           ROUND(MAX(max_value), 2) AS max_value
    FROM hourly GROUP BY 1, 2
    """,
)
def q_events_rollup(spark, sf_dir):
    """Hierarchical rollup (hypertable continuous-aggregate pattern):
    daily aggregates computed FROM the hourly aggregate table, not from
    raw events — count/sum/max are mergeable partials, so the daily pass
    reads 24x fewer rows. At 100 TB the hourly table is a materialized
    parquet the daily/weekly/monthly rollups all reuse; here both levels
    run in one plan, with the hour->day re-shuffle touching only the
    (type, hour) aggregate rows."""
    ev = load_table(spark, sf_dir, "events")
    hour_sec = ((F.col("ts") / F.lit(1_000_000_000)).cast("long") / 3600).cast(
        "long"
    ) * 3600
    hourly = (
        ev.groupBy("event_type", hour_sec.alias("hour_sec"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("value").alias("max_value"),
        )
    )
    return (
        hourly.groupBy(
            "event_type",
            ((F.col("hour_sec") / 86400).cast("long") * 86400).alias("day_sec"),
        )
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
            F.round(F.max("max_value"), 2).alias("max_value"),
        )
    )


@register("events_hll_rollup")  # rows-only: sketch bytes are engine-specific
def q_events_hll_rollup(spark, sf_dir):
    """Mergeable distinct-count rollup: hourly HLL sketches of user_id
    (hll_sketch_agg) unioned into daily sketches (hll_union_agg) and
    estimated — the sketch twin of events_rollup_hourly_daily. At 100 TB
    the hourly sketch table is a few KB per (type, hour) row and daily /
    weekly / monthly distinct-user counts all derive from it WITHOUT
    re-touching raw events (COUNT(DISTINCT) partials are not mergeable;
    sketches are). Estimate accuracy vs exact distinct is pinned in
    tests/test_relational_extra.py."""
    ev = load_table(spark, sf_dir, "events")
    hour_sec = ((F.col("ts") / F.lit(1_000_000_000)).cast("long") / 3600).cast(
        "long"
    ) * 3600
    hourly = ev.groupBy("event_type", hour_sec.alias("hour_sec")).agg(
        F.hll_sketch_agg("user_id", 14).alias("user_sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )
    daily = hourly.groupBy(
        "event_type",
        ((F.col("hour_sec") / 86400).cast("long") * 86400).alias("day_sec"),
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias("approx_users"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )
    return daily.orderBy("event_type", "day_sec")




@register(
    "funnel_conversion_events",
    oracle="""
    WITH v AS (SELECT user_id, MIN(epoch_ns(ts)) AS t
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.t
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.t
          GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchase_after_click,
           ROUND((SELECT COUNT(*) FROM p) * 1.0 / (SELECT COUNT(*) FROM v), 6)
               AS conversion
    """,
)
def q_funnel(spark, sf_dir):
    """Ordered funnel analysis (view -> click -> purchase, each stage
    strictly AFTER the previous stage's first occurrence): the canonical
    event-analytics operator. Each stage is one groupBy-min on user_id +
    one equi join back to the event stream — every shuffle keyed on
    user_id, so at 100 TB all three stages co-partition after the first
    exchange (and pre-bucketing events by user_id removes even that).
    Event times are integer nanos — exact in both engines."""
    ev = load_table(spark, sf_dir, "events")
    def stage(prev, etype):
        e = ev.filter(F.col("event_type") == etype).select("user_id", F.col("ts").alias("et"))
        if prev is None:
            return e.groupBy("user_id").agg(F.min("et").alias("t"))
        return (
            e.join(prev, "user_id")
            .filter(F.col("et") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("et").alias("t"))
        )
    # each stage is persisted and pinned by its (needed anyway) count, so
    # stage N+1 builds on the materialized stage N instead of recomputing
    # the whole chain per action
    v = stage(None, "view").persist()
    nv = v.count()
    c = stage(v, "click").persist()
    nc = c.count()
    p = stage(c, "purchase")
    np_ = p.count()
    v.unpersist()
    c.unpersist()
    # Mirror DuckDB's ROUND(x, 6) bit-for-bit: half-away-from-zero on the
    # scaled DOUBLE (floor(x*1e6 + 0.5)/1e6 for x >= 0) — Python's round()
    # is banker's and an exact-decimal quantize would diverge where the
    # double representation of the ratio falls on the other side of a tie.
    conversion = None if nv == 0 else math.floor((np_ / nv) * 1e6 + 0.5) / 1e6
    return ev.sparkSession.createDataFrame(
        [(nv, nc, np_, conversion)],
        "n_view long, n_click_after_view long, n_purchase_after_click long, conversion double",
    )


@register(
    "cohort_retention_events",
    oracle="""
    WITH weekly AS (SELECT DISTINCT user_id,
                           CAST(epoch_ns(ts) // (86400000000000 * 7) AS BIGINT) AS week
                    FROM events),
    first_week AS (SELECT user_id, MIN(week) AS cohort FROM weekly GROUP BY user_id)
    SELECT f.cohort, w.week - f.cohort AS weeks_since,
           COUNT(DISTINCT w.user_id) AS active_users
    FROM weekly w JOIN first_week f ON w.user_id = f.user_id
    GROUP BY f.cohort, weeks_since
    """,
)
def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix (users grouped by first-active week,
    counted per weeks-since-cohort): the second canonical event-analytics
    shape. Week buckets are exact integer arithmetic on the stored
    nanos; both shuffles key on user_id then (cohort, offset) — mergeable
    counts all the way, scale-safe."""
    ev = load_table(spark, sf_dir, "events")
    week = (F.expr("ts DIV 604800000000000")).cast("long")
    weekly = ev.select("user_id", week.alias("week")).distinct()
    first = weekly.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        weekly.join(first, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("weeks_since"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )
