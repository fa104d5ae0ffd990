"""Registry: event-time / streaming-semantics queries, expressed in batch so
the DuckDB oracle can check them (SURVEY.md §2.9 + the watermark/window
extensions the reference lacks). The live Structured Streaming pipelines in
``etl_backend_spark.streaming`` share these transformations.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.catalog import Catalog
from . import register


@register(
    "stream_window_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY window_start, event_type
    """,
)
def q_stream_window_tumbling(spark, sf_dir):
    """Tumbling event-time window agg — the event-time reasoning the
    reference lacks entirely (SURVEY.md §2.9); in streaming mode the same
    expression runs under withWatermark."""
    ev = Catalog(spark, sf_dir).table("events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@register(
    "stream_window_sliding",
    oracle="""
    SELECT window_start, count(*) AS n FROM (
      SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE FROM events
    ) GROUP BY window_start
    """,
)
def q_stream_window_sliding(spark, sf_dir):
    """Sliding window (10 min length, 5 min slide): every event lands in
    exactly two overlapping windows — the oracle enumerates both starts."""
    ev = Catalog(spark, sf_dir).table("events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


# ONE oracle definition per plain/bucketed twin pair (r13 review: the
# bucketed variants carried verbatim copies of their twins' oracle SQL,
# so a semantics fix applied to one could silently miss the other and
# the gates would diverge undetected). Bodies are shared the same way
# via the _*_over(source_frame) helpers below each plain register.
_SESSIONIZE_ORACLE = """
    WITH o AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
      FROM events
    ), m AS (
      SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s
      FROM o
    ), s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """

_ZSCORE_ORACLE = """
    SELECT event_id, user_id,
           round((value - avg(value) OVER (PARTITION BY user_id))
                 / stddev_samp(value) OVER (PARTITION BY user_id), 4) AS z
    FROM events
    """

_GAPFILL_LOCF_ORACLE = """
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             round(avg(value), 4) AS v
      FROM events GROUP BY user_id, h
    ), spans AS (
      SELECT user_id, min(h) AS lo, max(h) AS hi FROM b GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM spans
    ), j AS (
      SELECT grid.user_id, grid.h, b.v
      FROM grid LEFT JOIN b USING (user_id, h)
    )
    SELECT user_id, h AS hour_ts, v AS avg_value,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM j
    """


def _sessionize_over(ev):
    """30-min-gap session windows over any events frame — ONE body for
    the plain/bucketed twins (r13 review)."""
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


@register(
    "stream_sessionize",
    oracle=_SESSIONIZE_ORACLE,
)
def q_stream_sessionize(spark, sf_dir):
    """Session windows (30-min gap) — ``session_window`` in Spark; the oracle
    replicates the gap semantics with a gaps-and-islands window chain.
    Spark merges an event into a session iff its ts is strictly within gap of
    the previous event; the oracle's `>= INTERVAL` new-session test matches.
    """
    ev = Catalog(spark, sf_dir).table("events")
    return _sessionize_over(ev)


@register("stream_sessionize_bucketed", oracle=_SESSIONIZE_ORACLE)
def q_stream_sessionize_bucketed(spark, sf_dir):
    """stream_sessionize over events BUCKETED ON user_id
    (sources.catalog.bucketed_events_table): the session-window
    aggregation's required user_id distribution is satisfied by the scan
    — ZERO exchanges for the whole sessionization (plan-asserted), where
    the plain form shuffles the full events table per query. Same
    one-time-ingest amortization as the orderkey fact pair."""
    from ..sources.catalog import bucketed_events_table

    ev = spark.table(bucketed_events_table(spark, sf_dir))
    return _sessionize_over(ev)


def _zscore_over(ev):
    """Per-user z-score over any events frame — ONE body for the
    plain/bucketed twins (r13 review)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return ev.select("event_id", "user_id", F.round(z, 4).alias("z"))


@register("events_zscore_bucketed", oracle=_ZSCORE_ORACLE)
def q_events_zscore_bucketed(spark, sf_dir):
    """events_zscore over the user-bucketed layout: the per-key window's
    distribution comes from the scan — zero exchanges (plan-asserted),
    vs one full-table shuffle per query on the plain path."""
    from ..sources.catalog import bucketed_events_table

    ev = spark.table(bucketed_events_table(spark, sf_dir))
    return _zscore_over(ev)


@register(
    "stream_agg_touch",
    oracle="""
    SELECT user_id, max(ts) AS updated_at, count(*) AS n_messages
    FROM events GROUP BY user_id
    """,
)
def q_stream_agg_touch(spark, sf_dir):
    """Running max(ts) per key — `Conversation.updatedAt` maintenance
    (reference src/websocket.ts:65-68, src/routes/chat.ts:205-208); in
    streaming mode this is outputMode('update') on the same groupBy."""
    ev = Catalog(spark, sf_dir).table("events")
    return ev.groupBy("user_id").agg(
        F.max("ts").alias("updated_at"), F.count(F.lit(1)).alias("n_messages")
    )


@register(
    "join_asof",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, NULL::BIGINT AS rv, 1 AS side
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, event_id, 0
      FROM events WHERE event_type = 'signup'
    ), w AS (
      SELECT *, last_value(rv IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY ts ASC, side ASC, rv ASC
        ROWS UNBOUNDED PRECEDING) AS asof_signup
      FROM u
    )
    SELECT event_id, user_id, ts, asof_signup FROM w WHERE side = 1
    """,
)
def q_join_asof(spark, sf_dir):
    """As-of join (absent in reference AND in stock Spark): each purchase
    matched to the user's latest signup at-or-before it — union + running
    last(ignorenulls), one shuffle, no inequality join."""
    from ..operators import joins

    ev = Catalog(spark, sf_dir).table("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_id")
    )
    return joins.asof_join(
        purchases, signups, "user_id", "ts", "signup_id", out_col="asof_signup"
    )


@register(
    "featurestore_pit",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view,
             CASE WHEN event_type = 'click' THEN value END AS click_val,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_label
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ), w AS (
      SELECT *,
        sum(is_view) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS n_views_asof,
        last_value(click_val IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS last_click_value
      FROM u
    )
    SELECT event_id, user_id, ts,
           CAST(n_views_asof AS BIGINT) AS n_views_asof,
           last_click_value
    FROM w WHERE is_label = 1
    """,
)
def q_featurestore_pit(spark, sf_dir):
    """Point-in-time-correct training-set assembly — the core operation
    of a feature store (get_historical_features): every label event
    (purchase) is joined to feature values AS OF its own timestamp —
    the user's cumulative view count and their latest click value —
    with no future leakage by construction: both features are running
    window aggregates over rows at-or-before the label in (ts,
    event_id) order. N features ride ONE union + ONE per-user window
    exchange (the join_asof union trick generalized: a wide feature set
    adds columns, not exchanges — at 100 TB this is why PIT assembly is
    a single shuffle, not a per-feature-table inequality join).
    last_click_value is a raw double passthrough (a SELECTED value, not
    a blend), so it hash-checks exactly."""
    ev = Catalog(spark, sf_dir).table("events")
    from pyspark.sql import Window

    u = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id", "ts", "event_id",
        (F.col("event_type") == "view").cast("int").alias("is_view"),
        F.when(F.col("event_type") == "click", F.col("value"))
        .alias("click_val"),
        (F.col("event_type") == "purchase").cast("int").alias("is_label"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.select(
            "event_id", "user_id", "ts", "is_label",
            F.sum("is_view").over(w).cast("long").alias("n_views_asof"),
            F.last("click_val", ignorenulls=True).over(w)
            .alias("last_click_value"),
        )
        .filter(F.col("is_label") == 1)
        .drop("is_label")
    )


@register(
    "join_range_count",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, count(e.ts) AS n_errors_1h
    FROM events p
    LEFT JOIN events e
      ON e.user_id = p.user_id AND e.event_type = 'error'
     AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def q_join_range_count(spark, sf_dir):
    """Range join (absent in reference): errors within the hour before each
    purchase, via the bucket-expansion equi-join (shuffle on (key, bucket),
    never an all-pairs inequality join)."""
    from ..operators import joins

    ev = Catalog(spark, sf_dir).table("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    return joins.range_join_count(
        purchases, errors, "user_id", "ts", "1 hour", out_col="n_errors_1h"
    )


@register("events_zscore", oracle=_ZSCORE_ORACLE)
def q_events_zscore(spark, sf_dir):
    """Per-key normalization (z-score of value within each user) via window
    aggregates — one shuffle on the key. The grouped-map ``applyInPandas``
    form of the same computation is pytest-asserted equal (the pandas path
    is for per-group logic Spark expressions can't say; this one they can)."""
    ev = Catalog(spark, sf_dir).table("events")
    return _zscore_over(ev)


@register(
    "events_user_daily",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
    GROUP BY user_id
    """,
)
def q_events_user_daily(spark, sf_dir):
    """Time-sliced per-user rollup over the COMBINED layout
    (sources.catalog.partitioned_bucketed_events_table: event_date
    partitions + user_id buckets): the date bounds prune whole
    directories at plan time, the exact ts bounds push to row groups,
    and the per-user aggregation consumes the bucket partitioning —
    PartitionFilters AND zero exchanges in one plan (plan-asserted).
    This is the dashboard shape at 100 TB: scan two days' directories,
    aggregate per user without moving a row. The derived event_date
    bounds reuse the granularity-slop rule (over-widened, never
    under-widened)."""
    import datetime as _dt

    from ..sources.catalog import (
        event_date_bounds,
        partitioned_bucketed_events_table,
    )

    lo, hi = "2024-01-10T00:00:00", "2024-01-12T00:00:00"
    t_lo, t_hi = _dt.datetime.fromisoformat(lo), _dt.datetime.fromisoformat(hi)
    d_lo, d_hi = event_date_bounds(spark, sf_dir, lo, hi)
    ev = spark.table(partitioned_bucketed_events_table(spark, sf_dir))
    return (
        ev.filter(
            (F.col("event_date") >= F.lit(d_lo))
            & (F.col("event_date") <= F.lit(d_hi))
            & (F.col("ts") >= F.lit(t_lo))
            & (F.col("ts") < F.lit(t_hi))
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "events_time_range",
    oracle="""
    SELECT event_id, user_id, ts, event_type FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
    """,
)
def q_events_time_range(spark, sf_dir):
    """Time-ranged event scan on the partitioned layout: derived event_date
    bounds prune whole day-directories at plan time (PartitionFilters) and
    the exact ts bounds push to parquet row-group min/max
    (``sources.catalog.load_events_time_range``; plan-asserted in
    tests/test_operators.py). Since round 3 the default ``load_table`` path
    reads the same layout, so ANY ts predicate pushes down — at 100 TB the
    difference between scanning two days and a decade."""
    from ..sources.catalog import load_events_time_range

    return load_events_time_range(
        spark, sf_dir, "2024-01-10T00:00:00", "2024-01-12T00:00:00"
    ).select("event_id", "user_id", "ts", "event_type")


@register(
    "source_custom_datasource",
    oracle="""
    WITH g AS (
      SELECT unnest(generate_series(0, 1999)) AS i
    ), h AS (
      SELECT i,
             list_sum(list_transform(generate_series(1, 8),
               p -> (strpos('0123456789abcdef',
                            substr(md5(CAST(i AS VARCHAR)), p, 1)) - 1)
                    * (1::BIGINT << (4 * (8 - p)))))::BIGINT AS h
      FROM g
    )
    SELECT i AS event_id,
           TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 SECOND AS ts,
           h % 100 AS user_id,
           (['click', 'view', 'purchase', 'signup', 'error'])[(h % 5) + 1]
             AS event_type,
           round((h % 10000) / 100.0, 2) AS value,
           '{"k": ' || CAST(h % 100 AS VARCHAR) || '}' AS props
    FROM h
    """,
)
def q_source_custom_datasource(spark, sf_dir):
    """The custom PySpark-4 Python DataSource read THROUGH the registry
    gate: 2000 synthetic chat events generated executor-side from
    (partition, offset) — each partition emits an id-disjoint slice, so
    content is independent of parallelism (pytest-asserted) and replay-
    identical (the streaming reader shares the generator). The generator is
    md5-deterministic, so DuckDB rebuilds the identical rows and the oracle
    value-checks the whole source: schema, typed columns, timestamp
    arithmetic, and payload strings. sf_dir is unused — the source IS the
    data (reference src/websocket.ts:38-63 traffic, without a live socket)."""
    from ..sources.event_source import SyntheticEventsDataSource

    spark.dataSource.register(SyntheticEventsDataSource)
    return (
        spark.read.format("synthetic_events")
        .option("numRows", 2000)
        .option("numPartitions", 8)
        .load()
    )


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1) AS n_view,
           (SELECT count(*) FROM s2) AS n_view_click,
           (SELECT count(*) FROM s3) AS n_view_click_purchase
    """,
)
def q_events_funnel(spark, sf_dir):
    """Ordered funnel (view → click → purchase): each stage keeps users
    whose first stage-k event strictly FOLLOWS their first stage-(k-1)
    event — the order-sensitive product-analytics staple a plain
    per-type count can't answer.

    ONE exchange total: all three stage timestamps are unbounded window
    aggregates over the SAME user_id partitioning (stage k's filter
    references stage k-1's window column, so the chain is three window
    projections over one shuffle+sort), and the per-user collapse reuses
    that partitioning, so the groupBy adds no exchange. The first cut of
    this operator staged k aggregations with k-1 joins — 3 shuffles and
    7.2x on the sf0.1→sf1 decade; this form removed the joins entirely
    (plan-asserted single user exchange in tests/test_operators.py)."""
    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id")
    ts, typ = F.col("ts"), F.col("event_type")
    d = (
        ev.select("user_id", "ts", "event_type")
        .withColumn("fv", F.min(F.when(typ == "view", ts)).over(w))
        .withColumn(
            "fc",
            F.min(F.when((typ == "click") & (ts > F.col("fv")), ts)).over(w),
        )
        .withColumn(
            "fp",
            F.min(
                F.when((typ == "purchase") & (ts > F.col("fc")), ts)
            ).over(w),
        )
    )
    per_user = d.groupBy("user_id").agg(
        F.max("fv").alias("fv"), F.max("fc").alias("fc"),
        F.max("fp").alias("fp"),
    )
    return per_user.agg(
        F.count("fv").alias("n_view"),
        F.count("fc").alias("n_view_click"),
        F.count("fp").alias("n_view_click_purchase"),
    )


@register(
    "events_retention_cohort",
    oracle="""
    WITH first AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week,
                          date_trunc('week', e.ts)) / 7 AS INT) AS week_n,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN first ON e.user_id = first.user_id
    GROUP BY cohort_week, week_n
    ORDER BY cohort_week, week_n
    """,
)
def q_events_retention_cohort(spark, sf_dir):
    """Weekly retention cohorts: users grouped by first-seen week, counted
    distinct in each subsequent week — the cohort-triangle report. Two
    shuffles total: the first-seen aggregate (one row per user), then the
    (cohort, week) distinct-count whose partial dedup collapses each
    user's events map-side. Both Mondays-truncated timestamps subtract to
    an exact multiple of 7 days, so the week index is integer-exact on
    both engines."""
    ev = Catalog(spark, sf_dir).table("events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.date_trunc("week", F.col("ts")),
                        F.col("cohort_week")) / 7)
            .cast("int").alias("week_n"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_n")
    )


def _gapfill_locf_over(ev):
    """Hourly gap-fill + LOCF over any events frame — ONE body for the
    plain/bucketed twins (r13 review); the gap-local explode design is
    documented on q_events_gapfill_locf."""
    from pyspark.sql import Window

    b = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.round(F.avg("value"), 4).alias("v"))
    w = Window.partitionBy("user_id").orderBy("h")
    b2 = b.withColumn("next_h", F.lead("h").over(w))
    # each observed bucket EMITS its own gap: explode the hours from the
    # observation up to (not including) the next one — the carried value
    # IS this bucket's v, so LOCF needs no grid join and no second pass
    exploded = b2.select(
        "user_id", "v", "h",
        F.explode(
            F.sequence(
                F.col("h"),
                F.coalesce(
                    F.col("next_h") - F.expr("interval 1 hour"),
                    F.col("h"),
                ),
                F.expr("interval 1 hour"),
            )
        ).alias("hour_ts"),
    )
    return exploded.select(
        "user_id", "hour_ts",
        F.when(F.col("hour_ts") == F.col("h"), F.col("v"))
        .alias("avg_value"),
        F.col("v").alias("filled_value"),
    )


@register("events_gapfill_locf", oracle=_GAPFILL_LOCF_ORACLE)
def q_events_gapfill_locf(spark, sf_dir):
    """Time-bucket gap-fill + last-observation-carried-forward — the
    TimescaleDB ``time_bucket_gapfill``/``locf`` analog a sensor/metrics
    pipeline needs: hourly per-user averages, a complete hour grid over
    EACH USER'S OWN [first, last] active span (so silent interior hours
    EXIST as rows), and forward-fill of the last observed value.

    Scale shape — gap-local generation, no grid join: each observed
    bucket emits its own gap rows (lead(h) + sequence-explode), carrying
    its value forward directly — ONE exchange (the bucket aggregate),
    one window pass, no join, grid size O(sum of active-span hours)
    distributed on the aggregation's own partitioning. Two rejected
    designs, both caught by the decade sweep: a global users x hours
    cross join (112M rows from one task at sf1 — 105 s) and a span-grid
    LEFT JOIN + LOCF window (5.8 s; the join and second pass are pure
    overhead once you notice the carried value is just the emitting
    bucket's own v). Gapfill over a caller-chosen fixed window composes
    by filtering events first."""
    ev = Catalog(spark, sf_dir).table("events")
    return _gapfill_locf_over(ev)


@register(
    "events_interp_linear",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             round(avg(value), 4) AS v
      FROM events GROUP BY user_id, h
    ), spans AS (
      SELECT user_id, min(h) AS lo, max(h) AS hi FROM b GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM spans
    ), j AS (
      SELECT grid.user_id, grid.h, b.v
      FROM grid LEFT JOIN b USING (user_id, h)
    ), n AS (
      SELECT user_id, h, v,
        last_value(v IGNORE NULLS) OVER w_back AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
          OVER w_back AS ph,
        first_value(v IGNORE NULLS) OVER w_fwd AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
          OVER w_fwd AS nh
      FROM j
      WINDOW w_back AS (PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_fwd AS (PARTITION BY user_id ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, h AS hour_ts, v AS avg_value,
      CASE
        WHEN v IS NOT NULL THEN CAST(round(v * 10000) AS BIGINT)
        WHEN pv IS NULL AND nv IS NULL THEN NULL
        WHEN pv IS NULL OR nv IS NULL
          THEN CAST(round(coalesce(pv, nv) * 10000) AS BIGINT)
        ELSE (CAST(round(pv * 10000) AS BIGINT)
                * (date_diff('second', h, nh))
              + CAST(round(nv * 10000) AS BIGINT)
                * (date_diff('second', ph, h)))
             // date_diff('second', ph, nh)
      END AS interp_1e4
    FROM n
    """,
)
def q_events_interp_linear(spark, sf_dir):
    """Linear interpolation over the gap-filled hour grid — the
    ``interpolate()`` twin of ``events_gapfill_locf``: a silent hour gets
    the time-weighted blend of the PREVIOUS and NEXT observed bucket
    values (edges fall back to the nearest single observation). Both
    neighbor scans are unbounded windows over the SAME user partitioning
    — one exchange serves the grid join, both neighbor windows, and the
    blend; nothing rescans the fact."""
    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).table("events")
    b = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.round(F.avg("value"), 4).alias("v"))
    # gap-local neighbors: lead() gives each observed bucket its next
    # observation, and the gap rows it emits know BOTH endpoints at
    # explode time — one window pass, one sort, no grid join, no reverse
    # scan. (History: [current, unboundedFollowing] frames are
    # re-evaluated per row by Spark — O(partition²), 116 s at sf1; the
    # DESC-sort running-scan fix measured 12.1 s; this form removes the
    # second sort and the join entirely.)
    w = Window.partitionBy("user_id").orderBy("h")
    b2 = b.select(
        "user_id", "h", "v",
        F.lead("h").over(w).alias("nh"),
        F.lead("v").over(w).alias("nv"),
    )
    n = b2.select(
        "user_id", "v",
        F.col("h").alias("ph"), F.col("v").alias("pv"), "nh", "nv",
        F.explode(
            F.sequence(
                F.col("h"),
                F.coalesce(F.col("nh") - F.expr("interval 1 hour"),
                           F.col("h")),
                F.expr("interval 1 hour"),
            )
        ).alias("h"),
    ).withColumn(
        "v", F.when(F.col("h") == F.col("ph"), F.col("v"))
    )
    # integer-exact blend in 1e-4 units: the 4-decimal bucket values scale
    # to exact bigints, the time weights are whole seconds, and `div` is
    # integer division — NO float op after the windows, so there is no
    # cross-engine rounding boundary to disagree on (a float blend + round
    # flipped 180 of 108k rows between Spark and DuckDB round() ties).
    P = F.round(F.col("pv") * 10000).cast("long")
    N = F.round(F.col("nv") * 10000).cast("long")
    a = F.unix_timestamp("h") - F.unix_timestamp("ph")
    b_total = F.unix_timestamp("nh") - F.unix_timestamp("ph")
    # FLOOR division to match DuckDB's `//` on negative blends too
    # (Spark's `div` truncates toward zero): subtract the non-negative
    # pmod remainder first, so the final divide is exact on longs.
    blend = F.expr(
        "cast((( __p * (__b - __a) + __n * __a)"
        " - pmod(__p * (__b - __a) + __n * __a, __b)) / __b as bigint)"
    )
    interp = (
        F.when(F.col("v").isNotNull(),
               F.round(F.col("v") * 10000).cast("long"))
        .when(F.col("pv").isNull() & F.col("nv").isNull(), F.lit(None))
        .when(F.col("pv").isNull() | F.col("nv").isNull(),
              F.round(F.coalesce("pv", "nv") * 10000).cast("long"))
        .otherwise(blend)
    )
    return n.withColumn("__p", P).withColumn("__n", N) \
        .withColumn("__a", a).withColumn("__b", b_total) \
        .select(
            "user_id", F.col("h").alias("hour_ts"),
            F.col("v").alias("avg_value"),
            interp.alias("interp_1e4"),
        )


@register(
    "events_rollup_cascade",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             count(*) AS n, sum(value) AS sv
      FROM events GROUP BY user_id, h
    ), daily AS (
      SELECT user_id, date_trunc('day', h) AS d,
             sum(n) AS n, sum(sv) AS sv
      FROM hourly GROUP BY user_id, d
    )
    SELECT user_id, date_trunc('month', d) AS m,
           CAST(sum(n) AS BIGINT) AS n, round(sum(sv), 2) AS sum_value,
           CAST(count(*) AS INT) AS active_days
    FROM daily GROUP BY user_id, m
    ORDER BY user_id, m
    """,
)
def q_events_rollup_cascade(spark, sf_dir):
    """Cascading time rollup (the continuous-aggregate pattern): hour →
    day → month, each tier aggregating the PREVIOUS tier, never the raw
    facts — at 100 TB the hourly tier reads the events once and every
    coarser tier reads rows proportional to |users| x |finer buckets|.
    count/sum are the algebraic aggregates that re-aggregate losslessly
    (avg is derived as sv/n at read time; percentiles need sketches —
    agg_hll_mergeable / agg_approx_quantile are that path). The month
    tier also carries active_days, a fact you can ONLY get from the
    cascade (counting daily rows), not from re-scanning raw events
    cheaper. All three tiers share the user hash partitioning, so tiers
    2 and 3 add no exchange under AQE coalescing."""
    ev = Catalog(spark, sf_dir).table("events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    daily = hourly.groupBy(
        "user_id", F.date_trunc("day", F.col("h")).alias("d")
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    return (
        daily.groupBy(
            "user_id", F.date_trunc("month", F.col("d")).alias("m")
        )
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sv"), 2).alias("sum_value"),
            F.count(F.lit(1)).cast("int").alias("active_days"),
        )
        .orderBy("user_id", "m")
    )


@register("events_gapfill_locf_bucketed", oracle=_GAPFILL_LOCF_ORACLE)
def q_events_gapfill_locf_bucketed(spark, sf_dir):
    """Gap-fill + LOCF over the user-bucketed layout — ZERO exchanges
    end to end (plan-asserted in tests/test_events_layout.py): the scan's
    user_id bucketing satisfies both the (user, hour) bucket aggregate
    (hash(user) clusters (user, hour) too) and the lead() window, and the
    gap-local explode is narrow. The whole timeseries pipeline becomes a
    per-bucket computation; at 100 TB the one-time bucketed write
    amortizes across every grid/window/sessionize query this family
    runs."""
    from ..sources.catalog import bucketed_events_table

    ev = spark.table(bucketed_events_table(spark, sf_dir))
    return _gapfill_locf_over(ev)


@register(
    "events_outliers_mad",
    oracle="""
    WITH m AS (
      SELECT user_id, median(value) AS med FROM events GROUP BY user_id
    ), d AS (
      SELECT e.user_id, e.event_id, e.value, m.med,
             abs(e.value - m.med) AS dev
      FROM events e JOIN m ON e.user_id = m.user_id
    ), s AS (
      SELECT user_id, median(dev) AS mad FROM d GROUP BY user_id
    )
    SELECT d.user_id, event_id, round(value, 2) AS value,
           round(med, 4) AS med, round(mad, 4) AS mad
    FROM d JOIN s ON d.user_id = s.user_id
    WHERE dev > 3 * mad AND mad > 0
    ORDER BY d.user_id, event_id
    """,
)
def q_events_outliers_mad(spark, sf_dir):
    """Robust per-user outlier detection via median absolute deviation —
    the z-score's (events_zscore) heavy-tail-safe sibling: a single hot
    value can't drag the center or the spread the way it drags
    mean/stddev. Two grouped exact medians (center, then deviation
    spread), each one shuffle row per user; the deviation join reuses
    the user partitioning. Cross-engine exact: medians interpolate the
    same doubles identically, and the 3x threshold compares values both
    engines computed bit-for-bit."""
    ev = Catalog(spark, sf_dir).table("events")
    m = ev.groupBy("user_id").agg(F.median("value").alias("med"))
    d = ev.join(m, "user_id").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    s = d.groupBy(F.col("user_id").alias("__u")).agg(
        F.median("dev").alias("mad")
    )
    return (
        d.join(s, d["user_id"] == F.col("__u"))
        .filter((F.col("dev") > 3 * F.col("mad")) & (F.col("mad") > 0))
        .select(
            "user_id", "event_id",
            F.round("value", 2).alias("value"),
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "events_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(least(floor(value / 50.0), 9) AS INT) AS bucket,
           count(*) AS n
    FROM events
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def q_events_value_histogram(spark, sf_dir):
    """Fixed-width value histogram per event type (10 buckets of 50, top
    bucket open-ended): the monitoring-dashboard shape — one grouped
    count whose key space is |types| x |buckets| regardless of event
    volume, so the shuffle is constant-size at any scale. Integer-exact
    bucket arithmetic on both engines."""
    ev = Catalog(spark, sf_dir).table("events")
    bucket = F.least(F.floor(F.col("value") / 50.0), F.lit(9)).cast("int")
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bucket")
    )


@register(
    "join_asof_tolerance",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, NULL::BIGINT AS rv,
             NULL::TIMESTAMP AS rts, 1 AS side
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, event_id, ts, 0
      FROM events WHERE event_type = 'signup'
    ), w AS (
      SELECT *,
        last_value(rv IGNORE NULLS) OVER win AS m_id,
        last_value(rts IGNORE NULLS) OVER win AS m_ts
      FROM u
      WINDOW win AS (PARTITION BY user_id ORDER BY ts ASC, side ASC, rv ASC
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, user_id, ts,
           CASE WHEN m_ts IS NOT NULL
                 AND date_diff('second', m_ts, ts) <= 604800
                THEN m_id END AS asof_signup_7d
    FROM w WHERE side = 1
    """,
)
def q_join_asof_tolerance(spark, sf_dir):
    """As-of join with a TOLERANCE bound (pandas merge_asof(tolerance=…)):
    each purchase takes the user's latest signup at-or-before it ONLY if
    it happened within 7 days — stale matches null out, exactly the
    freshness contract feature-store point-in-time lookups need. Same
    union + running-last(ignorenulls) shape as join_asof (one shuffle,
    no inequality join); the matched TIMESTAMP rides along so the gap
    check is a post-window expression, not a second pass."""
    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).table("events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("long").alias("rv"),
        F.lit(None).cast("timestamp").alias("rts"),
        F.lit(1).alias("side"),
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id",
        F.col("event_id").alias("rv"), F.col("ts").alias("rts"),
        F.lit(0).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("side").asc(), F.col("rv").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = p.unionByName(s).select(
        "*",
        F.last("rv", ignorenulls=True).over(w).alias("m_id"),
        F.last("rts", ignorenulls=True).over(w).alias("m_ts"),
    )
    gap_ok = (
        F.unix_timestamp("ts") - F.unix_timestamp("m_ts")
    ) <= 604800
    return u.filter(F.col("side") == 1).select(
        "event_id", "user_id", "ts",
        F.when(F.col("m_ts").isNotNull() & gap_ok, F.col("m_id"))
        .alias("asof_signup_7d"),
    )


@register(
    "events_dow_hour_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hod,
           count(*) AS n, round(avg(value), 4) AS avg_value
    FROM events GROUP BY dow, hod ORDER BY dow, hod
    """,
)
def q_events_dow_hour_heatmap(spark, sf_dir):
    """Day-of-week x hour-of-day activity heatmap — the ops-dashboard
    staple: one grouped pass with a FIXED 7x24 key space, so the shuffle
    is constant-size at any volume. Engine note: Spark's dayofweek is
    1-based (Sunday=1) where DuckDB's is 0-based (Sunday=0) — the
    builder subtracts 1 so both sides hash the same convention."""
    ev = Catalog(spark, sf_dir).table("events")
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("value"), 4).alias("avg_value"))
        .orderBy("dow", "hod")
    )


@register(
    "events_wau_exact",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ), days AS (SELECT DISTINCT d FROM du)
    SELECT days.d AS day,
           CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
    FROM days JOIN du
      ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
    GROUP BY days.d ORDER BY day
    """,
)
def q_events_wau_exact(spark, sf_dir):
    """Rolling 7-day active users per day (WAU) — the growth metric no
    plain window can give you (COUNT(DISTINCT) has no sliding-frame
    form): dedup to DAILY (day, user) pairs first (the only corpus-sized
    pass), then an interval join against the tiny broadcast day grid
    re-counts distinct users per 7-day window — the fan-out is
    |daily pairs| x 7, independent of raw event volume. At larger
    windows/cardinalities the sketch path is ``agg_hll_mergeable``'s
    per-day HLLs unioned over the window."""
    ev = Catalog(spark, sf_dir).table("events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).alias("d"), "user_id"
    ).distinct()
    days = du.select(F.col("d").alias("day")).distinct()
    return (
        du.join(
            F.broadcast(days),
            (F.col("d") <= F.col("day"))
            & (F.col("d") >= F.col("day") - F.expr("INTERVAL 6 DAYS")),
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
        .orderBy("day")
    )


@register(
    "events_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ), days AS (SELECT DISTINCT d FROM du),
    dau AS (SELECT d AS day, count(DISTINCT user_id) AS dau
            FROM du GROUP BY d),
    wau AS (
      SELECT days.d AS day, count(DISTINCT du.user_id) AS wau
      FROM days JOIN du
        ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
      GROUP BY days.d
    )
    SELECT dau.day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           round(dau * 1.0 / wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    ORDER BY dau.day
    """,
)
def q_events_stickiness(spark, sf_dir):
    """DAU/WAU stickiness per day — the engagement ratio product teams
    watch: daily actives over rolling-7-day actives, both derived from
    ONE daily-pair dedup of the fact (the only corpus-sized pass; the
    dau aggregate and the day-grid interval join both read it)."""
    ev = Catalog(spark, sf_dir).table("events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).alias("d"), "user_id"
    ).distinct()
    dau = du.groupBy(F.col("d").alias("day")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    days = du.select(F.col("d").alias("wday")).distinct()
    wau = (
        du.join(
            F.broadcast(days),
            (F.col("d") <= F.col("wday"))
            & (F.col("d") >= F.col("wday") - F.expr("INTERVAL 6 DAYS")),
        )
        .groupBy("wday")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["day"] == wau["wday"])
        .select(
            "day", "dau", "wau",
            F.round(F.col("dau") * 1.0 / F.col("wau"), 4)
            .alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "events_ewma",
    oracle="""
    WITH l AS (
      -- explicit aggregate ordering (ADVICE r6): an upstream CTE's
      -- ORDER BY surviving a GROUP BY is an implementation artifact of
      -- DuckDB's insertion-order preservation; ORDER BY inside list()
      -- is the contract
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vs) AS BIGINT) AS n,
           list_reduce(vs, (a, x) -> (a + x) / 2) AS ewma_last
    FROM l
    """,
)
def q_events_ewma(spark, sf_dir):
    """Per-user EWMA (alpha = 1/2) — the sequential recurrence no window
    frame expresses, folded as a higher-order-function aggregate over the
    per-key ordered array: e_0 = v_0, e_t = (e_{t-1} + v_t) / 2. The
    dyadic alpha is chosen deliberately: add-then-halve is EXACT IEEE
    arithmetic applied in the identical order on both engines, so the
    gate hash-matches the raw doubles with no rounding — the one way a
    continuous blend can be value-checked bit-for-bit (measurement
    rules). Scale shape: one keyed shuffle (repartition-first grouped
    collect — collect_list has no combine benefit), per-user arrays stay
    bounded by per-user event counts, and the fold is codegen-free HOF
    but allocation-light. DuckDB replays the same fold via list_reduce
    (whose seed is the first element, matching e_0 = v_0)."""
    from ..sources.catalog import Catalog

    ev = Catalog(spark, sf_dir).table("events")
    arr = F.sort_array(
        F.collect_list(F.struct("ts", "event_id", "value"))
    )
    vs = F.transform(arr, lambda s: s["value"])
    g = (
        ev.select("user_id", "ts", "event_id", "value")
        .repartition(F.col("user_id"))
        .groupBy("user_id")
        .agg(vs.alias("vs"))
    )
    fold = F.when(
        F.size("vs") == 1, F.element_at("vs", 1)
    ).otherwise(
        F.aggregate(
            F.slice("vs", 2, F.size("vs") - 1),
            F.element_at("vs", 1),
            lambda a, x: (a + x) / F.lit(2.0),
        )
    )
    return g.select(
        "user_id",
        F.size("vs").cast("long").alias("n"),
        fold.alias("ewma_last"),
    )


@register(
    "events_cusum_drift",
    oracle="""
    WITH v AS (
      SELECT user_id,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vs,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS i
      FROM events
    ), s AS (
      SELECT user_id, count(*) AS n, sum(vs) AS tot FROM v GROUP BY user_id
    ), w AS (
      SELECT v.user_id, v.i, s.n,
             sum(s.n * v.vs - s.tot - s.n * 500) OVER (
               PARTITION BY v.user_id ORDER BY v.i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM v JOIN s USING (user_id)
    ), c AS (
      SELECT user_id, i, n,
             p - least(CAST(0 AS BIGINT), min(p) OVER (
               PARTITION BY user_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS t
      FROM w
    )
    SELECT user_id, CAST(max(n) AS BIGINT) AS n,
           max(t) AS max_cusum,
           CAST(min(CASE WHEN t > n * 20000 THEN i END) AS BIGINT)
             AS first_alarm_idx,
           count(CASE WHEN t > n * 20000 THEN 1 END) > 0 AS alarmed
    FROM c GROUP BY user_id
    """,
)
def q_events_cusum_drift(spark, sf_dir):
    """Per-user CUSUM change-point detection (Page 1954 — the drift
    monitor of production data pipelines), EXACT cross-engine: the
    recursive statistic T_t = max(0, T_{t-1} + w_t) is rewritten by the
    classical identity T_t = P_t - min(0, min_{j<=t} P_j) into a running
    sum minus a running min — two window functions over ONE per-user
    partitioning, no fold at all. Exactness comes from integer-only
    arithmetic: values quantize to 1e-4 units via the portable
    floor(x * 10000 + 0.5) spelling, and the n-SCALED deviation
    w_i = n*v_i - sum - n*k avoids the rational per-user mean entirely
    (k = 0.05 units allowance, alarm threshold h = 2.0 units, both
    n-scaled). Output: the max CUSUM statistic, the first alarm index,
    and the alarm flag per user — all exact BIGINTs. Scale shape: one
    keyed exchange shared by the stats join and both window passes."""
    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).table("events")
    v = ev.select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 10000 + 0.5).cast("long").alias("vs"),
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stats = Window.partitionBy("user_id")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v = v.select(
        "user_id", "ts", "event_id", "vs",
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(stats).alias("n"),
        F.sum("vs").over(stats).alias("tot"),
    )
    p = F.sum(
        F.col("n") * F.col("vs") - F.col("tot") - F.col("n") * 500
    ).over(run)
    c = v.select(
        "user_id", "i", "n",
        (p - F.least(F.lit(0).cast("long"), F.min(p).over(run))).alias("t"),
    )
    return c.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n"),
        F.max("t").alias("max_cusum"),
        F.min(
            F.when(F.col("t") > F.col("n") * 20000, F.col("i"))
        ).cast("long").alias("first_alarm_idx"),
        (F.count(
            F.when(F.col("t") > F.col("n") * 20000, F.lit(1))
        ) > 0).alias("alarmed"),
    )


@register(
    "events_holt_linear",
    oracle="""
    WITH l AS (
      -- accumulator is a 2-element LIST [level, trend], not a struct:
      -- DuckDB 1.0 list_reduce mis-evaluates the second field of a
      -- STRUCT accumulator when the lambda has CASE branches (the same
      -- inputs give the right value standalone and a wrong one inside
      -- the fold); the LIST accumulator folds correctly
      SELECT user_id,
             list([value, CAST(rn AS DOUBLE)] ORDER BY rn) AS es
      FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
      ) GROUP BY user_id
    ),
    f AS (
      SELECT user_id, len(es) AS n,
        CASE WHEN len(es) = 1
             THEN [es[1][1], 0.0]
             ELSE list_reduce(es, (a, e) ->
                CASE WHEN e[2] = 2.0
                     THEN [e[1], e[1] - a[1]]
                     ELSE [(e[1] + a[1] + a[2]) / 2,
                           (((e[1] + a[1] + a[2]) / 2 - a[1]) + a[2]) / 2]
                END)
        END AS acc
      FROM l
    )
    SELECT user_id, CAST(n AS BIGINT) AS n,
           acc[1] AS level, acc[2] AS trend,
           acc[1] + acc[2] AS forecast_next
    FROM f
    """,
)
def q_events_holt_linear(spark, sf_dir):
    """Per-user Holt double exponential smoothing (level + trend, alpha =
    beta = 1/2) — the trend-aware sibling of events_ewma, the recurrence
    behind short-horizon demand/traffic forecasts:

        l_t = (v_t + l_{t-1} + b_{t-1}) / 2
        b_t = ((l_t - l_{t-1}) + b_{t-1}) / 2      (init l_2=v_2, b_2=v_2-v_1)

    Coupled recurrences need a STRUCT accumulator, which DuckDB's
    list_reduce cannot seed arbitrarily (seed = first list element). The
    trick extending the EWMA exact-blend contract: fold over structs of
    (value, 1-based position) so seed and accumulator share one type, and
    let the lambda bootstrap on position 2 (CASE e.b = 2.0) before
    switching to the smoothing step. Every step is add/subtract/halve —
    exact IEEE ops in identical left-associated order on both engines —
    so level, trend, AND the one-step forecast hash-match on RAW doubles
    with no rounding (measurement rules' dyadic exception, now for a
    2-state recurrence). Scale shape: identical to events_ewma — one
    keyed shuffle, repartition-first grouped collect, per-user arrays
    bounded by per-user counts. Spark builds positions with transform's
    index lambda AFTER sort_array, so no window exchange is needed."""
    ev = Catalog(spark, sf_dir).table("events")
    arr = F.sort_array(
        F.collect_list(F.struct("ts", "event_id", "value"))
    )
    es = F.transform(
        arr,
        lambda s, i: F.struct(
            s["value"].alias("l"),
            (i + F.lit(1)).cast("double").alias("b"),
        ),
    )
    g = (
        ev.select("user_id", "ts", "event_id", "value")
        .repartition(F.col("user_id"))
        .groupBy("user_id")
        .agg(es.alias("es"))
    )

    def step(a, e):
        l_new = (e["l"] + a["l"] + a["b"]) / F.lit(2.0)
        return F.when(
            e["b"] == F.lit(2.0),
            F.struct(e["l"].alias("l"), (e["l"] - a["l"]).alias("b")),
        ).otherwise(
            F.struct(
                l_new.alias("l"),
                (((l_new - a["l"]) + a["b"]) / F.lit(2.0)).alias("b"),
            )
        )

    acc = F.when(
        F.size("es") == 1,
        F.struct(
            F.element_at("es", 1)["l"].alias("l"),
            F.lit(0.0).alias("b"),
        ),
    ).otherwise(
        F.aggregate(
            F.slice("es", 2, F.size("es") - 1),
            F.element_at("es", 1),
            step,
        )
    )
    return g.select(
        "user_id",
        F.size("es").cast("long").alias("n"),
        acc["l"].alias("level"),
        acc["b"].alias("trend"),
        (acc["l"] + acc["b"]).alias("forecast_next"),
    )


# z-normalized query pattern for events_pattern_topk, precomputed in
# python with the same seed-first fold order both engines use and
# embedded as repr() literals — identical doubles by construction on
# the Spark and DuckDB sides (raw shape: [1, 2, 4, 8, 6, 3, 2, 1], a
# spike)
_TS_PATTERN_Z = [
    -1.0141449740988853, -0.5871365639519862, 0.2668802563418119,
    1.9749138969294082, 1.1208970766356101, -0.16012815380508716,
    -0.5871365639519862, -1.0141449740988853,
]
_TS_PATTERN_SQL = "[" + ", ".join(repr(v) for v in _TS_PATTERN_Z) + "]"


@register(
    "events_pattern_topk",
    oracle=f"""
    WITH win AS (
      SELECT user_id, event_id,
             list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS vs
      FROM events
    ), f AS (
      SELECT user_id, event_id, vs,
             list_reduce(vs, (a, x) -> a + x) / 8.0 AS m
      FROM win WHERE len(vs) = 8
    ), g AS (
      SELECT user_id, event_id, vs, m,
             sqrt(list_reduce(
               list_transform(vs, x -> (x - m) * (x - m)),
               (a, x) -> a + x) / 8.0) AS sd
      FROM f
    ), d AS (
      SELECT user_id, event_id,
             list_reduce(
               list_transform(
                 list_transform(generate_series(1, 8),
                   i -> (vs[i] - m) / sd - ({_TS_PATTERN_SQL})[i]),
                 y -> y * y),
               (a, x) -> a + x) AS zdist2
      FROM g WHERE sd > 0
    )
    SELECT user_id, event_id, zdist2 FROM d
    ORDER BY zdist2 ASC, user_id ASC, event_id ASC LIMIT 10
    """,
)
def q_events_pattern_topk(spark, sf_dir):
    """TIME-SERIES PATTERN SEARCH: top-10 per-user sliding windows most
    similar to a fixed query shape under z-normalized squared Euclidean
    distance — the UCR-suite convention (amplitude/offset invariant),
    the subsequence-similarity primitive of the retrieved EDBT'19
    streaming-similarity and REPOSE top-k papers (PAPERS.md), and the
    events family's missing member next to ewma/outliers/zscore.

    Spark shape: ONE keyed shuffle (user window, ordered ts+event_id);
    because the window length is FIXED, the frame is 7 codegen'd
    ``lead()`` columns and every fold UNROLLS into flat left-associated
    column arithmetic inside WholeStageCodegen — the first form used
    collect_list + interpreted HOF folds (~17 us per lambda pass, 4
    passes/row) and the five-decade sweep caught it at 84 s for 30M
    events at sf10; the unrolled form is the same arithmetic at
    codegen speed. (Variable-length sequences like events_ewma
    genuinely need the HOF fold; a fixed L does not.) Global top-10 is
    TakeOrderedAndProject, never a single-partition sort. At 100 TB:
    frames never leave their user partition and the candidate stream
    into the top-k is (user, event, double).

    Cross-engine float contract (the events_ewma precedent, extended):
    the oracle's seed-first list_reduce folds are left-associated —
    exactly the association of the unrolled sums — divisions/sqrt are
    single correctly-rounded IEEE ops on identical operands, and the
    z-normalized PATTERN is precomputed in python and embedded as
    repr() literals on both sides — so the gate hash-matches the RAW
    doubles, no rounding."""
    from functools import reduce

    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).table("events").select(
        "user_id", "event_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vcols = [F.col("value").alias("v0")] + [
        F.lead("value", k).over(w).alias(f"v{k}") for k in range(1, 8)
    ]
    win = (ev.select("user_id", "event_id", *vcols)
           .filter(F.col("v7").isNotNull()))
    v = [F.col(f"v{k}") for k in range(8)]
    win = win.withColumn(
        "m", reduce(lambda a, b: a + b, v) / F.lit(8.0))
    m = F.col("m")
    win = win.withColumn(
        "sd",
        F.sqrt(reduce(lambda a, b: a + b,
                      [(x - m) * (x - m) for x in v]) / F.lit(8.0)),
    ).filter(F.col("sd") > 0)
    sd = F.col("sd")
    zq = [(x - m) / sd - F.lit(q) for x, q in zip(v, _TS_PATTERN_Z)]
    out = win.withColumn(
        "zdist2", reduce(lambda a, b: a + b, [y * y for y in zq]))
    return (
        out.select("user_id", "event_id", "zdist2")
        .orderBy(F.col("zdist2").asc(), F.col("user_id").asc(),
                 F.col("event_id").asc())
        .limit(10)
    )


# events above this take the slim-exchange motif plan (flip measured
# between 1M and 10M events; log-midpoint, see q_events_motif_pairs)
_MOTIF_SLIM_MIN_ROWS = 4_000_000

_MOTIF_ORACLE = """
    WITH win AS (
      SELECT user_id, event_id,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS wpos,
             list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS vs
      FROM events
    ), f AS (
      SELECT user_id, event_id, wpos, vs,
             list_reduce(vs, (a, x) -> a + x) / 8.0 AS m
      FROM win WHERE len(vs) = 8
    ), g AS (
      SELECT user_id, event_id, wpos, vs, m,
             sqrt(list_reduce(
               list_transform(vs, x -> (x - m) * (x - m)),
               (a, x) -> a + x) / 8.0) AS sd
      FROM f
    ), z AS (
      SELECT user_id, event_id, wpos,
             list_transform(vs, x -> (x - m) / sd) AS z
      FROM g WHERE sd > 0
    ), sax AS (
      SELECT user_id, event_id, wpos, z,
             list_reduce(list_transform(z, x ->
               CASE WHEN x < -0.6745 THEN '0'
                    WHEN x < 0.0 THEN '1'
                    WHEN x < 0.6745 THEN '2'
                    ELSE '3' END), (a, b) -> a || b) AS w
      FROM z
    ), rare AS (
      SELECT w FROM sax GROUP BY w HAVING count(*) <= 64
    ), sx AS (
      SELECT sax.* FROM sax JOIN rare USING (w)
    ), cand AS (
      SELECT a.user_id AS user_a, a.event_id AS event_a,
             b.user_id AS user_b, b.event_id AS event_b,
             list_reduce(
               list_transform(generate_series(1, 8),
                 i -> (a.z[i] - b.z[i]) * (a.z[i] - b.z[i])),
               (p, q) -> p + q) AS zdist2
      FROM sx a JOIN sx b ON a.w = b.w
        AND (a.user_id < b.user_id
             OR (a.user_id = b.user_id AND a.event_id < b.event_id))
      WHERE NOT (a.user_id = b.user_id AND abs(a.wpos - b.wpos) < 8)
    )
    SELECT user_a, event_a, user_b, event_b, zdist2 FROM cand
    ORDER BY zdist2 ASC, user_a ASC, event_a ASC, user_b ASC, event_b ASC
    LIMIT 20
    """


@register("events_motif_pairs", oracle=_MOTIF_ORACLE)
def q_events_motif_pairs(spark, sf_dir):
    """MOTIF DISCOVERY: the 20 closest NON-OVERLAPPING window pairs in
    the corpus under z-normalized distance — "which shape repeats?", the
    HOT-SAX/matrix-profile question, answered with the SAX recipe that
    scales: discretize each z-normalized window into a 4-symbol word
    (gaussian breakpoints -0.6745 / 0 / 0.6745), JOIN ON THE WORD
    (candidates = windows sharing a bucket, never the all-pairs
    product), exact distance on candidates, global top-20. Words held
    by > 64 windows are dropped before pairing — flat/ubiquitous
    shapes are the time-series analogue of boilerplate shingles, and
    the cap is the same pair-blowup budget as dedup_ngram_jaccard's
    DF-cap: candidate volume stays O(windows x cap). Same-user windows
    within 7 positions are excluded (trivial self-overlap, the motif
    convention). Window build + z-norm reuse the codegen-unrolled
    lead() shape of events_pattern_topk.

    BUCKET-LOCAL pairing (r9): the r8 form ran rare-word counting as a
    groupBy + semi join and pairing as a SHUFFLE_HASH self-join — four
    evaluations of the events-scan + user-window + z-norm subtree
    (per-branch pruning defeats ReuseExchange; plan-counted 4 scans /
    4 Window nodes — the dsir diagnosis). Because the rare cap bounds
    every SAX-word bucket at 64 windows, pairing is the LSH
    bucket-local shape: word buckets hash into coarse groups
    (_coarse_groups sizing) and ONE numpy kernel per bucket
    (functions/vectors.py bucket_motif_pairs_pandas) applies the cap,
    generates non-overlapping a<b pairs, folds zdist2 with the
    identical left-assoc chain, and pushes per-group top-20 selection
    down (selection under a total order is associative) — one subtree
    evaluation, one exchange, and the global TakeOrdered re-ranks
    <= 20 x n_groups skinny rows. sf10 interleaved: 4.2-5.9 s ->
    ~2.1 s vs oracle 2.4-3.0 s (parity-to-faster; BASELINE.md r9).
    Raw-double oracle (identical fold association, no rounding), same
    contract as the pattern search.

    SIZE-GATED plan switch (r10): above _MOTIF_SLIM_MIN_ROWS events
    (parquet-footer read, the adaptive-bits recipe) the builder
    DELEGATES to the slim-exchange plan — interleaved A/Bs measured the
    flip between 1M and 10M events even on this compute-bound VM
    (sf0.1 default 21% faster, sf1 default 28% faster, sf10 slim 40%
    FASTER, sf30 slim 50% FASTER: over-cap payload mass grows with the
    corpus, so the saved exchange bytes overtake the second skinny
    subtree pass). Value-neutral — both plans share this oracle — so
    the gate needs no ORACLE_GATES entry."""
    from ..functions import vectors as V
    from ..sources.catalog import parquet_num_rows
    from .llm import _coarse_groups

    n_rows = parquet_num_rows(sf_dir, "events")
    if n_rows >= _MOTIF_SLIM_MIN_ROWS:
        return q_events_motif_pairs_slim(spark, sf_dir)
    zx = _motif_zx(spark, sf_dir)
    grouped = zx.withColumn(
        "g", F.pmod(F.hash("w"), F.lit(_coarse_groups(n_rows)))
    ).groupBy("g").applyInPandas(
        V.bucket_motif_pairs_pandas(cap=64, wlen=8, topk=20),
        "user_a long, event_a long, user_b long, event_b long, zdist2 double",
    )
    return (
        grouped
        .orderBy(F.col("zdist2").asc(), F.col("user_a").asc(),
                 F.col("event_a").asc(), F.col("user_b").asc(),
                 F.col("event_b").asc())
        .limit(20)
    )


def _motif_zx(spark, sf_dir):
    """Shared SAX-window subtree of the motif-pair variants: 8-wide
    value windows per user, z-normalized, discretized into the 4-symbol
    SAX word `w`; emits (w, user_id, event_id, wpos, z[8])."""
    from functools import reduce

    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).table("events").select(
        "user_id", "event_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vcols = [F.col("value").alias("v0")] + [
        F.lead("value", k).over(w).alias(f"v{k}") for k in range(1, 8)
    ]
    win = (ev.select("user_id", "event_id",
                     F.row_number().over(w).alias("wpos"), *vcols)
           .filter(F.col("v7").isNotNull()))
    v = [F.col(f"v{k}") for k in range(8)]
    win = win.withColumn("m", reduce(lambda a, b: a + b, v) / F.lit(8.0))
    m = F.col("m")
    win = win.withColumn(
        "sd",
        F.sqrt(reduce(lambda a, b: a + b,
                      [(x - m) * (x - m) for x in v]) / F.lit(8.0)),
    ).filter(F.col("sd") > 0)
    sd = F.col("sd")
    zcols = [((x - m) / sd).alias(f"z{k}") for k, x in enumerate(v)]
    sym = [
        F.when(F.col(f"z{k}") < F.lit(-0.6745), F.lit("0"))
        .when(F.col(f"z{k}") < F.lit(0.0), F.lit("1"))
        .when(F.col(f"z{k}") < F.lit(0.6745), F.lit("2"))
        .otherwise(F.lit("3"))
        for k in range(8)
    ]
    return (
        win.select("user_id", "event_id", "wpos", *zcols)
        .withColumn("w", F.concat(*sym))
        .select(
            "w", "user_id", "event_id", "wpos",
            F.array(*[F.col(f"z{k}") for k in range(8)]).alias("z"),
        )
    )


@register("events_motif_pairs_slim", oracle=_MOTIF_ORACLE)
def q_events_motif_pairs_slim(spark, sf_dir):
    """SLIM-EXCHANGE motif pairs — the network-bound alternate of
    ``events_motif_pairs``, registered the way tpch_q9_partsupp_join
    preserves the general-case plan (VERDICT r9 #3). Identical values
    (same oracle, same kernel); different shuffle economics:

    * the DEFAULT one-pass plan evaluates the SAX-window subtree ONCE
      and ships EVERY window's 8-double z payload into the bucket
      exchange — the kernel drops over-cap (> 64-window) words after
      the shuffle. Measured shuffle amplification 6.2 (SCALE.md cost
      table): right on this VM where exchange bytes are memcpy, wrong
      when the exchange crosses a real network.
    * THIS plan materializes the window table ONCE as a
      localCheckpoint (r15 — column pruning made the two zx subtrees
      non-identical, defeating exchange reuse, so the r10 form paid
      the events scan AND the per-user window sort twice; interleaved
      A/Bs: −6.6% / −7.9%, identical rows), counts windows per word
      from the checkpoint, broadcasts the rare-word set — bounded by
      the SAX parameter space, |alphabet|^wlen = 4^8 = 65536 words
      max, a few hundred KB, NEVER corpus-sized — and semi-joins it
      map-side BEFORE the exchange, so the z-payload shuffle carries
      ONLY rare-word windows (the over-cap words that dominate bytes
      in a periodic/flat-heavy corpus never ship). The kernel's own
      cap stays as a no-op guard, so kernel contract and output are
      unchanged. The checkpoint trades O(windows) LOCAL executor
      storage for the second scan+sort pass — on the network-bound
      cluster this variant targets, local disk is exactly the resource
      that is NOT binding.

    Selection rule (SCALE.md cost-model table): pick slim when
    exchange bytes are the binding resource (network-bound cluster,
    high over-cap mass); pick the default when compute is (this VM:
    one subtree evaluation beats the saved bytes — sf10 receipts in
    BASELINE.md r9/r10)."""
    from ..functions import vectors as V
    from ..sources.catalog import parquet_num_rows
    from .llm import _coarse_groups

    zx = _motif_zx(spark, sf_dir).localCheckpoint(eager=True)
    rare = (
        zx.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= 64)
        .select("w")
    )
    slim = zx.join(F.broadcast(rare), "w", "left_semi")
    n_rows = parquet_num_rows(sf_dir, "events")
    grouped = slim.withColumn(
        "g", F.pmod(F.hash("w"), F.lit(_coarse_groups(n_rows)))
    ).groupBy("g").applyInPandas(
        V.bucket_motif_pairs_pandas(cap=64, wlen=8, topk=20),
        "user_a long, event_a long, user_b long, event_b long, zdist2 double",
    )
    return (
        grouped
        .orderBy(F.col("zdist2").asc(), F.col("user_a").asc(),
                 F.col("event_a").asc(), F.col("user_b").asc(),
                 F.col("event_b").asc())
        .limit(20)
    )


@register(
    "events_discord_topk",
    oracle="""
    WITH win AS (
      SELECT user_id, event_id,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS wpos,
             list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS vs
      FROM events
    ), f AS (
      SELECT user_id, event_id, wpos, vs,
             list_reduce(vs, (a, x) -> a + x) / 8.0 AS m
      FROM win WHERE len(vs) = 8
    ), g AS (
      SELECT user_id, event_id, wpos, vs, m,
             sqrt(list_reduce(
               list_transform(vs, x -> (x - m) * (x - m)),
               (a, x) -> a + x) / 8.0) AS sd
      FROM f
    ), z AS (
      SELECT user_id, event_id, wpos,
             list_transform(vs, x -> (x - m) / sd) AS z
      FROM g WHERE sd > 0
    ), sax AS (
      SELECT user_id, event_id, wpos, z,
             list_reduce(list_transform(z, x ->
               CASE WHEN x < -0.6745 THEN '0'
                    WHEN x < 0.0 THEN '1'
                    WHEN x < 0.6745 THEN '2'
                    ELSE '3' END), (a, b) -> a || b) AS w
      FROM z
    ), rare AS (
      SELECT w FROM sax GROUP BY w HAVING count(*) <= 64
    ), sx AS (
      SELECT sax.* FROM sax JOIN rare USING (w)
    ), nn AS (
      SELECT a.user_id, a.event_id,
             min(list_reduce(
               list_transform(generate_series(1, 8),
                 i -> (a.z[i] - b.z[i]) * (a.z[i] - b.z[i])),
               (p, q) -> p + q)) AS nn_dist
      FROM sx a JOIN sx b ON a.w = b.w
        AND NOT (a.user_id = b.user_id AND abs(a.wpos - b.wpos) < 8)
      GROUP BY a.user_id, a.event_id
    )
    SELECT s.user_id, s.event_id, nn.nn_dist
    FROM sx s LEFT JOIN nn
      ON s.user_id = nn.user_id AND s.event_id = nn.event_id
    ORDER BY nn.nn_dist DESC NULLS FIRST, s.user_id ASC, s.event_id ASC
    LIMIT 10
    """,
)
def q_events_discord_topk(spark, sf_dir):
    """DISCORD (anomaly) SEARCH — the dual of ``events_motif_pairs`` and
    HOT SAX's headline use: the windows FARTHEST from their nearest
    neighbor are the shapes that happen only once, i.e. anomalies. Same
    machinery: z-normalized unrolled windows, SAX words, and the HOT SAX
    heuristic that RARE words (<= 64 holders) are the discord candidate
    set — a window sharing a common word provably has near neighbors and
    cannot be a top discord, so only rare-word windows are examined and
    each window's nearest-neighbor distance is approximated by the min
    exact z-distance among its same-word, non-overlapping peers. A
    candidate with NO peer at all (unique word) is the strongest discord
    and ranks first (null nn_dist, NULLS FIRST on both engines). One
    bucket join + one keyed min — never all-pairs; raw-double oracle.
    The SAX-window subtree comes from the SHARED _motif_zx helper (r13
    review: this body carried a verbatim copy, so a breakpoint or
    window-length change could silently desynchronize the motif/discord
    duals).

    ONE-PASS bucket-local plan (r14 optimization round): the r8-r13
    join form evaluated the _motif_zx subtree FOUR times (rare-word
    count, semi-join, both SHUFFLE_HASH join sides — per-branch pruning
    defeats ReuseExchange, the same plan-counted diagnosis that moved
    events_motif_pairs to its kernel in r9) and paid three exchanges.
    Now the SAME kernel pattern as the motif dual: whole SAX-word
    buckets hash into coarse groups, ONE numpy kernel
    (functions/vectors.bucket_discord_nn_pandas) applies the rare cap,
    computes each window's min non-overlapping same-word z-distance
    with the identical IEEE fold, emits NULL for peerless windows, and
    pushes per-group top-10 selection down — one subtree evaluation,
    one exchange, and the global TakeOrdered re-ranks <= 10 x n_groups
    skinny rows. Above _MOTIF_SLIM_MIN_ROWS events the slim-exchange
    discipline applies unchanged: a skinny second pass counts words,
    the parameter-bounded (<= 4^8) rare set broadcasts, and the
    z-payload exchange carries only rare-word windows."""
    from ..functions import vectors as V
    from ..sources.catalog import parquet_num_rows
    from .llm import _coarse_groups

    zx = _motif_zx(spark, sf_dir)
    n_rows = parquet_num_rows(sf_dir, "events")
    if n_rows >= _MOTIF_SLIM_MIN_ROWS:
        rare = (
            zx.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") <= 64)
            .select("w")
        )
        zx = zx.join(F.broadcast(rare), "w", "left_semi")
    grouped = zx.withColumn(
        "g", F.pmod(F.hash("w"), F.lit(_coarse_groups(n_rows)))
    ).groupBy("g").applyInPandas(
        V.bucket_discord_nn_pandas(cap=64, wlen=8, topk=10),
        "user_id long, event_id long, nn_dist double",
    )
    # belt-and-braces: pandas NaN crosses Arrow as NULL already; if a
    # serializer ever preserved NaN instead, Spark would rank it LAST
    # under DESC NULLS FIRST instead of first — normalize explicitly
    nn_dist = F.when(F.isnan("nn_dist"), F.lit(None).cast("double")) \
               .otherwise(F.col("nn_dist"))
    return (
        grouped.select("user_id", "event_id", nn_dist.alias("nn_dist"))
        .orderBy(F.col("nn_dist").desc_nulls_first(),
                 F.col("user_id").asc(), F.col("event_id").asc())
        .limit(10)
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM pairs
    ORDER BY prev_type, next_type
    """,
)
def q_events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event sequences
    (the 'what happens after X' model behind next-event prediction and
    session simulators): lag each user's (ts, event_id)-ordered stream by
    one, count (prev → next) pairs, normalize per source state. ONE keyed
    exchange carries the lag; the transition matrix itself is |types|^2
    rows — a bounded object regardless of corpus size, so the normalizing
    window runs on a trivially small relation. Integer counts + one
    rounded ratio of integers keep the hash exact cross-engine."""
    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).table("events")
    seq = ev.select(
        "user_id", "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return (
        pairs.select(
            "prev_type", "next_type", "n",
            F.round(F.col("n") * 1.0 / F.sum("n").over(wp), 6).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "events_ab_lift",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             list_sum(list_transform(generate_series(1, 8),
               i -> (strpos('0123456789abcdef',
                            substr(md5('exp1:' || CAST(user_id AS VARCHAR)), i, 1)) - 1)
                    * (1::BIGINT << (4 * (8 - i)))))::BIGINT % 2 AS variant,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ), arms AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted
      FROM assign GROUP BY variant
    )
    SELECT variant, n_users, n_converted,
           round(n_converted * 1.0 / n_users, 6) AS conv_rate
    FROM arms ORDER BY variant
    """,
)
def q_events_ab_lift(spark, sf_dir):
    """A/B experiment readout with DETERMINISTIC bucketing: variant is a
    pure function of the user key (salted md5 — the split_assign hash, so
    assignment is reproducible across runs, engines, and re-shuffles;
    seeded RNG is not), conversion is 'user ever purchased'. One groupBy
    to user grain, one 2-row arm rollup — at 100 TB the per-user collapse
    is the only real shuffle and it map-side-combines. Counts are exact
    integers; the rate is one rounded integer ratio, hash-exact."""
    ev = Catalog(spark, sf_dir).table("events")
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 2
    )
    assign = (
        ev.groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int"))
            .alias("converted")
        )
        .select(variant.alias("variant"), "converted")
    )
    return (
        assign.groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
        )
        .select(
            "variant", "n_users", "n_converted",
            F.round(F.col("n_converted") * 1.0 / F.col("n_users"), 6)
            .alias("conv_rate"),
        )
        .orderBy("variant")
    )


@register(
    "events_cep_pattern",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'v[^e]*p')) AS BIGINT)
             AS n_matches,
           CASE WHEN len(regexp_extract_all(seq, 'v[^e]*p')) > 0
                THEN regexp_extract(seq, 'v[^e]*p') ELSE '' END
             AS first_match
    FROM seqs
    """,
)
def q_events_cep_pattern(spark, sf_dir):
    """Declarative CEP / MATCH_RECOGNIZE stand-in: per-user event
    sequences become ordered type-strings (one char per event — the 5
    event types have distinct initials) and the pattern 'a purchase
    reached from a view with no intervening error' is the regex
    ``v[^e]*p``, counted non-overlapping + first occurrence extracted.
    Sequence-pattern analytics the funnel operator can't express
    (arbitrary regex over the whole ordered history vs fixed ordered
    stages). Exact cross-engine: (ts, event_id) gives a unique total
    order, chars are deterministic, and Java regex and RE2 agree on
    leftmost non-overlapping matching for this pattern class.

    Scale shape: ONE keyed exchange — repartition-first collect (the
    collect_list-has-no-map-side-combine rule), per-user sort + char
    map + regex all JVM expressions after the shuffle; per-user state
    is bounded by that user's event count (the same bound every
    sessionize/funnel op carries), and skewed users would take the
    salted-window recipe. At 100 TB this is the cheapest CEP available:
    no per-event state machine, one pass, no Python."""
    ev = Catalog(spark, sf_dir).table("events")
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id",
                                                 F.col("c").alias("c")))),
            lambda s: s["c"],
        ),
        "",
    )
    pat = r"v[^e]*p"
    seqs = (
        ev.select("user_id", "ts", "event_id",
                  F.substring("event_type", 1, 1).alias("c"))
        .repartition(F.col("user_id"))
        .groupBy("user_id")
        .agg(seq.alias("seq"))
    )
    n = F.regexp_count(F.col("seq"), F.lit(pat))
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        n.cast("long").alias("n_matches"),
        F.when(n > 0, F.regexp_extract("seq", pat, 0))
        .otherwise(F.lit("")).alias("first_match"),
    )
