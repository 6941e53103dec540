"""Event-time queries over the `events` table: tumbling / sliding /
session windows (batch semantics, SURVEY.md §2.10), as-of join, range join.

Each window query's math is plain SQL-expressible so results are
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from economic_data_etl_spark.functions.casts import ts_diff_seconds
from economic_data_etl_spark.operators.asof import asof_join
from economic_data_etl_spark.operators.sessionize import sessionize
from economic_data_etl_spark.plans.catalog import biased_round, register
from economic_data_etl_spark.sources.tables import load_table


def _r(col):
    return biased_round(col)


# --------------------------------------------------------------------------
# Tumbling window aggregation.
# --------------------------------------------------------------------------
@register(
    "events_tumbling_window",
    oracle="""
        SELECT
            DATE_TRUNC('hour', ts) AS window_start,
            event_type,
            COUNT(*) AS n_events,
            ROUND(5e-10 + SUM(value), 4) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="1-hour tumbling window via F.window — partial agg then shuffle on (window, type).",
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r(F.sum("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# Sliding window aggregation (1h window, 30min slide → 2 windows/event).
# --------------------------------------------------------------------------
@register(
    "events_sliding_window",
    oracle="""
        SELECT ws AS window_start, COUNT(*) AS n_events,
               ROUND(5e-10 + AVG(value), 4) AS avg_value
        FROM (
            SELECT u.ws, e.value
            FROM (
                SELECT value,
                       time_bucket(INTERVAL '30 minutes', ts) AS tb
                FROM events
            ) e,
            UNNEST([e.tb, e.tb - INTERVAL '30 minutes']) AS u(ws)
        ) t
        GROUP BY ws
        ORDER BY ws
    """,
    doc="Sliding window: each event contributes to window_length/slide buckets.",
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r(F.avg("value")).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
        .orderBy("window_start")
    )


# --------------------------------------------------------------------------
# Session windows (batch gap-based sessionization).
# --------------------------------------------------------------------------
@register(
    "events_session_windows",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts > LAG(ts) OVER w + INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), numbered AS (
            SELECT user_id, ts, value,
                   SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - 1 AS session_id
            FROM flagged
        )
        SELECT user_id,
               CAST(session_id AS BIGINT) AS session_id,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               COUNT(*) AS n_events,
               ROUND(5e-10 + SUM(value), 4) AS session_value
        FROM numbered
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
    doc="30-min-gap sessionization: lag + running sum, then per-session agg.",
)
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, key="user_id", ts="ts", gap="30 minutes")
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            _r(F.sum("value")).alias("session_value"),
        )
        .withColumn("session_id", F.col("session_id").cast("long"))
        .select(
            "user_id",
            "session_id",
            "session_start",
            "session_end",
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_id")
    )


# --------------------------------------------------------------------------
# As-of join: each purchase ← most recent prior view by the same user.
# --------------------------------------------------------------------------
@register(
    "events_asof_purchase_view",
    oracle="""
        SELECT p.event_id, p.user_id, p.ts, v.ts AS view_ts_asof
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
            ON p.user_id = v.user_id AND p.ts >= v.ts
        ORDER BY p.event_id
    """,
    doc="Point-in-time join via union+window (one shuffle), oracle = DuckDB ASOF JOIN.",
)
def events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    return (
        asof_join(
            purchases,
            views,
            on="user_id",
            left_ts="ts",
            right_ts="view_ts",
            right_payload=["view_ts"],
            suffix="_asof",
        )
        .select("event_id", "user_id", "ts", "view_ts_asof")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Range (interval) join against a small tier table.
# --------------------------------------------------------------------------
@register(
    "events_range_join_tiers",
    oracle="""
        WITH tiers(tier, lo, hi) AS (
            VALUES ('t0_small', 0.0, 5.0),
                   ('t1_mid',   5.0, 10.0),
                   ('t2_big',  10.0, 20.0),
                   ('t3_huge', 20.0, 1e9)
        )
        SELECT tier, COUNT(*) AS n, ROUND(5e-10 + SUM(value), 4) AS total_value
        FROM events JOIN tiers ON value >= lo AND value < hi
        GROUP BY tier
        ORDER BY tier
    """,
    doc="Theta/range join: broadcast the tiny interval table (nested-loop on 4 rows).",
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [
            ("t0_small", 0.0, 5.0),
            ("t1_mid", 5.0, 10.0),
            ("t2_big", 10.0, 20.0),
            ("t3_huge", 20.0, 1e9),
        ],
        "tier string, lo double, hi double",
    )
    return (
        ev.join(
            F.broadcast(tiers),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), _r(F.sum("value")).alias("total_value"))
        .orderBy("tier")
    )


# --------------------------------------------------------------------------
# Funnel + retention (classic event analytics).
# --------------------------------------------------------------------------
@register(
    "funnel_signup_to_purchase",
    oracle="""
        WITH s AS (
            SELECT user_id, MIN(ts) AS signup_ts
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ), p AS (
            SELECT e.user_id, MIN(e.ts) AS first_purchase
            FROM events e JOIN s ON s.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s.signup_ts
            GROUP BY e.user_id
        ), f AS (
            SELECT s.user_id, s.signup_ts, p.first_purchase,
                   (p.first_purchase IS NOT NULL AND
                    p.first_purchase <= s.signup_ts + INTERVAL 7 DAY)
                       AS converted
            FROM s LEFT JOIN p ON s.user_id = p.user_id
        )
        SELECT COUNT(*) AS n_signup_users,
               CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_converted_7d,
               ROUND(5e-10 + AVG(CASE WHEN converted THEN
                   (epoch(first_purchase) - epoch(signup_ts)) / 3600.0
               END), 4) AS avg_hours_to_convert
        FROM f
    """,
    doc="Two-step funnel: users whose first purchase follows their first "
    "signup within 7 days, plus mean hours-to-convert. Two small aggs + "
    "one join keyed on user_id — no event-sequence explosion. Elapsed "
    "time via timestampdiff(MICROSECOND) (NTZ-safe under Spark 4.1, "
    "µs-exact in both engines; unix_timestamp would truncate sub-second "
    "parts differently).",
)
def funnel_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    converted = F.col("first_purchase").isNotNull() & (
        F.col("first_purchase")
        <= F.col("signup_ts") + F.expr("INTERVAL 7 DAYS")
    )
    hours = ts_diff_seconds("signup_ts", "first_purchase") / 3600.0
    return (
        s.join(p, "user_id", "left")
        .select("signup_ts", "first_purchase", converted.alias("converted"))
        .agg(
            F.count(F.lit(1)).alias("n_signup_users"),
            F.sum(F.when(F.col("converted"), 1).otherwise(0)).alias(
                "n_converted_7d"
            ),
            biased_round(
                F.avg(F.when(F.col("converted"), hours))
            ).alias("avg_hours_to_convert"),
        )
    )


@register(
    "retention_weekly_cohorts",
    oracle="""
        WITH firsts AS (
            SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT e.user_id,
                   CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS active_week
            FROM events e
        )
        SELECT f.cohort_week,
               CAST((epoch(a.active_week) - epoch(f.cohort_week))
                    / 604800 AS BIGINT) AS week_offset,
               COUNT(DISTINCT a.user_id) AS n_active
        FROM firsts f JOIN activity a ON f.user_id = a.user_id
        GROUP BY 1, 2
        ORDER BY cohort_week, week_offset
    """,
    doc="Weekly retention triangle: users grouped by first-seen week, "
    "counted in each later week they were active. Week offsets via "
    "epoch arithmetic on Monday-truncated timestamps (exact multiples "
    "of 604800s in both engines). Two aggs + one user-keyed join.",
)
def retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    offset = (ts_diff_seconds("cohort_week", "active_week") / 604800).cast(
        "long"
    )
    return (
        firsts.join(activity, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )
