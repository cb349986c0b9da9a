"""Event-stream-shaped queries over the events table: tumbling/sliding
windows, sessionization (gaps-and-islands), as-of join, resample /
upsample+ffill, gap stats, z-score outliers (SURVEY.md §2.10, §2.11).

These are the batch twins of the streaming operators in
pandrs_spark/streaming/ — same window semantics, verifiable against
the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import (
    dsum,
    dsum_over,
    sql_dsum,
    sql_dsum_over,
)
from pandrs_spark.operators.joins import asof_join
from pandrs_spark.operators.timeseries import date_range, ffill, resample, upsample_grid
from pandrs_spark.operators.util import small_local_df
from pandrs_spark.queries import query


# --- q36: tumbling window aggregation (streaming §2.10 tumbling) ------------
@query(
    "q36_tumbling_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 4)} AS sum_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def q36(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return (
        resample(
            ev,
            "ts",
            "hour",
            [
                F.count(F.lit(1)).alias("n_events"),
                dsum("value", 4).alias("sum_value"),
            ],
            group_by=["event_type"],
        )
        .select(
            F.col("bucket").alias("window_start"), "event_type", "n_events", "sum_value"
        )
        .orderBy("window_start", "event_type")
    )


# --- q37: sliding windows via native window() (streaming §2.10 sliding) -----
@query(
    "q37_sliding_2h_windows",
    oracle=f"""
    WITH assigned AS (
        SELECT date_trunc('hour', ts) AS window_start, value FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, value FROM events
    )
    SELECT window_start, COUNT(*) AS n_events, {sql_dsum('value', 4)} AS sum_value
    FROM assigned
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def q37(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .orderBy("window_start")
    )


# --- q38: sessionization — gaps-and-islands (streaming §2.10 session) -------
@query(
    "q38_user_sessions",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marked
    ),
    per_session AS (
        SELECT user_id, session_id, COUNT(*) AS n_events,
               epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
        FROM sessions
        GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           CAST(SUM(dur_us) AS BIGINT) AS total_session_us
    FROM per_session
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q38(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "ts",
        F.when(gap_us.isNull() | (gap_us > 1800000000), 1).otherwise(0).alias(
            "new_session"
        ),
    )
    cum_w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = marked.withColumn("session_id", F.sum("new_session").over(cum_w))
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum("dur_us").alias("total_session_us"),
        )
        .orderBy("user_id")
    )


# --- q39: as-of join — purchase → latest prior view (absent in ref §2.3) ----
@query(
    "q39_asof_purchase_view",
    oracle="""
    WITH u AS (
        SELECT event_id, user_id, ts, value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        FROM events
        WHERE event_type IN ('purchase', 'view')
    ),
    f AS (
        SELECT event_id, user_id, ts, value, is_p,
               LAST_VALUE(CASE WHEN is_p = 0 THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, is_p
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_ts,
               LAST_VALUE(CASE WHEN is_p = 0 THEN value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, is_p
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_value
        FROM u
    )
    SELECT event_id, user_id, ts, view_ts, ROUND(view_value, 4) AS view_value
    FROM f
    WHERE is_p = 1
    ORDER BY event_id
    """,
)
def q39(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    joined = asof_join(
        purchases,
        views,
        on="ts",
        by="user_id",
        value_cols=["view_ts", "view_value"],
    )
    return joined.select(
        "event_id", "user_id", "ts", "view_ts", F.round("view_value", 4).alias("view_value")
    ).orderBy("event_id")


# --- q40: daily resample (downsample §2.11) ---------------------------------
@query(
    "q40_daily_resample",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day,
           COUNT(*) AS n_events,
           {sql_dsum('value', 4)} AS sum_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY day
    ORDER BY day
    """,
)
def q40(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return (
        resample(
            ev,
            "ts",
            "day",
            [
                F.count(F.lit(1)).alias("n_events"),
                dsum("value", 4).alias("sum_value"),
                F.countDistinct("user_id").alias("n_users"),
            ],
        )
        .select(F.col("bucket").alias("day"), "n_events", "sum_value", "n_users")
        .orderBy("day")
    )


# --- q41: upsample to a daily grid + forward fill (§2.11 resample up) -------
@query(
    "q41_upsample_ffill",
    oracle=f"""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               {sql_dsum('value', 4)} / COUNT(value) AS avg_value
        FROM events
        WHERE user_id < 5
        GROUP BY user_id, day
    ),
    grid AS (
        SELECT u.user_id, g.day
        FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 5) u,
             (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                            TIMESTAMP '2024-01-30 00:00:00',
                                            INTERVAL 1 DAY)) AS day) g
    )
    SELECT g.user_id, g.day,
           LAST_VALUE(d.avg_value IGNORE NULLS)
               OVER (PARTITION BY g.user_id ORDER BY g.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
    ORDER BY g.user_id, g.day
    """,
)
def q41(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    daily = resample(
        ev,
        "ts",
        "day",
        [(dsum("value", 4) / F.count("value")).alias("avg_value")],
        group_by=["user_id"],
    ).withColumnRenamed("bucket", "day")
    grid = date_range(spark, "2024-01-01 00:00:00", "2024-01-30 00:00:00").select(
        F.col("ts").alias("day")
    )
    keys = ev.select("user_id").distinct()
    full = upsample_grid(daily, "day", keys, grid)
    w = Window.partitionBy("user_id").orderBy("day")
    return full.select(
        "user_id", "day", ffill("avg_value", w).alias("filled_value")
    ).orderBy("user_id", "day")


# --- q42: inter-event gap statistics (lag arithmetic, §2.5c) ----------------
@query(
    "q42_event_gap_stats",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id)) AS gap_us
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
           (CAST(SUM(gap_us) AS BIGINT) * 1.0 / COUNT(gap_us)) AS avg_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q42(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("gap_us").alias("n_gaps"),
            F.sum("gap_us").alias("total_gap_us"),
            (F.sum("gap_us") * 1.0 / F.count("gap_us")).alias("avg_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("user_id")
    )


# --- q43: hour-of-day share per event type ----------------------------------
@query(
    "q43_hourly_type_share",
    oracle="""
    WITH counts AS (
        SELECT CAST(hour(ts) AS INTEGER) AS hr, event_type, COUNT(*) AS cnt
        FROM events
        GROUP BY hr, event_type
    )
    SELECT hr, event_type, cnt,
           ROUND(cnt * 1.0 / SUM(cnt) OVER (PARTITION BY hr), 6) AS share
    FROM counts
    ORDER BY hr, event_type
    """,
)
def q43(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.hour("ts").alias("hr"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("hr")
    return counts.withColumn(
        "share", F.round(F.col("cnt") * 1.0 / F.sum("cnt").over(w), 6)
    ).orderBy("hr", "event_type")


# --- q44: first/last per group via min_by/max_by (§2.4 idxmin/idxmax) -------
@query(
    "q44_user_first_last",
    oracle="""
    SELECT user_id,
           arg_min(event_type, ts) AS first_type,
           arg_max(event_type, ts) AS last_type,
           ROUND(arg_max(value, ts), 4) AS last_value,
           CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS active_days
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q44(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.min_by("event_type", "ts").alias("first_type"),
            F.max_by("event_type", "ts").alias("last_type"),
            F.round(F.max_by("value", "ts"), 4).alias("last_value"),
            F.countDistinct(F.date_trunc("day", "ts")).alias("active_days"),
        )
        .orderBy("user_id")
    )


# --- q45: z-score outlier detection from exact sufficient stats (§2.12) -----
_ZCOND = (
    "ABS((value - sx / n) / SQRT((sxx - sx * sx / n) / (n - 1))) > 2"
)


@query(
    "q45_zscore_outliers",
    oracle=f"""
    WITH stats AS (
        SELECT event_type,
               COUNT(value) AS n,
               {sql_dsum('value', 4)} AS sx,
               {sql_dsum('value * value', 4)} AS sxx
        FROM events
        GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(s.n AS BIGINT) AS n,
           ROUND(s.sx / s.n, 6) AS mean_value,
           ROUND(SQRT((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)), 6) AS std_value,
           COUNT(CASE WHEN {_ZCOND} THEN 1 END) AS n_outliers
    FROM events e JOIN stats s ON e.event_type = s.event_type
    GROUP BY e.event_type, s.n, s.sx, s.sxx
    ORDER BY e.event_type
    """,
)
def q45(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        dsum("value", 4).alias("sx"),
        dsum(F.col("value") * F.col("value"), 4).alias("sxx"),
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    return (
        joined.groupBy("event_type", "n", "sx", "sxx")
        .agg(F.count(F.when(F.expr(_ZCOND), 1)).alias("n_outliers"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.expr("sx / n"), 6).alias("mean_value"),
            F.round(F.expr("SQRT((sxx - sx * sx / n) / (n - 1))"), 6).alias(
                "std_value"
            ),
            "n_outliers",
        )
        .orderBy("event_type")
    )


# --- q161: event funnel — signup → first view after it → first
# purchase after that, per user; step timestamps from one grouped
# aggregation over conditional minimums (no self-joins, no shuffle
# beyond the per-user agg) ----------------------------------------------------
@query(
    "q161_signup_view_purchase_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
        FROM events GROUP BY user_id
    ),
    v AS (
        SELECT e.user_id, MIN(e.ts) AS t_view
        FROM events e JOIN s ON s.user_id = e.user_id
        WHERE e.event_type = 'view' AND e.ts > s.t_signup
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > v.t_view
        GROUP BY e.user_id
    )
    SELECT CAST(COUNT(s.user_id) AS BIGINT) AS n_signup,
           CAST(COUNT(v.user_id) AS BIGINT) AS n_view_after,
           CAST(COUNT(p.user_id) AS BIGINT) AS n_purchase_after,
           ROUND(COUNT(p.user_id) * 1.0 / COUNT(s.user_id), 6) AS conversion
    FROM s LEFT JOIN v ON v.user_id = s.user_id
            LEFT JOIN p ON p.user_id = s.user_id
    WHERE s.t_signup IS NOT NULL
    """,
)
def q161(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    # step 1: first signup per user (conditional min — single agg pass)
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup")
    ).filter(F.col("t_signup").isNotNull())
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    funnel = s.join(v, "user_id", "left").join(p, "user_id", "left")
    return funnel.agg(
        F.count("t_signup").alias("n_signup"),
        F.count("t_view").alias("n_view_after"),
        F.count("t_purchase").alias("n_purchase_after"),
        F.round(F.count("t_purchase") / F.count("t_signup"), 6).alias("conversion"),
    )


# --- q162: weekly cohort retention — cohort = week of first event;
# retention(k) = distinct users active k weeks later / cohort size ------------
@query(
    "q162_weekly_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(DATEDIFF('week', f.cohort_week, DATE_TRUNC('week', e.ts)) AS INT) AS week_k
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
    ),
    sizes AS (
        SELECT cohort_week, COUNT(*) AS cohort_n FROM first_seen GROUP BY cohort_week
    )
    SELECT a.cohort_week, a.week_k,
           CAST(COUNT(*) AS BIGINT) AS active_users,
           ROUND(COUNT(*) * 1.0 / MIN(s.cohort_n), 6) AS retention
    FROM activity a JOIN sizes s ON s.cohort_week = a.cohort_week
    WHERE a.week_k <= 8
    GROUP BY a.cohort_week, a.week_k
    ORDER BY a.cohort_week, a.week_k
    """,
)
def q162(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                    / 7
                )
            ).cast("int").alias("week_k"),
        )
        .distinct()
    )
    sizes = first_seen.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_n"))
    return (
        activity.join(sizes, "cohort_week")
        .filter(F.col("week_k") <= 8)
        .groupBy("cohort_week", "week_k")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.round(F.count(F.lit(1)) / F.min("cohort_n"), 6).alias("retention"),
        )
        .orderBy("cohort_week", "week_k")
    )


# --- q169: time-to-convert distribution — hours from first signup to
# the first purchase after it, summarized with exact interpolated
# quantiles -------------------------------------------------------------------
@query(
    "q169_time_to_convert",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
        FROM events GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id,
               MIN(e.ts) AS t1
        FROM events e JOIN s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s.t0
        GROUP BY e.user_id
    ),
    d AS (
        SELECT date_diff('second', s.t0, p.t1) / 3600.0 AS hours
        FROM s JOIN p ON p.user_id = s.user_id
        WHERE s.t0 IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(hours, 0.5), 4) AS median_hours,
           ROUND(quantile_cont(hours, 0.9), 4) AS p90_hours,
           ROUND(MIN(hours), 4) AS min_hours,
           ROUND(MAX(hours), 4) AS max_hours
    FROM d
    """,
)
def q169(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0")
    ).filter(F.col("t0").isNotNull())
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    d = s.join(p, "user_id").select(
        (
            (F.unix_timestamp("t1") - F.unix_timestamp("t0")) / 3600.0
        ).alias("hours")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("hours", F.lit(0.5)), 4).alias("median_hours"),
        F.round(F.percentile("hours", F.lit(0.9)), 4).alias("p90_hours"),
        F.round(F.min("hours"), 4).alias("min_hours"),
        F.round(F.max("hours"), 4).alias("max_hours"),
    )


# --- q170: event-type transition matrix (first-order Markov): counts
# and P(next | prev) from one lag window per user -----------------------------
@query(
    "q170_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p_next
    FROM trans
    ORDER BY prev_type, next_type
    """,
)
def q170(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp), 6).alias("p_next"),
    ).orderBy("prev_type", "next_type")


# --- q180: REAL Structured Streaming execution inside the oracle gate.
# events.parquet replayed through a FileStreamSource (availableNow
# trigger -> processes the full backlog as micro-batches, then stops),
# watermarked tumbling-window counts into a complete-mode memory sink;
# the collected sink table hash-matches DuckDB's batch date_trunc
# aggregation. Streams and batch agree by construction in Spark's
# model — this pins it. The glob-wrapped path ([t]) makes the file
# source treat the single parquet FILE as a one-file directory listing.
def _normalize_ts(df):
    """Session-TZ TIMESTAMP ``ts`` from any driver layout (timestamp_ntz
    → cast; nanos-as-bigint → truncate to micros) — the single shared
    normalization for raw/streaming events reads that bypass
    catalog.load_table (a streaming source can't scope session confs)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if ts_type == "bigint":
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
        )
    return df


def _events_static_and_stream(spark, sf_dir):
    """(static_df, stream_df) over events.parquet, both with normalized
    ``ts``. ensure_nanos_readable handles the TIMESTAMP(NANOS) layout:
    raw and streaming reads plan/execute outside load_table's scoped
    conf, so the conf must cover the stream's whole lifetime. Both reads
    take the catalog's memoised schema, so neither runs an inference
    job."""
    import os

    from pandrs_spark.catalog import ensure_nanos_readable, read_parquet_raw

    path = os.path.join(sf_dir, "events.parquet")
    ensure_nanos_readable(spark, path)
    _, static = read_parquet_raw(spark, path)
    # the glob-wrapped path ([t]) makes the file source treat the
    # single parquet FILE as a one-file directory listing
    glob_path = path[:-1] + f"[{path[-1]}]"
    sdf = spark.readStream.schema(static.schema).parquet(glob_path)
    return _normalize_ts(static), _normalize_ts(sdf)


@query(
    "q180_streaming_tumbling_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY hour_start, event_type
    ORDER BY hour_start, event_type
    """,
)
def q180(spark, sf_dir):
    from pandrs_spark.streaming.windows import (
        run_available_now,
        stream_to_memory,
        tumbling,
        windowed_agg,
    )

    _, sdf = _events_static_and_stream(spark, sf_dir)
    agg = windowed_agg(
        sdf,
        tumbling("ts", "1 hour"),
        [F.count(F.lit(1)).alias("n")],
        keys=["event_type"],
        watermark=("ts", "2 hours"),
    )
    sink = "q180_stream_sink"
    run_available_now(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda: stream_to_memory(agg, sink, output_mode="complete"),
        "q180",
    )
    return (
        spark.table(sink)
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("hour_start", "event_type")
    )


# --- q181: streaming dedup through the gate. The stream drops
# duplicate (user_id, event_type) arrivals with watermark-bounded state
# (dropDuplicatesWithinWatermark — O(active keys), the 100 TB dedup
# shape); the per-type distinct-user counts hash-match DuckDB's batch
# COUNT(DISTINCT). Every micro-batch runs the same dedup state machine
# the cluster would run. ------------------------------------------------------
@query(
    "q181_streaming_dedup_counts",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q181(spark, sf_dir):
    from pandrs_spark.streaming.windows import (
        dedup_within_watermark,
        run_available_now,
        stream_to_memory,
    )

    static, sdf = _events_static_and_stream(spark, sf_dir)
    # dropDuplicatesWithinWatermark only guarantees dedup for
    # duplicates arriving within the delay window. If availableNow ever
    # splits the backlog into several micro-batches, a pair of
    # duplicate keys spanning more event time than the delay could
    # survive — so size the delay past the table's FULL event-time span
    # (+2 days margin); the oracle equality then holds regardless of
    # micro-batch boundaries. At 100 TB you'd keep a short delay and
    # accept watermark-bounded (streaming) semantics instead.
    span = static.select(
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
    ).first()[0]
    delay_days = int((span or 0) // 86_400) + 2
    deduped = dedup_within_watermark(
        sdf, ["user_id", "event_type"], "ts", f"{delay_days} days"
    )
    counts = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    sink = "q181_stream_sink"
    run_available_now(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda: stream_to_memory(counts, sink, output_mode="complete"),
        "q181",
    )
    return (
        spark.table(sink)
        .select("event_type", F.col("n_users").cast("long").alias("n_users"))
        .orderBy("event_type")
    )


# --- q193: user entry-path cohorting — each user's first 5 events
# (ordered by ts, event_id tie-break) joined into an entry-path string,
# users cohorted by identical path. Path extraction is one
# collect_list + array_sort + slice per user (single shuffle); the
# cohort group-by rides the dedup machinery's hash-groupBy shape. Top
# cohorts by size are value-hashed. ------------------------------------------
@query(
    "q193_user_journey_cohorts",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    ordered AS (
        SELECT user_id, event_type FROM ranked
        WHERE rn <= 5 ORDER BY user_id, rn
    ),
    journeys AS (
        SELECT user_id, string_agg(event_type, ' ') AS entry_path
        FROM ordered GROUP BY user_id
    )
    SELECT entry_path,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS sample_user
    FROM journeys
    GROUP BY entry_path
    HAVING COUNT(*) >= 2
    ORDER BY n_users DESC, entry_path
    LIMIT 20
    """,
)
def q193(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    journeys = (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(
                " ",
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda x: x["event_type"],
                    ),
                    1,
                    5,
                ),
            ).alias("entry_path")
        )
    )
    return (
        journeys.groupBy("entry_path")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("user_id").cast("bigint").alias("sample_user"),
        )
        .filter(F.col("n_users") >= 2)
        .orderBy(F.desc("n_users"), "entry_path")
        .limit(20)
    )


# --- q203: stream-stream interval join through the gate — view events
# joined to same-user purchase events within 1 hour, both sides
# watermarked so join state is evicted as event time advances (the
# conversion-attribution join that runs forever at production rates).
# The joined pairs land in the sink via REAL micro-batch execution;
# the per-hour rollup then hash-matches DuckDB's batch interval join.
# Watermark delay is sized past the table's event-time span so oracle
# equality cannot depend on micro-batch boundaries (q181 policy).
# streaming/windows.py:stream_stream_interval_join. -----------------------
@query(
    "q203_stream_stream_conversions",
    oracle="""
    WITH v AS (
        SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id, ts AS purchase_ts FROM events
        WHERE event_type = 'purchase'
    ),
    j AS (
        SELECT v.user_id, v.view_ts, p.purchase_ts
        FROM v JOIN p ON v.user_id = p.user_id
         AND p.purchase_ts >= v.view_ts
         AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
    )
    SELECT date_trunc('hour', view_ts) AS hour_start,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def q203(spark, sf_dir):
    from pandrs_spark.streaming.windows import (
        run_available_now,
        stream_stream_interval_join,
        stream_to_memory,
    )

    static, sdf1 = _events_static_and_stream(spark, sf_dir)
    _, sdf2 = _events_static_and_stream(spark, sf_dir)
    span = static.select(
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
    ).first()[0]
    delay_days = int((span or 0) // 86_400) + 2
    views = sdf1.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    purchases = sdf2.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    joined = stream_stream_interval_join(
        views,
        purchases,
        key="user_id",
        left_ts="view_ts",
        right_ts="purchase_ts",
        within="1 hour",
        watermark_delay=f"{delay_days} days",
    )
    sink = "q203_stream_sink"
    run_available_now(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda: stream_to_memory(joined, sink, output_mode="append"),
        "q203",
    )
    return (
        spark.table(sink)
        .groupBy(F.date_trunc("hour", "view_ts").alias("hour_start"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour_start")
    )


# --- q228: streaming sliding-window counts in-gate — 2h windows
# sliding 1h over the event stream (each event lands in two windows),
# REAL availableNow micro-batches, complete-mode sink hash-matched
# against DuckDB's two-window unroll. -------------------------------------
@query(
    "q228_streaming_sliding_counts",
    oracle="""
    WITH w AS (
        SELECT date_trunc('hour', ts) - INTERVAL (h) HOUR AS win_start,
               event_type
        FROM events, UNNEST([0, 1]) AS t(h)
    )
    SELECT win_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM w GROUP BY win_start, event_type
    ORDER BY win_start, event_type
    """,
)
def q228(spark, sf_dir):
    from pandrs_spark.streaming.windows import (
        run_available_now,
        sliding,
        stream_to_memory,
        windowed_agg,
    )

    _, sdf = _events_static_and_stream(spark, sf_dir)
    agg = windowed_agg(
        sdf,
        sliding("ts", "2 hours", "1 hour"),
        [F.count(F.lit(1)).alias("n")],
        keys=["event_type"],
        watermark=("ts", "4 hours"),
    )
    sink = "q228_stream_sink"
    run_available_now(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda: stream_to_memory(agg, sink, output_mode="complete"),
        "q228",
    )
    return (
        spark.table(sink)
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("win_start", "event_type")
    )


# --- q229: streaming session windows in-gate — 30-min-gap session
# windows per user computed by the REAL streaming session_window
# state machine (merge-on-overlap), availableNow micro-batches,
# complete mode; per-user session counts hash-match the batch
# lag-gap sessionization (q38's oracle). ----------------------------------
@query(
    "q229_streaming_user_sessions",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    ),
    per_session AS (
        SELECT user_id, session_id, COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM per_session
    WHERE user_id % 5 = 0
    GROUP BY user_id ORDER BY user_id
    """,
)
def q229(spark, sf_dir):
    from pandrs_spark.streaming.windows import (
        run_available_now,
        session,
        stream_to_memory,
        windowed_agg,
    )

    _, sdf = _events_static_and_stream(spark, sf_dir)
    agg = windowed_agg(
        sdf.filter(F.col("user_id") % 5 == 0),
        session("ts", "30 minutes"),
        [F.count(F.lit(1)).alias("n_events")],
        keys=["user_id"],
        watermark=("ts", "2 hours"),
    )
    sink = "q229_stream_sink"
    run_available_now(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda: stream_to_memory(agg, sink, output_mode="complete"),
        "q229",
    )
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


# --- q238: custom stateful streaming operator in-gate — per-user
# maximum drawdown (largest peak-to-trough drop), the order-dependent
# per-entity fold no built-in windowed aggregate expresses. O(1)
# state per key via applyInPandasWithState; update-mode sink, final
# state per user hash-matches the batch running-max formulation.
# streaming/windows.py:stateful_drawdown. ----------------------------------
@query(
    "q238_streaming_user_drawdown",
    oracle="""
    WITH ordered AS (
        SELECT user_id, value,
               MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS peak
        FROM events WHERE user_id % 10 = 0
    )
    SELECT user_id,
           ROUND(MAX(peak), 6) AS peak,
           ROUND(MAX(peak - value), 6) AS max_drawdown
    FROM ordered GROUP BY user_id ORDER BY user_id
    """,
)
def q238(spark, sf_dir):
    from pandrs_spark.streaming.windows import (
        run_available_now,
        stateful_drawdown,
        stream_to_memory,
    )

    _, sdf = _events_static_and_stream(spark, sf_dir)
    dd = stateful_drawdown(
        sdf.filter(F.col("user_id") % 10 == 0),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        order_col="event_id",
    )
    sink = "q238_stream_sink"
    run_available_now(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda: stream_to_memory(dd, sink, output_mode="update"),
        "q238",
    )
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.round(F.max("peak"), 6).alias("peak"),
            F.round(F.max("max_drawdown"), 6).alias("max_drawdown"),
        )
        .orderBy("user_id")
    )


# --- q239: trailing 7-day active users per day — windowed DISTINCT
# (which no window frame supports directly) via (day, user) dedup +
# day-spine range join: dedup collapses the fact table to at most
# days x users rows, the spine join fans each pair into <= 7 window
# days, and the final exact distinct shuffles once per window day.
# The rolling-MAU/WAU staple. ----------------------------------------------
@query(
    "q239_trailing_7d_active_users",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM du)
    SELECT w.d AS day,
           CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS active_users_7d
    FROM days w JOIN du
      ON du.d <= w.d AND du.d > w.d - INTERVAL 7 DAY
    GROUP BY w.d ORDER BY w.d
    """,
)
def q239(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct().withColumnRenamed("d", "day")
    cond = (du.d <= days.day) & (
        du.d > days.day - F.expr("INTERVAL 7 DAYS")
    )
    return (
        days.join(du, cond)
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
        .orderBy("day")
    )


# --- q240: first/last-touch attribution — each purchase joined to the
# user's click history within a 7-day lookback; MIN/MAX click time per
# purchase (one join on the user key + bounded time predicate, then a
# per-purchase aggregate — the marketing-attribution staple). ------------
@query(
    "q240_click_attribution",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS pts, value
        FROM events WHERE event_type = 'purchase' AND user_id % 10 = 0
    ),
    c AS (
        SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id, p.user_id,
           MIN(c.cts) AS first_touch,
           MAX(c.cts) AS last_touch,
           CAST(COUNT(c.cts) AS BIGINT) AS n_touches,
           ROUND(MAX(p.value), 6) AS revenue
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.cts <= p.pts AND c.cts > p.pts - INTERVAL 7 DAY
    GROUP BY p.purchase_id, p.user_id
    ORDER BY p.purchase_id
    """,
)
def q240(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    p = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 10 == 0)
    ).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
        "value",
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cuser"), F.col("ts").alias("cts")
    )
    cond = (
        (p.user_id == c.cuser)
        & (c.cts <= p.pts)
        & (c.cts > p.pts - F.expr("INTERVAL 7 DAYS"))
    )
    return (
        p.join(c, cond, "left")
        .groupBy("purchase_id", "user_id")
        .agg(
            F.min("cts").alias("first_touch"),
            F.max("cts").alias("last_touch"),
            F.count("cts").alias("n_touches"),
            F.round(F.max("value"), 6).alias("revenue"),
        )
        .orderBy("purchase_id")
    )


# --- q244: as-of join, NEAREST direction with tolerance in-gate —
# each purchase matched to the user's closest 'view' event, NULLed
# when the nearest is farther than 30 minutes (pandas merge_asof
# nearest+tolerance semantics: pick closest — backward wins ties —
# THEN tolerance-filter; q39 gates the backward direction).
# operators/joins.py:asof_join. ---------------------------------------------
@query(
    "q244_asof_nearest_view",
    oracle="""
    WITH p AS (
        SELECT event_id AS pid, user_id, ts AS pts
        FROM events WHERE event_type = 'purchase' AND user_id % 10 = 0
    ),
    v AS (
        SELECT user_id, ts AS vts, value AS vval
        FROM events WHERE event_type = 'view'
    ),
    cand AS (
        SELECT p.pid, p.pts, v.vts, v.vval,
               ABS(epoch_us(p.pts) - epoch_us(v.vts)) AS gap,
               ROW_NUMBER() OVER (PARTITION BY p.pid
                   ORDER BY ABS(epoch_us(p.pts) - epoch_us(v.vts)),
                            CASE WHEN v.vts <= p.pts THEN 0 ELSE 1 END) AS rn
        FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT p.pid, p.user_id,
           CASE WHEN c.gap <= 1800000000 THEN c.vts END AS nearest_view_ts,
           CASE WHEN c.gap <= 1800000000 THEN ROUND(c.vval, 6) END
               AS nearest_view_value
    FROM p LEFT JOIN cand c ON p.pid = c.pid AND c.rn = 1
    ORDER BY p.pid
    """,
)
def q244(spark, sf_dir):
    from pandrs_spark.operators.joins import asof_join

    ev = T(spark, sf_dir, "events")
    p = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 10 == 0)
    ).select(F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts"))
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("value").alias("vval")
    )
    out = asof_join(
        p,
        v,
        on="pts",
        by="user_id",
        right_on="vts",
        value_cols=["vval"],
        direction="nearest",
        tolerance=1800.0,
        keep_match_ts=True,
    )
    return out.select(
        "pid",
        "user_id",
        F.col("vts_matched").alias("nearest_view_ts"),
        F.round("vval", 6).alias("nearest_view_value"),
    ).orderBy("pid")


# --- q246: count-based windows, batch twin in the gate — per user,
# tumbling 5-element windows in (ts, event_id) arrival order; sum of
# values per window. Gates the SEMANTICS of the streaming count
# window (streaming/windows.py:count_window_stateful is the stateful
# twin, unit-tested against this shape); the window id is a plain
# row_number derivation both engines share. -------------------------------
@query(
    "q246_count_window_batch_twin",
    oracle="""
    WITH seq AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) - 1 AS idx
        FROM events WHERE user_id % 20 = 0
    )
    SELECT user_id,
           CAST(FLOOR(idx / 5) AS BIGINT) AS window_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(CAST(ROUND(value, 6) AS DECIMAL(18, 6))), 6) AS total
    FROM seq GROUP BY user_id, window_id
    ORDER BY user_id, window_id
    """,
)
def q246(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = T(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        (F.row_number().over(w) - 1).alias("idx"),
    )
    return (
        seq.groupBy(
            "user_id", F.floor(F.col("idx") / 5).alias("window_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round("value", 6).cast("decimal(18,6)")).cast(
                    "double"
                ),
                6,
            ).alias("total"),
        )
        .orderBy("user_id", "window_id")
    )


# --- q247: audience overlap — Jaccard similarity between event-type
# audiences (distinct user sets): dedup to (type, user) pairs, wedge
# join through the user, |A∩B| / |A∪B| per type pair. The
# campaign-audience overlap staple; never materializes user sets. ---------
@query(
    "q247_audience_overlap",
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS common
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT i.type_a, i.type_b, CAST(i.common AS BIGINT) AS common,
           ROUND(i.common * 1.0 / (x.n + y.n - i.common), 6) AS jaccard
    FROM inter i
    JOIN sz x ON i.type_a = x.event_type
    JOIN sz y ON i.type_b = y.event_type
    ORDER BY type_a, type_b
    """,
)
def q247(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sz = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sx = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sy = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sx), "type_a")
        .join(F.broadcast(sy), "type_b")
        .select(
            "type_a",
            "type_b",
            "common",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# --- q255: debounce — drop repeat (user, type) events arriving within
# 5 minutes of the LAST KEPT event of that key (not merely the
# previous row: a burst chain must collapse to its first event).
# Chain-aware debounce = session_window with a 5-minute gap, keep each
# session's first arrival — the state machine Spark already has, so
# no iterative logic. Per-type kept/dropped counts through the gate. ------
@query(
    "q255_event_debounce",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_type, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 300000000
                    THEN 1 ELSE 0 END AS new_burst
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(new_burst) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(new_burst) AS BIGINT) AS n_debounced
    FROM marked GROUP BY event_type ORDER BY event_type
    """,
)
def q255(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    sessions = ev.groupBy(
        "user_id",
        "event_type",
        F.session_window("ts", "5 minutes").alias("w"),
    ).agg(F.count(F.lit(1)).alias("burst_size"))
    return (
        sessions.groupBy("event_type")
        .agg(
            F.sum("burst_size").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).alias("n_kept"),
            (F.sum("burst_size") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("n_debounced"),
        )
        .orderBy("event_type")
    )


# --- q257: bounce rate — share of 30-minute user sessions containing
# exactly one event, per the session's FIRST event type (entry page
# analog). session_window does the sessionization; min_by picks the
# deterministic first event through the zero-padded arrival key. ----------
@query(
    "q257_session_bounce_rate",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, event_type, ts, event_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    ),
    per_session AS (
        SELECT user_id, sid,
               min_by(event_type, printf('%020d|%020d', epoch_us(ts), event_id))
                   AS entry_type,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, sid
    )
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS bounce_rate
    FROM per_session GROUP BY entry_type ORDER BY entry_type
    """,
)
def q257(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    key = F.format_string(
        "%020d|%020d", F.unix_micros("ts"), F.col("event_id")
    )
    per_session = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.min_by("event_type", key).alias("entry_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounce = (F.col("n_events") == 1).cast("int")
    return (
        per_session.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(bounce).cast("bigint").alias("n_bounces"),
            F.round(F.sum(bounce) / F.count(F.lit(1)), 6).alias(
                "bounce_rate"
            ),
        )
        .orderBy("entry_type")
    )


# --- q271: trailing-window anomaly detection — per-user rolling
# z-score of event values against the PREVIOUS 10 events (current row
# excluded, so the anomaly doesn't contaminate its own baseline).
# Rolling mean/std come from exact quantized sufficient-stat window
# sums (dsum_over) with the variance formula shared verbatim with the
# oracle; windows partition on user_id (cardinality grows with data —
# no low-cardinality skew at 100 TB). Rollup per event_type. ----------------
_Q271_FRAME = "ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING"
_Q271_Z = "(value - sx / n) / SQRT((sxx - sx * sx / n) / (n - 1))"


@query(
    "q271_rolling_zscore_anomalies",
    oracle=f"""
    WITH st AS (
        SELECT event_type, value,
               COUNT(value) OVER w AS n,
               {sql_dsum_over('value', 'w', 4)} AS sx,
               {sql_dsum_over('value * value', 'w', 2)} AS sxx
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     {_Q271_FRAME})
    ),
    scored AS (
        SELECT event_type, {_Q271_Z} AS z
        FROM st WHERE n >= 5
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(COUNT(CASE WHEN ABS(z) > 2 THEN 1 END) AS BIGINT)
               AS n_anomalies,
           ROUND(MAX(ABS(z)), 6) AS max_abs_z
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
)
def q271(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    st = ev.select(
        "event_type",
        "value",
        F.count("value").over(w).alias("n"),
        dsum_over("value", w, 4).alias("sx"),
        dsum_over(F.col("value") * F.col("value"), w, 2).alias("sxx"),
    )
    scored = st.filter(F.col("n") >= 5).select(
        "event_type", F.expr(_Q271_Z).alias("z")
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.count(F.when(F.abs("z") > 2, 1)).alias("n_anomalies"),
            F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


# --- q277: time-weighted average — each event's value holds until the
# user's next event; TWA = Σ(value·duration)/Σ(duration). The sensor/
# finance aggregate a plain AVG silently gets wrong under irregular
# sampling. One lead() window per user + one exact quantized
# aggregation; durations derive from exact epoch-microsecond longs, so
# both engines fold identical integers. -------------------------------------
@query(
    "q277_time_weighted_average",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vq,
               CAST(FLOOR((LEAD(epoch_us(ts)) OVER w - epoch_us(ts)) / 1000.0)
                    AS BIGINT) AS dur_ms
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(COUNT(dur_ms) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_ms) AS BIGINT) AS total_dur_ms,
           ROUND(CAST(SUM(vq * dur_ms) AS DOUBLE)
                 / (100.0 * CAST(SUM(dur_ms) AS DOUBLE)), 6) AS twa_value
    FROM seq WHERE dur_ms IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def q277(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    seq = ev.select(
        "user_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("vq"),
        F.floor((F.lead(us).over(w) - us) / 1000.0)
        .cast("long")
        .alias("dur_ms"),
    ).filter(F.col("dur_ms").isNotNull())
    return (
        seq.groupBy("user_id")
        .agg(
            F.count("dur_ms").alias("n_intervals"),
            F.sum("dur_ms").alias("total_dur_ms"),
            F.round(
                F.sum(F.col("vq") * F.col("dur_ms")).cast("double")
                / (100.0 * F.sum("dur_ms").cast("double")),
                6,
            ).alias("twa_value"),
        )
        .orderBy("user_id")
    )


# --- q280: cumulative distinct users per day — COUNT(DISTINCT) under a
# running window is non-decomposable, so the scalable rewrite is the
# FIRST-TOUCH trick: a user contributes to the cumulative count only on
# their first-ever day, turning the running distinct into a plain
# prefix sum of first-touch counts per day — computed here with the
# distributed partition-offset prefix sum (operators/windows.py:
# global_prefix_sum), never a single-partition window. ----------------------
@query(
    "q280_cumulative_distinct_users",
    oracle="""
    WITH first_touch AS (
        SELECT user_id, MIN(date_trunc('hour', ts)) AS d
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM first_touch GROUP BY d
    )
    SELECT d,
           new_users,
           CAST(SUM(new_users) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_users
    FROM daily ORDER BY d
    """,
)
def q280(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_sum

    ev = T(spark, sf_dir, "events")
    first_touch = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("hour", "ts")).alias("d")
    )
    daily = first_touch.groupBy("d").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    cur = global_prefix_sum(
        daily, [F.col("d")], "new_users", out_col="cum_users", scale=0
    )
    return cur.select(
        "d", "new_users", F.col("cum_users").cast("long").alias("cum_users")
    ).orderBy("d")


# --- q285: second-order sequence mining — the 10 most frequent
# event-type TRIGRAMS in per-user journeys (q170 covers first-order
# bigram transitions). Two leads over one (user, ts) sort; counting is
# a plain groupBy with map-side partials. -----------------------------------
@query(
    "q285_event_trigram_paths",
    oracle="""
    WITH seq AS (
        SELECT event_type AS a,
               LEAD(event_type, 1) OVER w AS b,
               LEAD(event_type, 2) OVER w AS c
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
    GROUP BY a, b, c
    ORDER BY n DESC, a, b, c
    LIMIT 10
    """,
)
def q285(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    return (
        seq.groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "a", "b", "c")
        .limit(10)
    )


# --- q288: in-session funnel — sessionize (30-min gap, as q38), then
# within each session ask whether a purchase follows a view; report
# conversion per session-entry event type. Composes gaps-and-islands
# with conditional-min funnel logic — all window + groupBy, the
# fact table is sorted once per user. ----------------------------------------
@query(
    "q288_in_session_funnel",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    ),
    per_session AS (
        SELECT user_id, sid,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase,
               MIN_BY(event_type, ts) AS entry_type
        FROM sessions GROUP BY user_id, sid
    )
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(CASE WHEN first_view IS NOT NULL
                            AND last_purchase > first_view THEN 1 END) AS BIGINT)
               AS n_converting,
           ROUND(COUNT(CASE WHEN first_view IS NOT NULL
                             AND last_purchase > first_view THEN 1 END)
                 * 1.0 / COUNT(*), 6) AS conversion_rate
    FROM per_session GROUP BY entry_type ORDER BY entry_type
    """,
)
def q288(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap_us.isNull() | (gap_us > 1800000000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    cum_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = marked.withColumn("sid", F.sum("new_session").over(cum_w))
    per_session = sessions.groupBy("user_id", "sid").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_purchase"
        ),
        # (user_id, ts) is unique in the testdata, so ts alone is a
        # deterministic arg-min key within a session.
        F.min_by("event_type", "ts").alias("entry_type"),
    )
    converting = F.col("first_view").isNotNull() & (
        F.col("last_purchase") > F.col("first_view")
    )
    return (
        per_session.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count(F.when(converting, 1)).alias("n_converting"),
            F.round(
                F.count(F.when(converting, 1)) / F.count(F.lit(1)), 6
            ).alias("conversion_rate"),
        )
        .orderBy("entry_type")
    )


# --- q291: DAU/WAU stickiness — the growth metric: mean daily active
# users over weekly active users, per ISO week (the testdata spans one
# month, so weeks give the rollup real cardinality; swap week for
# month at production spans). Both levels are plain distinct-count
# aggregates (day rollup + week rollup) joined on the week key; at
# 100 TB each level is one shuffle of (key, user) pairs, and the
# coarse level could reuse the q267 bitmap rollup. ---------------------------
@query(
    "q291_dau_wau_stickiness",
    oracle="""
    WITH dau AS (
        SELECT date_trunc('week', ts) AS m, CAST(ts AS DATE) AS d,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM events GROUP BY 1, 2
    ),
    mau AS (
        SELECT date_trunc('week', ts) AS m,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        FROM events GROUP BY 1
    ),
    davg AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS n_days,
               (CAST(SUM(dau) AS DOUBLE) / COUNT(*)) AS avg_dau
        FROM dau GROUP BY m
    )
    SELECT d.m AS week, d.n_days, ROUND(d.avg_dau, 6) AS avg_dau,
           u.mau AS wau, ROUND(d.avg_dau / u.mau, 6) AS stickiness
    FROM davg d JOIN mau u ON d.m = u.m ORDER BY week
    """,
)
def q291(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    dau = ev.groupBy(
        F.date_trunc("week", "ts").alias("m"), F.to_date("ts").alias("d")
    ).agg(F.countDistinct("user_id").alias("dau"))
    mau = ev.groupBy(F.date_trunc("week", "ts").alias("m")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    davg_ = dau.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.sum("dau").cast("double") / F.count(F.lit(1))).alias("avg_dau"),
    )
    return (
        davg_.join(mau, "m")
        .select(
            F.col("m").alias("week"),
            "n_days",
            F.round("avg_dau", 6).alias("avg_dau"),
            "wau",
            F.round(F.col("avg_dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("week")
    )


# --- q294: retention half-life — per cohort, fit ln(retention_k) ~ k
# (weeks since cohort) with closed-form OLS on the tiny retention
# matrix (q162's shape), and report the exponential-decay half-life
# -ln(2)/slope. The regression runs over <=8 points per cohort from
# exact count ratios; ln terms quantize at 1e-9 before the sums so the
# fit is engine-exact. The heavy work is the same two aggregates as
# q162 — the fit itself touches only cohort-cardinality rows. ----------------
# Explicit DOUBLE casts: a bare 1.0 literal is DECIMAL in DuckDB and
# would route the whole fit through decimal arithmetic.
_Q294_SLOPE = (
    "(((CAST(n AS DOUBLE) * CAST(sky AS DOUBLE)"
    " - CAST(sk AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(skk AS DOUBLE)"
    " - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE))) / 1000000000.0)"
)


@query(
    "q294_retention_half_life",
    oracle=f"""
    WITH first_seen AS (
        SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(DATEDIFF('week', f.cohort_week, DATE_TRUNC('week', e.ts)) AS INT) AS week_k
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
    ),
    sizes AS (
        SELECT cohort_week, COUNT(*) AS cohort_n
        FROM first_seen GROUP BY cohort_week
    ),
    ret AS (
        SELECT a.cohort_week, a.week_k,
               COUNT(*) * 1.0 / MIN(s.cohort_n) AS r
        FROM activity a JOIN sizes s ON s.cohort_week = a.cohort_week
        WHERE a.week_k >= 1
        GROUP BY a.cohort_week, a.week_k
    ),
    pts AS (
        SELECT cohort_week, week_k,
               CAST(SIGN(LN(r)) * FLOOR(ABS(LN(r)) * 1000000000.0 + 0.5) AS BIGINT) AS yq
        FROM ret WHERE r > 0
    ),
    fit AS (
        SELECT cohort_week,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(week_k) AS BIGINT) AS sk,
               CAST(SUM(CAST(week_k AS BIGINT) * week_k) AS BIGINT) AS skk,
               CAST(SUM(yq) AS BIGINT) AS sy,
               CAST(SUM(week_k * yq) AS BIGINT) AS sky
        FROM pts GROUP BY cohort_week HAVING COUNT(*) >= 2
    )
    SELECT cohort_week, n AS n_points,
           ROUND({_Q294_SLOPE}, 6) AS decay_slope,
           ROUND(CASE WHEN {_Q294_SLOPE} < 0
                      THEN LN(2.0) / (-({_Q294_SLOPE})) END, 4)
               AS half_life_weeks
    FROM fit ORDER BY cohort_week
    """,
)
def q294(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    F.datediff(
                        F.date_trunc("week", F.col("ts")), F.col("cohort_week")
                    )
                    / 7
                )
            )
            .cast("int")
            .alias("week_k"),
        )
        .distinct()
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_n")
    )
    ret = (
        activity.join(sizes, "cohort_week")
        .filter(F.col("week_k") >= 1)
        .groupBy("cohort_week", "week_k")
        .agg((F.count(F.lit(1)) * 1.0 / F.min("cohort_n")).alias("r"))
    )
    yq = F.expr(
        "CAST(SIGN(LN(r)) * FLOOR(ABS(LN(r)) * 1000000000.0 + 0.5) AS BIGINT)"
    )
    pts = ret.filter(F.col("r") > 0).select(
        "cohort_week", "week_k", yq.alias("yq")
    )
    fit = (
        pts.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("week_k").alias("sk"),
            F.sum(F.col("week_k").cast("long") * F.col("week_k")).alias("skk"),
            F.sum("yq").alias("sy"),
            F.sum(F.col("week_k") * F.col("yq")).alias("sky"),
        )
        .filter(F.col("n") >= 2)
    )
    slope = F.expr(_Q294_SLOPE)
    return fit.select(
        "cohort_week",
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("decay_slope"),
        F.round(
            F.when(slope < 0, F.expr(f"LN(2.0) / (-({_Q294_SLOPE}))")), 4
        ).alias("half_life_weeks"),
    ).orderBy("cohort_week")


# --- q299: incremental materialized-aggregate maintenance IN-GATE —
# the events backlog replays as real micro-batches through the
# foreachBatch sum-of-partials sink (streaming/windows.py:
# incremental_aggregate_sink, O(keys) sink state, no complete-mode
# re-emit), and the final maintained rollup must hash-match DuckDB's
# one-shot batch aggregate. Sums fold as quantized BIGINTs, so the
# merge across micro-batches is exact regardless of batch boundaries. -------
@query(
    "q299_streaming_incremental_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(SIGN(value) * FLOOR(ABS(value) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_vq
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q299(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.streaming.windows import (
        incremental_aggregate_sink,
        run_available_now,
    )

    _static, sdf = _events_static_and_stream(spark, sf_dir)
    enriched = sdf.select("event_type", quantize("value", 4).alias("vq"))
    run_available_now(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda: incremental_aggregate_sink(
            enriched,
            keys=["event_type"],
            count_col="n",
            sum_cols=["vq"],
            table="q299_inc_agg",
        ),
        "q299",
    )
    return (
        spark.table("global_temp.q299_inc_agg")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("sum_vq").cast("long").alias("sum_vq"),
        )
        .orderBy("event_type")
    )


# --- q301: growth accounting — every active (user, week) labeled
# new / retained / resurrected, plus churn events for users active the
# prior week but absent this one. The canonical weekly growth ledger:
# one distinct-activity rollup, one first-touch aggregate, and
# calendar-safe self-joins on (user, week-7d) — no positional lags, so
# gap weeks can't mislabel. Counts per week pivot from labeled rows. --------
@query(
    "q301_growth_accounting",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    ),
    first_w AS (
        SELECT user_id, MIN(w) AS fw FROM act GROUP BY user_id
    ),
    labeled AS (
        SELECT a.w,
               CASE WHEN a.w = f.fw THEN 'new'
                    WHEN p.user_id IS NOT NULL THEN 'retained'
                    ELSE 'resurrected' END AS status
        FROM act a
        JOIN first_w f ON a.user_id = f.user_id
        LEFT JOIN act p ON p.user_id = a.user_id
                       AND p.w = a.w - INTERVAL 7 DAY
    ),
    churn AS (
        SELECT p.w + INTERVAL 7 DAY AS w, 'churned' AS status
        FROM act p
        WHERE NOT EXISTS (
            SELECT 1 FROM act c
            WHERE c.user_id = p.user_id AND c.w = p.w + INTERVAL 7 DAY
        )
          AND p.w + INTERVAL 7 DAY <= (SELECT MAX(w) FROM act)
    ),
    all_rows AS (
        SELECT w, status FROM labeled UNION ALL SELECT w, status FROM churn
    )
    SELECT w AS week,
           CAST(COUNT(CASE WHEN status = 'new' THEN 1 END) AS BIGINT) AS n_new,
           CAST(COUNT(CASE WHEN status = 'retained' THEN 1 END) AS BIGINT) AS n_retained,
           CAST(COUNT(CASE WHEN status = 'resurrected' THEN 1 END) AS BIGINT) AS n_resurrected,
           CAST(COUNT(CASE WHEN status = 'churned' THEN 1 END) AS BIGINT) AS n_churned
    FROM all_rows GROUP BY w ORDER BY w
    """,
)
def q301(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    ).distinct()
    first_w = act.groupBy("user_id").agg(F.min("w").alias("fw"))
    prev = act.select(
        F.col("user_id").alias("pu"), F.col("w").alias("pw")
    )
    labeled = (
        act.join(first_w, "user_id")
        .join(
            prev,
            (act.user_id == prev.pu)
            & (prev.pw == act.w - F.expr("INTERVAL 7 DAYS")),
            "left",
        )
        .select(
            "w",
            F.when(F.col("w") == F.col("fw"), "new")
            .when(F.col("pu").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("status"),
        )
    )
    max_w = act.agg(F.max("w").alias("mw"))
    nxt = act.select(
        F.col("user_id").alias("nu"), F.col("w").alias("nw")
    )
    churn = (
        act.join(
            nxt,
            (act.user_id == nxt.nu)
            & (nxt.nw == act.w + F.expr("INTERVAL 7 DAYS")),
            "left_anti",
        )
        .join(F.broadcast(max_w))
        .filter(act.w + F.expr("INTERVAL 7 DAYS") <= F.col("mw"))
        .select(
            (F.col("w") + F.expr("INTERVAL 7 DAYS")).alias("w"),
            F.lit("churned").alias("status"),
        )
    )
    all_rows = labeled.unionByName(churn)
    cnt = lambda s: F.count(F.when(F.col("status") == s, 1)).alias(f"n_{s}")  # noqa: E731
    return (
        all_rows.groupBy(F.col("w").alias("week"))
        .agg(cnt("new"), cnt("retained"), cnt("resurrected"), cnt("churned"))
        .orderBy("week")
    )


# --- q316: burst detection — the most intense user-minutes (events
# per user per tumbling minute): the rate-limit/bot heuristic. One
# two-key rollup then a deterministic top-k; at 100 TB the rollup
# pre-aggregates map-side and the top-k is a TakeOrdered, no global
# sort. -----------------------------------------------------------------------
@query(
    "q316_user_minute_bursts",
    oracle="""
    WITH per_min AS (
        SELECT user_id, date_trunc('minute', ts) AS minute_start,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, minute_start, n_events
    FROM per_min
    ORDER BY n_events DESC, user_id, minute_start
    LIMIT 15
    """,
)
def q316(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.date_trunc("minute", "ts").alias("minute_start")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), "user_id", "minute_start")
        .limit(15)
    )


# --- q319: exponential PPCC goodness-of-fit — are inter-event gaps
# exponential (memoryless arrivals)? The probability-plot correlation
# coefficient: pooled per-user gaps, globally ranked with the
# partition-offset prefix sum (no single-task sort), plotted against
# exponential quantiles -ln(1 - (i-0.5)/n); PPCC near 1 accepts the
# exponential model. Gaps are exact integer seconds; quantile terms
# quantize at 1e-6 so every correlation sum folds as exact BIGINTs. ----------
_Q319_CORR = (
    "(CAST(n AS DOUBLE) * sxy - sx * sy) / "
    "(SQRT(CAST(n AS DOUBLE) * sxx - sx * sx)"
    " * SQRT(CAST(n AS DOUBLE) * syy - sy * sy))"
)


@query(
    "q319_exponential_gap_ppcc",
    oracle=f"""
    WITH gaps AS (
        SELECT CAST(FLOOR((epoch_us(ts) - LAG(epoch_us(ts)) OVER w) / 1000000.0)
                    AS BIGINT) AS g
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    valid AS (SELECT g FROM gaps WHERE g IS NOT NULL),
    ranked AS (
        SELECT g, CAST(ROW_NUMBER() OVER (ORDER BY g, g) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM valid
    ),
    terms AS (
        SELECT g AS x,
               CAST(FLOOR(-LN(1.0 - (i - 0.5) / n) * 1000000.0 + 0.5) AS BIGINT) AS tq
        FROM ranked
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
               (CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1000000.0) AS sy,
               CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx,
               (CAST(CAST(SUM(tq * tq) AS BIGINT) AS DOUBLE) / 1000000000000.0) AS syy,
               (CAST(CAST(SUM(x * tq) AS BIGINT) AS DOUBLE) / 1000000.0) AS sxy
        FROM terms
    )
    SELECT n AS n_gaps, ROUND({_Q319_CORR}, 6) AS ppcc
    FROM sums
    """,
)
def q319(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_sum

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        F.floor((us - F.lag(us).over(w)) / 1e6).cast("long").alias("g")
    ).filter(F.col("g").isNotNull())
    ranked = global_prefix_sum(
        gaps, [F.asc("g")], F.lit(1.0), "i", scale=0
    ).withColumn("i", F.col("i").cast("long"))
    n_tot = ranked.agg(F.count(F.lit(1)).alias("n"))
    terms = ranked.join(F.broadcast(n_tot)).select(
        F.col("g").alias("x"),
        F.expr(
            "CAST(FLOOR(-LN(1.0 - (i - 0.5) / n) * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("tq"),
    )
    sums = terms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        (F.sum("tq").cast("double") / 1e6).alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        (F.sum(F.col("tq") * F.col("tq")).cast("double") / 1e12).alias("syy"),
        (F.sum(F.col("x") * F.col("tq")).cast("double") / 1e6).alias("sxy"),
    )
    return sums.select(
        F.col("n").alias("n_gaps"),
        F.round(F.expr(_Q319_CORR), 6).alias("ppcc"),
    )


# --- q321: calendar heatmap grid — ISO-weekday x hour event density,
# the standard activity-rhythm dashboard tile: one two-key rollup with
# map-side partials, engine-exact by construction. ---------------------------
@query(
    "q321_weekday_hour_heatmap",
    oracle=f"""
    SELECT CAST(isodow(ts) AS INTEGER) AS weekday,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value', 4)} AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q321(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (((F.dayofweek("ts") + 5) % 7) + 1).alias("weekday"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 4).alias("sum_value"),
        )
        .orderBy("weekday", "hour")
    )


# --- q334: Kaplan-Meier time-to-convert survival curve. Subject =
# user with a signup; event = first purchase AFTER the first signup
# (duration in days); users who never purchase after signing up are
# right-CENSORED at the corpus end. Product-limit estimator over the
# grouped duration table: at-risk counts from a prefix sum, the
# survival product as exp(Σ ln(1 - d/n)) so both engines evaluate the
# identical double tree in the identical (duration-ascending) order.
# Scale shape: two shuffles (per-user conditional-min agg, per-duration
# agg); the final window runs over DISTINCT day-valued durations —
# bounded by the observation calendar span, not the row count
# (whitelisted in tests/test_plans.py). Reference: survival analysis
# surface of src/stats/mod.rs (KM estimator).
@query(
    "q334_kaplan_meier_engagement",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
               MAX(ts) AS l
        FROM events GROUP BY user_id
    ),
    cut AS (SELECT MAX(ts) AS mx FROM events),
    conv AS (
        SELECT s.user_id, MIN(e.ts) AS tp
        FROM events e JOIN spans s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s.t0
        GROUP BY s.user_id
    ),
    obs AS (
        SELECT CASE WHEN c.tp IS NOT NULL THEN DATEDIFF('day', s.t0, c.tp)
                    ELSE DATEDIFF('day', s.t0, k.mx) END AS t,
               CASE WHEN c.tp IS NOT NULL THEN 0 ELSE 1 END AS cens
        FROM spans s LEFT JOIN conv c ON c.user_id = s.user_id, cut k
        WHERE s.t0 IS NOT NULL
    ),
    grp AS (
        SELECT t,
               CAST(SUM(1 - cens) AS BIGINT) AS d,
               CAST(SUM(cens) AS BIGINT) AS c
        FROM obs GROUP BY t
    ),
    risked AS (
        SELECT t, d,
               (SELECT COUNT(*) FROM obs)
                 - COALESCE(SUM(d + c) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n_risk
        FROM grp
    ),
    km AS (
        SELECT t, d, n_risk,
               CASE WHEN SUM(CASE WHEN d * 1.0 >= n_risk THEN 1 ELSE 0 END)
                        OVER (ORDER BY t) > 0
                    THEN 0.0
                    ELSE EXP(SUM(LN(CASE WHEN d * 1.0 < n_risk
                                        THEN 1 - d * 1.0 / n_risk
                                        ELSE 1 END)) OVER (ORDER BY t))
               END AS surv
        FROM risked
    )
    SELECT CAST(t AS BIGINT) AS duration_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events,
           ROUND(surv, 6) AS survival
    FROM km WHERE d > 0 ORDER BY duration_days
    """,
)
def q334(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0")
    ).filter(F.col("t0").isNotNull())
    cut = ev.agg(F.max("ts").alias("mx"))
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(spans, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    obs = (
        spans.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(cut))
        .select(
            F.when(
                F.col("tp").isNotNull(), F.datediff("tp", "t0")
            ).otherwise(F.datediff("mx", "t0")).alias("t"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    from pandrs_spark.operators.timeseries import kaplan_meier

    return kaplan_meier(obs, "t", "event").select(
        F.col("duration").alias("duration_days"),
        "n_risk",
        "n_events",
        F.round("survival", 6).alias("survival"),
    ).orderBy("duration_days")


# --- q335: CUPED variance reduction for an A/B readout. Arms are a
# deterministic md5 coin on user_id; the pre/post split is the midpoint
# of the observation window (day granularity). Per-user pre-metric X
# and post-metric Y are quantized sums; theta = cov(X,Y)/var(X) from
# pooled exact sufficient statistics, and the adjusted per-arm mean is
# mean_y_arm - theta * (mean_x_arm - mean_x_global) — CUPED's linear
# form means arm aggregates suffice, no per-row adjusted column shuffle.
# Scale shape: one per-user agg, one 2-row arm agg, broadcast scalars.
# (Deng et al. 2013, "Improving the Sensitivity of Online Controlled
# Experiments by Utilizing Pre-Experiment Data", WSDM.)
@query(
    "q335_cuped_adjusted_lift",
    oracle="""
    WITH bounds AS (
        SELECT MIN(ts) AS mn,
               CAST(FLOOR(DATEDIFF('day', MIN(ts), MAX(ts)) / 2) AS INT) AS half
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               COALESCE(SUM(CASE WHEN DATEDIFF('day', mn, ts) < half THEN
                 CAST(SIGN(value) * FLOOR(ABS(value) * 10000 + 0.5) AS BIGINT)
                 END), 0) / 10000.0 AS x,
               COALESCE(SUM(CASE WHEN DATEDIFF('day', mn, ts) >= half THEN
                 CAST(SIGN(value) * FLOOR(ABS(value) * 10000 + 0.5) AS BIGINT)
                 END), 0) / 10000.0 AS y
        FROM events, bounds GROUP BY user_id
    ),
    armed AS (
        SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                    THEN 'treatment' ELSE 'control' END AS arm, x, y
        FROM per_user
    ),
    arm_stats AS (
        SELECT arm, COUNT(*) AS n,
               SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sx,
               SUM(CAST(SIGN(y) * FLOOR(ABS(y) * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sy,
               SUM(CAST(SIGN(x * x) * FLOOR(ABS(x * x) * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sxx,
               SUM(CAST(SIGN(x * y) * FLOOR(ABS(x * y) * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sxy
        FROM armed GROUP BY arm
    ),
    pooled AS (
        SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
               SUM(sxx) AS sxx, SUM(sxy) AS sxy
        FROM arm_stats
    )
    SELECT a.arm, CAST(a.n AS BIGINT) AS n_users,
           ROUND(a.sy / a.n, 6) AS mean_y,
           ROUND(a.sy / a.n
                 - ((p.n * p.sxy - p.sx * p.sy) / (p.n * p.sxx - p.sx * p.sx))
                   * (a.sx / a.n - p.sx / p.n), 6) AS mean_y_adjusted,
           ROUND((p.n * p.sxy - p.sx * p.sy) / (p.n * p.sxx - p.sx * p.sx), 6) AS theta
    FROM arm_stats a, pooled p ORDER BY a.arm
    """,
)
def q335(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").alias("mn"),
        F.floor(F.datediff(F.max("ts"), F.min("ts")) / 2).cast("int").alias("half"),
    )
    pre = F.datediff("ts", "mn") < F.col("half")
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.coalesce(dsum(F.when(pre, F.col("value")), 4), F.lit(0.0)).alias("x"),
            F.coalesce(dsum(F.when(~pre, F.col("value")), 4), F.lit(0.0)).alias("y"),
        )
    )
    armed = per_user.select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit("treatment"),
        )
        .otherwise(F.lit("control"))
        .alias("arm"),
        "x",
        "y",
    )
    arm_stats = armed.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x", 4).alias("sx"),
        dsum("y", 4).alias("sy"),
        dsum(F.col("x") * F.col("x"), 4).alias("sxx"),
        dsum(F.col("x") * F.col("y"), 4).alias("sxy"),
    )
    pooled = arm_stats.agg(
        F.sum("n").alias("pn"),
        F.sum("sx").alias("psx"),
        F.sum("sy").alias("psy"),
        F.sum("sxx").alias("psxx"),
        F.sum("sxy").alias("psxy"),
    )
    theta = "((pn * psxy - psx * psy) / (pn * psxx - psx * psx))"
    return (
        arm_stats.crossJoin(F.broadcast(pooled))
        .select(
            "arm",
            F.col("n").cast("long").alias("n_users"),
            F.round(F.expr("sy / n"), 6).alias("mean_y"),
            F.round(
                F.expr(f"sy / n - {theta} * (sx / n - psx / pn)"), 6
            ).alias("mean_y_adjusted"),
            F.round(F.expr(theta), 6).alias("theta"),
        )
        .orderBy("arm")
    )


# --- q339: marketing-touch attribution. Conversions = purchase
# events; each is attributed to (a) the user's most recent prior
# non-purchase touch (LAST-touch) and (b) the user's earliest prior
# touch (FIRST-touch), "prior" under the total per-user order
# (ts, event_id). One pass: a per-user window carries the running
# first/last touch type with an UNBOUNDED-PRECEDING..-1 frame (no
# self-join against the touch log), then a channel rollup with
# quantized purchase value. Windows are partitioned BY USER — scale-
# safe. Reference: attribution-funnel surface of src/temporal/mod.rs.
@query(
    "q339_touch_attribution",
    oracle="""
    WITH p AS (
        SELECT e.event_id, e.value,
            (SELECT t.event_type FROM events t
             WHERE t.user_id = e.user_id AND t.event_type <> 'purchase'
               AND (t.ts < e.ts OR (t.ts = e.ts AND t.event_id < e.event_id))
             ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS last_touch,
            (SELECT t.event_type FROM events t
             WHERE t.user_id = e.user_id AND t.event_type <> 'purchase'
               AND (t.ts < e.ts OR (t.ts = e.ts AND t.event_id < e.event_id))
             ORDER BY t.ts ASC, t.event_id ASC LIMIT 1) AS first_touch
        FROM events e WHERE e.event_type = 'purchase'
    ),
    l AS (
        SELECT last_touch AS channel, COUNT(*) AS n_last,
               SUM(CAST(SIGN(value) * FLOOR(ABS(value) * 10000 + 0.5) AS BIGINT))
                 / 10000.0 AS value_last
        FROM p WHERE last_touch IS NOT NULL GROUP BY last_touch
    ),
    f AS (
        SELECT first_touch AS channel, COUNT(*) AS n_first FROM p
        WHERE first_touch IS NOT NULL GROUP BY first_touch
    )
    SELECT COALESCE(l.channel, f.channel) AS channel,
           CAST(COALESCE(n_last, 0) AS BIGINT) AS n_last_touch,
           CAST(COALESCE(n_first, 0) AS BIGINT) AS n_first_touch,
           COALESCE(value_last, 0.0) AS value_last_touch
    FROM l FULL OUTER JOIN f ON f.channel = l.channel
    ORDER BY channel
    """,
)
def q339(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    attributed = (
        ev.withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
        .withColumn("first_touch", F.first(touch, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
    )
    l = (
        attributed.filter(F.col("last_touch").isNotNull())
        .groupBy(F.col("last_touch").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_last"),
            dsum("value", 4).alias("value_last"),
        )
    )
    f = (
        attributed.filter(F.col("first_touch").isNotNull())
        .groupBy(F.col("first_touch").alias("channel_f"))
        .agg(F.count(F.lit(1)).alias("n_first"))
    )
    return (
        l.join(f, l.channel == f.channel_f, "full")
        .select(
            F.coalesce("channel", "channel_f").alias("channel"),
            F.coalesce("n_last", F.lit(0)).cast("long").alias("n_last_touch"),
            F.coalesce("n_first", F.lit(0)).cast("long").alias("n_first_touch"),
            F.coalesce("value_last", F.lit(0.0)).alias("value_last_touch"),
        )
        .orderBy("channel")
    )


# --- q346: most-common 3-step event paths. Per-user lead windows under
# the total (ts, event_id) order make each row its own trigram — no
# per-user collect_list, no session-long arrays — then a global count
# + deterministic top-10. Windows partition BY USER (scale-safe); the
# top-k is TakeOrdered-shaped. Reference: sequence/path mining of
# src/temporal/mod.rs.
@query(
    "q346_top_event_trigrams",
    oracle="""
    WITH seq AS (
        SELECT event_type AS a,
               LEAD(event_type, 1) OVER w AS b,
               LEAD(event_type, 2) OVER w AS c
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT a || '>' || b || '>' || c AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 10
    """,
)
def q346(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    )
    return (
        seq.filter(F.col("b").isNotNull() & F.col("c").isNotNull())
        .select(F.concat_ws(">", "a", "b", "c").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


# --- q347: first-order Markov transition matrix between event types.
# cur→next pairs from a per-user lead window; P(next|cur) is an exact
# integer ratio per (cur, next) cell — ~k² rows for k event types.
# One window pass + one cell aggregate. Reference: transition-model
# surface of src/temporal/mod.rs.
@query(
    "q347_event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    cells AS (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    rows_ AS (SELECT cur, SUM(n) AS row_n FROM cells GROUP BY cur)
    SELECT c.cur, c.nxt, c.n,
           ROUND(CAST(c.n AS DOUBLE) / r.row_n, 6) AS p
    FROM cells c JOIN rows_ r ON r.cur = c.cur
    ORDER BY c.cur, c.nxt
    """,
)
def q347(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    cells = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    rows_ = cells.groupBy(F.col("cur").alias("cur_r")).agg(
        F.sum("n").alias("row_n")
    )
    return (
        cells.join(F.broadcast(rows_), cells.cur == rows_.cur_r)
        .select(
            "cur",
            "nxt",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n").cast("double") / F.col("row_n"), 6).alias("p"),
        )
        .orderBy("cur", "nxt")
    )


# --- q351: rolling DAU / MAU / stickiness. DAU from the distinct
# (user, day) table; MAU joins that table to the CALENDAR-bounded day
# spine on a 30-day trailing range — each user-day lands in ≤30 spine
# rows, so the join output is 30× the user-day table, never rows² —
# then one distinct-count per spine day. Stickiness = DAU/MAU as an
# exact integer ratio. Reference: activity rollups of
# src/temporal/resample/mod.rs.
@query(
    "q351_dau_mau_stickiness",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS d FROM events
    ),
    spine AS (SELECT DISTINCT d FROM ud),
    dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY d),
    mau AS (
        SELECT s.d, COUNT(DISTINCT u.user_id) AS mau
        FROM spine s JOIN ud u
          ON u.d <= s.d AND u.d > s.d - INTERVAL 30 DAY
        GROUP BY s.d
    )
    SELECT s.d AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(mau.mau AS BIGINT) AS mau,
           ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
    FROM spine s JOIN dau ON dau.d = s.d JOIN mau ON mau.d = s.d
    ORDER BY day
    """,
)
def q351(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    spine = ud.select(F.col("d").alias("sd")).distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    mau = (
        F.broadcast(spine)
        .join(
            ud,
            (F.col("d") <= F.col("sd"))
            & (F.col("d") > F.col("sd") - F.expr("INTERVAL 30 DAY")),
        )
        .groupBy("sd")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, dau.d == mau.sd)
        .select(
            F.col("d").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("mau").cast("long").alias("mau"),
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


# --- q355: weekly conversion-rate trend. Cohort = week of first
# signup; conversion = first purchase within 7 days of that signup
# (the q344 outcome, trended by cohort week). One conditional-min agg,
# one filtered join, one weekly rollup — integer ratios only.
# Reference: funnel trend rollups of src/temporal/mod.rs.
@query(
    "q355_weekly_conversion_trend",
    oracle="""
    WITH s0 AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT s.user_id, MIN(e.ts) AS tp
        FROM events e JOIN s0 s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s.t0
          AND e.ts <= s.t0 + INTERVAL 7 DAY
        GROUP BY s.user_id
    )
    SELECT DATE_TRUNC('week', s.t0) AS cohort_week,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(COUNT(c.tp) AS BIGINT) AS n_converted,
           ROUND(CAST(COUNT(c.tp) AS DOUBLE) / COUNT(*), 6) AS conversion
    FROM s0 s LEFT JOIN conv c ON c.user_id = s.user_id
    WHERE s.t0 IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def q355(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    s0 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0")
    ).filter(F.col("t0").isNotNull())
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s0, "user_id")
        .filter(
            (F.col("ts") > F.col("t0"))
            & (F.col("ts") <= F.col("t0") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    return (
        s0.join(conv, "user_id", "left")
        .groupBy(F.date_trunc("week", "t0").alias("cohort_week"))
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.count("tp").alias("n_converted"),
            F.round(F.count("tp").cast("double") / F.count(F.lit(1)), 6).alias(
                "conversion"
            ),
        )
        .orderBy("cohort_week")
    )


# --- q364: audience overlap — viewers ∩ purchasers. Exact distinct /
# overlap / Jaccard from integer aggregates (one conditional-flag
# per-user pass, no self-join), PLUS the sketch tier certificate:
# approx_count_distinct (HyperLogLog++) must land within 5% of each
# exact cardinality — the inclusion-exclusion |A∪B| path a 100 TB
# audience system would serve from mergeable sketches, with its error
# measured in-gate rather than assumed (q88 recall pattern).
# Reference: distinct-set analytics of src/dataframe/groupby.rs +
# sketch tier of src/optimized/.
@query(
    "q364_audience_overlap_sketch",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(v) AS BIGINT) AS n_viewers,
           CAST(SUM(p) AS BIGINT) AS n_purchasers,
           CAST(SUM(v * p) AS BIGINT) AS n_both,
           CAST(SUM(CASE WHEN v = 1 OR p = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_union,
           ROUND(CAST(SUM(v * p) AS DOUBLE)
                 / SUM(CASE WHEN v = 1 OR p = 1 THEN 1 ELSE 0 END), 6)
             AS jaccard,
           TRUE AS hll_viewers_within_5pct,
           TRUE AS hll_union_within_5pct
    FROM per_user
    """,
)
def q364(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("v"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("p"),
    )
    exact = per_user.agg(
        F.sum("v").cast("long").alias("n_viewers"),
        F.sum("p").cast("long").alias("n_purchasers"),
        F.sum(F.col("v") * F.col("p")).cast("long").alias("n_both"),
        F.sum(
            F.when((F.col("v") == 1) | (F.col("p") == 1), 1).otherwise(0)
        ).cast("long").alias("n_union"),
    )
    # rsd=0.01 (2^14-register HLL, still a bounded sketch): the
    # default 0.05 sketch landed OUTSIDE the 5%-of-exact certificate
    # band at sf0.1 (~7k distinct viewers) — a one-sigma-sized band
    # around a one-sigma sketch flips by luck of the hash draw. A 1%
    # sketch keeps the 5% claim with 5-sigma margin at every SF.
    sketch = ev.agg(
        F.approx_count_distinct(
            F.when(F.col("event_type") == "view", F.col("user_id")),
            rsd=0.01,
        ).alias("hll_viewers"),
        F.approx_count_distinct(
            F.when(
                F.col("event_type").isin("view", "purchase"), F.col("user_id")
            ),
            rsd=0.01,
        ).alias("hll_union"),
    )
    return exact.crossJoin(F.broadcast(sketch)).select(
        "n_viewers",
        "n_purchasers",
        "n_both",
        "n_union",
        F.round(
            F.col("n_both").cast("double") / F.col("n_union"), 6
        ).alias("jaccard"),
        (
            F.abs(F.col("hll_viewers") - F.col("n_viewers"))
            <= 0.05 * F.col("n_viewers")
        ).alias("hll_viewers_within_5pct"),
        (
            F.abs(F.col("hll_union") - F.col("n_union"))
            <= 0.05 * F.col("n_union")
        ).alias("hll_union_within_5pct"),
    )


# --- q365: cohort LTV (lifetime value) curve. Cohort = week of first
# event; age k = weeks since cohort start; the curve is each cohort's
# CUMULATIVE per-user revenue through age k. The cumsum window is
# partitioned BY COHORT (scale-safe — never a global window); weekly
# cell revenue is an exact quantized sum, so the running total is
# order-independent. Reference: cohort-value rollups of
# src/temporal/resample/mod.rs.
@query(
    "q365_cohort_ltv_curve",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cw FROM events
        GROUP BY user_id
    ),
    sizes AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS n_users
              FROM first_seen GROUP BY cw),
    cells AS (
        SELECT f.cw,
               CAST(FLOOR(DATEDIFF('day', f.cw, DATE_TRUNC('week', e.ts)) / 7)
                    AS INT) AS k,
               SUM(CAST(SIGN(e.value) * FLOOR(ABS(e.value) * 10000 + 0.5)
                        AS BIGINT)) AS rev
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    )
    SELECT c.cw AS cohort_week, c.k AS week_k, s.n_users,
           ROUND(CAST(SUM(c.rev) OVER (PARTITION BY c.cw ORDER BY c.k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / 10000.0 / s.n_users, 6) AS cum_ltv_per_user
    FROM cells c JOIN sizes s ON s.cw = c.cw
    ORDER BY cohort_week, week_k
    """,
)
def q365(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    ev = T(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    sizes = first_seen.groupBy(F.col("cw").alias("cw_s")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cw",
            F.floor(
                F.datediff(F.date_trunc("week", "ts"), F.col("cw")) / 7
            ).cast("int").alias("k"),
        )
        .agg(F.sum(quantize("value", 4)).alias("rev"))
    )
    return (
        cells.join(F.broadcast(sizes), cells.cw == sizes.cw_s)
        .select(
            F.col("cw").alias("cohort_week"),
            F.col("k").alias("week_k"),
            "n_users",
            F.round(
                F.sum("rev").over(
                    Window.partitionBy("cw")
                    .orderBy("k")
                    .rowsBetween(Window.unboundedPreceding, 0)
                ).cast("double")
                / 10000.0
                / F.col("n_users"),
                6,
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_week", "week_k")
    )


def _cms_sql_bucket(key_expr: str, width: int) -> str:
    """DuckDB replay of operators/sketches._cms_bucket's md5-derived
    bucket: decode the first 8 hex chars of md5('cms|i|key') to a long,
    mod width. Generated positionally (16^7..16^0) exactly like the
    q212/q233 oracle idiom."""
    h = f"substr(md5('cms|' || d.i || '|' || {key_expr}), 1, 8)"
    terms = " + ".join(
        f"{16 ** (7 - j)} * (strpos('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1)"
        for j in range(8)
    )
    return f"(({terms}) % {width})"


# --- q367: STREAMING count-min sketch maintenance IN-GATE. The events
# backlog replays as real availableNow micro-batches; each batch's
# rows hash into the 4x256 grid map-side and the foreachBatch sink
# merges per-batch partial counts into the maintained grid (integer
# adds — CMS grids are exactly mergeable, so batch boundaries cannot
# change the result). The final maintained grid must equal the grid
# DuckDB rebuilds from the full table in one shot: the estimates for
# every event type, their exact counts, and the one-sided guarantee
# all sit inside the hash gate. The mergeable-sketch pattern is THE
# 100 TB streaming frequency design (fixed memory, no per-key state).
# streaming/windows.py:incremental_aggregate_sink +
# operators/sketches.py:_cms_bucket. ----------------------------------------
@query(
    "q367_streaming_cms_maintenance",
    oracle=f"""
    WITH d AS (SELECT i FROM UNNEST(generate_series(0, 3)) AS t(i)),
    keys AS (SELECT event_type AS k, COUNT(*) AS exact_count
             FROM events GROUP BY 1),
    hashed AS (
        SELECT d.i, {_cms_sql_bucket('k', 256)} AS b, k, exact_count
        FROM keys, d
    ),
    sketch AS (
        SELECT d.i, {_cms_sql_bucket('k', 256)} AS b, COUNT(*) AS c
        FROM (SELECT event_type AS k FROM events), d
        GROUP BY 1, 2
    ),
    est AS (
        SELECT h.k, h.exact_count, MIN(COALESCE(s.c, 0)) AS est_count
        FROM hashed h LEFT JOIN sketch s ON h.i = s.i AND h.b = s.b
        GROUP BY h.k, h.exact_count
    )
    SELECT k AS event_type,
           CAST(est_count AS BIGINT) AS est_count,
           CAST(exact_count AS BIGINT) AS exact_count,
           est_count >= exact_count AS never_undercounts
    FROM est ORDER BY event_type
    """,
)
def q367(spark, sf_dir):
    from pandrs_spark.operators.sketches import _cms_bucket
    from pandrs_spark.streaming.windows import (
        incremental_aggregate_sink,
        run_available_now,
    )

    _static, sdf = _events_static_and_stream(spark, sf_dir)
    depth, width = 4, 256
    hashed = (
        sdf.select(F.col("event_type").cast("string").alias("__k__"))
        .select(
            "__k__",
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("__i__"),
        )
        .select("__i__", _cms_bucket(width, fast_hash=False))
    )
    run_available_now(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda: incremental_aggregate_sink(
            hashed,
            keys=["__i__", "__b__"],
            count_col="__c__",
            sum_cols=[],
            table="q367_cms_grid",
        ),
        "q367",
    )
    grid = spark.table("global_temp.q367_cms_grid")
    ev = T(spark, sf_dir, "events")
    keys = ev.groupBy(F.col("event_type").cast("string").alias("__k__")).agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    probe = keys.select(
        "__k__",
        "exact_count",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("__i__"),
    ).select("__k__", "exact_count", "__i__", _cms_bucket(width, fast_hash=False))
    est = (
        probe.join(F.broadcast(grid), ["__i__", "__b__"], "left")
        .groupBy("__k__", "exact_count")
        .agg(F.min(F.coalesce(F.col("__c__"), F.lit(0))).alias("est_count"))
    )
    return est.select(
        F.col("__k__").alias("event_type"),
        F.col("est_count").cast("long").alias("est_count"),
        F.col("exact_count").cast("long").alias("exact_count"),
        (F.col("est_count") >= F.col("exact_count")).alias("never_undercounts"),
    ).orderBy("event_type")


# --- q372: STREAM-STATIC broadcast enrichment through the gate. The
# canonical streaming-ETL join shape: a micro-batched event stream
# inner-joined to a small static dimension (user→tier, broadcast — no
# shuffle, no stream-state, because the static side is a plain batch
# relation re-planned per micro-batch) before a watermarked tumbling
# daily rollup. availableNow replays the whole backlog through real
# micro-batches; the complete-mode sink hash-matches DuckDB's batch
# join+aggregate — pinning that enrichment-then-aggregate streams and
# batch agree. At 100 TB the dimension stays broadcast and the only
# shuffle is the windowed aggregation's. Reference: streaming
# enrichment surface of src/streaming/mod.rs:218.
def _q372_oracle() -> str:
    return f"""
    WITH dim AS (
        SELECT DISTINCT user_id,
               CASE user_id % 3 WHEN 0 THEN 'gold'
                                WHEN 1 THEN 'silver'
                                ELSE 'bronze' END AS tier
        FROM events
    )
    SELECT date_trunc('day', e.ts) AS day_start, d.tier,
           COUNT(*) AS n_events,
           {sql_dsum('e.value', 4)} AS sum_value
    FROM events e JOIN dim d ON d.user_id = e.user_id
    GROUP BY day_start, d.tier
    ORDER BY day_start, d.tier
    """


@query("q372_streaming_static_enrichment", oracle=_q372_oracle())
def q372(spark, sf_dir):
    from pandrs_spark.streaming.windows import (
        run_available_now,
        stream_to_memory,
        tumbling,
        windowed_agg,
    )

    static, sdf = _events_static_and_stream(spark, sf_dir)
    dim = static.select("user_id").distinct().select(
        "user_id",
        F.when(F.col("user_id") % 3 == 0, "gold")
        .when(F.col("user_id") % 3 == 1, "silver")
        .otherwise("bronze")
        .alias("tier"),
    )
    enriched = sdf.join(F.broadcast(dim), "user_id")
    agg = windowed_agg(
        enriched,
        tumbling("ts", "1 day"),
        [
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 4).alias("sum_value"),
        ],
        keys=["tier"],
        watermark=("ts", "2 days"),
    )
    sink = "q372_stream_sink"
    run_available_now(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda: stream_to_memory(agg, sink, output_mode="complete"),
        "q372",
    )
    return (
        spark.table(sink)
        .select(
            F.col("w.start").alias("day_start"),
            "tier",
            F.col("n_events").cast("long").alias("n_events"),
            "sum_value",
        )
        .orderBy("day_start", "tier")
    )


# --- q393: streaming per-user EWMA control-chart anomalies — a REAL
# availableNow micro-batch run through applyInPandasWithState
# (streaming/windows.py:stateful_ewma_anomaly). The oracle folds the
# IDENTICAL [mean, var, n, anomalies] state machine per user with
# DuckDB list_reduce over the (ts, event_id)-ordered value list, so
# the O(1)-state recursion itself is inside the hash gate (the q82 /
# q386 pattern applied to streaming state). ----------------------------------
@query(
    "q393_streaming_ewma_anomalies",
    oracle="""
    WITH ser AS (
        SELECT user_id,
               list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs
        FROM events WHERE user_id % 10 = 3
        GROUP BY user_id
    ),
    folded AS (
        SELECT user_id, len(xs) AS n_events,
               list_reduce(
                   list_prepend([0.0, 0.0, 0.0, 0.0],
                                list_transform(xs, x -> [x])),
                   (acc, e) -> CASE
                       WHEN acc[3] = 0 THEN [e[1], 0.0, 1.0, 0.0]
                       ELSE [
                           0.2 * e[1] + (1.0 - 0.2) * acc[1],
                           (1.0 - 0.2) * (acc[2]
                               + 0.2 * (e[1] - acc[1]) * (e[1] - acc[1])),
                           acc[3] + 1.0,
                           acc[4] + CASE WHEN acc[3] >= 5
                                          AND ABS(e[1] - acc[1])
                                              > 3.0 * SQRT(acc[2])
                                         THEN 1.0 ELSE 0.0 END
                       ]
                   END
               ) AS st
        FROM ser
    )
    SELECT user_id, n_events,
           CAST(SIGN(st[1]) * FLOOR(ABS(st[1]) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS ewma,
           CAST(SIGN(SQRT(st[2])) * FLOOR(ABS(SQRT(st[2])) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS ew_std,
           CAST(st[4] AS BIGINT) AS n_anomalies
    FROM folded
    ORDER BY user_id
    """,
)
def q393(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.streaming.windows import (
        run_available_now,
        stateful_ewma_anomaly,
        stream_to_memory,
    )

    _, sdf = _events_static_and_stream(spark, sf_dir)
    det = stateful_ewma_anomaly(
        sdf.filter(F.col("user_id") % 10 == 3),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        order_col="event_id",
        alpha=0.2,
        z_thresh=3.0,
        warmup=5,
    )
    sink = "q393_stream_sink"
    run_available_now(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda: stream_to_memory(det, sink, output_mode="update"),
        "q393",
    )
    final = spark.table(sink).groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.expr("max_by(ewma, n_events)").alias("__ewma__"),
        F.expr("max_by(ew_std, n_events)").alias("__ew_std__"),
        F.expr("max_by(n_anomalies, n_events)").alias("n_anomalies"),
    )
    return final.select(
        "user_id",
        "n_events",
        (quantize("__ewma__", 6) / 1e6).alias("ewma"),
        (quantize("__ew_std__", 6) / 1e6).alias("ew_std"),
        "n_anomalies",
    ).orderBy("user_id")


# --- q396: gaps-and-islands — per-user consecutive purchase-day
# streaks via the anchor-date trick (day − per-user row_number is
# constant within an island). Windows are PARTITIONED BY user, so the
# pattern holds at any user cardinality; a 100 TB events table
# shuffles once on user_id and every streak computation stays local.
# (§2.5 window family; the sessionization cousin of q288.) -------------------
@query(
    "q396_purchase_streaks",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS dday
        FROM events WHERE event_type = 'purchase'
    ),
    g AS (
        SELECT user_id, dday,
               CAST(dday AS DATE)
               - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dday)
                      AS INT) AS anchor
        FROM d
    ),
    s AS (
        SELECT user_id, anchor, COUNT(*) AS len, MIN(dday) AS streak_start
        FROM g GROUP BY 1, 2
    ),
    m AS (SELECT user_id, MAX(len) AS longest FROM s GROUP BY 1)
    SELECT s.user_id,
           CAST(SUM(s.len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MIN(m.longest) AS BIGINT) AS longest_streak,
           CAST(MIN(CASE WHEN s.len = m.longest THEN s.streak_start END)
                AS TIMESTAMP) AS longest_streak_start
    FROM s JOIN m ON s.user_id = m.user_id
    GROUP BY s.user_id
    ORDER BY s.user_id
    """,
)
def q396(spark, sf_dir):
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.date_trunc("day", "ts").alias("dday"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("dday")
    g = d.withColumn(
        "anchor",
        F.date_sub(F.col("dday").cast("date"), F.row_number().over(w)),
    )
    s = g.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len"), F.min("dday").alias("streak_start")
    )
    m = s.groupBy("user_id").agg(F.max("len").alias("longest"))
    return (
        s.join(m, "user_id")
        .groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("n_active_days"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.min("longest").cast("long").alias("longest_streak"),
            F.min(
                F.when(F.col("len") == F.col("longest"), F.col("streak_start"))
            )
            .cast("timestamp")
            .alias("longest_streak_start"),
        )
        .orderBy("user_id")
    )


# --- q402: two-sample log-rank test (Mantel-Cox) — do the md5-split
# arms convert at the same hazard? Reuses q334's time-to-convert
# construction with a deterministic arm assignment; the hypergeometric
# O/E/V sums run per distinct day duration (calendar-bounded risk-set
# window, the q334 whitelist argument) from quantized exact terms.
# operators/timeseries.py:logrank_test. --------------------------------------
@query(
    "q402_logrank_conversion_arms",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
        FROM events GROUP BY user_id
    ),
    cut AS (SELECT MAX(ts) AS mx FROM events),
    conv AS (
        SELECT s.user_id, MIN(e.ts) AS tp
        FROM events e JOIN spans s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s.t0
        GROUP BY s.user_id
    ),
    obs AS (
        SELECT CASE WHEN c.tp IS NOT NULL THEN DATEDIFF('day', s.t0, c.tp)
                    ELSE DATEDIFF('day', s.t0, k.mx) END AS t,
               CASE WHEN c.tp IS NOT NULL THEN 1 ELSE 0 END AS ev,
               CASE WHEN substr(md5(CAST(s.user_id AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS grp
        FROM spans s LEFT JOIN conv c ON c.user_id = s.user_id, cut k
        WHERE s.t0 IS NOT NULL
    ),
    bytime AS (
        SELECT t,
               SUM(CASE WHEN grp = 1 AND ev = 1 THEN 1 ELSE 0 END) AS d1,
               SUM(CASE WHEN grp = 0 AND ev = 1 THEN 1 ELSE 0 END) AS d0,
               SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS a1,
               SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS a0
        FROM obs GROUP BY t
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1_total,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0_total
        FROM obs
    ),
    risked AS (
        SELECT b.*, t2.n1_total, t2.n0_total,
               t2.n1_total - COALESCE(SUM(a1) OVER w, 0) AS n1,
               t2.n0_total - COALESCE(SUM(a0) OVER w, 0) AS n0
        FROM bytime b, tot t2
        WINDOW w AS (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    terms AS (
        SELECT n1_total, n0_total, d1,
               CAST(d1 + d0 AS DOUBLE) * CAST(n1 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) + n0) AS e1_term,
               CASE WHEN CAST(n1 AS DOUBLE) + n0 > 1
                    THEN CAST(d1 + d0 AS DOUBLE)
                         * (CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) + n0))
                         * (1 - CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) + n0))
                         * ((CAST(n1 AS DOUBLE) + n0) - (d1 + d0))
                         / ((CAST(n1 AS DOUBLE) + n0) - 1)
                    ELSE 0.0 END AS v_term
        FROM risked WHERE d1 + d0 > 0
    ),
    agg AS (
        SELECT CAST(MIN(n1_total) AS BIGINT) AS n1,
               CAST(MIN(n0_total) AS BIGINT) AS n0,
               CAST(SUM(d1) AS BIGINT) AS o1,
               CAST(SUM(CAST(SIGN(e1_term) * FLOOR(ABS(e1_term) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS e1,
               CAST(SUM(CAST(SIGN(v_term) * FLOOR(ABS(v_term) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS v
        FROM terms
    )
    SELECT n1, n0, o1,
           CAST(SIGN(e1) * FLOOR(ABS(e1) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS e1,
           CAST(SIGN(v) * FLOOR(ABS(v) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS v,
           CAST(SIGN((o1 - e1) * (o1 - e1) / v)
                * FLOOR(ABS((o1 - e1) * (o1 - e1) / v) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS chi2
    FROM agg
    """,
)
def q402(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.timeseries import logrank_test

    ev = T(spark, sf_dir, "events")
    spans = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ).alias("t0")
        )
        .filter(F.col("t0").isNotNull())
    )
    cut = ev.agg(F.max("ts").alias("mx"))
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(spans, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    obs = (
        spans.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(cut))
        .select(
            F.when(F.col("tp").isNotNull(), F.datediff("tp", "t0"))
            .otherwise(F.datediff("mx", "t0"))
            .alias("t"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
            F.when(
                F.expr("substr(md5(cast(user_id as string)), 1, 1) < '8'"), 1
            )
            .otherwise(0)
            .alias("grp"),
        )
    )
    out = logrank_test(obs, "t", "ev", "grp")
    return out.select(
        "n1",
        "n0",
        "o1",
        (quantize("e1", 6) / 1e6).alias("e1"),
        (quantize("v", 6) / 1e6).alias("v"),
        (quantize("chi2", 6) / 1e6).alias("chi2"),
    )


# --- q405: EXACT Shapley-value channel attribution (cooperative-game
# credit assignment, Shapley 1953; the principled alternative to
# q339's first/last-touch). Characteristic function v(S) = conversions
# among users whose pre-purchase touchset ⊆ S — so
# φ_c = Σ_S w(|S|)·[v(S∪c) − v(S)] sums exactly to
# v(all) − v(∅). The channel universe is FIXED (4 types → 16
# coalitions), so the subset lattice is a bounded 16×16 bitmask join,
# never data-sized; the only data-scale pass is the per-user touchset
# aggregation. Shapley weights enter as 12·w ∈ {3,1,1,3} so the whole
# computation is INTEGER-exact until one final division by 12. -------------
@query(
    "q405_shapley_channel_attribution",
    oracle="""
    WITH firstp AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS tp
        FROM events GROUP BY user_id
    ),
    touched AS (
        SELECT e.user_id,
               CASE e.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                    WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END AS bit,
               f.tp
        FROM events e JOIN firstp f ON f.user_id = e.user_id
        WHERE e.event_type <> 'purchase'
          AND (f.tp IS NULL OR e.ts < f.tp)
    ),
    users AS (
        SELECT f.user_id,
               COALESCE((SELECT CAST(SUM(DISTINCT t.bit) AS BIGINT)
                         FROM touched t WHERE t.user_id = f.user_id), 0)
                   AS mask,
               CASE WHEN f.tp IS NOT NULL THEN 1 ELSE 0 END AS conv
        FROM firstp f
    ),
    bymask AS (
        SELECT mask, CAST(SUM(conv) AS BIGINT) AS conv_n
        FROM users GROUP BY mask
    ),
    coalitions AS (SELECT UNNEST(generate_series(0, 15)) AS s),
    v AS (
        SELECT c.s, COALESCE(CAST(SUM(b.conv_n) AS BIGINT), 0) AS val
        FROM coalitions c LEFT JOIN bymask b ON (b.mask & c.s) = b.mask
        GROUP BY c.s
    ),
    channels AS (
        SELECT * FROM (VALUES ('click', 1), ('error', 2),
                              ('signup', 4), ('view', 8)) ch(channel, cbit)
    ),
    contribs AS (
        SELECT ch.channel,
               CASE bit_count(CAST(v0.s AS BIGINT))
                    WHEN 0 THEN 3 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 3 END
                   * (v1.val - v0.val) AS w12
        FROM channels ch
        JOIN v v0 ON (v0.s & ch.cbit) = 0
        JOIN v v1 ON v1.s = (v0.s | ch.cbit)
    )
    SELECT channel,
           CAST(SUM(w12) AS BIGINT) / 12.0 AS shapley_conversions
    FROM contribs GROUP BY channel ORDER BY channel
    """,
)
def q405(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    # ONE aggregation pass over events (round 11): "user touched
    # channel c before the first purchase" ⟺ "MIN(ts of c-events) <
    # tp" (strict < both ways; tp NULL means any c-event counts), so
    # five conditional MINs per user replace the previous
    # agg → join-back → distinct → agg chain — one shuffle with
    # map-side partial aggregation instead of the events table
    # shuffled twice plus a distinct. Identical mask/conv values.
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
        *[
            F.min(
                F.when(F.col("event_type") == etype, F.col("ts"))
            ).alias(f"t{cbit}")
            for etype, cbit in (
                ("click", 1), ("error", 2), ("signup", 4), ("view", 8)
            )
        ],
    )
    mask = None
    for cbit in (1, 2, 4, 8):
        tcol = F.col(f"t{cbit}")
        term = F.when(
            tcol.isNotNull()
            & (F.col("tp").isNull() | (tcol < F.col("tp"))),
            cbit,
        ).otherwise(0)
        mask = term if mask is None else mask + term
    users = per_user.select(
        mask.cast("long").alias("mask"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("conv"),
    )
    bymask = users.groupBy("mask").agg(F.sum("conv").cast("long").alias("conv_n"))
    coalitions = spark.range(0, 16).select(F.col("id").alias("s"))
    v = (
        coalitions.join(
            F.broadcast(bymask),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("conv_n"), F.lit(0)).cast("long").alias("val"))
    )
    channels = small_local_df(
        spark, [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, cbit int",
    )
    v0 = v.select(F.col("s").alias("s0"), F.col("val").alias("val0"))
    v1 = v.select(F.col("s").alias("s1"), F.col("val").alias("val1"))
    w12 = (
        F.when(F.expr("bit_count(s0)") == 0, 3)
        .when(F.expr("bit_count(s0)") == 1, 1)
        .when(F.expr("bit_count(s0)") == 2, 1)
        .otherwise(3)
    )
    contribs = (
        channels.join(F.broadcast(v0), F.expr("(s0 & cbit) = 0"))
        .join(F.broadcast(v1), F.expr("s1 = (s0 | cbit)"))
        .select("channel", (w12 * (F.col("val1") - F.col("val0"))).alias("w12"))
    )
    return (
        contribs.groupBy("channel")
        .agg((F.sum("w12").cast("long") / 12.0).alias("shapley_conversions"))
        .orderBy("channel")
    )


# --- q408: peak concurrency via the ±1 sweep-line — "how many 30-min
# sessions were open at once, and when did the maximum occur?" The
# classic interval-overlap reduction: every session contributes
# (+1, start) and (−1, end); the running delta sum under the
# (time, delta) total order IS the concurrency curve (half-open
# intervals: at equal timestamps the −1 sorts first, so abutting
# sessions don't overlap). The cumulative runs on global_prefix_counts
# — the distributed partition-offset prefix sum, NO partitionless
# window — so the sweep scales to any event volume. Peak and its
# earliest time are order-invariant (within a timestamp tie all
# deltas are equal, so the prefix multiset is permutation-proof). -----------
@query(
    "q408_peak_concurrency",
    oracle="""
    WITH deltas AS (
        SELECT ts AS t, 1 AS delta FROM events
        UNION ALL
        SELECT ts + INTERVAL 30 MINUTE AS t, -1 AS delta FROM events
    ),
    swept AS (
        SELECT t, delta,
               CAST(SUM(delta) OVER (ORDER BY t, delta
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS conc
        FROM deltas
    ),
    peak AS (SELECT MAX(conc) AS peak_concurrency FROM swept)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_sessions,
           p.peak_concurrency,
           (SELECT MIN(t) FROM swept, peak
            WHERE conc = peak.peak_concurrency) AS peak_time
    FROM peak p
    """,
)
def q408(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_counts

    ev = T(spark, sf_dir, "events")
    starts = ev.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    deltas = starts.unionByName(ends)
    swept = global_prefix_counts(
        deltas, [F.col("t"), F.col("delta")], {"conc": "delta"}
    )
    peak = swept.agg(F.max("conc").alias("peak_concurrency"))
    peak_time = (
        swept.crossJoin(F.broadcast(peak))
        .filter(F.col("conc") == F.col("peak_concurrency"))
        .agg(F.min("t").alias("peak_time"))
    )
    n = ev.agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    return (
        n.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(peak_time))
        .select("n_sessions", "peak_concurrency", "peak_time")
    )


# --- q419: Markov-chain removal-effect attribution (Anderl et al.
# 2016) — the data-driven complement to q405's Shapley: journeys are
# start → (collapsed, first-8) channel touches → conversion/null; the
# chain's absorption probability into 'conv' is computed by a FIXED
# 20-step power iteration whose per-state sums are quantized to exact
# longs each round, so the whole trajectory is bitwise-reproducible
# and the oracle unrolls the identical 20 rounds per variant. A
# channel's removal effect = relative drop in absorption when its
# inbound edges are redirected to 'null' (outgoing rows dropped) — no
# renormalization needed since only targets are remapped. States are
# the FIXED 4-channel universe + 3 specials: every iteration is a
# bounded ≤49-row join, never data-sized; the data-scale pass is the
# one journey aggregation. -----------------------------------------------------
_Q419_CHANNELS = ["click", "error", "signup", "view"]


def _q419_iter_sql(var: str, it: int) -> str:
    """One quantized power-iteration round for variant `var`.

    MATERIALIZED: each round is a ≤9-row table, but left to inlining
    DuckDB folds the whole 20-round chain into one 20-deep nested
    plan whose optimization dominates the oracle (~8 s per variant,
    measured at sf0.01); materializing keeps planning linear in
    rounds (full 5-variant oracle 67 s -> ~2 s)."""
    return f"""
    v_{var}_{it} AS MATERIALIZED (
        SELECT s AS state,
               CAST(SUM(CAST(SIGN(p * v) * FLOOR(ABS(p * v) * 1e12 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e12 AS v
        FROM t_{var} JOIN v_{var}_{it - 1} ON t = state
        GROUP BY s
        UNION ALL SELECT 'conv', 1.0
        UNION ALL SELECT 'null', 0.0
    )"""


def _q419_variant_sql(var: str, removed: str | None, rounds: int = 20) -> str:
    if removed is None:
        t = "SELECT s, t, p FROM trans"
    else:
        t = f"""SELECT s, CASE WHEN t = '{removed}' THEN 'null' ELSE t END AS t, p
               FROM trans WHERE s <> '{removed}'"""
    chain = [f"t_{var} AS MATERIALIZED ({t})"]
    chain.append(
        f"v_{var}_0 AS (SELECT 'conv' AS state, 1.0 AS v "
        f"UNION ALL SELECT 'null', 0.0)"
    )
    for i in range(1, rounds + 1):
        chain.append(_q419_iter_sql(var, i))
    chain.append(
        f"cv_{var} AS (SELECT v AS cvr FROM v_{var}_{rounds} "
        f"WHERE state = 'start')"
    )
    return ",\n    ".join(chain)


def _q419_oracle() -> str:
    variants = [_q419_variant_sql("base", None)]
    for ch in _Q419_CHANNELS:
        variants.append(_q419_variant_sql(f"no_{ch}", ch))
    effects = " UNION ALL ".join(
        f"SELECT '{ch}' AS channel, (SELECT cvr FROM cv_no_{ch}) AS removed_cvr"
        for ch in _Q419_CHANNELS
    )
    # The journey CTEs are shared by all 5 variant chains; without
    # MATERIALIZED DuckDB inlines them into every reference and
    # re-derives the events-scale journey aggregation per variant.
    # Together with per-round materialization in _q419_iter_sql the
    # full oracle went 67 s -> 0.7 s at sf0.01, hash unchanged.
    return f"""
    WITH firstp AS MATERIALIZED (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        FROM events GROUP BY user_id
    ),
    touches AS (
        SELECT e.user_id, e.ts, e.event_id, e.event_type AS ch, f.tp
        FROM events e JOIN firstp f ON f.user_id = e.user_id
        WHERE e.event_type <> 'purchase'
          AND (f.tp IS NULL OR e.ts < f.tp)
    ),
    collapsed AS (
        SELECT user_id, ts, event_id, ch, tp
        FROM (
            SELECT *, LAG(ch) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS prev
            FROM touches
        ) WHERE prev IS NULL OR prev <> ch
    ),
    capped AS MATERIALIZED (
        SELECT user_id, ch, tp,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM collapsed
        QUALIFY rn <= 8
    ),
    maxrn AS (
        SELECT user_id, MAX(rn) AS mx FROM capped GROUP BY user_id
    ),
    pairs AS (
        SELECT 'start' AS s, ch AS t FROM capped WHERE rn = 1
        UNION ALL
        SELECT LAG(ch) OVER (PARTITION BY user_id ORDER BY rn) AS s, ch AS t
        FROM capped QUALIFY s IS NOT NULL
        UNION ALL
        SELECT c.ch AS s,
               CASE WHEN c.tp IS NOT NULL THEN 'conv' ELSE 'null' END AS t
        FROM capped c JOIN maxrn m
          ON m.user_id = c.user_id AND c.rn = m.mx
        UNION ALL
        SELECT 'start' AS s,
               CASE WHEN f.tp IS NOT NULL THEN 'conv' ELSE 'null' END AS t
        FROM firstp f
        WHERE NOT EXISTS (SELECT 1 FROM capped c WHERE c.user_id = f.user_id)
    ),
    trans AS MATERIALIZED (
        SELECT s, t,
               CAST(COUNT(*) AS DOUBLE)
                   / SUM(COUNT(*)) OVER (PARTITION BY s) AS p
        FROM pairs GROUP BY s, t
    ),
    {",".join(variants)},
    eff AS ({effects})
    SELECT e.channel,
           CAST(SIGN(b.cvr) * FLOOR(ABS(b.cvr) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS base_cvr,
           CAST(SIGN(e.removed_cvr) * FLOOR(ABS(e.removed_cvr) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS removed_cvr,
           CAST(SIGN((b.cvr - e.removed_cvr) / b.cvr)
                * FLOOR(ABS((b.cvr - e.removed_cvr) / b.cvr) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS removal_effect
    FROM eff e, cv_base b
    ORDER BY channel
    """


@query("q419_markov_removal_attribution", oracle=_q419_oracle())
def q419(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    ev = T(spark, sf_dir, "events")
    firstp = tracked_persist(
        ev.groupBy("user_id").agg(
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("tp")
        )
    )
    touches = (
        ev.filter(F.col("event_type") != "purchase")
        .join(firstp, "user_id")
        .filter(F.col("tp").isNull() | (F.col("ts") < F.col("tp")))
        .select("user_id", "ts", "event_id", F.col("event_type").alias("ch"), "tp")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    collapsed = (
        touches.withColumn("prev", F.lag("ch").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("ch")))
        .drop("prev")
    )
    capped = tracked_persist(
        collapsed.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= 8
        )
    )
    maxrn = capped.groupBy("user_id").agg(F.max("rn").alias("mx"))
    w_rn = Window.partitionBy("user_id").orderBy("rn")
    starts = capped.filter(F.col("rn") == 1).select(
        F.lit("start").alias("s"), F.col("ch").alias("t")
    )
    internal = (
        capped.withColumn("s", F.lag("ch").over(w_rn))
        .filter(F.col("s").isNotNull())
        .select("s", F.col("ch").alias("t"))
    )
    terminal = capped.join(
        maxrn, (capped.user_id == maxrn.user_id) & (capped.rn == maxrn.mx)
    ).select(
        F.col("ch").alias("s"),
        F.when(F.col("tp").isNotNull(), "conv").otherwise("null").alias("t"),
    )
    untouched = firstp.join(
        capped.select("user_id").distinct(), "user_id", "left_anti"
    ).select(
        F.lit("start").alias("s"),
        F.when(F.col("tp").isNotNull(), "conv").otherwise("null").alias("t"),
    )
    pairs = starts.unionByName(internal).unionByName(terminal).unionByName(
        untouched
    )
    w_s = Window.partitionBy("s")
    trans = tracked_persist(
        pairs.groupBy("s", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "p", F.col("c").cast("double") / F.sum("c").over(w_s)
        )
        .drop("c")
    )

    # The transition matrix is BOUNDED (≤ (4+1)·(4+3) cells — channel
    # universe squared, never data-sized), so it is collected once and
    # the 20-round quantized power iteration runs driver-side in exact
    # mirror of the oracle's CTE chain (the "bounded category set"
    # collect pattern; the data-sized journey aggregation above is the
    # only distributed pass). Lazy per-round DataFrame joins would
    # re-analyze an exponentially deepening plan instead.
    import math

    rows = trans.collect()

    def absorb(removed_ch):
        edges = []
        for r in rows:
            if removed_ch is not None and r["s"] == removed_ch:
                continue
            t = "null" if removed_ch is not None and r["t"] == removed_ch else r["t"]
            edges.append((r["s"], t, r["p"]))
        v = {"conv": 1.0, "null": 0.0}
        for _ in range(20):
            acc: dict[str, int] = {}
            for s_, t_, p_ in edges:
                pv = p_ * v.get(t_, 0.0)
                q = int(math.copysign(math.floor(abs(pv) * 1e12 + 0.5), pv))
                acc[s_] = acc.get(s_, 0) + q
            v = {s_: q / 1e12 for s_, q in acc.items()}
            v["conv"], v["null"] = 1.0, 0.0
        return v.get("start", 0.0)

    base_cvr = absorb(None)
    out_rows = []
    for ch in _Q419_CHANNELS:
        rc = absorb(ch)
        out_rows.append((ch, base_cvr, rc, (base_cvr - rc) / base_cvr))
    out = small_local_df(
        spark,
        out_rows,
        "channel string, base_cvr double, removed_cvr double, "
        "removal_effect double",
    )
    return out.select(
        "channel",
        (quantize("base_cvr", 6) / 1e6).alias("base_cvr"),
        (quantize("removed_cvr", 6) / 1e6).alias("removed_cvr"),
        (quantize("removal_effect", 6) / 1e6).alias("removal_effect"),
    ).orderBy("channel")


# --- q427: funnel-rate WATERFALL via LMDI log-mean decomposition —
# "conversion moved 2 points: how much came from view→click vs
# click→purchase?" CVR = Π stage rates, so the log-mean index
# contribution_i = (ΔCVR / ln(CVR_B/CVR_A)) · ln(r_iB/r_iA)
# decomposes the change EXACTLY (contributions sum to ΔCVR by
# construction — the multiplicative analogue of q357's additive PVM
# bridge). Periods are the first/second halves of the event window;
# stage reach is exact distinct users per period. -----------------------------
@query(
    "q427_funnel_lmdi_waterfall",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('day', MIN(ts)) + INTERVAL 15 DAY AS mid
        FROM events
    ),
    reach AS (
        SELECT CASE WHEN e.ts < b.mid THEN 'A' ELSE 'B' END AS period,
               CAST(COUNT(DISTINCT CASE WHEN e.event_type = 'view'
                                        THEN e.user_id END) AS BIGINT) AS u_view,
               CAST(COUNT(DISTINCT CASE WHEN e.event_type = 'click'
                                        THEN e.user_id END) AS BIGINT) AS u_click,
               CAST(COUNT(DISTINCT CASE WHEN e.event_type = 'purchase'
                                        THEN e.user_id END) AS BIGINT) AS u_buy
        FROM events e, bounds b
        GROUP BY 1
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN period = 'A' THEN CAST(u_click AS DOUBLE) / u_view END) AS r1a,
            MAX(CASE WHEN period = 'B' THEN CAST(u_click AS DOUBLE) / u_view END) AS r1b,
            MAX(CASE WHEN period = 'A' THEN CAST(u_buy AS DOUBLE) / u_click END) AS r2a,
            MAX(CASE WHEN period = 'B' THEN CAST(u_buy AS DOUBLE) / u_click END) AS r2b,
            MAX(CASE WHEN period = 'A' THEN CAST(u_buy AS DOUBLE) / u_view END) AS cvra,
            MAX(CASE WHEN period = 'B' THEN CAST(u_buy AS DOUBLE) / u_view END) AS cvrb
        FROM reach
    ),
    stages AS (
        SELECT 'view_to_click' AS stage, r1a AS rate_a, r1b AS rate_b,
               cvra, cvrb FROM wide
        UNION ALL
        SELECT 'click_to_purchase', r2a, r2b, cvra, cvrb FROM wide
    )
    SELECT stage,
           CAST(SIGN(rate_a) * FLOOR(ABS(rate_a) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS rate_a,
           CAST(SIGN(rate_b) * FLOOR(ABS(rate_b) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS rate_b,
           CAST(SIGN(CASE WHEN cvrb = cvra
                          THEN cvra * LN(rate_b / rate_a)
                          ELSE (cvrb - cvra) / LN(cvrb / cvra)
                               * LN(rate_b / rate_a) END)
                * FLOOR(ABS(CASE WHEN cvrb = cvra
                                 THEN cvra * LN(rate_b / rate_a)
                                 ELSE (cvrb - cvra) / LN(cvrb / cvra)
                                      * LN(rate_b / rate_a) END)
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
               AS contribution
    FROM stages
    ORDER BY stage
    """,
)
def q427(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    ev = T(spark, sf_dir, "events")
    bounds = ev.agg(
        (F.date_trunc("day", F.min("ts")) + F.expr("INTERVAL 15 DAYS")).alias(
            "mid"
        )
    )
    reach = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.when(F.col("ts") < F.col("mid"), "A").otherwise("B").alias("period")
        )
        .agg(
            F.countDistinct(
                F.when(F.col("event_type") == "view", F.col("user_id"))
            )
            .cast("long")
            .alias("u_view"),
            F.countDistinct(
                F.when(F.col("event_type") == "click", F.col("user_id"))
            )
            .cast("long")
            .alias("u_click"),
            F.countDistinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            )
            .cast("long")
            .alias("u_buy"),
        )
    )

    def g(p, col):
        return F.max(
            F.when(F.col("period") == p, F.col(col).cast("double"))
        )

    wide = reach.agg(
        (g("A", "u_click") / g("A", "u_view")).alias("r1a"),
        (g("B", "u_click") / g("B", "u_view")).alias("r1b"),
        (g("A", "u_buy") / g("A", "u_click")).alias("r2a"),
        (g("B", "u_buy") / g("B", "u_click")).alias("r2b"),
        (g("A", "u_buy") / g("A", "u_view")).alias("cvra"),
        (g("B", "u_buy") / g("B", "u_view")).alias("cvrb"),
    )
    s1 = wide.select(
        F.lit("view_to_click").alias("stage"),
        F.col("r1a").alias("rate_a"),
        F.col("r1b").alias("rate_b"),
        "cvra",
        "cvrb",
    )
    s2 = wide.select(
        F.lit("click_to_purchase").alias("stage"),
        F.col("r2a").alias("rate_a"),
        F.col("r2b").alias("rate_b"),
        "cvra",
        "cvrb",
    )
    stages = s1.unionByName(s2)
    from pandrs_spark.operators.hypothesis import lmdi_contribution

    contrib = lmdi_contribution("rate_a", "rate_b", "cvra", "cvrb")
    return stages.select(
        "stage",
        (quantize("rate_a", 6) / 1e6).alias("rate_a"),
        (quantize("rate_b", 6) / 1e6).alias("rate_b"),
        (quantize(contrib, 6) / 1e6).alias("contribution"),
    ).orderBy("stage")


# --- q438: Markov entropy rate of the event-type chain — how
# predictable is the next event given the current one? Builds on
# q347's transition cells: H = Σ_s p(s) Σ_t P(t|s) log2(1/P(t|s))
# with p(s) the empirical transition-source frequency. One window
# pass + a ≤k² cell aggregate; the per-cell terms are exact-ratio
# doubles summed quantized, so the statistic is partition-order
# invariant. Reference: transition-model surface of
# src/temporal/mod.rs. --------------------------------------------------------
@query(
    "q438_markov_entropy_rate",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    cells AS (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    rows_ AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS row_n FROM cells GROUP BY cur),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cells),
    terms AS (
        SELECT c.n, r.row_n, t.total,
               (CAST(c.n AS DOUBLE) / t.total)
                   * (LN(CAST(r.row_n AS DOUBLE) / c.n) / LN(2.0)) AS term
        FROM cells c JOIN rows_ r ON r.cur = c.cur, tot t
    )
    SELECT MIN(total) AS n_transitions,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CAST(SIGN(term) * FLOOR(ABS(term) * 1e9 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e9 AS entropy_rate_bits
    FROM terms
    """,
)
def q438(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cells = seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rows_ = cells.groupBy(F.col("cur").alias("cur_r")).agg(
        F.sum("n").cast("long").alias("row_n")
    )
    tot = cells.agg(F.sum("n").cast("long").alias("total"))
    term = (F.col("n").cast("double") / F.col("total")) * (
        F.log(F.col("row_n").cast("double") / F.col("n")) / F.log(F.lit(2.0))
    )
    terms = (
        cells.join(F.broadcast(rows_), cells.cur == rows_.cur_r)
        .crossJoin(F.broadcast(tot))
        .select(F.col("n"), F.col("row_n"), F.col("total"), term.alias("term"))
    )
    return terms.agg(
        F.min("total").alias("n_transitions"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        dsum("term", 9).alias("entropy_rate_bits"),
    )


# --- q439: inter-event burstiness per user, B = (σ−μ)/(σ+μ) of the
# gap distribution (Goh-Barabási 2008 is the public spec; B→−1
# periodic, 0 Poisson, →1 bursty) — the event-time twin of q429's
# term burstiness. Exact microsecond gaps from one window pass;
# per-user moments from quantized sums (per-user groups bound the
# int64 envelope); one final quantized aggregate across users. ---------------
@query(
    "q439_event_burstiness",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                          ORDER BY ts, event_id))
                    AS DOUBLE) / 1e6 AS gap_s
        FROM events
    ),
    per_u AS (
        SELECT user_id,
               CAST(COUNT(gap_s) AS BIGINT) AS n,
               CAST(SUM(CAST(SIGN(gap_s) * FLOOR(ABS(gap_s) * 1e6 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e6 AS sg,
               CAST(SUM(CAST(SIGN(gap_s * gap_s)
                             * FLOOR(ABS(gap_s * gap_s) + 0.5)
                             AS BIGINT)) AS DOUBLE) AS sgg
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY user_id
    ),
    b AS (
        SELECT user_id, n,
               (SQRT(sgg / n - (sg / n) * (sg / n)) - sg / n)
               / (SQRT(sgg / n - (sg / n) * (sg / n)) + sg / n) AS burst
        FROM per_u
        WHERE n >= 5 AND sgg / n - (sg / n) * (sg / n) > 0 AND sg > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SIGN(CAST(SUM(CAST(SIGN(burst) * FLOOR(ABS(burst) * 1e9 + 0.5)
                                   AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*))
                * FLOOR(ABS(CAST(SUM(CAST(SIGN(burst)
                                          * FLOOR(ABS(burst) * 1e9 + 0.5)
                                          AS BIGINT)) AS DOUBLE) / 1e9
                            / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS mean_burstiness
    FROM b
    """,
)
def q439(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).cast(
                "double"
            )
            / 1e6
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    per_u = gaps.groupBy("user_id").agg(
        F.count("gap_s").cast("long").alias("n"),
        dsum("gap_s", 6).alias("sg"),
        F.sum(quantize(F.col("gap_s") * F.col("gap_s"), 0))
        .cast("double")
        .alias("sgg"),
    )
    mean = F.col("sg") / F.col("n")
    varp = F.col("sgg") / F.col("n") - mean * mean
    sigma = F.sqrt(varp)
    b = per_u.filter(
        (F.col("n") >= 5) & (varp > 0) & (F.col("sg") > 0)
    ).select(((sigma - mean) / (sigma + mean)).alias("burst"))
    agg = b.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        dsum("burst", 9).alias("sb"),
    )
    return agg.select(
        "n_users",
        (quantize(F.col("sb") / F.col("n_users"), 6) / 1e6).alias(
            "mean_burstiness"
        ),
    )


# --- q450: Nelson-Aalen cumulative hazard of time-to-convert — the
# integrated-hazard twin of q334's KM curve, same subject/duration
# definition (first signup → first later purchase, censored at corpus
# end) so the two estimators are directly comparable in-gate. Prefix
# sums over DISTINCT day durations, Aalen variance alongside
# (operators/timeseries.py:nelson_aalen). --------------------------------------
@query(
    "q450_nelson_aalen_hazard",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
        FROM events GROUP BY user_id
    ),
    cut AS (SELECT MAX(ts) AS mx FROM events),
    conv AS (
        SELECT s.user_id, MIN(e.ts) AS tp
        FROM events e JOIN spans s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s.t0
        GROUP BY s.user_id
    ),
    obs AS (
        SELECT CASE WHEN c.tp IS NOT NULL THEN DATEDIFF('day', s.t0, c.tp)
                    ELSE DATEDIFF('day', s.t0, k.mx) END AS t,
               CASE WHEN c.tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM spans s LEFT JOIN conv c ON c.user_id = s.user_id, cut k
        WHERE s.t0 IS NOT NULL
    ),
    grp AS (
        SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM obs GROUP BY t
    ),
    risked AS (
        SELECT t, d,
               (SELECT COUNT(*) FROM obs)
                 - COALESCE(SUM(d + c) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n_risk
        FROM grp
    ),
    na AS (
        SELECT t, d, n_risk,
               SUM(d * 1.0 / n_risk) OVER (ORDER BY t) AS cum_hazard,
               SUM(d * 1.0 / (n_risk * n_risk)) OVER (ORDER BY t)
                   AS hazard_var
        FROM risked
    )
    SELECT CAST(t AS BIGINT) AS duration_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events,
           ROUND(cum_hazard, 6) AS cum_hazard,
           ROUND(hazard_var, 9) AS hazard_var
    FROM na WHERE d > 0 ORDER BY duration_days
    """,
)
def q450(spark, sf_dir):
    from pandrs_spark.operators.timeseries import nelson_aalen

    ev = T(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0")
    ).filter(F.col("t0").isNotNull())
    cut = ev.agg(F.max("ts").alias("mx"))
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(spans, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    obs = (
        spans.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(cut))
        .select(
            F.when(
                F.col("tp").isNotNull(), F.datediff("tp", "t0")
            ).otherwise(F.datediff("mx", "t0")).alias("t"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    return nelson_aalen(obs, "t", "event").select(
        F.col("duration").alias("duration_days"),
        "n_risk",
        "n_events",
        F.round("cum_hazard", 6).alias("cum_hazard"),
        F.round("hazard_var", 9).alias("hazard_var"),
    ).orderBy("duration_days")


# --- q453: strict-order window funnel within 7-day hops — the
# ClickHouse windowFunnel shape: view → click (≤7 d later) → purchase
# (≤7 d after the click), earliest-chain semantics via three chained
# conditional-min aggregates (greedy-min is the earliest chain when
# every hop is constrained forward). No window functions at all —
# three per-user aggregates + joins, all partial-aggregated. -------------------
@query(
    "q453_window_funnel_7d",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
          AND e.ts <= v.t_view + INTERVAL 7 DAY
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_buy
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          AND e.ts <= c.t_click + INTERVAL 7 DAY
        GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_step1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_step2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_step3,
           CAST(SIGN((SELECT COUNT(*) FROM p) * 1.0
                     / (SELECT COUNT(*) FROM v))
                * FLOOR(ABS((SELECT COUNT(*) FROM p) * 1.0
                            / (SELECT COUNT(*) FROM v)) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS full_conversion
    """,
)
def q453(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    ev = tracked_persist(
        T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    )
    v = tracked_persist(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = tracked_persist(
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    n1 = v.agg(F.count(F.lit(1)).cast("long").alias("n_step1"))
    n2 = c.agg(F.count(F.lit(1)).cast("long").alias("n_step2"))
    n3 = p.agg(F.count(F.lit(1)).cast("long").alias("n_step3"))
    out = (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n3))
        .select(
            "n_step1",
            "n_step2",
            "n_step3",
            (
                quantize(
                    F.col("n_step3") * 1.0 / F.col("n_step1"), 6
                )
                / 1e6
            ).alias("full_conversion"),
        )
    )
    return out


# --- q457: competing-risks cumulative incidence (Aalen-Johansen form
# for two competing events): after first signup, does a user FIRST
# purchase (risk 1) or FIRST hit an error (risk 2)? CIF_k(t) =
# Σ_{t_i≤t} S(t_{i-1})·d_ki/n_i with S the all-cause KM — naively
# treating the other risk as censoring overestimates; this is the
# correct decomposition (survival tier beside q334/q450). Same
# bounded-duration prefix-window shape as KM. ---------------------------------
@query(
    "q457_competing_risks_cif",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
        FROM events GROUP BY user_id
    ),
    cut AS (SELECT MAX(ts) AS mx FROM events),
    firsts AS (
        SELECT s.user_id, s.t0,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > s.t0
                        THEN e.ts END) AS tp,
               MIN(CASE WHEN e.event_type = 'error' AND e.ts > s.t0
                        THEN e.ts END) AS te
        FROM events e JOIN spans s ON s.user_id = e.user_id
        WHERE s.t0 IS NOT NULL
        GROUP BY s.user_id, s.t0
    ),
    obs AS (
        SELECT CASE
                 WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
                   THEN DATEDIFF('day', t0, tp)
                 WHEN te IS NOT NULL THEN DATEDIFF('day', t0, te)
                 ELSE DATEDIFF('day', t0, k.mx)
               END AS t,
               CASE
                 WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN 1
                 WHEN te IS NOT NULL THEN 2
                 ELSE 0
               END AS ev
        FROM firsts, cut k
    ),
    grp AS (
        SELECT t,
               CAST(SUM(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
               CAST(SUM(CASE WHEN ev = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
               CAST(SUM(CASE WHEN ev = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c
        FROM obs GROUP BY t
    ),
    risked AS (
        SELECT t, d1, d2,
               (SELECT COUNT(*) FROM obs)
                 - COALESCE(SUM(d1 + d2 + c) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n
        FROM grp
    ),
    surv AS (
        SELECT t, d1, d2, n,
               EXP(COALESCE(SUM(LN(CASE WHEN (d1 + d2) * 1.0 < n
                                        THEN 1 - (d1 + d2) * 1.0 / n
                                        ELSE 1 END))
                   OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0.0)) AS s_prev
        FROM risked
    ),
    cif AS (
        SELECT t, d1, d2, n,
               SUM(s_prev * d1 / n) OVER (ORDER BY t) AS cif_purchase,
               SUM(s_prev * d2 / n) OVER (ORDER BY t) AS cif_error
        FROM surv
    )
    SELECT CAST(t AS BIGINT) AS duration_days,
           CAST(n AS BIGINT) AS n_risk,
           d1 AS n_purchase,
           d2 AS n_error,
           ROUND(cif_purchase, 6) AS cif_purchase,
           ROUND(cif_error, 6) AS cif_error
    FROM cif WHERE d1 + d2 > 0 ORDER BY duration_days
    """,
)
def q457(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0")
    ).filter(F.col("t0").isNotNull())
    cut = ev.agg(F.max("ts").alias("mx"))
    firsts = (
        ev.join(spans, "user_id")
        .groupBy("user_id", "t0")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t0")),
                    F.col("ts"),
                )
            ).alias("tp"),
            F.min(
                F.when(
                    (F.col("event_type") == "error")
                    & (F.col("ts") > F.col("t0")),
                    F.col("ts"),
                )
            ).alias("te"),
        )
    )
    p_first = F.col("tp").isNotNull() & (
        F.col("te").isNull() | (F.col("tp") <= F.col("te"))
    )
    obs = firsts.crossJoin(F.broadcast(cut)).select(
        F.when(p_first, F.datediff("tp", "t0"))
        .when(F.col("te").isNotNull(), F.datediff("te", "t0"))
        .otherwise(F.datediff("mx", "t0"))
        .alias("t"),
        F.when(p_first, 1)
        .when(F.col("te").isNotNull(), 2)
        .otherwise(0)
        .alias("ev"),
    )
    grp = obs.groupBy("t").agg(
        F.sum(F.when(F.col("ev") == 1, 1).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("ev") == 2, 1).otherwise(0)).cast("long").alias("d2"),
        F.sum(F.when(F.col("ev") == 0, 1).otherwise(0)).cast("long").alias("c"),
    )
    total = obs.agg(F.count(F.lit(1)).alias("n_total"))
    w_prior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risked = grp.crossJoin(F.broadcast(total)).withColumn(
        "n",
        F.col("n_total")
        - F.coalesce(
            F.sum(F.col("d1") + F.col("d2") + F.col("c")).over(w_prior),
            F.lit(0),
        ),
    )
    surv = risked.withColumn(
        "s_prev",
        F.exp(
            F.coalesce(
                F.sum(
                    F.log(
                        F.when(
                            (F.col("d1") + F.col("d2")) * 1.0 < F.col("n"),
                            1 - (F.col("d1") + F.col("d2")) * 1.0 / F.col("n"),
                        ).otherwise(F.lit(1.0))
                    )
                ).over(w_prior),
                F.lit(0.0),
            )
        ),
    )
    cif = surv.withColumn(
        "cif_purchase",
        F.sum(F.col("s_prev") * F.col("d1") / F.col("n")).over(w_run),
    ).withColumn(
        "cif_error",
        F.sum(F.col("s_prev") * F.col("d2") / F.col("n")).over(w_run),
    )
    return (
        cif.filter(F.col("d1") + F.col("d2") > 0)
        .select(
            F.col("t").cast("long").alias("duration_days"),
            F.col("n").cast("long").alias("n_risk"),
            F.col("d1").alias("n_purchase"),
            F.col("d2").alias("n_error"),
            F.round("cif_purchase", 6).alias("cif_purchase"),
            F.round("cif_error", 6).alias("cif_error"),
        )
        .orderBy("duration_days")
    )


# --- q463: restricted mean survival time (RMST, τ = 20 days) and
# median survival of time-to-convert — the two scalar summaries
# clinicians/growth teams quote from a KM curve (area under S(t) up to
# τ; first t with S ≤ 0.5). Stepwise integral over the same bounded
# duration table as q334, one prefix pass. ------------------------------------
@query(
    "q463_rmst_median_survival",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
        FROM events GROUP BY user_id
    ),
    cut AS (SELECT MAX(ts) AS mx FROM events),
    conv AS (
        SELECT s.user_id, MIN(e.ts) AS tp
        FROM events e JOIN spans s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s.t0
        GROUP BY s.user_id
    ),
    obs AS (
        SELECT CASE WHEN c.tp IS NOT NULL THEN DATEDIFF('day', s.t0, c.tp)
                    ELSE DATEDIFF('day', s.t0, k.mx) END AS t,
               CASE WHEN c.tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM spans s LEFT JOIN conv c ON c.user_id = s.user_id, cut k
        WHERE s.t0 IS NOT NULL
    ),
    grp AS (
        SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM obs GROUP BY t
    ),
    risked AS (
        SELECT t, d,
               (SELECT COUNT(*) FROM obs)
                 - COALESCE(SUM(d + c) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n
        FROM grp
    ),
    km AS (
        -- zero-fence (q334 convention): once d = n the survival is
        -- exactly 0 and stays 0 — EXP(SUM(LN ...)) alone would treat
        -- the d = n factor as 1 and leave a phantom tail
        SELECT t, d,
               CASE WHEN SUM(CASE WHEN d * 1.0 >= n THEN 1 ELSE 0 END)
                        OVER (ORDER BY t) > 0
                    THEN 0.0
                    ELSE EXP(SUM(LN(CASE WHEN d * 1.0 < n
                                         THEN 1 - d * 1.0 / n ELSE 1 END))
                             OVER (ORDER BY t)) END AS surv,
               CASE WHEN COALESCE(SUM(CASE WHEN d * 1.0 >= n THEN 1 ELSE 0 END)
                        OVER (ORDER BY t
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) > 0
                    THEN 0.0
                    ELSE COALESCE(EXP(SUM(LN(CASE WHEN d * 1.0 < n
                                         THEN 1 - d * 1.0 / n ELSE 1 END))
                        OVER (ORDER BY t
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
                        1.0) END AS s_prev,
               COALESCE(LAG(t) OVER (ORDER BY t), 0) AS t_prev
        FROM risked WHERE d > 0
    ),
    rmst_terms AS (
        SELECT s_prev * (LEAST(t, 20) - LEAST(t_prev, 20)) AS seg,
               surv, t
        FROM km
    ),
    tail AS (
        SELECT CASE WHEN MAX(t) < 20
                    THEN MIN(CASE WHEN t = mt THEN surv END) * (20 - MAX(t))
                    ELSE 0.0 END AS tail_seg
        FROM rmst_terms, (SELECT MAX(t) AS mt FROM rmst_terms) x
    )
    SELECT
        CAST(SIGN(s.rmst + tl.tail_seg)
             * FLOOR(ABS(s.rmst + tl.tail_seg) * 1000000.0 + 0.5) AS BIGINT)
            / 1000000.0 AS rmst_20d,
        CAST(md.med AS BIGINT) AS median_survival_days
    FROM (SELECT CAST(SUM(CAST(SIGN(seg) * FLOOR(ABS(seg) * 1e9 + 0.5)
                               AS BIGINT)) AS DOUBLE) / 1e9 AS rmst
          FROM rmst_terms) s,
         tail tl,
         (SELECT MIN(CASE WHEN surv <= 0.5 THEN t END) AS med FROM km) md
    """,
)
def q463(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.timeseries import kaplan_meier
    from pandrs_spark.operators.util import tracked_persist

    ev = T(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0")
    ).filter(F.col("t0").isNotNull())
    cut = ev.agg(F.max("ts").alias("mx"))
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(spans, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    obs = (
        spans.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(cut))
        .select(
            F.when(
                F.col("tp").isNotNull(), F.datediff("tp", "t0")
            ).otherwise(F.datediff("mx", "t0")).alias("t"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    km = tracked_persist(
        kaplan_meier(obs, "t", "event").select(
            F.col("duration").alias("t"), F.col("survival").alias("surv")
        )
    )
    w_ord = Window.orderBy("t")
    stepped = km.select(
        "t",
        "surv",
        F.coalesce(F.lag("surv").over(w_ord), F.lit(1.0)).alias("s_prev"),
        F.coalesce(F.lag("t").over(w_ord), F.lit(0)).alias("t_prev"),
    )
    seg = F.col("s_prev") * (
        F.least(F.col("t"), F.lit(20)) - F.least(F.col("t_prev"), F.lit(20))
    )
    terms = stepped.select(seg.alias("seg"), "surv", "t")
    mt = terms.agg(F.max("t").alias("mt"))
    tail = (
        terms.crossJoin(F.broadcast(mt))
        .agg(
            F.when(
                F.max("t") < 20,
                F.min(
                    F.when(F.col("t") == F.col("mt"), F.col("surv"))
                ) * (20 - F.max("t")),
            )
            .otherwise(F.lit(0.0))
            .alias("tail_seg")
        )
    )
    rmst = terms.agg(dsum("seg", 9).alias("rmst"))
    med = km.agg(
        F.min(F.when(F.col("surv") <= 0.5, F.col("t")))
        .cast("long")
        .alias("median_survival_days")
    )
    return (
        rmst.crossJoin(F.broadcast(tail))
        .crossJoin(F.broadcast(med))
        .select(
            (quantize(F.col("rmst") + F.col("tail_seg"), 6) / 1e6).alias(
                "rmst_20d"
            ),
            "median_survival_days",
        )
    )


# --- q528: conditional next-event entropy H(next | current) per event
# type — how PREDICTABLE is what a user does after each action?
# Transitions come from the per-user LAG sequence (high-cardinality
# partition key), the entropy from the bounded event-type² transition
# matrix: the information-theoretic summary on top of q419's raw
# transition probabilities. ------------------------------------------------------
@query(
    "q528_transition_entropy",
    oracle="""
    WITH seq AS MATERIALIZED (
        SELECT event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    cells AS MATERIALIZED (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE nxt IS NOT NULL
        GROUP BY cur, nxt
    ),
    tot AS MATERIALIZED (
        SELECT cur, CAST(SUM(n) AS BIGINT) AS tn FROM cells GROUP BY cur
    )
    SELECT c.cur AS event_type, t.tn AS n_transitions,
           CAST(COUNT(*) AS BIGINT) AS n_next_types,
           CAST(CAST(SIGN(h) * FLOOR(ABS(h) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS next_entropy
    FROM (
        SELECT c.cur,
               -CAST(SUM(CAST(SIGN((CAST(c.n AS DOUBLE) / t.tn)
                                   * LN(CAST(c.n AS DOUBLE) / t.tn))
                              * FLOOR(ABS((CAST(c.n AS DOUBLE) / t.tn)
                                          * LN(CAST(c.n AS DOUBLE) / t.tn))
                                      * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1e9 AS h
        FROM cells c JOIN tot t ON t.cur = c.cur
        GROUP BY c.cur
    ) e
    JOIN cells c ON c.cur = e.cur
    JOIN tot t ON t.cur = e.cur
    GROUP BY c.cur, t.tn, h
    ORDER BY event_type
    """,
)
def q528(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cells = seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cells.groupBy("cur").agg(F.sum("n").cast("long").alias("tn"))
    p = F.col("n").cast("double") / F.col("tn")
    ent = (
        cells.join(F.broadcast(tot), "cur")
        .groupBy("cur", "tn")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_next_types"),
            (-F.sum(quantize(p * F.log(p), 9)).cast("double") / 1e9).alias("h"),
        )
    )
    return ent.select(
        F.col("cur").alias("event_type"),
        F.col("tn").alias("n_transitions"),
        "n_next_types",
        (quantize("h", 6) / 1e6).alias("next_entropy"),
    ).orderBy("event_type")


# --- q541: circular (directional) statistics of event time-of-day —
# treat each event's hour as an angle on the 24 h clock and compute the
# mean direction (peak hour), the mean resultant length R̄ (0 = uniform
# around the clock, 1 = all at one instant) and circular variance
# 1−R̄, per event type: the CORRECT way to average times-of-day (the
# arithmetic mean of 23:00 and 01:00 is noon; the circular mean is
# midnight). One trig map + one exact quantized sum pair per type. --------------
@query(
    "q541_circular_hour_stats",
    oracle="""
    WITH ang AS MATERIALIZED (
        SELECT event_type,
               (EXTRACT(hour FROM ts) * 3600 + EXTRACT(minute FROM ts) * 60
                + EXTRACT(second FROM ts)) * (2 * PI() / 86400.0) AS a
        FROM events
    ),
    sums AS MATERIALIZED (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(SIGN(COS(a)) * FLOOR(ABS(COS(a)) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS sc,
               CAST(SUM(CAST(SIGN(SIN(a)) * FLOOR(ABS(SIN(a)) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS ss
        FROM ang GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(CAST(SIGN(rbar) * FLOOR(ABS(rbar) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS resultant_length,
           CAST(CAST(SIGN(1 - rbar) * FLOOR(ABS(1 - rbar) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS circular_variance,
           CAST(CAST(SIGN(peak) * FLOOR(ABS(peak) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS peak_hour
    FROM (
        SELECT event_type, n,
               SQRT(sc * sc + ss * ss) / n AS rbar,
               ((ATAN2(ss, sc) + 2 * PI()) % (2 * PI()))
                   * (24.0 / (2 * PI())) AS peak
        FROM sums
    )
    ORDER BY event_type
    """,
)
def q541(spark, sf_dir):
    import math

    from pandrs_spark.functions.deterministic import quantize

    ev = T(spark, sf_dir, "events")
    two_pi = 2 * math.pi
    a = (
        F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
    ) * (two_pi / 86400.0)
    ang = ev.select("event_type", a.alias("a"))
    sums = ang.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.cos("a"), 9).alias("sc"),
        dsum(F.sin("a"), 9).alias("ss"),
    )
    rbar = F.sqrt(F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")) / F.col(
        "n"
    )
    peak = (
        (F.atan2(F.col("ss"), F.col("sc")) + two_pi) % two_pi
    ) * (24.0 / two_pi)
    return sums.select(
        "event_type",
        "n",
        (quantize(rbar, 6) / 1e6).alias("resultant_length"),
        (quantize(1 - rbar, 6) / 1e6).alias("circular_variance"),
        (quantize(peak, 6) / 1e6).alias("peak_hour"),
    ).orderBy("event_type")


# --- q542: day-of-week uniformity audit of order placement — the
# operational "is demand flat across the week" check: chi-square
# against uniform over the bounded 7-cell histogram plus the
# concentration effect size √(χ²/(n·(k−1))) (Cramér's V against the
# uniform null). -------------------------------------------------------------------
@query(
    "q542_day_of_week_uniformity",
    oracle="""
    WITH hist AS MATERIALIZED (
        SELECT dayofweek(o_orderdate) AS dow, CAST(COUNT(*) AS BIGINT) AS o
        FROM orders GROUP BY dow
    ),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n, COUNT(*) AS k FROM hist),
    chi AS (
        SELECT CAST(SUM(CAST(SIGN(c) * FLOOR(ABS(c) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS chi2
        FROM (
            SELECT (h.o - CAST(t.n AS DOUBLE) / t.k)
                   * (h.o - CAST(t.n AS DOUBLE) / t.k)
                   / (CAST(t.n AS DOUBLE) / t.k) AS c
            FROM hist h, tot t
        )
    )
    SELECT (SELECT n FROM tot) AS n_orders,
           (SELECT CAST(k AS BIGINT) FROM tot) AS k_days,
           CAST(CAST(SIGN(chi2) * FLOOR(ABS(chi2) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS chi2,
           CAST(CAST(SIGN(v) * FLOOR(ABS(v) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS cramers_v
    FROM (
        SELECT chi2,
               SQRT(chi2 / ((SELECT n FROM tot)
                            * ((SELECT k FROM tot) - 1))) AS v
        FROM chi
    )
    """,
)
def q542(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    hist = orders.groupBy(F.dayofweek("o_orderdate").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    tot = hist.agg(
        F.sum("o").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    e = F.col("n").cast("double") / F.col("k")
    chi = (
        hist.crossJoin(F.broadcast(tot))
        .agg(dsum((F.col("o") - e) * (F.col("o") - e) / e, 9).alias("chi2"))
    )
    j = tot.crossJoin(F.broadcast(chi))
    v = F.sqrt(F.col("chi2") / (F.col("n") * (F.col("k") - 1)))
    return j.select(
        F.col("n").alias("n_orders"),
        F.col("k").alias("k_days"),
        (quantize("chi2", 6) / 1e6).alias("chi2"),
        (quantize(v, 6) / 1e6).alias("cramers_v"),
    )


# --- q600: the inspection paradox, quantified — per-user event
# interarrival gaps vs their LENGTH-BIASED mean E[g²]/E[g] (what a
# random-instant observer experiences): paradox ratio = 1 + CV². The
# queueing-theory sanity check for any "average wait" dashboard
# number. Gaps ride the per-user partitioned window (never global);
# moments are exact quantized sums. ----------------------------------------------
@query(
    "q600_inspection_paradox_gaps",
    oracle="""
    WITH gaps AS MATERIALIZED (
        SELECT CAST(date_diff('second', lag(ts) OVER w, ts) AS DOUBLE)
                   / 3600.0 AS g
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        QUALIFY lag(ts) OVER w IS NOT NULL
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(SIGN(g) * FLOOR(ABS(g) * 1e6 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e6 AS sg,
               CAST(SUM(CAST(SIGN(g * g) * FLOOR(ABS(g * g) * 1e6 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e6 AS sgg
        FROM gaps
    )
    SELECT n AS n_gaps,
           CAST(CAST(SIGN(m) * FLOOR(ABS(m) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS mean_gap_h,
           CAST(CAST(SIGN(lb) * FLOOR(ABS(lb) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS length_biased_mean_h,
           CAST(CAST(SIGN(lb / m) * FLOOR(ABS(lb / m) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS paradox_ratio
    FROM (SELECT n, sg / n AS m, (sgg / n) / (sg / n) AS lb FROM s)
    """,
)
def q600(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("prev", F.lag("ts").over(w_u))
        .where(F.col("prev").isNotNull())
        .select(
            (
                (F.unix_timestamp("ts") - F.unix_timestamp("prev")).cast("double")
                / 3600.0
            ).alias("g")
        )
    )
    s = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("g", 6).alias("sg"),
        dsum(F.col("g") * F.col("g"), 6).alias("sgg"),
    )
    out = s.selectExpr(
        "n AS n_gaps", "sg / n AS m", "(sgg / n) / (sg / n) AS lb"
    )
    return out.select(
        "n_gaps",
        (quantize("m", 6) / 1e6).alias("mean_gap_h"),
        (quantize("lb", 6) / 1e6).alias("length_biased_mean_h"),
        (quantize(F.col("lb") / F.col("m"), 6) / 1e6).alias("paradox_ratio"),
    )


# --- q605: event-transition lift matrix — for every consecutive
# event-type pair (a→b) within a user stream: observed transition
# share P(b|a) against the marginal P(b), lift = P(b|a)/P(b). The
# pointwise version of q528's transition entropy (which summarizes;
# this localizes). Transitions ride the per-user partitioned window;
# the matrix is the bounded type×type grid. --------------------------------------
@query(
    "q605_event_transition_lift",
    oracle="""
    WITH trans AS MATERIALIZED (
        SELECT lag(event_type) OVER w AS a, event_type AS b
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        QUALIFY lag(event_type) OVER w IS NOT NULL
    ),
    cells AS MATERIALIZED (
        SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS c FROM trans GROUP BY a, b
    ),
    ma AS (SELECT a, SUM(c) AS ca FROM cells GROUP BY a),
    mb AS (SELECT b, SUM(c) AS cb FROM cells GROUP BY b),
    tot AS (SELECT SUM(c) AS n FROM cells)
    SELECT cells.a AS from_type, cells.b AS to_type,
           CAST(cells.c AS BIGINT) AS n_trans,
           CAST(CAST(SIGN(lift) * FLOOR(ABS(lift) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS lift
    FROM cells
    JOIN ma ON ma.a = cells.a
    JOIN mb ON mb.b = cells.b
    CROSS JOIN tot,
    LATERAL (SELECT (cells.c / ma.ca) / (mb.cb / tot.n) AS lift)
    ORDER BY from_type, to_type
    """,
)
def q605(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("a", F.lag("event_type").over(w_u))
        .where(F.col("a").isNotNull())
        .select("a", F.col("event_type").alias("b"))
    )
    cells = tracked_persist(
        trans.groupBy("a", "b").agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    ma = cells.groupBy("a").agg(F.sum("c").alias("ca"))
    mb = cells.groupBy("b").agg(F.sum("c").alias("cb"))
    tot = cells.agg(F.sum("c").alias("n"))
    j = (
        cells.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
    )
    lift = (F.col("c") / F.col("ca")) / (F.col("cb") / F.col("n"))
    return j.select(
        F.col("a").alias("from_type"),
        F.col("b").alias("to_type"),
        F.col("c").cast("long").alias("n_trans"),
        (quantize(lift, 6) / 1e6).alias("lift"),
    ).orderBy("from_type", "to_type")


# --- q606: Bowker symmetry test of the transition matrix — the
# multi-category McNemar generalization: χ² = Σ_{i<j}
# (n_ij − n_ji)²/(n_ij + n_ji), df = #off-diagonal pairs with traffic.
# "Is the event flow reversible, or does it have an arrow of time?"
# Pure integer cell arithmetic over the bounded type grid. -----------------------
@query(
    "q606_bowker_symmetry_transitions",
    oracle="""
    WITH trans AS MATERIALIZED (
        SELECT lag(event_type) OVER w AS a, event_type AS b
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        QUALIFY lag(event_type) OVER w IS NOT NULL
    ),
    cells AS MATERIALIZED (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM trans
        WHERE a <> b GROUP BY a, b
    ),
    pairs AS (
        SELECT x.c AS nij, COALESCE(y.c, 0) AS nji
        FROM cells x LEFT JOIN cells y ON y.a = x.b AND y.b = x.a
        WHERE x.a < x.b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CAST(SIGN(chi2) * FLOOR(ABS(chi2) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS bowker_chi2
    FROM (
        SELECT CAST(SUM(CAST(SIGN(t) * FLOOR(ABS(t) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS chi2
        FROM (
            SELECT CAST((nij - nji) * (nij - nji) AS DOUBLE) / (nij + nji)
                       AS t
            FROM pairs WHERE nij + nji > 0
        )
    ), pairs
    GROUP BY chi2
    """,
)
def q606(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("a", F.lag("event_type").over(w_u))
        .where(F.col("a").isNotNull() & (F.col("a") != F.col("event_type")))
        .select("a", F.col("event_type").alias("b"))
    )
    cells = tracked_persist(
        trans.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    rev = cells.select(
        F.col("a").alias("b"), F.col("b").alias("a"), F.col("c").alias("crev")
    )
    pairs = (
        cells.join(F.broadcast(rev), ["a", "b"], "left")
        .where(F.col("a") < F.col("b"))
        .select(
            F.col("c").alias("nij"), F.coalesce(F.col("crev"), F.lit(0)).alias("nji")
        )
    )
    t = ((F.col("nij") - F.col("nji")) * (F.col("nij") - F.col("nji"))).cast(
        "double"
    ) / (F.col("nij") + F.col("nji"))
    out = pairs.where(F.col("nij") + F.col("nji") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        dsum(t, 9).alias("chi2"),
    )
    return out.select(
        "n_pairs", (quantize("chi2", 6) / 1e6).alias("bowker_chi2")
    )


# --- q614: sample-ratio-mismatch guardrail on the md5 experiment
# split — the first thing a trustworthy A/B platform checks before
# reading ANY metric: χ²₁ = Σ(n_arm − n/2)²/(n/2) for the q286-class
# deterministic 50/50 user split, with the observed ratio. Pure
# integer counting; the md5 coin is engine-portable by construction. -------------
@query(
    "q614_srm_guardrail",
    oracle="""
    WITH arms AS MATERIALIZED (
        SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS t
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS nt
        FROM arms
    )
    SELECT n AS n_users, nt AS n_treatment,
           CAST(CAST(SIGN(ratio) * FLOOR(ABS(ratio) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS treatment_share,
           CAST(CAST(SIGN(chi2) * FLOOR(ABS(chi2) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS srm_chi2
    FROM (
        SELECT n, nt,
               CAST(nt AS DOUBLE) / n AS ratio,
               (nt - n / 2.0) * (nt - n / 2.0) / (n / 2.0)
                 + ((n - nt) - n / 2.0) * ((n - nt) - n / 2.0) / (n / 2.0)
                   AS chi2
        FROM s
    )
    """,
)
def q614(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    ev = T(spark, sf_dir, "events")
    arms = ev.select("user_id").distinct().select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8", 1
        )
        .otherwise(0)
        .alias("t")
    )
    s = arms.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("nt"),
    )
    chi2 = (F.col("nt") - F.col("n") / 2.0) * (F.col("nt") - F.col("n") / 2.0) / (
        F.col("n") / 2.0
    ) + ((F.col("n") - F.col("nt")) - F.col("n") / 2.0) * (
        (F.col("n") - F.col("nt")) - F.col("n") / 2.0
    ) / (F.col("n") / 2.0)
    return s.select(
        F.col("n").alias("n_users"),
        F.col("nt").alias("n_treatment"),
        (quantize(F.col("nt").cast("double") / F.col("n"), 6) / 1e6).alias(
            "treatment_share"
        ),
        (quantize(chi2, 6) / 1e6).alias("srm_chi2"),
    )


# --- q624: discrete-time conversion hazard by session depth — for
# steps k = 1..10 of each session (30-min inactivity sessionization):
# h(k) = P(purchase at step k | reached step k) plus the survivor
# share reaching each step. The funnel-as-survival view that localizes
# WHERE sessions convert, complementing the q38 sessionizer and the
# KM tier (which works in time; this works in steps). Step ranks ride
# the per-session partitioned window. --------------------------------------------
@query(
    "q624_conversion_hazard_by_depth",
    oracle="""
    WITH marks AS MATERIALIZED (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 1800
                      OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS MATERIALIZED (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marks
    ),
    steps AS MATERIALIZED (
        SELECT event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS k
        FROM sess
    ),
    per_k AS (
        SELECT k,
               CAST(COUNT(*) AS BIGINT) AS n_reached,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_buy
        FROM steps WHERE k <= 10 GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS step, n_reached, n_buy,
           CAST(CAST(SIGN(h) * FLOOR(ABS(h) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS hazard
    FROM (
        SELECT k, n_reached, n_buy,
               CAST(n_buy AS DOUBLE) / n_reached AS h
        FROM per_k
    )
    ORDER BY step
    """,
)
def q624(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marks = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w_u).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_u))
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    w_run = w_u.rowsBetween(Window.unboundedPreceding, 0)
    sess = marks.withColumn("sid", F.sum("new_s").over(w_run))
    w_s = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    steps = sess.select(
        "event_type", F.row_number().over(w_s).alias("k")
    ).where(F.col("k") <= 10)
    per_k = steps.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_buy"),
    )
    return per_k.select(
        F.col("k").cast("long").alias("step"),
        "n_reached",
        "n_buy",
        (
            quantize(F.col("n_buy").cast("double") / F.col("n_reached"), 6) / 1e6
        ).alias("hazard"),
    ).orderBy("step")


# ===== Wave q705-q710 (events tier): reliability & burstiness ========

# --- q705: Weibull probability-plot fit of inter-event gaps — on
# Weibull paper ln(−ln(1−F(g))) is LINEAR in ln g with slope = shape k
# (k < 1 = bursty/clustered arrivals, k = 1 = Poisson, k > 1 =
# regular) and scale λ = exp(−b₀/k): the reliability-engineering
# complement of q319's exponential PPCC. ECDF from the distinct-gap
# histogram + one distributed prefix; the top point (F = 1) drops by
# definition. ----------------------------------------------------------------------
@query(
    "q705_weibull_gap_fit",
    oracle="""
    WITH gaps AS MATERIALIZED (
        SELECT CAST(date_diff('second', lag(ts) OVER w, ts) AS DOUBLE)
                   / 3600.0 AS g
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        QUALIFY lag(ts) OVER w IS NOT NULL
          AND date_diff('second', lag(ts) OVER w, ts) > 0
    ),
    hist AS MATERIALIZED (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM gaps GROUP BY g
    ),
    pref AS MATERIALIZED (
        SELECT g, CAST(SUM(c) OVER (ORDER BY g) AS BIGINT) AS cum
        FROM hist
    ),
    nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
    pts AS (
        SELECT LN(g) AS x,
               LN(-LN(1.0 - CAST(cum AS DOUBLE) / nn.n)) AS y
        FROM pref, nn WHERE cum < nn.n
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS sx,
               CAST(SUM(CAST(SIGN(x * x) * FLOOR(ABS(x * x) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS sxx,
               CAST(SUM(CAST(SIGN(y) * FLOOR(ABS(y) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS sy,
               CAST(SUM(CAST(SIGN(x * y) * FLOOR(ABS(x * y) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS sxy
        FROM pts
    )
    SELECT (SELECT n FROM nn) AS n_gaps, m AS n_plot_points,
           CAST(CAST(SIGN(k) * FLOOR(ABS(k) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS weibull_shape,
           CAST(CAST(SIGN(lam) * FLOOR(ABS(lam) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS weibull_scale_h
    FROM (
        SELECT m,
               (m * sxy - sx * sy) / (m * sxx - sx * sx) AS k,
               EXP(-((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx)
                     / m)
                   / ((m * sxy - sx * sy) / (m * sxx - sx * sx))) AS lam
        FROM s
    )
    """,
)
def q705(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    ev = T(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("prev", F.lag("ts").over(w_u))
        .where(
            F.col("prev").isNotNull()
            & (F.unix_timestamp("ts") > F.unix_timestamp("prev"))
        )
        .select(
            (
                (F.unix_timestamp("ts") - F.unix_timestamp("prev")).cast(
                    "double"
                )
                / 3600.0
            ).alias("g")
        )
    )
    hist = gaps.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    pref = tracked_persist(
        global_prefix_counts(hist, [F.asc("g")], {"cum": "c"})
    )
    nn = hist.agg(F.sum("c").cast("long").alias("n"))
    pts = (
        pref.crossJoin(F.broadcast(nn))
        .where(F.col("cum") < F.col("n"))
        .select(
            F.log("g").alias("x"),
            F.log(
                -F.log(1.0 - F.col("cum").cast("double") / F.col("n"))
            ).alias("y"),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        dsum("x", 9).alias("sx"),
        dsum(F.col("x") * F.col("x"), 9).alias("sxx"),
        dsum("y", 9).alias("sy"),
        dsum(F.col("x") * F.col("y"), 9).alias("sxy"),
    )
    k = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    lam = F.exp(-((F.col("sy") - k * F.col("sx")) / F.col("m")) / k)
    out = s.crossJoin(F.broadcast(nn))
    return out.select(
        F.col("n").alias("n_gaps"),
        F.col("m").alias("n_plot_points"),
        (quantize(k, 6) / 1e6).alias("weibull_shape"),
        (quantize(lam, 6) / 1e6).alias("weibull_scale_h"),
    )


# --- q706: Allan variance of the event-arrival rate at τ ∈ {1, 2, 4}
# hours — AVAR(τ) = E[(c_{i+1} − c_i)²]/2 over adjacent τ-bins
# (Allan 1966): flat-in-τ·AVAR = white/Poisson arrivals, growing =
# drifting load. Bins anchor to the corpus MIN(ts) (no wall-clock /
# timezone exposure); counts are exact integers, adjacency one
# bin+1 equi-join per τ. -----------------------------------------------------------
@query(
    "q706_allan_variance_rate",
    oracle="""
    WITH anchor AS (SELECT MIN(ts) AS t0 FROM events),
    secs AS MATERIALIZED (
        SELECT CAST(date_diff('second', a.t0, e.ts) AS BIGINT) AS s
        FROM events e, anchor a
    ),
    taus AS (SELECT UNNEST([1, 2, 4]) AS tau),
    bins AS MATERIALIZED (
        SELECT t.tau, s.s // (3600 * t.tau) AS b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM secs s CROSS JOIN taus t
        GROUP BY t.tau, b
    ),
    pairs AS (
        SELECT a.tau, a.c AS c1, b.c AS c2
        FROM bins a JOIN bins b ON b.tau = a.tau AND b.b = a.b + 1
    )
    SELECT tau AS tau_hours,
           CAST(cnt AS BIGINT) AS n_pairs,
           CAST(CAST(SIGN(av) * FLOOR(ABS(av) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS allan_var
    FROM (
        SELECT tau,
               CAST(SUM(CAST((c2 - c1) * (c2 - c1) AS BIGINT)) AS DOUBLE)
                   / (2.0 * COUNT(*)) AS av,
               COUNT(*) AS cnt
        FROM pairs GROUP BY tau
    )
    """,
)
def q706(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    ev = T(spark, sf_dir, "events")
    anchor = ev.agg(F.min("ts").alias("t0"))
    secs = ev.crossJoin(F.broadcast(anchor)).select(
        (F.unix_timestamp("ts") - F.unix_timestamp("t0"))
        .cast("long")
        .alias("s")
    )
    taus = small_local_df(ev.sparkSession, [(1,), (2,), (4,)], "tau int")
    bins = (
        secs.crossJoin(F.broadcast(taus))
        .groupBy(
            "tau",
            (F.col("s") - F.pmod(F.col("s"), 3600 * F.col("tau")))
            .alias("b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn("b", (F.col("b") / (3600 * F.col("tau"))).cast("long"))
    )
    nxt = bins.select(
        "tau", (F.col("b") - 1).alias("b"), F.col("c").alias("c2")
    )
    pairs = bins.join(nxt, ["tau", "b"])
    g = pairs.groupBy("tau").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (
            F.sum(
                ((F.col("c2") - F.col("c")) * (F.col("c2") - F.col("c"))).cast(
                    "long"
                )
            ).cast("double")
            / (2.0 * F.count(F.lit(1)))
        ).alias("av"),
    )
    return g.select(
        F.col("tau").alias("tau_hours"),
        "n_pairs",
        (quantize("av", 6) / 1e6).alias("allan_var"),
    )


# --- q708: bursty-train size distribution (Karsai et al. 2012) — with
# a Δ = 1 h gap threshold, consecutive same-user events chain into
# "trains"; heavy-tailed train sizes are the signature of correlated
# bursts that inter-event-time statistics alone (q439's burstiness B)
# cannot see. Sessionize per user (lag flag + running sum), roll train
# sizes, then one bounded frequency histogram. ------------------------------------
@query(
    "q708_bursty_train_sizes",
    oracle="""
    WITH flagged AS MATERIALIZED (
        SELECT user_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 3600
                    THEN 1 ELSE 0 END AS brk,
               ts, event_id
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    trains AS MATERIALIZED (
        SELECT user_id,
               SUM(brk) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS tid
        FROM flagged
    ),
    sizes AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS e
        FROM trains GROUP BY user_id, tid
    )
    SELECT e AS train_size, CAST(COUNT(*) AS BIGINT) AS n_trains
    FROM sizes GROUP BY e
    """,
)
def q708(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w_u).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_u))
                > 3600
            ),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    trains = flagged.select(
        "user_id",
        F.sum("brk")
        .over(w_u.rowsBetween(Window.unboundedPreceding, 0))
        .alias("tid"),
    )
    sizes = trains.groupBy("user_id", "tid").agg(
        F.count(F.lit(1)).cast("long").alias("e")
    )
    return sizes.groupBy(F.col("e").alias("train_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_trains")
    )


# --- q721: mean residual life curve of inter-event gaps — the
# reliability-engineering readout MRL(t) = E[G − t | G > t] on a
# bounded 8-point minute grid (Guess & Proschan 1988, public): rising
# MRL = heavy-tailed gaps (the longer you've waited, the longer you
# WILL wait — Pareto-ish user lulls), falling = wear-out. Complements
# the Kaplan-Meier/Nelson-Aalen tier (q334/q450/q463) with the
# conditional-expectation view. Shape: one lag window per user,
# then the bounded grid crossJoins the gap set ONCE (8 × n_gaps rows,
# partial-combined scalar rollup per grid point) — never gap × gap. ------------
@query(
    "q721_mean_residual_life",
    oracle="""
    WITH gaps AS MATERIALIZED (
        SELECT (epoch_us(ts) - epoch_us(LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)))
               / 60000000.0 AS g
        FROM events
    ),
    grid AS (SELECT UNNEST([0, 2, 5, 10, 20, 40, 80, 160]) AS t),
    s AS (
        SELECT grid.t,
               CAST(COUNT(*) FILTER (WHERE g > grid.t) AS BIGINT)
                   AS n_at_risk,
               SUM(CAST(FLOOR((g - grid.t) * 1000000.0 + 0.5) AS BIGINT))
                   FILTER (WHERE g > grid.t) AS srq
        FROM gaps JOIN grid ON TRUE
        WHERE g IS NOT NULL
        GROUP BY grid.t
    )
    SELECT t AS t_minutes, n_at_risk,
           CAST(CAST(FLOOR(CAST(srq AS DOUBLE) / n_at_risk + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS mrl_minutes
    FROM s
    WHERE n_at_risk > 0
    ORDER BY t_minutes
    """,
)
def q721(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            / 60000000.0
        ).alias("g")
    ).filter(F.col("g").isNotNull())
    grid = small_local_df(
        spark, [(0,), (2,), (5,), (10,), (20,), (40,), (80,), (160,)], "t int"
    )
    s = (
        gaps.crossJoin(F.broadcast(grid))
        .filter(F.col("g") > F.col("t"))
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_at_risk"),
            F.sum(
                F.floor((F.col("g") - F.col("t")) * 1e6 + 0.5).cast("long")
            ).alias("srq"),
        )
    )
    return s.select(
        F.col("t").alias("t_minutes"),
        "n_at_risk",
        (
            F.floor(F.col("srq").cast("double") / F.col("n_at_risk") + 0.5).cast(
                "long"
            )
            / 1e6
        ).alias("mrl_minutes"),
    ).orderBy("t_minutes")
