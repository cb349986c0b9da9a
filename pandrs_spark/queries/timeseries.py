"""Batch time-series queries (SURVEY.md §2.11): monthly trends, rolling
stats, autocorrelation, gap-filling (ffill/bfill/linear interpolation),
calendar generation — all deterministic window/sequence algebra.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import (
    CORR_FORMULA,
    davg,
    dsum,
    dsum_over,
    quantize,
    sql_davg,
    sql_dsum,
    sql_dsum_over,
    sql_quantize,
)
from pandrs_spark.operators.timeseries import (
    bfill,
    croston_forecast,
    sbc_demand_classification,
    ffill,
    holt_forecast,
    interpolate_linear_cols,
    seasonal_decompose_additive,
    ses_fitted,
)
from pandrs_spark.operators.windows import diff, pct_change, shift
from pandrs_spark.operators.util import small_local_df
from pandrs_spark.queries import query

# Shared monthly revenue CTE (DuckDB side).
_MONTHLY = f"""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               {sql_dsum('o_totalprice')} AS revenue,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY month
    )
"""


# --- q46: monthly resample + MoM diff / pct change (shift/diff §2.5c) -------
@query(
    "q46_monthly_trend",
    oracle=_MONTHLY
    + """
    SELECT month, revenue, n_orders,
           LAG(revenue) OVER w AS prev_revenue,
           revenue - LAG(revenue) OVER w AS mom_diff,
           ROUND((revenue - LAG(revenue) OVER w) / LAG(revenue) OVER w, 6) AS mom_pct
    FROM monthly
    WINDOW w AS (ORDER BY month)
    ORDER BY month
    """,
)
def q46(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        dsum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        "n_orders",
        shift("revenue", 1, w).alias("prev_revenue"),
        diff("revenue", w).alias("mom_diff"),
        F.round(pct_change("revenue", w), 6).alias("mom_pct"),
    ).orderBy("month")


# --- q47: rolling min/max/std over daily revenue (rolling §2.5a) ------------
_DAILY = f"""
    WITH daily AS (
        SELECT date_trunc('day', l_shipdate) AS day,
               {sql_dsum('l_extendedprice')} AS rev
        FROM lineitem
        GROUP BY day
    )
"""

_ROLL_FRAME = "ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW"


@query(
    "q47_rolling_daily_stats",
    oracle=_DAILY
    + f"""
    SELECT day, rev,
           MIN(rev) OVER ({_ROLL_FRAME}) AS roll_min,
           MAX(rev) OVER ({_ROLL_FRAME}) AS roll_max,
           CAST(SUM(CAST(ROUND(rev, 2) AS DECIMAL(32, 2))) OVER ({_ROLL_FRAME}) AS DOUBLE) AS roll_sum,
           COUNT(rev) OVER ({_ROLL_FRAME}) AS roll_n,
           CAST(SUM(CAST(ROUND(rev * rev, 0) AS DECIMAL(32, 0))) OVER ({_ROLL_FRAME}) AS DOUBLE) AS roll_sumsq
    FROM daily
    ORDER BY day
    """,
)
def q47(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    def dec(c, scale):
        return (
            F.sum(F.round(c, scale).cast(DecimalType(32, scale)))
            .over(w)
            .cast("double")
        )

    return daily.select(
        "day",
        "rev",
        F.min("rev").over(w).alias("roll_min"),
        F.max("rev").over(w).alias("roll_max"),
        dec(F.col("rev"), 2).alias("roll_sum"),
        F.count("rev").over(w).alias("roll_n"),
        dec(F.col("rev") * F.col("rev"), 0).alias("roll_sumsq"),
    ).orderBy("day")


# --- q48: autocorrelation (ACF) of daily revenue at lags 1-3 (§2.11) --------
_CORR = (
    "CASE WHEN n > 1 THEN "
    "(n * sxy - sx * sy) / "
    "(SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) "
    "ELSE NULL END"
)


@query(
    "q48_daily_revenue_acf",
    oracle=_DAILY
    + f"""
    , daily_i AS (
        SELECT day, rev / 1e6 AS rev,
               ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily
    ),
    pairs AS (
        SELECT k.lag_k, a.rev AS x, b.rev AS y
        FROM daily_i a
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag_k) k
        LEFT JOIN daily_i b ON a.i - k.lag_k = b.i
    ),
    stats AS (
        SELECT lag_k,
               COUNT(y) AS n,
               {sql_dsum('CASE WHEN y IS NOT NULL THEN x END', 6)} AS sx,
               {sql_dsum('y', 6)} AS sy,
               {sql_dsum('CASE WHEN y IS NOT NULL THEN x * x END', 6)} AS sxx,
               {sql_dsum('y * y', 6)} AS syy,
               {sql_dsum('x * y', 6)} AS sxy
        FROM pairs
        GROUP BY lag_k
    )
    SELECT CAST(lag_k AS INTEGER) AS lag_k, ROUND({_CORR}, 6) AS acf
    FROM stats
    ORDER BY lag_k
    """,
)
def q48(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag_k"))
    # lag by a *column* amount isn't supported by F.lag; join on a
    # shifted row index instead (scales identically, one sort).
    # ACF is scale-invariant, so the series normalizes to millions
    # BEFORE the quantized sums: daily revenue is ~2.5e7 at sf0.1, so
    # x*y at scale 2 overflowed int64 (round 11, first full sf0.1
    # gate); in 1e6 units the scale-6 sums hold to ~1e6 days at sf1+.
    daily_i = daily.withColumn(
        "rev", F.col("rev") / F.lit(1e6)
    ).withColumn("i", F.row_number().over(Window.orderBy("day")))
    a = daily_i.select(F.col("i"), F.col("rev").alias("x"))
    b = daily_i.select(F.col("i").alias("i_b"), F.col("rev").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("i") - F.col("lag_k") == F.col("i_b"), "left")
    )
    stats = pairs.groupBy("lag_k").agg(
        F.count("y").alias("n"),
        dsum(F.when(F.col("y").isNotNull(), F.col("x")), 6).alias("sx"),
        dsum("y", 6).alias("sy"),
        dsum(F.when(F.col("y").isNotNull(), F.col("x") * F.col("x")), 6).alias("sxx"),
        dsum(F.col("y") * F.col("y"), 6).alias("syy"),
        dsum(F.col("x") * F.col("y"), 6).alias("sxy"),
    )
    return stats.select(
        "lag_k", F.round(F.expr(_CORR), 6).alias("acf")
    ).orderBy("lag_k")


# --- q49: ffill / bfill / linear interpolation over gappy series (§2.2) -----
@query(
    "q49_gap_fill_methods",
    oracle=_DAILY
    + """
    , gappy AS (
        SELECT day,
               ROW_NUMBER() OVER (ORDER BY day) AS rn,
               CASE WHEN dayofmonth(day) % 5 = 0 THEN NULL ELSE rev END AS v
        FROM daily
    )
    SELECT day, v,
           LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
           FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_bfill,
           ROUND(CASE
               WHEN v IS NOT NULL THEN v
               WHEN LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NULL
                   THEN FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY day
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               WHEN FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) IS NULL
                   THEN LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               ELSE LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    + (FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY day
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       - LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                      * (rn - LAST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
                             OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                      / (FIRST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
                             OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                         - LAST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
                             OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           END, 6) AS v_interp
    FROM gappy
    ORDER BY day
    """,
)
def q49(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    w = Window.orderBy("day")
    gappy = daily.select(
        "day",
        F.row_number().over(w).alias("rn"),
        F.when(F.dayofmonth("day") % 5 == 0, None).otherwise(F.col("rev")).alias("v"),
    )
    return gappy.select(
        "day",
        "v",
        ffill("v", w).alias("v_ffill"),
        bfill("v", w).alias("v_bfill"),
        F.round(interpolate_linear_cols("v", F.col("rn"), w), 6).alias("v_interp"),
    ).orderBy("day")


# --- q50: calendar/date_range generation + join (§2.11 date_range) ----------
@query(
    "q50_calendar_order_counts",
    oracle="""
    WITH cal AS (
        SELECT unnest(generate_series(TIMESTAMP '1995-01-01 00:00:00',
                                      TIMESTAMP '1995-06-30 00:00:00',
                                      INTERVAL 1 DAY)) AS day
    ),
    daily AS (
        SELECT date_trunc('day', o_orderdate) AS day, COUNT(*) AS n_orders
        FROM orders
        GROUP BY day
    )
    SELECT c.day,
           CAST(dayofweek(c.day) + 1 AS INTEGER) AS dow,
           (dayofweek(c.day) IN (0, 6)) AS is_weekend,
           COALESCE(d.n_orders, 0) AS n_orders
    FROM cal c LEFT JOIN daily d ON d.day = c.day
    ORDER BY c.day
    """,
)
def q50(spark, sf_dir):
    from pandrs_spark.operators.timeseries import date_range

    orders = T(spark, sf_dir, "orders")
    cal = date_range(spark, "1995-01-01 00:00:00", "1995-06-30 00:00:00").select(
        F.col("ts").alias("day")
    )
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        cal.join(daily, "day", "left")
        .select(
            "day",
            F.dayofweek("day").alias("dow"),
            F.dayofweek("day").isin(1, 7).alias("is_weekend"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
        .orderBy("day")
    )


# --- q80: additive seasonal decomposition, weekly period (§2.11,
# src/time_series/decomposition.rs:91) ---------------------------------------
@query(
    "q80_weekly_decomposition",
    oracle=_DAILY
    + f"""
    , trended AS (
        SELECT day, rev,
               CASE WHEN COUNT(rev) OVER wc = 7
                    THEN {sql_dsum_over('rev', 'wc', 4)} / 7 END AS trend,
               (ROW_NUMBER() OVER (ORDER BY day) - 1) % 7 AS phase
        FROM daily
        WINDOW wc AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    phase_means AS (
        SELECT phase, {sql_davg('rev - trend', 6)} AS pm
        FROM trended GROUP BY phase
    ),
    grand AS (SELECT {sql_davg('pm', 6)} AS g FROM phase_means)
    SELECT t.day, t.rev,
           ROUND(t.trend, 6) AS trend,
           ROUND(p.pm - g.g, 6) AS seasonal,
           ROUND(t.rev - t.trend - (p.pm - g.g), 6) AS resid
    FROM trended t JOIN phase_means p USING (phase) CROSS JOIN grand g
    ORDER BY t.day
    """,
)
def q80(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    dec = seasonal_decompose_additive(daily, "day", "rev", period=7)
    return dec.select(
        "day",
        "rev",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round("resid", 6).alias("resid"),
    ).orderBy("day")


# --- q81: simple exponential smoothing fitted values (§2.11,
# src/time_series/forecasting.rs:437) ----------------------------------------
# Round 11: the oracle folds the RECURSION itself (list_reduce with
# the identical a*x + (1-a)*s expression tree the operator's explicit
# float loop evaluates — the q82 Holt technique), replacing the
# closed-form weighted sum: mathematically equal, but its different
# summation order drifted ~1e-6 at sf0.1 revenue magnitudes (~5e8),
# right at the 6-decimal rounding edge. Bit-equal trees don't drift
# at any SF.
@query(
    "q81_ses_monthly_revenue",
    oracle=_MONTHLY
    + """
    , ser AS (
        SELECT month, revenue,
               list(revenue) OVER (ORDER BY month
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS prefix
        FROM monthly
    )
    SELECT month, revenue,
           ROUND(list_reduce(prefix,
               (acc, x) -> CAST(0.2 AS DOUBLE) * x
                           + (1 - CAST(0.2 AS DOUBLE)) * acc), 6) AS ses
    FROM ser ORDER BY month
    """,
)
def q81(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(dsum("o_totalprice").alias("revenue"))
    out = ses_fitted(
        monthly, "revenue", order_by=["month"], partition_by=[], alpha=0.2
    )
    return out.select(
        "month", "revenue", F.round("ses", 6).alias("ses")
    ).orderBy("month")


# --- q82: Holt linear-trend one-step forecast (§2.11,
# src/time_series/forecasting.rs:453). The two-state recursion has no
# window-function closed form, but DuckDB's list_reduce folds the exact
# same update equations over each row's prefix list (state encoded as
# [level, trend]) — so the recursion itself is inside the hash gate,
# not just rows-only. ---------------------------------------------------------
@query(
    "q82_holt_forecast_monthly",
    oracle=f"""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             {sql_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY month
    ),
    ser AS (
      SELECT month, revenue,
             ROW_NUMBER() OVER (ORDER BY month) AS t,
             list(revenue) OVER (ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
             LEAD(revenue) OVER (ORDER BY month) AS nxt
      FROM monthly
    )
    SELECT month, revenue,
      ROUND(CASE WHEN t = 1 THEN revenue + (nxt - revenue)
           ELSE (
             SELECT s[1] + s[2] FROM (
               SELECT list_reduce(
                 list_prepend([prefix[1], prefix[2] - prefix[1]],
                              list_transform(prefix[2:], x -> [x])),
                 (acc, x) -> [
                   0.5 * x[1] + (1 - 0.5) * (acc[1] + acc[2]),
                   0.3 * ((0.5 * x[1] + (1 - 0.5) * (acc[1] + acc[2])) - acc[1])
                       + (1 - 0.3) * acc[2]
                 ]) AS s)
           ) END, 4) AS holt_fc
    FROM ser ORDER BY month
    """,
)
def q82(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(dsum("o_totalprice").alias("revenue"))
    out = holt_forecast(
        monthly,
        "revenue",
        order_by=["month"],
        partition_by=[],
        alpha=0.5,
        beta=0.3,
        horizon=1,
    )
    return out.select(
        "month", "revenue", F.round("holt_fc", 4).alias("holt_fc")
    ).orderBy("month")


# --- q83: ADF stationarity test, no-constant variant (§2.11,
# src/time_series/analysis.rs:597) -------------------------------------------
# Regress Δy_t on y_{t-1}; the t-statistic of the slope is the ADF stat.
# Everything reduces to three exact sums over the lagged daily series.
_ADF_LAGGED = _DAILY + """
    , lagged AS (
        SELECT rev - LAG(rev) OVER (ORDER BY day) AS dy,
               LAG(rev) OVER (ORDER BY day) AS ylag
        FROM daily
    ),
    pairs AS (SELECT dy, ylag FROM lagged WHERE ylag IS NOT NULL)
"""


@query(
    "q83_adf_stationarity",
    oracle=_ADF_LAGGED
    + """
    , sums AS (
        SELECT COUNT(*) AS n,
               (CAST(SUM(CAST(SIGN(ylag * dy) * FLOOR(ABS(ylag * dy) * 1.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1.0) AS sxy,
               (CAST(SUM(CAST(SIGN(ylag * ylag) * FLOOR(ABS(ylag * ylag) * 1.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1.0) AS sxx,
               (CAST(SUM(CAST(SIGN(dy * dy) * FLOOR(ABS(dy * dy) * 1.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1.0) AS syy
        FROM pairs
    )
    SELECT n,
           ROUND(sxy / sxx, 8) AS phi,
           ROUND((sxy / sxx) / SQRT(((syy - sxy * sxy / sxx) / (n - 1)) / sxx), 6) AS adf_t
    FROM sums
    """,
)
def q83(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        (F.col("rev") - F.lag("rev").over(w)).alias("dy"),
        F.lag("rev").over(w).alias("ylag"),
    ).filter(F.col("ylag").isNotNull())
    sums = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("ylag") * F.col("dy"), 0).alias("sxy"),
        dsum(F.col("ylag") * F.col("ylag"), 0).alias("sxx"),
        dsum(F.col("dy") * F.col("dy"), 0).alias("syy"),
    )
    return sums.selectExpr(
        "n",
        "ROUND(sxy / sxx, 8) AS phi",
        "ROUND((sxy / sxx) / SQRT(((syy - sxy * sxy / sxx) / (n - 1)) / sxx), 6) AS adf_t",
    )


# --- q84: CUSUM change-point scan (§2.11, analysis.rs:986) ------------------
@query(
    "q84_cusum_changepoint",
    oracle=_DAILY
    + f"""
    , stats AS (SELECT {sql_davg('rev')} AS mu FROM daily),
    cusum AS (
        SELECT day,
               {sql_dsum_over('rev - (SELECT mu FROM stats)', '(ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)', 4)} AS s
        FROM daily
    )
    SELECT day AS changepoint_day, ROUND(ABS(s), 4) AS max_abs_cusum
    FROM cusum
    ORDER BY ABS(s) DESC, day
    LIMIT 1
    """,
)
def q84(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    mu = daily.agg(davg("rev").alias("mu"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = daily.crossJoin(F.broadcast(mu)).select(
        "day", dsum_over(F.col("rev") - F.col("mu"), w, 4).alias("s")
    )
    return (
        cusum.select(
            F.col("day").alias("changepoint_day"),
            F.round(F.abs("s"), 4).alias("max_abs_cusum"),
        )
        .orderBy(F.desc(F.abs("s")), "changepoint_day")
        .limit(1)
    )


# --- q85: runs test around the mean (§2.12, nonparametric.rs:459) -----------
@query(
    "q85_runs_test",
    oracle=_DAILY
    + f"""
    , stats AS (SELECT {sql_davg('rev')} AS mu FROM daily),
    signed AS (
        SELECT day, CASE WHEN rev >= (SELECT mu FROM stats) THEN 1 ELSE 0 END AS above
        FROM daily
    ),
    runs AS (
        SELECT above,
               CASE WHEN LAG(above) OVER (ORDER BY day) IS NULL
                         OR above <> LAG(above) OVER (ORDER BY day)
                    THEN 1 ELSE 0 END AS new_run
        FROM signed
    ),
    agg AS (
        SELECT CAST(SUM(new_run) AS BIGINT) AS n_runs,
               CAST(SUM(above) AS BIGINT) AS n1,
               CAST(SUM(1 - above) AS BIGINT) AS n2
        FROM runs
    )
    SELECT n_runs, n1, n2,
           ROUND((n_runs - (2.0 * n1 * n2 / (n1 + n2) + 1)) /
                 SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
                      (POWER(CAST(n1 + n2 AS DOUBLE), 2) * (n1 + n2 - 1))), 6) AS z
    FROM agg
    """,
)
def q85(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    mu = daily.agg(davg("rev").alias("mu"))
    w = Window.orderBy("day")
    signed = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("rev") >= F.col("mu")).cast("int").alias("above")
    )
    runs = signed.select(
        "above",
        F.when(
            F.lag("above").over(w).isNull()
            | (F.col("above") != F.lag("above").over(w)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").alias("n_runs"),
        F.sum("above").alias("n1"),
        F.sum(1 - F.col("above")).alias("n2"),
    )
    return agg.selectExpr(
        "n_runs",
        "n1",
        "n2",
        """ROUND((n_runs - (2.0 * n1 * n2 / (n1 + n2) + 1)) /
           SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
                (POWER(CAST(n1 + n2 AS DOUBLE), 2) * (n1 + n2 - 1))), 6) AS z""",
    )


# --- q86: business-day calendar arithmetic (§2.9,
# src/series/datetime_accessor.rs:367,518) -----------------------------------
@query(
    "q86_business_days_by_month",
    oracle="""
    WITH months AS (
        SELECT DISTINCT date_trunc('month', o_orderdate) AS month FROM orders
    ),
    days AS (
        SELECT month, UNNEST(generate_series(month, month + INTERVAL 1 MONTH - INTERVAL 1 DAY, INTERVAL 1 DAY)) AS d
        FROM months
    )
    SELECT month,
           CAST(COUNT(CASE WHEN dayofweek(d) NOT IN (0, 6) THEN 1 END) AS BIGINT) AS business_days,
           CAST(COUNT(*) AS BIGINT) AS calendar_days
    FROM days GROUP BY month ORDER BY month
    """,
)
def q86(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    months = orders.select(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).distinct()
    days = months.select(
        "month",
        F.explode(
            F.sequence(
                F.col("month").cast("date"),
                F.last_day(F.col("month")),
                F.expr("interval 1 day"),
            )
        ).alias("d"),
    )
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek: 0=Sunday..6=Saturday
    return (
        days.groupBy("month")
        .agg(
            F.sum(
                (~F.dayofweek("d").isin([1, 7])).cast("int")
            ).alias("business_days"),
            F.count(F.lit(1)).alias("calendar_days"),
        )
        .orderBy("month")
    )


# --- q103: additive Holt-Winters forecast (§2.11,
# src/time_series/forecasting.rs:469). Triple recursion (level/trend/
# length-7 seasonal cycle) folded in DuckDB list_reduce with the state
# encoded as [level, trend, s0..s6] and elements as [x_t, t] pairs —
# the same update equations as the applyInPandas loop, so the recursion
# is hash-gated exactly (rows beyond the LIMIT skip the fold to keep
# the oracle O(limit²) instead of O(n²)). ------------------------------------
@query(
    "q103_holt_winters_daily",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             {sql_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY day
    ),
    ser AS (
      SELECT day, revenue,
             ROW_NUMBER() OVER (ORDER BY day) AS t,
             COUNT(*) OVER () AS n,
             list(revenue) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
             list(revenue) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fullv
      FROM daily
    ),
    init AS (
      SELECT *,
        list_avg(fullv[1:7]) AS l0,
        (list_avg(fullv[8:14]) - list_avg(fullv[1:7])) / 7 AS b0,
        list_transform(fullv[1:7], x -> x - list_avg(fullv[1:7])) AS s0
      FROM ser
      WHERE t <= 100
    ),
    st AS (
      SELECT *,
        CASE WHEN t <= 7 THEN list_concat([l0, b0], s0)
        ELSE list_reduce(
          list_prepend(list_concat([l0, b0], s0),
            list_transform(generate_series(8, CAST(t AS INT)),
                           i -> [prefix[i], CAST(i AS DOUBLE)])),
          (acc, e) ->
            list_concat(
              [
                0.3 * (e[1] - acc[3 + CAST(e[2] - 1 AS INT) % 7]) + 0.7 * (acc[1] + acc[2]),
                0.1 * ((0.3 * (e[1] - acc[3 + CAST(e[2] - 1 AS INT) % 7]) + 0.7 * (acc[1] + acc[2])) - acc[1]) + 0.9 * acc[2]
              ],
              list_transform(acc[3:], (s, i) ->
                CASE WHEN (i - 1) = CAST(e[2] - 1 AS INT) % 7
                     THEN 0.2 * (e[1] - (0.3 * (e[1] - acc[3 + CAST(e[2] - 1 AS INT) % 7]) + 0.7 * (acc[1] + acc[2]))) + 0.8 * s
                     ELSE s END))
          )
        END AS state
      FROM init
    )
    SELECT day, revenue,
      ROUND(CASE WHEN n >= 14
            THEN state[1] + state[2] + state[3 + (CAST(t AS INT) % 7)]
            ELSE NULL END, 4) AS hw_fc
    FROM st ORDER BY day LIMIT 100
    """,
)
def q103(spark, sf_dir):
    from pandrs_spark.operators.timeseries import holt_winters_forecast

    orders = T(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(dsum("o_totalprice").alias("revenue"))
    out = holt_winters_forecast(
        daily,
        "revenue",
        order_by=["day"],
        partition_by=[],
        alpha=0.3,
        beta=0.1,
        gamma=0.2,
        period=7,
        horizon=1,
    )
    return out.select(
        "day", "revenue", F.round("hw_fc", 4).alias("hw_fc")
    ).orderBy("day").limit(100)


# --- q105: KPSS level-stationarity statistic (§2.11,
# src/time_series/analysis.rs:659) -------------------------------------------
# eta = sum_t S_t^2 / (n^2 * sigma^2) with S_t the running sum of
# demeaned daily revenue and sigma^2 the series variance (lag-0 long-run
# variance). The cumulative sum is quantized to scaled BIGINT so the
# running pass is engine-exact; the final reduction is O(days), not rows.
@query(
    "q105_kpss_stationarity",
    oracle=_DAILY
    + f"""
    , m AS (
        SELECT COUNT(*) AS n, {sql_davg('rev')} AS mu,
               {sql_dsum('rev * rev', 0)} AS srr
        FROM daily
    ),
    s AS (
        SELECT (CAST(SUM(CAST(SIGN(rev - mu) * FLOOR(ABS(rev - mu) * 100.0 + 0.5) AS BIGINT))
                     OVER (ORDER BY day) AS DOUBLE) / 100.0) AS st,
               n, mu, srr
        FROM daily CROSS JOIN m
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           ROUND((MAX(srr) - MAX(n) * MAX(mu) * MAX(mu)) / MAX(n), 4) AS sigma2,
           ROUND(SUM(st * st) / (MAX(n) * MAX(n) *
                 ((MAX(srr) - MAX(n) * MAX(mu) * MAX(mu)) / MAX(n))), 6) AS kpss_stat
    FROM s
    """,
)
def q105(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        davg("rev").alias("mu"),
        dsum(F.col("rev") * F.col("rev"), 0).alias("srr"),
    )
    w_run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    s = daily.crossJoin(F.broadcast(m)).select(
        dsum_over(F.col("rev") - F.col("mu"), w_run, 2).alias("st"), "n", "mu", "srr"
    )
    sigma2 = (F.max("srr") - F.max("n") * F.max("mu") * F.max("mu")) / F.max("n")
    return s.agg(
        F.max("n").cast("long").alias("n"),
        F.round(sigma2, 4).alias("sigma2"),
        F.round(
            F.sum(F.col("st") * F.col("st")) / (F.max("n") * F.max("n") * sigma2), 6
        ).alias("kpss_stat"),
    )


# --- q107: multiplicative seasonal decomposition, weekly period (§2.11,
# decomposition.rs:91 model variant) ------------------------------------------
@query(
    "q107_weekly_decomposition_mult",
    oracle=_DAILY
    + f"""
    , trended AS (
        SELECT day, rev,
               CASE WHEN COUNT(rev) OVER wc = 7
                    THEN {sql_dsum_over('rev', 'wc', 4)} / 7 END AS trend,
               (ROW_NUMBER() OVER (ORDER BY day) - 1) % 7 AS phase
        FROM daily
        WINDOW wc AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    phase_means AS (
        SELECT phase, {sql_davg('rev / trend', 6)} AS pm
        FROM trended GROUP BY phase
    ),
    grand AS (SELECT {sql_davg('pm', 6)} AS g FROM phase_means)
    SELECT t.day, t.rev,
           ROUND(t.trend, 6) AS trend,
           ROUND(p.pm / g.g, 6) AS seasonal,
           ROUND(t.rev / (t.trend * (p.pm / g.g)), 6) AS resid
    FROM trended t JOIN phase_means p USING (phase) CROSS JOIN grand g
    ORDER BY t.day
    """,
)
def q107(spark, sf_dir):
    from pandrs_spark.operators.timeseries import seasonal_decompose_multiplicative

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    dec = seasonal_decompose_multiplicative(daily, "day", "rev", period=7)
    return dec.select(
        "day",
        "rev",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round("resid", 6).alias("resid"),
    ).orderBy("day")


# --- q109: partial autocorrelation (PACF) at lags 1-3 (§2.11,
# src/time_series/stats.rs:1040) ----------------------------------------------
# Durbin-Levinson recursion over the lag-k pair correlations (the same
# estimator family as q48's ACF): phi_11 = r1; phi_22 = (r2-r1^2)/(1-r1^2);
# phi_33 from the order-2 prediction coefficients. All inputs are exact
# quantized sums, the recursion is closed-form arithmetic shared by both
# engines, and the ordered pass is over days, not rows.
_PACF_PHIS = """
    phis AS (
        SELECT r1 AS phi1,
               (r2 - r1 * r1) / (1 - r1 * r1) AS phi2,
               (r3 - (r1 - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1) * r2
                   - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1)
               / (1 - (r1 - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1) * r1
                    - ((r2 - r1 * r1) / (1 - r1 * r1)) * r2) AS phi3
        FROM rs
    )
"""


@query(
    "q109_pacf",
    oracle=_DAILY
    + f"""
    , daily_i AS (
        SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily
    ),
    pairs AS (
        SELECT k.lag_k, a.rev AS x, b.rev AS y
        FROM daily_i a
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag_k) k
        LEFT JOIN daily_i b ON a.i - k.lag_k = b.i
    ),
    stats AS (
        SELECT lag_k,
               COUNT(y) AS n,
               {sql_dsum('CASE WHEN y IS NOT NULL THEN x END', 0)} AS sx,
               {sql_dsum('y', 0)} AS sy,
               {sql_dsum('CASE WHEN y IS NOT NULL THEN x * x END', 0)} AS sxx,
               {sql_dsum('y * y', 0)} AS syy,
               {sql_dsum('x * y', 0)} AS sxy
        FROM pairs
        GROUP BY lag_k
    ),
    acfs AS (
        SELECT lag_k,
               (n * sxy - sx * sy) /
               (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS r
        FROM stats
    ),
    rs AS (
        SELECT MAX(CASE WHEN lag_k = 1 THEN r END) AS r1,
               MAX(CASE WHEN lag_k = 2 THEN r END) AS r2,
               MAX(CASE WHEN lag_k = 3 THEN r END) AS r3
        FROM acfs
    ),
    {_PACF_PHIS}
    SELECT 1 AS lag_k, ROUND(phi1, 6) AS pacf FROM phis
    UNION ALL SELECT 2, ROUND(phi2, 6) FROM phis
    UNION ALL SELECT 3, ROUND(phi3, 6) FROM phis
    ORDER BY lag_k
    """,
)
def q109(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag_k"))
    daily_i = daily.withColumn("i", F.row_number().over(Window.orderBy("day")))
    a = daily_i.select(F.col("i"), F.col("rev").alias("x"))
    b = daily_i.select(F.col("i").alias("i_b"), F.col("rev").alias("y"))
    pairs = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("i") - F.col("lag_k") == F.col("i_b"), "left"
    )
    stats = pairs.groupBy("lag_k").agg(
        F.count("y").alias("n"),
        dsum(F.when(F.col("y").isNotNull(), F.col("x")), 0).alias("sx"),
        dsum("y", 0).alias("sy"),
        dsum(F.when(F.col("y").isNotNull(), F.col("x") * F.col("x")), 0).alias("sxx"),
        dsum(F.col("y") * F.col("y"), 0).alias("syy"),
        dsum(F.col("x") * F.col("y"), 0).alias("sxy"),
    )
    acfs = stats.select(
        "lag_k",
        F.expr(
            "(n * sxy - sx * sy) / "
            "(SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))"
        ).alias("r"),
    )
    rs = acfs.agg(
        F.max(F.when(F.col("lag_k") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag_k") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("lag_k") == 3, F.col("r"))).alias("r3"),
    )
    phis = rs.selectExpr(
        "r1 AS phi1",
        "(r2 - r1 * r1) / (1 - r1 * r1) AS phi2",
        """(r3 - (r1 - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1) * r2
               - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1)
           / (1 - (r1 - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1) * r1
                - ((r2 - r1 * r1) / (1 - r1 * r1)) * r2) AS phi3""",
    )
    return phis.selectExpr(
        "stack(3, 1, ROUND(phi1, 6), 2, ROUND(phi2, 6), 3, ROUND(phi3, 6))"
        " AS (lag_k, pacf)"
    ).orderBy("lag_k")


# --- q117: seasonality detection — discrete periodogram over daily order
# revenue (analysis.rs:310) ---------------------------------------------------
# The series is daily revenue in thousands (keeps quantized products well
# inside the int64 envelope through sf100); candidate periods cover
# weekly through annual cycles. 2π is the same literal on both sides so
# the trig arguments are bit-identical.
_PG_PERIODS = [2, 3, 7, 14, 30, 91, 182, 365]
_TWO_PI = "6.283185307179586"


@query(
    "q117_seasonality_periodogram",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS day,
               {sql_dsum('o_totalprice')} AS rev
        FROM orders GROUP BY day
    ),
    pos AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS t, rev / 1000 AS x
        FROM daily
    ),
    nm AS (SELECT COUNT(*) AS n, {sql_dsum('x')} AS s FROM pos),
    periods AS (
        SELECT UNNEST([{', '.join(str(p) for p in _PG_PERIODS)}]) AS period
    ),
    terms AS (
        SELECT p.period, nm.n,
               (x - s / n) * COS({_TWO_PI} * t / p.period) AS xc,
               (x - s / n) * SIN({_TWO_PI} * t / p.period) AS xs
        FROM pos CROSS JOIN nm CROSS JOIN periods p
    )
    SELECT period,
           (sc * sc + ss * ss) / n AS power
    FROM (
        SELECT period,
               CAST(SUM({sql_quantize('xc', 0)}) AS DOUBLE) AS sc,
               CAST(SUM({sql_quantize('xs', 0)}) AS DOUBLE) AS ss,
               FIRST(n) AS n
        FROM terms GROUP BY period
    )
    ORDER BY period
    """,
)
def q117(spark, sf_dir):
    from pandrs_spark.operators.timeseries import periodogram

    orders = T(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        dsum("o_totalprice").alias("rev")
    )
    series = daily.select("day", (F.col("rev") / 1000).alias("x"))
    return periodogram(series, "day", "x", _PG_PERIODS).orderBy("period")


# --- q118: AR(2) fit + one-step forecast on daily revenue
# (forecasting.rs:788 ARIMA's AR stage, expression tier) ----------------------
@query(
    "q118_ar2_forecast",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS day,
               {sql_dsum('o_totalprice')} AS rev
        FROM orders GROUP BY day
    ),
    pos AS (SELECT day, rev / 1000 AS x FROM daily),
    nm AS (SELECT COUNT(*) AS n, {sql_dsum('x')} AS s FROM pos),
    lagged AS (
        SELECT x - s / n AS y,
               LAG(x, 1) OVER (ORDER BY day) AS x1,
               LAG(x, 2) OVER (ORDER BY day) AS x2,
               s / n AS mu,
               ROW_NUMBER() OVER (ORDER BY day DESC) AS rn_desc
        FROM pos CROSS JOIN nm
    ),
    c2 AS (
        SELECT y, x1 - mu AS y1, x2 - mu AS y2, mu, rn_desc, x2 FROM lagged
    ),
    stats AS (
        SELECT COUNT(*) AS n_obs,
               CAST(SUM({sql_quantize('y * y1', 0)}) AS DOUBLE) AS r1,
               CAST(SUM({sql_quantize('y * y2', 0)}) AS DOUBLE) AS r2,
               CAST(SUM({sql_quantize('y1 * y1', 0)}) AS DOUBLE) AS s11,
               CAST(SUM({sql_quantize('y2 * y2', 0)}) AS DOUBLE) AS s22,
               CAST(SUM({sql_quantize('y1 * y2', 0)}) AS DOUBLE) AS s12,
               CAST(SUM({sql_quantize('y * y', 0)}) AS DOUBLE) AS syy
        FROM c2 WHERE x2 IS NOT NULL
    ),
    tail AS (
        SELECT MAX(CASE WHEN rn_desc = 1 THEN y END) AS ylast,
               MAX(CASE WHEN rn_desc = 2 THEN y END) AS yprev,
               MAX(mu) AS mu
        FROM c2
    )
    SELECT n_obs,
           (r1 * s22 - r2 * s12) / (s11 * s22 - s12 * s12) AS phi1,
           (r2 * s11 - r1 * s12) / (s11 * s22 - s12 * s12) AS phi2,
           syy - (r1 * s22 - r2 * s12) / (s11 * s22 - s12 * s12) * r1
               - (r2 * s11 - r1 * s12) / (s11 * s22 - s12 * s12) * r2 AS rss,
           mu + (r1 * s22 - r2 * s12) / (s11 * s22 - s12 * s12) * ylast
              + (r2 * s11 - r1 * s12) / (s11 * s22 - s12 * s12) * yprev
               AS next_forecast
    FROM stats CROSS JOIN tail
    """,
)
def q118(spark, sf_dir):
    from pandrs_spark.operators.timeseries import ar2_fit

    orders = T(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        dsum("o_totalprice").alias("rev")
    )
    series = daily.select("day", (F.col("rev") / 1000).alias("x"))
    return ar2_fit(series, "day", "x")


# --- q127: linear trend fit + strength + forecasts (analysis.rs:108,
# forecasting.rs:82,241) over monthly revenue, in millions so the
# quantized y² sums stay inside the int64 envelope at any SF ----------------
from pandrs_spark.functions.deterministic import sql_quantize  # noqa: E402
from pandrs_spark.operators.timeseries import (  # noqa: E402
    TREND_FORMULAS,
    linear_trend,
    moving_average_forecast,
)

_Q6 = lambda e: f"(CAST(SUM({sql_quantize(e, 6)}) AS DOUBLE) / 1e6)"  # noqa: E731


@query(
    "q127_linear_trend_forecast",
    oracle=_MONTHLY
    + f""",
    idx AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY month) - 1 AS DOUBLE) AS t,
               revenue / 1000000.0 AS y
        FROM monthly
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(t) AS st, {_Q6('y')} AS sy,
               SUM(t * t) AS stt, {_Q6('y * y')} AS syy,
               {_Q6('t * y')} AS sty
        FROM idx
    ),
    ma AS (
        SELECT AVG(y) AS ma3 FROM (
            SELECT revenue / 1000000.0 AS y FROM monthly
            ORDER BY month DESC LIMIT 3
        )
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND({TREND_FORMULAS['slope']}, 6) AS slope,
           ROUND({TREND_FORMULAS['intercept']}, 6) AS intercept,
           ROUND({TREND_FORMULAS['r2']}, 6) AS r2,
           ROUND({TREND_FORMULAS['forecast_next']}, 6) AS forecast_next,
           ROUND(ma3, 6) AS ma3_forecast
    FROM sums, ma
    """,
)
def q127(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg((dsum("o_totalprice") / 1000000.0).alias("y"))
    fit = linear_trend(monthly, "month", "y")
    ma = moving_average_forecast(monthly, "month", "y", 3)
    return fit.crossJoin(ma).select(
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
        F.round("forecast_next", 6).alias("forecast_next"),
        F.round("forecast", 6).alias("ma3_forecast"),
    )


# --- q132: series smoothing + outlier clipping (src/time_series/
# preprocessing.rs, 1,360 LoC tier): centered rolling-median(5) smoother
# and winsorized clip at the global p05/p95 — windowed exact percentile
# in both engines (identical linear-interpolation definition); global
# cutoffs via a broadcastable one-row cross join --------------------------
@query(
    "q132_smoothing_winsorize",
    oracle=_DAILY
    + """,
    cuts AS (
        SELECT quantile_cont(rev, 0.05) AS lo, quantile_cont(rev, 0.95) AS hi
        FROM daily
    ),
    sm AS (
        SELECT day, rev,
               quantile_cont(rev, 0.5) OVER
                   (ORDER BY day ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
                   AS med5
        FROM daily
    )
    SELECT s.day, ROUND(s.rev, 2) AS rev,
           ROUND(s.med5, 6) AS smoothed,
           ROUND(LEAST(GREATEST(s.rev, c.lo), c.hi), 6) AS winsorized,
           CAST(s.rev < c.lo OR s.rev > c.hi AS BOOLEAN) AS clipped
    FROM sm s, cuts c
    ORDER BY s.day
    LIMIT 60
    """,
)
def q132(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    cuts = daily.agg(
        F.expr("percentile(rev, 0.05)").alias("lo"),
        F.expr("percentile(rev, 0.95)").alias("hi"),
    )
    w5 = Window.orderBy("day").rowsBetween(-2, 2)
    sm = daily.withColumn("med5", F.expr("percentile(rev, 0.5)").over(w5))
    return (
        sm.crossJoin(F.broadcast(cuts))
        .select(
            "day",
            F.round("rev", 2).alias("rev"),
            F.round("med5", 6).alias("smoothed"),
            F.round(
                F.least(F.greatest(F.col("rev"), F.col("lo")), F.col("hi")), 6
            ).alias("winsorized"),
            ((F.col("rev") < F.col("lo")) | (F.col("rev") > F.col("hi"))).alias(
                "clipped"
            ),
        )
        .orderBy("day")
        .limit(60)
    )


# --- q133: split-mean change-point scores, the reference's "Bayesian"
# detector (analysis.rs:1035), O(n) via one cumulative window instead of
# the reference's O(n²) re-summing ------------------------------------------
@query(
    "q133_split_mean_changepoints",
    oracle=_MONTHLY
    + f""",
    cum AS (
        SELECT month,
               ROW_NUMBER() OVER w AS rn,
               SUM({sql_quantize('revenue / 1000000.0', 6)}) OVER
                   (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM({sql_quantize('revenue / 1000000.0', 6)}) OVER () AS tot,
               COUNT(*) OVER () AS n
        FROM monthly
        WINDOW w AS (ORDER BY month)
    )
    SELECT rn AS idx, month AS ts,
           ROUND(ABS((cum / 1e6) / rn - ((tot - cum) / 1e6) / (n - rn)), 6) AS score,
           ABS((cum / 1e6) / rn - ((tot - cum) / 1e6) / (n - rn)) > 0.1 AS is_change
    FROM cum
    WHERE rn >= 2 AND rn < n - 2
    ORDER BY idx
    """,
)
def q133(spark, sf_dir):
    from pandrs_spark.operators.timeseries import split_mean_changepoints

    orders = T(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg((dsum("o_totalprice") / 1000000.0).alias("y"))
    out = split_mean_changepoints(monthly, "month", "y", prior_scale=0.01)
    return out.select(
        "idx", "ts", F.round("score", 6).alias("score"), "is_change"
    ).orderBy("idx")


# --- q135: ARIMA(2,1,0) — difference once, AR(2) on the diffs, then
# integrate the one-step forecast back to the level (forecasting.rs:788
# with d=1; the reference's ARIMA differences in a driver loop, here the
# diff is a lag window and the fit a constant-size exact reduction) ----------
@query(
    "q135_arima_210_forecast",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('month', o_orderdate) AS day,
               {sql_dsum('o_totalprice')} AS rev
        FROM orders GROUP BY day
    ),
    lvl AS (SELECT day, rev / 1000 AS level FROM daily),
    pos AS (
        SELECT day, level - LAG(level) OVER (ORDER BY day) AS x
        FROM lvl QUALIFY x IS NOT NULL
    ),
    nm AS (SELECT COUNT(*) AS n, {sql_dsum('x')} AS s FROM pos),
    lagged AS (
        SELECT x - s / n AS y,
               LAG(x, 1) OVER (ORDER BY day) AS x1,
               LAG(x, 2) OVER (ORDER BY day) AS x2,
               s / n AS mu,
               ROW_NUMBER() OVER (ORDER BY day DESC) AS rn_desc
        FROM pos CROSS JOIN nm
    ),
    c2 AS (
        SELECT y, x1 - mu AS y1, x2 - mu AS y2, mu, rn_desc, x2 FROM lagged
    ),
    stats AS (
        SELECT COUNT(*) AS n_obs,
               CAST(SUM({sql_quantize('y * y1', 0)}) AS DOUBLE) AS r1,
               CAST(SUM({sql_quantize('y * y2', 0)}) AS DOUBLE) AS r2,
               CAST(SUM({sql_quantize('y1 * y1', 0)}) AS DOUBLE) AS s11,
               CAST(SUM({sql_quantize('y2 * y2', 0)}) AS DOUBLE) AS s22,
               CAST(SUM({sql_quantize('y1 * y2', 0)}) AS DOUBLE) AS s12
        FROM c2 WHERE x2 IS NOT NULL
    ),
    tail AS (
        SELECT MAX(CASE WHEN rn_desc = 1 THEN y END) AS ylast,
               MAX(CASE WHEN rn_desc = 2 THEN y END) AS yprev,
               MAX(mu) AS mu
        FROM c2
    ),
    last_level AS (
        SELECT level AS last_lvl FROM lvl ORDER BY day DESC LIMIT 1
    )
    SELECT n_obs,
           ROUND((r1 * s22 - r2 * s12) / (s11 * s22 - s12 * s12), 6) AS phi1,
           ROUND((r2 * s11 - r1 * s12) / (s11 * s22 - s12 * s12), 6) AS phi2,
           ROUND(last_lvl +
                 mu + (r1 * s22 - r2 * s12) / (s11 * s22 - s12 * s12) * ylast
                    + (r2 * s11 - r1 * s12) / (s11 * s22 - s12 * s12) * yprev,
                 6) AS forecast_level
    FROM stats CROSS JOIN tail CROSS JOIN last_level
    """,
)
def q135(spark, sf_dir):
    from pandrs_spark.operators.timeseries import ar2_fit

    orders = T(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("day")
    ).agg((dsum("o_totalprice") / 1000).alias("level"))
    w = Window.orderBy("day")
    diffs = (
        monthly.select(
            "day", (F.col("level") - F.lag("level").over(w)).alias("x")
        )
        .filter(F.col("x").isNotNull())
    )
    fit = ar2_fit(diffs, "day", "x")
    last_lvl = monthly.orderBy(F.desc("day")).limit(1).select(
        F.col("level").alias("last_lvl")
    )
    return fit.crossJoin(last_lvl).select(
        "n_obs",
        F.round("phi1", 6).alias("phi1"),
        F.round("phi2", 6).alias("phi2"),
        F.round(F.col("last_lvl") + F.col("next_forecast"), 6).alias(
            "forecast_level"
        ),
    )


# --- q151: per-series ML feature matrix (src/time_series/features.rs):
# lags, diffs, pct-change, rolling mean/std/min/max — one window pass,
# quantized rolling sums mirror exactly in DuckDB ----------------------------
@query(
    "q151_ts_feature_matrix",
    oracle=f"""
    SELECT user_id, ts, value,
           lag_1, lag_7, diff_1,
           ROUND(pct_change_1, 6) AS pct_1,
           roll_n,
           ROUND(roll_mean, 6) AS roll_mean,
           ROUND(roll_std, 6) AS roll_std,
           roll_min, roll_max
    FROM (
        SELECT user_id, ts, value,
               LAG(value, 1) OVER w AS lag_1,
               LAG(value, 7) OVER w AS lag_7,
               value - LAG(value, 1) OVER w AS diff_1,
               (value - LAG(value, 1) OVER w) / LAG(value, 1) OVER w AS pct_change_1,
               CAST(COUNT(value) OVER wr AS BIGINT) AS roll_n,
               {sql_dsum_over('value', 'wr', 4)} / COUNT(value) OVER wr AS roll_mean,
               CASE WHEN COUNT(value) OVER wr > 1 THEN SQRT(GREATEST(
                   ({sql_dsum_over('value * value', 'wr', 2)}
                    - POWER({sql_dsum_over('value', 'wr', 4)}, 2) / COUNT(value) OVER wr)
                   / (COUNT(value) OVER wr - 1), 0.0)) END AS roll_std,
               MIN(value) OVER wr AS roll_min,
               MAX(value) OVER wr AS roll_max
        FROM events
        WHERE event_type = 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts),
               wr AS (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    ORDER BY user_id, ts
    """,
)
def q151(spark, sf_dir):
    from pandrs_spark.operators.timeseries import ts_feature_matrix

    ev = T(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    feat = ts_feature_matrix(ev, "user_id", "ts", "value", lags=(1, 7), window=7)
    return feat.select(
        "user_id",
        "ts",
        "value",
        "lag_1",
        "lag_7",
        "diff_1",
        F.round("pct_change_1", 6).alias("pct_1"),
        "roll_n",
        F.round("roll_mean", 6).alias("roll_mean"),
        F.round("roll_std", 6).alias("roll_std"),
        "roll_min",
        "roll_max",
    ).orderBy("user_id", "ts")


# --- q155: Bayesian online change-point detection per user purchase
# stream (Adams & MacKay; reference analysis.rs:1035). Rows-only —
# sequential posterior recursion per series via applyInPandas;
# mean-shift detection pinned by tests/test_timeseries.py ---------------------
@query(
    "q155_bocpd_purchase_streams",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_series,
           TRUE AS p_change_is_probability,
           TRUE AS first_obs_posterior_is_hazard
    FROM events WHERE event_type = 'purchase'
    """,
)
def q155(spark, sf_dir):
    from pandrs_spark.operators.timeseries import bocpd_changepoints

    ev = T(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    out = bocpd_changepoints(ev, "user_id", "ts", "value", hazard=0.02)
    # The Student-t/Normal-Gamma recursion has no tractable SQL fold
    # (growing run-length posterior), so the gate pins its axioms: one
    # output row per observation, p_change is a probability, and after
    # one observation the posterior changepoint mass equals the hazard
    # exactly (the first data point carries no evidence either way, so
    # P(run=0) = h deterministically).
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = out.withColumn("__rn__", F.row_number().over(w))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.countDistinct("user_id").alias("n_series"),
        F.min(
            (F.col("p_change") >= 0) & (F.col("p_change") <= 1)
        ).alias("p_change_is_probability"),
        F.min(
            F.when(
                F.col("__rn__") == 1, F.abs(F.col("p_change") - 0.02) < 1e-9
            ).otherwise(True)
        ).alias("first_obs_posterior_is_hazard"),
    )


# --- q184: ARIMA(1,1,1) — MA terms through the gate. The reference's
# ARIMA (forecasting.rs:788) is a fixed-coefficient (phi=0.5, theta=0.3)
# innovations recursion over the once-differenced series; the recursion
# state [y_lag, e_lag] folds exactly in DuckDB list_reduce (same
# technique as the Holt q82 oracle), so fitted values, residuals AND
# the integrated one-step forecast are all value-hashed. ---------------------
@query(
    "q184_arima_111_forecast",
    oracle=f"""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders GROUP BY month
    ),
    dser AS (
        SELECT month, revenue,
               revenue - LAG(revenue) OVER (ORDER BY month) AS dy
        FROM monthly QUALIFY dy IS NOT NULL
    ),
    folded AS (
        SELECT month, dy,
               list_reduce(
                   list_prepend([0.0, 0.0],
                       list_transform(
                           list(dy) OVER (ORDER BY month
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW),
                           x -> [x])),
                   (acc, x) -> [x[1], x[1] - (0.5 * acc[1] + 0.3 * acc[2])]
               ) AS state
        FROM dser
    ),
    last_state AS (
        SELECT 0.5 * state[1] + 0.3 * state[2] AS fc_diff
        FROM folded ORDER BY month DESC LIMIT 1
    ),
    last_rev AS (SELECT revenue FROM monthly ORDER BY month DESC LIMIT 1)
    SELECT f.month,
           ROUND(f.dy, 6) AS dy,
           ROUND(f.dy - f.state[2], 6) AS fitted,
           ROUND(f.state[2], 6) AS resid,
           ROUND(lr.revenue + ls.fc_diff, 6) AS next_fc
    FROM folded f CROSS JOIN last_state ls CROSS JOIN last_rev lr
    ORDER BY month
    """,
)
def q184(spark, sf_dir):
    from pandrs_spark.operators.timeseries import arima_forecast

    orders = T(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(dsum("o_totalprice").alias("revenue"))
    out = arima_forecast(
        monthly, "revenue", order_by=["month"], partition_by=[], p=1, d=1, q=1
    )
    return out.select(
        "month",
        F.round("dy", 6).alias("dy"),
        F.round("fitted", 6).alias("fitted"),
        F.round("resid", 6).alias("resid"),
        F.round("next_fc", 6).alias("next_fc"),
    ).orderBy("month")


# --- q219: OHLC resample (pandas resample().ohlc() parity) — daily
# open/high/low/close of the event value stream. Open/close pick the
# value at the min/max event time via min_by/max_by over a zero-padded
# (epoch_us, event_id) sort key — identical lexicographic order on
# both engines, deterministic under timestamp ties. One aggregate, no
# window, no sort of the raw stream. --------------------------------------
@query(
    "q219_daily_ohlc",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           ROUND(min_by(value, printf('%020d|%020d', epoch_us(ts), event_id)), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(max_by(value, printf('%020d|%020d', epoch_us(ts), event_id)), 6) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q219(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    key = F.format_string(
        "%020d|%020d", F.unix_micros("ts"), F.col("event_id")
    )
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.round(F.min_by("value", key), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", key), 6).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day")
    )


# --- q295: naive-forecast error benchmark (MASE-style) — per nation,
# daily revenue evaluated against the naive-1 (yesterday) and seasonal
# naive-7 (last week) forecasts, joined CALENDAR-safe (self-join on
# date-1 / date-7, not positional lag, so date gaps can't misalign a
# series). mase = MAE(naive-1)/MAE(naive-7): < 1 means yesterday beats
# last-week — the sanity floor every forecast model must clear. Errors
# fold as exact quantized sums over the (nation, day) rollup. ---------------
@query(
    "q295_naive_forecast_mase",
    oracle="""
    WITH daily AS (
        SELECT n.n_name AS nation, CAST(l.l_shipdate AS DATE) AS d,
               SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100.0 + 0.5) AS BIGINT)) AS revq
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    joined AS (
        SELECT a.nation,
               ABS(a.revq - b1.revq) AS e1,
               ABS(a.revq - b7.revq) AS e7
        FROM daily a
        JOIN daily b1 ON a.nation = b1.nation AND b1.d = a.d - 1
        JOIN daily b7 ON a.nation = b7.nation AND b7.d = a.d - 7
    )
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           (CAST(FLOOR(CAST(SUM(e1) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) / 100.0) AS mae_naive1,
           (CAST(FLOOR(CAST(SUM(e7) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) / 100.0) AS mae_naive7,
           ROUND(CAST(SUM(e1) AS DOUBLE) / CAST(SUM(e7) AS DOUBLE), 6) AS mase
    FROM joined GROUP BY nation ORDER BY nation
    """,
)
def q295(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    sdim = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    revq = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0 + 0.5
    ).cast("bigint")
    daily = (
        li.join(sdim, li.l_suppkey == sdim.s_suppkey)
        .groupBy("nation", F.to_date("l_shipdate").alias("d"))
        .agg(F.sum(revq).alias("revq"))
    )
    b1 = daily.select(
        F.col("nation").alias("n1"), F.col("d").alias("d1"), F.col("revq").alias("r1")
    )
    b7 = daily.select(
        F.col("nation").alias("n7"), F.col("d").alias("d7"), F.col("revq").alias("r7")
    )
    joined = (
        daily.join(
            b1,
            (daily.nation == b1.n1) & (b1.d1 == F.date_sub(daily.d, 1)),
        )
        .join(
            b7,
            (daily.nation == b7.n7) & (b7.d7 == F.date_sub(daily.d, 7)),
        )
        .select(
            "nation",
            F.abs(F.col("revq") - F.col("r1")).alias("e1"),
            F.abs(F.col("revq") - F.col("r7")).alias("e7"),
        )
    )
    return (
        joined.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            # floor-quantized (not ROUND): engines disagree on round()
            # ties of non-representable hundredths
            (
                F.floor(
                    F.sum("e1").cast("double") / F.count(F.lit(1)) + 0.5
                ).cast("bigint")
                / 100.0
            ).alias("mae_naive1"),
            (
                F.floor(
                    F.sum("e7").cast("double") / F.count(F.lit(1)) + 0.5
                ).cast("bigint")
                / 100.0
            ).alias("mae_naive7"),
            F.round(
                F.sum("e1").cast("double") / F.sum("e7").cast("double"), 6
            ).alias("mase"),
        )
        .orderBy("nation")
    )


# --- q342: Mann-Kendall trend test + Sen's slope on monthly revenue.
# The series is the month-aggregated revenue (exact scaled-long sums),
# so the pairwise i<j self-join is CALENDAR-bounded (~80 months² ≈ 3k
# pairs at any SF, not rows²) — the classic O(n²) test is safe because
# aggregation happens first. S and the tie term are pure integer folds; z applies the
# continuity correction through a formula string shared with the
# oracle; Sen's slope is the exact interpolated median of pairwise
# slopes (identical doubles both engines). Reference: trend-test
# surface of src/stats/mod.rs (Mann-Kendall).
_MK_Z = (
    "CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(var_s) "
    "WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(var_s) ELSE 0.0 END"
)


@query(
    "q342_mann_kendall_sen_slope",
    oracle=f"""
    WITH daily AS (
        SELECT DATEDIFF('month', (SELECT MIN(o_orderdate) FROM orders), o_orderdate)
                 AS d,
               SUM({sql_quantize('o_totalprice', 2)}) AS rev
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT a.d AS di, b.d AS dj, a.rev AS ri, b.rev AS rj
        FROM daily a JOIN daily b ON b.d > a.d
    ),
    sfold AS (
        SELECT CAST(SUM(CASE WHEN rj > ri THEN 1 WHEN rj < ri THEN -1
                             ELSE 0 END) AS BIGINT) AS s_stat,
               {sql_quantize("quantile_cont((rj - ri) * 1.0 / (dj - di), 0.5)", 6)}
                 / 1000000.0 AS sen_slope
        FROM pairs
    ),
    ties AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
        FROM (SELECT COUNT(*) AS t FROM daily GROUP BY rev)
    ),
    vs AS (
        SELECT s_stat, sen_slope,
               (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0 AS var_s, n
        FROM sfold, ties
    )
    SELECT CAST(n AS BIGINT) AS n_months, s_stat,
           ROUND(var_s, 6) AS var_s,
           ROUND({_MK_Z}, 6) AS z_stat,
           sen_slope
    FROM vs
    """,
)
def q342(spark, sf_dir):
    od = T(spark, sf_dir, "orders")
    mn = od.agg(F.min("o_orderdate").alias("mn"))
    daily = (
        od.crossJoin(F.broadcast(mn))
        .groupBy(
            F.months_between(
                F.date_trunc("month", "o_orderdate"), F.date_trunc("month", "mn")
            ).cast("int").alias("d")
        )
        .agg(F.sum(quantize("o_totalprice", 2)).alias("rev"))
    )
    a = daily.select(F.col("d").alias("di"), F.col("rev").alias("ri"))
    b = daily.select(F.col("d").alias("dj"), F.col("rev").alias("rj"))
    pairs = a.join(b, F.col("dj") > F.col("di"))
    sfold = pairs.agg(
        F.sum(
            F.when(F.col("rj") > F.col("ri"), 1)
            .when(F.col("rj") < F.col("ri"), -1)
            .otherwise(0)
        ).cast("long").alias("s_stat"),
        (
            quantize(
                F.expr("percentile((rj - ri) * 1.0 / (dj - di), 0.5)"), 6
            )
            / 1000000.0
        ).alias("sen_slope"),
    )
    ties = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            ).cast("long").alias("tie_term"),
        )
    )
    vs = sfold.crossJoin(F.broadcast(ties)).withColumn(
        "var_s",
        (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term"))
        / 18.0,
    )
    return vs.select(
        F.col("n").cast("long").alias("n_months"),
        "s_stat",
        F.round("var_s", 6).alias("var_s"),
        F.round(F.expr(_MK_Z), 6).alias("z_stat"),
        "sen_slope",
    )


# --- q356: seasonal-naive backtest on monthly revenue. Forecast(m) =
# actual(m − 12 months) via a 12-step lag over the CALENDAR-bounded
# monthly series (grouped first — the window never sees raw rows);
# absolute-percentage errors fold into MAPE/MdAPE through exact
# quantized revenue. The baseline every fancier forecaster (q81–q135)
# must beat. Reference: src/time_series/forecasting.rs baseline surface.
@query(
    "q356_seasonal_naive_backtest",
    oracle=f"""
    WITH monthly AS (
        SELECT DATE_TRUNC('month', o_orderdate) AS m,
               SUM({sql_quantize('o_totalprice', 2)}) AS rev
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT m, rev,
               LAG(rev, 12) OVER (ORDER BY m) AS rev_ly
        FROM monthly
    ),
    scored AS (
        SELECT m, rev, rev_ly,
               ABS(CAST(rev - rev_ly AS DOUBLE)) / rev AS ape
        FROM lagged WHERE rev_ly IS NOT NULL AND rev > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
           ROUND({sql_dsum('ape', 9)} / COUNT(*), 6) AS mape,
           ROUND(quantile_cont(ape, 0.5), 6) AS mdape
    FROM scored
    """,
)
def q356(spark, sf_dir):
    od = T(spark, sf_dir, "orders")
    monthly = od.groupBy(F.date_trunc("month", "o_orderdate").alias("m")).agg(
        F.sum(quantize("o_totalprice", 2)).alias("rev")
    )
    w = Window.orderBy("m")
    scored = (
        monthly.withColumn("rev_ly", F.lag("rev", 12).over(w))
        .filter(F.col("rev_ly").isNotNull() & (F.col("rev") > 0))
        .withColumn(
            "ape", F.abs((F.col("rev") - F.col("rev_ly")).cast("double")) / F.col("rev")
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.round(dsum("ape", 9) / F.count(F.lit(1)), 6).alias("mape"),
        F.round(F.expr("percentile(ape, 0.5)"), 6).alias("mdape"),
    )


# --- q366: Weibull fit of the ship-delay distribution by median-rank
# regression. ECDF of the ~2400 distinct day delays comes from
# global_prefix_counts (partition-offset prefix sums — the distinct
# count of a day-granular measure over 6.5 years is NOT calendar-tiny,
# so no whitelisted window); median-rank plotting positions
# F = (cum − 0.3)/(n + 0.4) keep ln(−ln(1−F)) finite at the tail; the
# Weibull shape/scale drop out of the closed-form OLS of
# ln(−ln(1−F)) on ln(t) with scale-6 quantized sufficient statistics.
# Reference: distribution-fitting surface of src/stats/mod.rs
# (PPCC q319's sibling, on the regression path).
def _q366_oracle() -> str:
    return f"""
    WITH delays AS (
        SELECT DATEDIFF('day', o.o_orderdate, l.l_shipdate) AS t
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE DATEDIFF('day', o.o_orderdate, l.l_shipdate) > 0
    ),
    grp AS (SELECT t, COUNT(*) AS c FROM delays GROUP BY t),
    cum AS (
        SELECT t,
               SUM(c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
               (SELECT SUM(c) FROM grp) AS n
        FROM grp
    ),
    pts AS (
        SELECT LN(CAST(t AS DOUBLE)) AS x,
               LN(-LN(1 - (CAST(cumc AS DOUBLE) - 0.3)
                          / (CAST(n AS DOUBLE) + 0.4))) AS y
        FROM cum
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum('x', 6)} AS sx, {sql_dsum('y', 6)} AS sy,
               {sql_dsum('x * x', 6)} AS sxx, {sql_dsum('y * y', 6)} AS syy,
               {sql_dsum('x * y', 6)} AS sxy
        FROM pts
    )
    SELECT n AS n_points,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS shape_k,
           ROUND(EXP(-((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                       / n)
                     / ((n * sxy - sx * sy) / (n * sxx - sx * sx))), 6)
             AS scale_lambda,
           ROUND(POWER(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM agg
    """


@query("q366_weibull_leadtime_fit", oracle=_q366_oracle())
def q366(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_counts

    li = T(spark, sf_dir, "lineitem")
    od = T(spark, sf_dir, "orders")
    delays = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(F.datediff("l_shipdate", "o_orderdate").alias("t"))
        .filter(F.col("t") > 0)
    )
    grp = delays.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n_tot = grp.agg(F.sum("c").alias("n"))
    cum = global_prefix_counts(grp, [F.col("t")], {"cumc": "c"})
    pts = cum.crossJoin(F.broadcast(n_tot)).select(
        F.log(F.col("t").cast("double")).alias("x"),
        F.log(
            -F.log(
                1
                - (F.col("cumc").cast("double") - 0.3)
                / (F.col("n").cast("double") + 0.4)
            )
        ).alias("y"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("x", 6).alias("sx"),
        dsum("y", 6).alias("sy"),
        dsum(F.col("x") * F.col("x"), 6).alias("sxx"),
        dsum(F.col("y") * F.col("y"), 6).alias("syy"),
        dsum(F.col("x") * F.col("y"), 6).alias("sxy"),
    )
    slope = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
    return agg.select(
        F.col("n").alias("n_points"),
        F.round(F.expr(slope), 6).alias("shape_k"),
        F.round(
            F.expr(f"EXP(-((sy - {slope} * sx) / n) / {slope})"), 6
        ).alias("scale_lambda"),
        F.round(
            F.expr(
                "POWER(n * sxy - sx * sy, 2)"
                " / ((n * sxx - sx * sx) * (n * syy - sy * sy))"
            ),
            6,
        ).alias("r2"),
    )


# --- q376: adstock (geometric-decay carryover) transform of monthly
# revenue — the marketing-mix-model preprocessing step. The exact
# recursion a_t = r_t + λ·a_{t-1} is equivalent to a geometric
# convolution; with λ=0.7 the 12-lag truncation error is λ^13 < 1% of
# a month's own weight, and the truncated form is a BOUNDED range
# self-join on the month spine (13 pairs per month, calendar-bounded
# at any data scale — same argument as q350's month spine) instead of
# an unparallelizable sequential fold. Each λ^lag·r term is quantized
# before the sum so the per-month reduction is an exact integer add on
# both engines. Reference: src/time_series/forecasting.rs (SES :436 is the
# same recursion shape, fitted; adstock is the fixed-λ transform).
def _q376_oracle() -> str:
    term = sql_quantize(
        "s.rev * POWER(CAST(0.7 AS DOUBLE), DATEDIFF('month', s.m, t.m))", 4
    )
    return f"""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               {sql_dsum('o_totalprice', 2)} AS rev
        FROM orders GROUP BY m
    ),
    conv AS (
        SELECT t.m,
               CAST(SUM({term}) AS BIGINT) AS aq
        FROM monthly t JOIN monthly s
          ON s.m <= t.m AND DATEDIFF('month', s.m, t.m) <= 12
        GROUP BY t.m
    )
    SELECT c.m AS month_start,
           ROUND(mo.rev, 2) AS revenue,
           ROUND(CAST(c.aq AS DOUBLE) / 10000.0, 4) AS adstock
    FROM conv c JOIN monthly mo ON mo.m = c.m
    ORDER BY month_start
    """


@query("q376_adstock_monthly_revenue", oracle=_q376_oracle())
def q376(spark, sf_dir):
    od = T(spark, sf_dir, "orders")
    monthly = od.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(dsum("o_totalprice", 2).alias("rev"))
    t = monthly.select(F.col("m").alias("mt"))
    s = monthly.select(F.col("m").alias("ms"), F.col("rev").alias("rev_s"))
    lag = F.months_between(F.col("mt"), F.col("ms")).cast("int")
    conv = (
        t.join(
            s,
            (F.col("ms") <= F.col("mt")) & (lag <= 12),
        )
        .groupBy("mt")
        .agg(
            F.sum(
                quantize(
                    F.col("rev_s")
                    * F.pow(F.lit(0.7).cast("double"), lag.cast("double")),
                    4,
                )
            ).alias("aq")
        )
    )
    return (
        conv.join(monthly, conv.mt == monthly.m)
        .select(
            F.col("mt").alias("month_start"),
            F.round("rev", 2).alias("revenue"),
            F.round(F.col("aq").cast("double") / 10000.0, 4).alias("adstock"),
        )
        .orderBy("month_start")
    )


# --- q382: MULTIPLICATIVE Holt-Winters — q103's sibling for series
# whose seasonal swing scales with the level (the retail-revenue
# norm). Same state encoding and list_reduce fold as q103's oracle,
# with level/season updates switched to the ratio form
# (l = α·x/s + (1−α)(l+b); s = γ·x/l + (1−γ)s; x̂ = (l+b)·s) and
# seasonal init as first-cycle RATIOS to its mean. Same LIMIT-100 gate
# keeps the fold O(limit²). Reference:
# src/time_series/forecasting.rs:469 (seasonal variants).
@query(
    "q382_holt_winters_multiplicative",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             {sql_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY day
    ),
    ser AS (
      SELECT day, revenue,
             ROW_NUMBER() OVER (ORDER BY day) AS t,
             COUNT(*) OVER () AS n,
             list(revenue) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
             list(revenue) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fullv
      FROM daily
    ),
    init AS (
      SELECT *,
        list_avg(fullv[1:7]) AS l0,
        (list_avg(fullv[8:14]) - list_avg(fullv[1:7])) / 7 AS b0,
        list_transform(fullv[1:7], x -> x / list_avg(fullv[1:7])) AS s0
      FROM ser
      WHERE t <= 100
    ),
    st AS (
      SELECT *,
        CASE WHEN t <= 7 THEN list_concat([l0, b0], s0)
        ELSE list_reduce(
          list_prepend(list_concat([l0, b0], s0),
            list_transform(generate_series(8, CAST(t AS INT)),
                           i -> [prefix[i], CAST(i AS DOUBLE)])),
          (acc, e) ->
            list_concat(
              [
                0.3 * (e[1] / acc[3 + CAST(e[2] - 1 AS INT) % 7]) + 0.7 * (acc[1] + acc[2]),
                0.1 * ((0.3 * (e[1] / acc[3 + CAST(e[2] - 1 AS INT) % 7]) + 0.7 * (acc[1] + acc[2])) - acc[1]) + 0.9 * acc[2]
              ],
              list_transform(acc[3:], (s, i) ->
                CASE WHEN (i - 1) = CAST(e[2] - 1 AS INT) % 7
                     THEN 0.2 * (e[1] / (0.3 * (e[1] / acc[3 + CAST(e[2] - 1 AS INT) % 7]) + 0.7 * (acc[1] + acc[2]))) + 0.8 * s
                     ELSE s END))
          )
        END AS state
      FROM init
    )
    SELECT day, revenue,
      ROUND(CASE WHEN n >= 14
            THEN (state[1] + state[2]) * state[3 + (CAST(t AS INT) % 7)]
            ELSE NULL END, 4) AS hw_fc
    FROM st ORDER BY day LIMIT 100
    """,
)
def q382(spark, sf_dir):
    from pandrs_spark.operators.timeseries import holt_winters_forecast

    orders = T(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(dsum("o_totalprice").alias("revenue"))
    out = holt_winters_forecast(
        daily,
        "revenue",
        order_by=["day"],
        partition_by=[],
        alpha=0.3,
        beta=0.1,
        gamma=0.2,
        period=7,
        horizon=1,
        seasonal="mul",
    )
    return out.select(
        "day", "revenue", F.round("hw_fc", 4).alias("hw_fc")
    ).orderBy("day").limit(100)


# --- q386: Croston intermittent-demand forecast (§2.11 forecasting
# family, src/time_series/forecasting.rs:437 — the reference's SES
# recursion composed per Croston 1972 / Syntetos-Boylan 2005). The
# demand series is gap-filled onto the full monthly calendar spine so
# zero-demand months drive the interval state. The oracle folds the
# identical [size, interval, gap, started] state machine with DuckDB
# list_reduce, so the recursion itself is inside the hash gate. -------------
@query(
    "q386_croston_intermittent_demand",
    oracle=f"""
    WITH d AS (
        SELECT l_partkey, date_trunc('month', l_shipdate) AS month,
               {sql_dsum('l_quantity', 6)} AS qty
        FROM lineitem WHERE l_partkey % 131 = 7 GROUP BY 1, 2
    ),
    b AS (SELECT MIN(month) AS mn, MAX(month) AS mx FROM d),
    spine AS (
        SELECT UNNEST(generate_series(mn, mx, INTERVAL 1 MONTH)) AS month
        FROM b
    ),
    parts AS (SELECT DISTINCT l_partkey FROM d),
    grid AS (
        SELECT p.l_partkey, s.month,
               COALESCE(d.qty, 0.0) AS qty
        FROM parts p CROSS JOIN spine s
        LEFT JOIN d ON d.l_partkey = p.l_partkey AND d.month = s.month
    ),
    ser AS (
        SELECT l_partkey, list(CAST(qty AS DOUBLE) ORDER BY month) AS xs
        FROM grid GROUP BY 1
    ),
    folded AS (
        SELECT l_partkey,
               len(xs) AS n_periods,
               len(list_filter(xs, x -> x > 0)) AS n_nonzero,
               list_reduce(
                   list_prepend([0.0, 0.0, 1.0, 0.0],
                                list_transform(xs, x -> [x])),
                   (acc, e) -> CASE
                       WHEN e[1] > 0 AND acc[4] = 0
                           THEN [e[1], acc[3], 1.0, 1.0]
                       WHEN e[1] > 0
                           THEN [0.3 * e[1] + (1.0 - 0.3) * acc[1],
                                 0.3 * acc[3] + (1.0 - 0.3) * acc[2],
                                 1.0, 1.0]
                       ELSE [acc[1], acc[2], acc[3] + 1.0, acc[4]]
                   END
               ) AS st
        FROM ser
    )
    SELECT l_partkey AS partkey, n_periods, n_nonzero,
           {sql_quantize('st[1]', 6)} / 1000000.0 AS croston_size,
           {sql_quantize('st[2]', 6)} / 1000000.0 AS croston_interval,
           {sql_quantize('st[1] / st[2]', 6)} / 1000000.0 AS croston_fc,
           {sql_quantize('(1.0 - 0.3 / 2) * st[1] / st[2]', 6)} / 1000000.0
               AS sba_fc
    FROM folded
    ORDER BY partkey
    """,
)
def q386(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 131 == 7)
    # monthly feeds three consumers (bounds, the part list, the left
    # join) — persist the tiny aggregate so lineitem scans ONCE
    monthly = tracked_persist(
        li.groupBy(
            "l_partkey", F.date_trunc("month", "l_shipdate").alias("month")
        ).agg(dsum("l_quantity", 6).alias("qty"))
    )
    bounds = monthly.agg(F.min("month").alias("mn"), F.max("month").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 month"))).alias("month")
    )
    parts = monthly.select("l_partkey").distinct()
    # calendar spine is bounded (~83 months) — broadcast scalar-carry
    # the gap-filled grid is series-count x spine-months — small — and
    # feeds a per-series shuffle + fold; persisting it keeps the
    # broadcast-subquery lineage from re-running inside the fold job
    grid = tracked_persist(
        parts.join(F.broadcast(spine))
        .join(monthly, ["l_partkey", "month"], "left")
        .withColumn("qty", F.coalesce(F.col("qty").cast("double"), F.lit(0.0)))
    )
    out = croston_forecast(
        grid, "qty", order_by=["month"], partition_by=["l_partkey"], alpha=0.3
    )
    return out.select(
        F.col("l_partkey").alias("partkey"),
        "n_periods",
        "n_nonzero",
        (quantize("croston_size", 6) / 1e6).alias("croston_size"),
        (quantize("croston_interval", 6) / 1e6).alias("croston_interval"),
        (quantize("croston_fc", 6) / 1e6).alias("croston_fc"),
        (quantize("sba_fc", 6) / 1e6).alias("sba_fc"),
    ).orderBy("partkey")


# --- q387: SBC demand-pattern classification (§2.11/§2.4 — ADI × CV²
# quadrants per Syntetos-Boylan-Croston; pairs with q386 to pick the
# forecaster per series). Gap-filled spine as q386; moments via
# quantized exact sums so the class is partition-order invariant. -----------
@query(
    "q387_sbc_demand_classification",
    oracle=f"""
    WITH d AS (
        SELECT l_partkey, date_trunc('month', l_shipdate) AS month,
               {sql_dsum('l_quantity', 6)} AS qty
        FROM lineitem WHERE l_partkey % 13 = 7 GROUP BY 1, 2
    ),
    b AS (SELECT MIN(month) AS mn, MAX(month) AS mx FROM d),
    spine AS (
        SELECT UNNEST(generate_series(mn, mx, INTERVAL 1 MONTH)) AS month
        FROM b
    ),
    parts AS (SELECT DISTINCT l_partkey FROM d),
    grid AS (
        SELECT p.l_partkey, s.month, COALESCE(d.qty, 0.0) AS qty
        FROM parts p CROSS JOIN spine s
        LEFT JOIN d ON d.l_partkey = p.l_partkey AND d.month = s.month
    ),
    agg AS (
        SELECT l_partkey,
               COUNT(*) AS n_periods,
               COUNT(CASE WHEN qty > 0 THEN 1 END) AS n_nonzero,
               {sql_dsum('CASE WHEN qty > 0 THEN CAST(qty AS DOUBLE) END', 6)}
                   AS sx,
               {sql_dsum('CASE WHEN qty > 0 THEN CAST(qty AS DOUBLE) * CAST(qty AS DOUBLE) END', 6)}
                   AS sxx
        FROM grid GROUP BY 1
    ),
    m AS (
        SELECT l_partkey, n_periods, n_nonzero,
               CAST(n_nonzero AS DOUBLE) AS n,
               sx / CAST(n_nonzero AS DOUBLE) AS mean
        , sxx
        FROM agg
    ),
    v AS (
        SELECT l_partkey, n_periods, n_nonzero,
               CAST(n_periods AS DOUBLE) / CAST(n_nonzero AS DOUBLE) AS adi,
               CASE WHEN n_nonzero > 1
                    THEN ((sxx - n * mean * mean) / (n - 1)) / (mean * mean)
               END AS cv2
        FROM m
    )
    SELECT l_partkey AS partkey, n_periods, n_nonzero,
           {sql_quantize('adi', 6)} / 1000000.0 AS adi,
           {sql_quantize('cv2', 6)} / 1000000.0 AS cv2,
           CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
                WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
                WHEN adi < 1.32 AND cv2 >= 0.49 THEN 'erratic'
                ELSE 'lumpy' END AS demand_class
    FROM v
    ORDER BY partkey
    """,
)
def q387(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 13 == 7)
    monthly = tracked_persist(
        li.groupBy(
            "l_partkey", F.date_trunc("month", "l_shipdate").alias("month")
        ).agg(dsum("l_quantity", 6).alias("qty"))
    )
    bounds = monthly.agg(F.min("month").alias("mn"), F.max("month").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 month"))).alias("month")
    )
    parts = monthly.select("l_partkey").distinct()
    grid = tracked_persist(
        parts.join(F.broadcast(spine))
        .join(monthly, ["l_partkey", "month"], "left")
        .withColumn("qty", F.coalesce(F.col("qty").cast("double"), F.lit(0.0)))
    )
    out = sbc_demand_classification(grid, "qty", partition_by=["l_partkey"])
    return out.select(
        F.col("l_partkey").alias("partkey"),
        "n_periods",
        "n_nonzero",
        (quantize("adi", 6) / 1e6).alias("adi"),
        (quantize("cv2", 6) / 1e6).alias("cv2"),
        "demand_class",
    ).orderBy("partkey")


# --- q390: masked multi-outlier detection on deseasonalized monthly
# revenue via generalized-ESD peeling (Rosner 1983; §2.12 outlier tier,
# src/stats/mod.rs). Seasonality is removed with month-of-year means
# (bounded 12-group join-back, no window); residuals are rescaled to
# millions so the quantized second moments stay far inside the int64
# envelope at any SF (R is scale-invariant). Each peel round recomputes
# mean/sd over the REMAINING months — the masking-proof property a
# single-pass z-score lacks. The oracle unrolls the identical three
# rounds as chained CTEs. -----------------------------------------------------
def _q390_round(r: int, rem: str) -> str:
    """One GESD round: stats over `rem`, pick the max-|R| month."""
    return f"""
    s{r} AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sx,
               CAST(SUM(CAST(SIGN(x * x) * FLOOR(ABS(x * x) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxx
        FROM {rem}
    ),
    d{r} AS (
        SELECT month, resid, x,
               ABS(x - sx / n) / SQRT((sxx - sx * sx / n) / (n - 1)) AS r_stat
        FROM {rem}, s{r}
    ),
    p{r} AS (
        SELECT CAST({r} AS INT) AS peel_round, month, resid, x, r_stat
        FROM d{r}
        ORDER BY CAST(SIGN(r_stat) * FLOOR(ABS(r_stat) * 1e9 + 0.5) AS BIGINT) DESC,
                 month
        LIMIT 1
    ),
    r{r} AS (
        SELECT * FROM {rem}
        WHERE month NOT IN (SELECT month FROM p{r})
    )"""


@query(
    "q390_monthly_gesd_anomalies",
    oracle=f"""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders GROUP BY 1
    ),
    moy AS (
        SELECT EXTRACT(month FROM month) AS moy,
               {sql_dsum('revenue')} / COUNT(*) AS moy_mean
        FROM monthly GROUP BY 1
    ),
    r0 AS (
        SELECT m.month, m.revenue - y.moy_mean AS resid,
               (m.revenue - y.moy_mean) / 1000000.0 AS x
        FROM monthly m JOIN moy y ON EXTRACT(month FROM m.month) = y.moy
    ),
    {_q390_round(1, 'r0')},
    {_q390_round(2, 'r1')},
    {_q390_round(3, 'r2')}
    SELECT peel_round, month,
           {sql_quantize('resid', 2)} / 100.0 AS resid,
           {sql_quantize('r_stat', 6)} / 1000000.0 AS r_stat
    FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
          UNION ALL SELECT * FROM p3)
    ORDER BY peel_round
    """,
)
def q390(spark, sf_dir):
    from pandrs_spark.operators.hypothesis import gesd_outlier_peel

    orders = T(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(dsum("o_totalprice").alias("revenue"))
    moy = monthly.groupBy(F.month("month").alias("moy")).agg(
        (dsum("revenue") / F.count(F.lit(1))).alias("moy_mean")
    )
    resid = (
        monthly.withColumn("moy", F.month("month"))
        .join(F.broadcast(moy), "moy")
        .select(
            "month",
            (F.col("revenue") - F.col("moy_mean")).alias("resid"),
            ((F.col("revenue") - F.col("moy_mean")) / 1e6).alias("x"),
        )
    )
    peeled = gesd_outlier_peel(
        resid.select("month", "resid", F.col("x")), "x", key_cols=["month"], k=3
    )
    resid_back = peeled.join(resid.select("month", "resid"), "month")
    return resid_back.select(
        "peel_round",
        "month",
        (quantize("resid", 2) / 100.0).alias("resid"),
        (quantize("r_stat", 6) / 1e6).alias("r_stat"),
    ).orderBy("peel_round")


# --- q397: TSB intermittent-demand forecast (Teunter-Syntetos-Babai
# 2011) on the same gap-filled spine as q386 — the obsolescence-aware
# complement to Croston: the demand probability decays through EVERY
# zero period, so a part that stops selling sees its forecast go to
# zero (Croston's freezes). Oracle folds the identical
# [size, prob, period, started] state machine in list_reduce. ----------------
@query(
    "q397_tsb_intermittent_demand",
    oracle=f"""
    WITH d AS (
        SELECT l_partkey, date_trunc('month', l_shipdate) AS month,
               {sql_dsum('l_quantity', 6)} AS qty
        FROM lineitem WHERE l_partkey % 131 = 7 GROUP BY 1, 2
    ),
    b AS (SELECT MIN(month) AS mn, MAX(month) AS mx FROM d),
    spine AS (
        SELECT UNNEST(generate_series(mn, mx, INTERVAL 1 MONTH)) AS month
        FROM b
    ),
    parts AS (SELECT DISTINCT l_partkey FROM d),
    grid AS (
        SELECT p.l_partkey, s.month, COALESCE(d.qty, 0.0) AS qty
        FROM parts p CROSS JOIN spine s
        LEFT JOIN d ON d.l_partkey = p.l_partkey AND d.month = s.month
    ),
    ser AS (
        SELECT l_partkey, list(CAST(qty AS DOUBLE) ORDER BY month) AS xs
        FROM grid GROUP BY 1
    ),
    folded AS (
        SELECT l_partkey,
               len(xs) AS n_periods,
               len(list_filter(xs, x -> x > 0)) AS n_nonzero,
               list_reduce(
                   list_prepend([0.0, 0.0, 0.0, 0.0],
                                list_transform(xs, x -> [x])),
                   (acc, e) -> CASE
                       WHEN acc[4] = 0 AND e[1] > 0
                           THEN [e[1], 1.0 / (acc[3] + 1.0),
                                 acc[3] + 1.0, 1.0]
                       WHEN acc[4] = 0
                           THEN [acc[1], acc[2], acc[3] + 1.0, 0.0]
                       WHEN e[1] > 0
                           THEN [0.3 * e[1] + (1.0 - 0.3) * acc[1],
                                 0.1 * 1.0 + (1.0 - 0.1) * acc[2],
                                 acc[3] + 1.0, 1.0]
                       ELSE [acc[1],
                             0.1 * 0.0 + (1.0 - 0.1) * acc[2],
                             acc[3] + 1.0, 1.0]
                   END
               ) AS st
        FROM ser
    )
    SELECT l_partkey AS partkey, n_periods, n_nonzero,
           {sql_quantize('st[2]', 6)} / 1000000.0 AS tsb_prob,
           {sql_quantize('st[1]', 6)} / 1000000.0 AS tsb_size,
           {sql_quantize('st[2] * st[1]', 6)} / 1000000.0 AS tsb_fc
    FROM folded
    ORDER BY partkey
    """,
)
def q397(spark, sf_dir):
    from pandrs_spark.operators.timeseries import tsb_forecast
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 131 == 7)
    monthly = tracked_persist(
        li.groupBy(
            "l_partkey", F.date_trunc("month", "l_shipdate").alias("month")
        ).agg(dsum("l_quantity", 6).alias("qty"))
    )
    bounds = monthly.agg(F.min("month").alias("mn"), F.max("month").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 month"))).alias("month")
    )
    parts = monthly.select("l_partkey").distinct()
    grid = tracked_persist(
        parts.join(F.broadcast(spine))
        .join(monthly, ["l_partkey", "month"], "left")
        .withColumn("qty", F.coalesce(F.col("qty").cast("double"), F.lit(0.0)))
    )
    out = tsb_forecast(
        grid,
        "qty",
        order_by=["month"],
        partition_by=["l_partkey"],
        alpha=0.3,
        beta=0.1,
    )
    return out.select(
        F.col("l_partkey").alias("partkey"),
        "n_periods",
        "n_nonzero",
        (quantize("tsb_prob", 6) / 1e6).alias("tsb_prob"),
        (quantize("tsb_size", 6) / 1e6).alias("tsb_size"),
        (quantize("tsb_fc", 6) / 1e6).alias("tsb_fc"),
    ).orderBy("partkey")


# --- q404: (s, S) reorder-policy simulation on the q386 demand spine —
# the inventory state machine (serve → clamp → reorder-up-to) folded
# per part; the oracle replays the identical
# [on_hand, orders, stockouts] recursion in list_reduce. Policy
# s=100, S=500, zero lead time. operators/timeseries.py:
# reorder_policy_sim. ----------------------------------------------------------
@query(
    "q404_reorder_policy_simulation",
    oracle=f"""
    WITH d AS (
        SELECT l_partkey, date_trunc('month', l_shipdate) AS month,
               {sql_dsum('l_quantity', 6)} AS qty
        FROM lineitem WHERE l_partkey % 131 = 7 GROUP BY 1, 2
    ),
    b AS (SELECT MIN(month) AS mn, MAX(month) AS mx FROM d),
    spine AS (
        SELECT UNNEST(generate_series(mn, mx, INTERVAL 1 MONTH)) AS month
        FROM b
    ),
    parts AS (SELECT DISTINCT l_partkey FROM d),
    grid AS (
        SELECT p.l_partkey, s.month, COALESCE(d.qty, 0.0) AS qty
        FROM parts p CROSS JOIN spine s
        LEFT JOIN d ON d.l_partkey = p.l_partkey AND d.month = s.month
    ),
    ser AS (
        SELECT l_partkey, list(CAST(qty AS DOUBLE) ORDER BY month) AS xs
        FROM grid GROUP BY 1
    ),
    folded AS (
        SELECT l_partkey, len(xs) AS n_periods,
               list_reduce(
                   list_prepend([500.0, 0.0, 0.0],
                                list_transform(xs, x -> [x])),
                   (acc, e) -> [
                       CASE WHEN GREATEST(acc[1] - e[1], 0.0) < 100.0
                            THEN 500.0
                            ELSE GREATEST(acc[1] - e[1], 0.0) END,
                       acc[2] + CASE WHEN GREATEST(acc[1] - e[1], 0.0) < 100.0
                                     THEN 1.0 ELSE 0.0 END,
                       acc[3] + CASE WHEN e[1] > acc[1] THEN 1.0 ELSE 0.0 END
                   ]
               ) AS st
        FROM ser
    )
    SELECT l_partkey AS partkey, n_periods,
           CAST(st[3] AS BIGINT) AS n_stockouts,
           CAST(st[2] AS BIGINT) AS n_orders,
           {sql_quantize('st[1]', 6)} / 1000000.0 AS final_on_hand,
           {sql_quantize('1.0 - st[3] / n_periods', 6)} / 1000000.0
               AS fill_rate
    FROM folded
    ORDER BY partkey
    """,
)
def q404(spark, sf_dir):
    from pandrs_spark.operators.timeseries import reorder_policy_sim
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 131 == 7)
    monthly = tracked_persist(
        li.groupBy(
            "l_partkey", F.date_trunc("month", "l_shipdate").alias("month")
        ).agg(dsum("l_quantity", 6).alias("qty"))
    )
    bounds = monthly.agg(F.min("month").alias("mn"), F.max("month").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 month"))).alias("month")
    )
    parts = monthly.select("l_partkey").distinct()
    grid = tracked_persist(
        parts.join(F.broadcast(spine))
        .join(monthly, ["l_partkey", "month"], "left")
        .withColumn("qty", F.coalesce(F.col("qty").cast("double"), F.lit(0.0)))
    )
    out = reorder_policy_sim(
        grid,
        "qty",
        order_by=["month"],
        partition_by=["l_partkey"],
        reorder_point=100.0,
        order_up_to=500.0,
    )
    return out.select(
        F.col("l_partkey").alias("partkey"),
        "n_periods",
        "n_stockouts",
        "n_orders",
        (quantize("final_on_hand", 6) / 1e6).alias("final_on_hand"),
        (quantize("fill_rate", 6) / 1e6).alias("fill_rate"),
    ).orderBy("partkey")


# --- q409: hierarchical forecast reconciliation (nation → region) —
# bottom-up vs proportional top-down, the planning-tier staple: BU
# sums per-nation SES one-step forecasts to the region; TD forecasts
# the REGION series and splits by historical revenue shares. Both
# sides use the same SES(α=0.2) recursion (closed-form bounded
# self-join in the oracle, q81's pattern, applied per nation / per
# region); shares and forecasts come from quantized exact sums. The
# reconciliation gap BU−TD is the diagnostic planners read. ----------------
@query(
    "q409_forecast_reconciliation",
    oracle=f"""
    WITH nm AS (
        SELECT n.n_regionkey AS region, c.c_nationkey AS nation,
               date_trunc('month', o.o_orderdate) AS month,
               {sql_dsum('o.o_totalprice')} AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2, 3
    ),
    nidx AS (
        SELECT region, nation, month, revenue,
               ROW_NUMBER() OVER (PARTITION BY nation ORDER BY month) AS i,
               COUNT(*) OVER (PARTITION BY nation) AS m
        FROM nm
    ),
    nses AS (
        SELECT a.region, a.nation,
               SUM(CASE WHEN b.i = 1 THEN POWER(0.8, a.m - 1) * b.revenue
                        ELSE 0.2 * POWER(0.8, a.m - b.i) * b.revenue END)
                   AS bu_fc
        FROM nidx a JOIN nidx b ON b.nation = a.nation AND b.i <= a.i
        WHERE a.i = a.m
        GROUP BY a.region, a.nation
    ),
    rm AS (
        SELECT region, month, {sql_dsum('revenue')} AS revenue
        FROM nm GROUP BY 1, 2
    ),
    ridx AS (
        SELECT region, month, revenue,
               ROW_NUMBER() OVER (PARTITION BY region ORDER BY month) AS i,
               COUNT(*) OVER (PARTITION BY region) AS m
        FROM rm
    ),
    rses AS (
        SELECT a.region,
               SUM(CASE WHEN b.i = 1 THEN POWER(0.8, a.m - 1) * b.revenue
                        ELSE 0.2 * POWER(0.8, a.m - b.i) * b.revenue END)
                   AS region_fc
        FROM ridx a JOIN ridx b ON b.region = a.region AND b.i <= a.i
        WHERE a.i = a.m
        GROUP BY a.region
    ),
    shares AS (
        SELECT region, nation, {sql_dsum('revenue')} AS nat_total
        FROM nm GROUP BY 1, 2
    ),
    rtot AS (
        SELECT region, {sql_dsum('nat_total')} AS reg_total
        FROM shares GROUP BY 1
    )
    SELECT s.region, s.nation,
           {sql_quantize('n.bu_fc', 2)} / 100.0 AS bu_fc,
           {sql_quantize('r.region_fc * (s.nat_total / t.reg_total)', 2)}
               / 100.0 AS td_fc,
           {sql_quantize('n.bu_fc - r.region_fc * (s.nat_total / t.reg_total)', 2)}
               / 100.0 AS gap
    FROM shares s
    JOIN (SELECT nation AS nn, bu_fc FROM nses) n ON n.nn = s.nation
    JOIN (SELECT region AS rr, region_fc FROM rses) r ON r.rr = s.region
    JOIN (SELECT region AS tr, reg_total FROM rtot) t ON t.tr = s.region
    ORDER BY region, nation
    """,
)
def q409(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    nat = T(spark, sf_dir, "nation")
    nm = tracked_persist(
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("region"),
            F.col("c_nationkey").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    nses = (
        ses_fitted(
            nm, "revenue", order_by=["month"], partition_by=["nation"], alpha=0.2
        )
        .groupBy("region", "nation")
        .agg(F.expr("max_by(ses, month)").alias("bu_fc"))
    )
    rm = nm.groupBy("region", "month").agg(dsum("revenue").alias("revenue"))
    rses = (
        ses_fitted(
            rm, "revenue", order_by=["month"], partition_by=["region"], alpha=0.2
        )
        .groupBy("region")
        .agg(F.expr("max_by(ses, month)").alias("region_fc"))
    )
    shares = nm.groupBy("region", "nation").agg(
        dsum("revenue").alias("nat_total")
    )
    rtot = shares.groupBy("region").agg(dsum("nat_total").alias("reg_total"))
    td = F.col("region_fc") * (F.col("nat_total") / F.col("reg_total"))
    return (
        shares.join(nses.select("nation", "bu_fc"), "nation")
        .join(F.broadcast(rses), "region")
        .join(F.broadcast(rtot), "region")
        .select(
            "region",
            "nation",
            (quantize("bu_fc", 2) / 100.0).alias("bu_fc"),
            (quantize(td, 2) / 100.0).alias("td_fc"),
            (quantize(F.col("bu_fc") - td, 2) / 100.0).alias("gap"),
        )
        .orderBy("region", "nation")
    )


# --- q415: Ljung-Box portmanteau test on monthly revenue — "is the
# series white noise?" LB = n(n+2)·Σ_{k≤12} ρ̂²_k/(n−k), with the
# textbook autocovariance ACF (global mean, denominator Σdev²).
# The monthly index window is calendar-bounded (q48's whitelist
# argument); lag pairing is an equi-join on the shifted row index; all
# sums quantized exact. One row out: (n, df, lb_stat). ----------------------
@query(
    "q415_ljung_box_whiteness",
    oracle=_MONTHLY
    + f"""
    , mstats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum('revenue')} / COUNT(*) AS xbar
        FROM monthly
    ),
    idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY month) AS i,
               revenue FROM monthly
    ),
    dev AS (
        -- deviations in 1e6 units: monthly-revenue devs are ~1e8 at
        -- sf0.1, so d*d at scale 2 overflowed int64 (round 11 second-
        -- SF gate); the LB statistic is a ratio of quadratics, so the
        -- rescale cancels exactly
        SELECT i, (revenue - m.xbar) / 1e6 AS d FROM idx, mstats m
    ),
    denom AS (
        SELECT {sql_dsum('d * d', 6)} AS s0 FROM dev
    ),
    nums AS (
        SELECT k.lag_k,
               {sql_dsum('a.d * b.d', 6)} AS sk
        FROM dev a
        CROSS JOIN (SELECT UNNEST(generate_series(1, 12)) AS lag_k) k
        JOIN dev b ON a.i - k.lag_k = b.i
        GROUP BY k.lag_k
    ),
    terms AS (
        SELECT {sql_quantize('(n.sk / d.s0) * (n.sk / d.s0) / (m.n - n.lag_k)', 9)}
                   AS q9
        FROM nums n, denom d, mstats m
    )
    SELECT m.n, CAST(12 AS INT) AS df,
           {sql_quantize('m.n * (m.n + 2.0) * (CAST(t.sq AS DOUBLE) / 1e9)', 6)}
               / 1000000.0 AS lb_stat
    FROM mstats m,
         (SELECT CAST(SUM(q9) AS BIGINT) AS sq FROM terms) t
    """,
)
def q415(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(dsum("o_totalprice").alias("revenue"))
    mstats = monthly.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (dsum("revenue") / F.count(F.lit(1))).alias("xbar"),
    )
    idx = monthly.withColumn(
        "i", F.row_number().over(Window.orderBy("month"))
    )
    dev = tracked_persist(
        idx.crossJoin(F.broadcast(mstats)).select(
            "i",
            # 1e6-unit deviations: see oracle comment (LB is a ratio
            # of quadratics, rescale cancels; scale-2 raw devs
            # overflowed int64 at sf0.1)
            ((F.col("revenue") - F.col("xbar")) / F.lit(1e6)).alias("d"),
            "n",
        )
    )
    denom = dev.agg(dsum(F.col("d") * F.col("d"), 6).alias("s0"))
    lags = spark.range(1, 13).select(F.col("id").cast("int").alias("lag_k"))
    b = dev.select(F.col("i").alias("i_b"), F.col("d").alias("d_b"))
    nums = (
        dev.crossJoin(F.broadcast(lags))
        .join(b, F.col("i") - F.col("lag_k") == F.col("i_b"))
        .groupBy("lag_k")
        .agg(dsum(F.col("d") * F.col("d_b"), 6).alias("sk"))
    )
    term = (
        (F.col("sk") / F.col("s0"))
        * (F.col("sk") / F.col("s0"))
        / (F.col("n") - F.col("lag_k"))
    )
    terms = nums.crossJoin(F.broadcast(denom)).crossJoin(
        F.broadcast(mstats.select("n"))
    )
    sq = terms.agg(F.sum(quantize(term, 9)).cast("long").alias("sq"))
    return (
        mstats.select("n")
        .crossJoin(F.broadcast(sq))
        .select(
            "n",
            F.lit(12).cast("int").alias("df"),
            (
                quantize(
                    F.col("n") * (F.col("n") + 2.0) * (F.col("sq").cast("double") / 1e9),
                    6,
                )
                / 1e6
            ).alias("lb_stat"),
        )
    )


# --- q418: seasonal / trend strength indices (Hyndman FPP "STL
# features"): F_seasonal = max(0, 1 − Var(R)/Var(S+R)) and
# F_trend = max(0, 1 − Var(R)/Var(T+R)) over the q80 weekly additive
# decomposition. The forecasting-pipeline triage stat: decides whether
# a series needs a seasonal model at all. All variances from quantized
# exact sums over the interior rows (edges where the centered MA is
# undefined are dropped on BOTH sides). ---------------------------------------
def _q418_var(col: str) -> str:
    """Population variance from scale-4 quantized sums (oracle side)."""
    q = f"CAST(SIGN({col}) * FLOOR(ABS({col}) * 10000.0 + 0.5) AS BIGINT)"
    q2 = (
        f"CAST(SIGN({col} * {col}) * FLOOR(ABS({col} * {col}) * 10000.0 + 0.5)"
        " AS BIGINT)"
    )
    return (
        f"(CAST(SUM({q2}) AS DOUBLE) / 10000.0 / COUNT(*)"
        f" - (CAST(SUM({q}) AS DOUBLE) / 10000.0 / COUNT(*))"
        f" * (CAST(SUM({q}) AS DOUBLE) / 10000.0 / COUNT(*)))"
    )


@query(
    "q418_decomposition_strength",
    oracle=_DAILY
    + f"""
    , trended AS (
        SELECT day, rev,
               CASE WHEN COUNT(rev) OVER wc = 7
                    THEN {sql_dsum_over('rev', 'wc', 4)} / 7 END AS trend,
               (ROW_NUMBER() OVER (ORDER BY day) - 1) % 7 AS phase
        FROM daily
        WINDOW wc AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    phase_means AS (
        SELECT phase, {sql_davg('rev - trend', 6)} AS pm
        FROM trended GROUP BY phase
    ),
    grand AS (SELECT {sql_davg('pm', 6)} AS g FROM phase_means),
    comp AS (
        SELECT t.rev / 1000000.0 AS rev,
               t.trend / 1000000.0 AS trend,
               (p.pm - g.g) / 1000000.0 AS seasonal,
               (t.rev - t.trend - (p.pm - g.g)) / 1000000.0 AS resid
        FROM trended t JOIN phase_means p USING (phase) CROSS JOIN grand g
        WHERE t.trend IS NOT NULL
    ),
    vars_ AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_interior,
               {_q418_var('resid')} AS vr,
               {_q418_var('(seasonal + resid)')} AS vsr,
               {_q418_var('(trend + resid)')} AS vtr
        FROM comp
    )
    SELECT n_interior,
           CAST(SIGN(GREATEST(0.0, 1.0 - vr / vsr))
                * FLOOR(ABS(GREATEST(0.0, 1.0 - vr / vsr)) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS seasonal_strength,
           CAST(SIGN(GREATEST(0.0, 1.0 - vr / vtr))
                * FLOOR(ABS(GREATEST(0.0, 1.0 - vr / vtr)) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS trend_strength
    FROM vars_
    """,
)
def q418(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    dec = seasonal_decompose_additive(daily, "day", "rev", period=7).filter(
        F.col("trend").isNotNull()
    )
    comp = dec.select(
        (F.col("resid") / 1e6).alias("resid"),
        ((F.col("seasonal") + F.col("resid")) / 1e6).alias("sr"),
        ((F.col("trend") + F.col("resid")) / 1e6).alias("tr"),
    )

    def var_of(col):
        n = F.count(F.lit(1))
        sx = dsum(col, 4)
        sxx = dsum(F.col(col) * F.col(col), 4)
        return sxx / n - (sx / n) * (sx / n)

    vars_ = comp.agg(
        F.count(F.lit(1)).cast("long").alias("n_interior"),
        var_of("resid").alias("vr"),
        var_of("sr").alias("vsr"),
        var_of("tr").alias("vtr"),
    )
    fs = F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vsr"))
    ft = F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vtr"))
    return vars_.select(
        "n_interior",
        (quantize(fs, 6) / 1e6).alias("seasonal_strength"),
        (quantize(ft, 6) / 1e6).alias("trend_strength"),
    )


# --- q426: RANSAC-lite consensus line fit of the daily revenue trend —
# the third robust-regression paradigm beside Huber (q378) and
# Theil-Sen (q342): candidate models from all pairs of a DETERMINISTIC
# md5-selected 8-day sample (28 bounded candidates, broadcast), each
# scored by its inlier consensus (|y − ŷ| ≤ 10% of ŷ) over every day
# in ONE map-only ×28 pass; the max-consensus model wins (ties by
# sample-day keys). No data-sized pair join anywhere. ------------------------
@query(
    "q426_ransac_trend_consensus",
    oracle=_DAILY
    + """
    , pts AS (
        SELECT DATEDIFF('day', (SELECT MIN(day) FROM daily), day) AS t,
               CAST(rev AS DOUBLE) AS y
        FROM daily
    ),
    sample_ AS (
        SELECT t, y FROM pts ORDER BY md5(CAST(t AS VARCHAR)), t LIMIT 8
    ),
    models AS (
        SELECT a.t AS t1, b.t AS t2,
               (b.y - a.y) / (b.t - a.t) AS slope,
               a.y - (b.y - a.y) / (b.t - a.t) * a.t AS icept
        FROM sample_ a JOIN sample_ b ON a.t < b.t
    ),
    scored AS (
        SELECT m.t1, m.t2, m.slope, m.icept,
               CAST(SUM(CASE WHEN ABS(p.y - (m.slope * p.t + m.icept))
                                  <= 0.1 * ABS(m.slope * p.t + m.icept)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers,
               CAST(COUNT(*) AS BIGINT) AS n_total
        FROM models m CROSS JOIN pts p
        GROUP BY m.t1, m.t2, m.slope, m.icept
    )
    SELECT CAST(SIGN(slope) * FLOOR(ABS(slope) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS slope,
           CAST(SIGN(icept) * FLOOR(ABS(icept) * 100.0 + 0.5) AS BIGINT)
               / 100.0 AS intercept,
           n_inliers, n_total
    FROM scored
    ORDER BY n_inliers DESC, t1, t2
    LIMIT 1
    """,
)
def q426(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    mn = daily.agg(F.min("day").alias("mn"))
    pts = tracked_persist(
        daily.crossJoin(F.broadcast(mn)).select(
            F.datediff("day", "mn").alias("t"),
            F.col("rev").cast("double").alias("y"),
        )
    )
    from pandrs_spark.operators.ml import ransac_line_consensus

    winner = ransac_line_consensus(pts, "t", "y", sample_n=8, rel_tol=0.1)
    return winner.select(
        (quantize("slope", 6) / 1e6).alias("slope"),
        (quantize("icept", 2) / 100.0).alias("intercept"),
        "n_inliers",
        "n_total",
    )


# --- q451: Hurst exponent of daily revenue by rescaled-range (R/S)
# analysis (Hurst 1951; long-memory diagnostic beside ACF q48 and ADF
# q83): for block sizes s ∈ {8,16,32}, partition the t-indexed series
# into complete s-blocks, compute per-block R/S = (max−min of the
# within-block cumulative deviation) / population σ, average per size,
# then H = OLS slope of ln(mean R/S) on ln(s) over the 3 sizes.
# Scale shape: within-block windows partition on (size, block) — high
# cardinality, bounded ≤32-row partitions; everything else is exact
# quantized sums + a 3-point closed-form OLS. ---------------------------------
@query(
    "q451_hurst_rescaled_range",
    oracle=_DAILY
    + """,
    pts AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS t,
               CAST(rev AS DOUBLE) AS x
        FROM daily
    ),
    sizes AS (SELECT UNNEST([8, 16, 32]) AS s),
    blocks AS (
        SELECT z.s, p.t // z.s AS blk, p.t, p.x
        FROM pts p, sizes z
    ),
    full_blocks AS (
        SELECT s, blk FROM blocks GROUP BY s, blk HAVING COUNT(*) = s
    ),
    b AS (
        SELECT bl.s, bl.blk, bl.t, bl.x,
               CAST(SUM(CAST(SIGN(bl.x) * FLOOR(ABS(bl.x) * 100.0 + 0.5)
                             AS BIGINT))
                        OVER (PARTITION BY bl.s, bl.blk) AS DOUBLE)
                   / 100.0 / bl.s AS mean_x,
               CAST(SUM(CAST(SIGN(bl.x * bl.x) * FLOOR(ABS(bl.x * bl.x) + 0.5)
                             AS BIGINT))
                        OVER (PARTITION BY bl.s, bl.blk) AS DOUBLE)
                   / bl.s AS mean_xx
        FROM blocks bl JOIN full_blocks f ON f.s = bl.s AND f.blk = bl.blk
    ),
    cum AS (
        SELECT s, blk, mean_x, mean_xx,
               SUM(x - mean_x) OVER (PARTITION BY s, blk ORDER BY t) AS z
        FROM b
    ),
    rs AS (
        SELECT s, blk,
               (MAX(z) - MIN(z))
                   / SQRT(MAX(mean_xx) - MAX(mean_x) * MAX(mean_x)) AS rs
        FROM cum
        GROUP BY s, blk
        HAVING MAX(mean_xx) - MAX(mean_x) * MAX(mean_x) > 0
    ),
    per_s AS (
        SELECT s,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(CAST(SIGN(rs) * FLOOR(ABS(rs) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 / COUNT(*) AS mean_rs
        FROM rs GROUP BY s
    ),
    fit AS (
        SELECT COUNT(*) AS k,
               CAST(SUM(CAST(SIGN(LN(CAST(s AS DOUBLE))) * FLOOR(ABS(LN(CAST(s AS DOUBLE))) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS sx,
               CAST(SUM(CAST(SIGN(LN(mean_rs)) * FLOOR(ABS(LN(mean_rs)) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS sy,
               CAST(SUM(CAST(SIGN(LN(CAST(s AS DOUBLE)) * LN(CAST(s AS DOUBLE))) * FLOOR(ABS(LN(CAST(s AS DOUBLE)) * LN(CAST(s AS DOUBLE))) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS sxx,
               CAST(SUM(CAST(SIGN(LN(CAST(s AS DOUBLE)) * LN(mean_rs)) * FLOOR(ABS(LN(CAST(s AS DOUBLE)) * LN(mean_rs)) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS sxy
        FROM per_s
    )
    SELECT (SELECT CAST(SUM(n_blocks) AS BIGINT) FROM per_s) AS n_blocks,
           CAST(SIGN((k * sxy - sx * sy) / (k * sxx - sx * sx))
                * FLOOR(ABS((k * sxy - sx * sy) / (k * sxx - sx * sx))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS hurst
    FROM fit
    """,
)
def q451(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_row_number

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    pts = tracked_persist(
        global_row_number(daily, [F.asc("day")], "rn").select(
            (F.col("rn") - 1).alias("t"), F.col("rev").cast("double").alias("x")
        )
    )
    sizes = small_local_df(spark, [(8,), (16,), (32,)], "s int")
    blocks = pts.crossJoin(F.broadcast(sizes)).select(
        "s", (F.col("t") / F.col("s")).cast("long").alias("blk"), "t", "x"
    )
    full_blocks = blocks.groupBy("s", "blk").agg(
        F.count(F.lit(1)).alias("nb")
    ).filter(F.col("nb") == F.col("s")).select("s", "blk")
    wb = Window.partitionBy("s", "blk")
    b = blocks.join(full_blocks, ["s", "blk"]).select(
        "s",
        "blk",
        "t",
        "x",
        (dsum_over("x", wb, 2) / F.col("s")).alias("mean_x"),
        (
            F.sum(quantize(F.col("x") * F.col("x"), 0)).over(wb).cast("double")
            / F.col("s")
        ).alias("mean_xx"),
    )
    wc = Window.partitionBy("s", "blk").orderBy("t")
    cum = b.withColumn("z", F.sum(F.col("x") - F.col("mean_x")).over(wc))
    varp = F.max("mean_xx") - F.max("mean_x") * F.max("mean_x")
    rs = (
        cum.groupBy("s", "blk")
        .agg(
            ((F.max("z") - F.min("z"))).alias("r"),
            varp.alias("varp"),
        )
        .filter(F.col("varp") > 0)
        .select("s", (F.col("r") / F.sqrt("varp")).alias("rs"))
    )
    per_s = rs.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        (dsum("rs", 9) / F.count(F.lit(1))).alias("mean_rs"),
    )
    lns = F.log(F.col("s").cast("double"))
    fit = per_s.agg(
        F.count(F.lit(1)).alias("k"),
        dsum(lns, 9).alias("sx"),
        dsum(F.log("mean_rs"), 9).alias("sy"),
        dsum(lns * lns, 9).alias("sxx"),
        dsum(lns * F.log("mean_rs"), 9).alias("sxy"),
    )
    tot = per_s.agg(F.sum("n_blocks").cast("long").alias("n_blocks"))
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return F.broadcast(tot).crossJoin(F.broadcast(fit)).select(
        "n_blocks", (quantize(slope, 6) / 1e6).alias("hurst")
    )


# --- q452: cross-price elasticity matrix — for the top-3 revenue
# brands, OLS of ln(monthly qty of a) on ln(monthly unit price of b)
# over the shared month spine gives own-price (a=b) and cross-price
# (a≠b) elasticities in one bounded 3×3 pair aggregate (micro-
# econometrics tier beside q349's own-price fit and q406's Fisher
# index). Unit price = exact revenue sum / exact qty sum per month.
# Scale: one lineitem join + monthly rollup; the pair matrix joins two
# ~79-month-per-brand rollups — bounded, broadcastable. -----------------------
@query(
    "q452_cross_price_elasticity",
    oracle="""
    WITH li AS (
        SELECT p.p_brand AS brand,
               date_trunc('month', l.l_shipdate) AS mth,
               CAST(SUM(CAST(SIGN(l.l_quantity)
                             * FLOOR(ABS(l.l_quantity) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 AS qty,
               CAST(SUM(CAST(SIGN(l.l_extendedprice)
                             * FLOOR(ABS(l.l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand, mth
    ),
    top3 AS (
        SELECT brand FROM (
            SELECT brand,
                   CAST(SUM(CAST(SIGN(rev) * FLOOR(ABS(rev) * 100.0 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS trev
            FROM li GROUP BY brand
        ) ORDER BY trev DESC, brand LIMIT 3
    ),
    series AS (
        SELECT l.brand, l.mth, l.qty, l.rev / l.qty AS price
        FROM li l JOIN top3 t ON t.brand = l.brand
        WHERE l.qty > 0
    ),
    pairs AS (
        SELECT a.brand AS brand_q, b.brand AS brand_p,
               COUNT(*) AS n,
               CAST(SUM(CAST(SIGN(LN(b.price)) * FLOOR(ABS(LN(b.price)) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS sx,
               CAST(SUM(CAST(SIGN(LN(a.qty)) * FLOOR(ABS(LN(a.qty)) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS sy,
               CAST(SUM(CAST(SIGN(LN(b.price) * LN(b.price)) * FLOOR(ABS(LN(b.price) * LN(b.price)) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS sxx,
               CAST(SUM(CAST(SIGN(LN(b.price) * LN(a.qty)) * FLOOR(ABS(LN(b.price) * LN(a.qty)) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS sxy
        FROM series a JOIN series b ON a.mth = b.mth
        GROUP BY a.brand, b.brand
    )
    SELECT brand_q, brand_p, CAST(n AS BIGINT) AS n_months,
           CAST(SIGN((n * sxy - sx * sy) / (n * sxx - sx * sx))
                * FLOOR(ABS((n * sxy - sx * sy) / (n * sxx - sx * sx))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
               AS elasticity
    FROM pairs
    ORDER BY brand_q, brand_p
    """,
)
def q452(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    monthly = tracked_persist(
        li.join(part.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").alias("mth"),
        )
        .agg(
            dsum("l_quantity", 2).alias("qty"),
            dsum("l_extendedprice", 2).alias("rev"),
        )
    )
    top3 = (
        monthly.groupBy("brand")
        .agg(F.sum(quantize("rev", 2)).cast("long").alias("trev"))
        .orderBy(F.desc("trev"), "brand")
        .limit(3)
        .select("brand")
    )
    series = tracked_persist(
        monthly.join(F.broadcast(top3), "brand")
        .filter(F.col("qty") > 0)
        .select("brand", "mth", "qty", (F.col("rev") / F.col("qty")).alias("price"))
    )
    a = series.select(
        F.col("brand").alias("brand_q"), "mth", F.col("qty").alias("qa")
    )
    b = series.select(
        F.col("brand").alias("brand_p"),
        F.col("mth").alias("mth_b"),
        F.col("price").alias("pb"),
    )
    pairs = (
        a.join(F.broadcast(b), a.mth == b.mth_b)
        .groupBy("brand_q", "brand_p")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.log("pb"), 9).alias("sx"),
            dsum(F.log("qa"), 9).alias("sy"),
            dsum(F.log("pb") * F.log("pb"), 9).alias("sxx"),
            dsum(F.log("pb") * F.log("qa"), 9).alias("sxy"),
        )
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return pairs.select(
        "brand_q",
        "brand_p",
        F.col("n").cast("long").alias("n_months"),
        (quantize(slope, 6) / 1e6).alias("elasticity"),
    ).orderBy("brand_q", "brand_p")


# --- q459: forecast-combination backtest with MASE — naive, seasonal-
# naive (lag 12), drift, and their equal-weight ensemble, evaluated on
# the last-6-month holdout of monthly revenue (Hyndman-Koehler MASE:
# scaled by the in-train one-step naive MAE; forecasting tier beside
# q295/q356). Every window runs over the calendar-bounded monthly
# rollup (~80 rows); errors fold as quantized exact longs. --------------------
@query(
    "q459_forecast_ensemble_mase",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', l_shipdate) AS mth,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 AS y
        FROM lineitem GROUP BY mth
    ),
    idx AS (
        SELECT mth, y, ROW_NUMBER() OVER (ORDER BY mth) AS i,
               (SELECT COUNT(*) FROM monthly) AS n
        FROM monthly
    ),
    train AS (SELECT * FROM idx WHERE i <= n - 6),
    denom AS (
        SELECT CAST(SUM(CAST(SIGN(ABS(y - prev)) * FLOOR(ABS(y - prev)
                             * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 100.0 / COUNT(prev) AS d
        FROM (SELECT y, LAG(y) OVER (ORDER BY i) AS prev FROM train)
        WHERE prev IS NOT NULL
    ),
    anchors AS (
        SELECT MAX(CASE WHEN train.i = train.n - 6 THEN train.y END) AS y_last,
               MAX(CASE WHEN train.i = 1 THEN train.y END) AS y_first,
               MAX(train.n) - 6 AS n_train
        FROM train
    ),
    holdout AS (
        SELECT h.i, h.y,
               a.y_last AS f_naive,
               s.y AS f_snaive,
               a.y_last + (h.i - a.n_train)
                   * (a.y_last - a.y_first) / (a.n_train - 1) AS f_drift
        FROM idx h
        JOIN idx s ON s.i = h.i - 12, anchors a
        WHERE h.i > h.n - 6
    ),
    errs AS (
        SELECT
            CAST(SUM(CAST(SIGN(ABS(y - f_naive)) * FLOOR(ABS(ABS(y - f_naive)) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS mae_naive,
            CAST(SUM(CAST(SIGN(ABS(y - f_snaive)) * FLOOR(ABS(ABS(y - f_snaive)) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS mae_snaive,
            CAST(SUM(CAST(SIGN(ABS(y - f_drift)) * FLOOR(ABS(ABS(y - f_drift)) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS mae_drift,
            CAST(SUM(CAST(SIGN(ABS(y - (f_naive + f_snaive + f_drift) / 3.0)) * FLOOR(ABS(ABS(y - (f_naive + f_snaive + f_drift) / 3.0)) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS mae_ens
        FROM holdout
    )
    SELECT m.method,
           CAST(SIGN(m.mae / d.d) * FLOOR(ABS(m.mae / d.d) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS mase
    FROM (
        SELECT 'drift' AS method, mae_drift AS mae FROM errs
        UNION ALL SELECT 'ensemble', mae_ens FROM errs
        UNION ALL SELECT 'naive', mae_naive FROM errs
        UNION ALL SELECT 'seasonal_naive', mae_snaive FROM errs
    ) m, denom d
    ORDER BY m.method
    """,
)
def q459(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_trunc("month", "l_shipdate").alias("mth")
    ).agg(dsum("l_extendedprice").alias("y"))
    # calendar-bounded monthly rollup: the partitionless index window
    # runs over ~80 rows (whitelist pattern)
    w_m = Window.orderBy("mth")
    n_tot = monthly.count()
    idx = tracked_persist(
        monthly.withColumn("i", F.row_number().over(w_m))
    )
    train = idx.filter(F.col("i") <= n_tot - 6)
    denom = (
        train.withColumn("prev", F.lag("y").over(Window.orderBy("i")))
        .filter(F.col("prev").isNotNull())
        .agg((dsum(F.abs(F.col("y") - F.col("prev")), 2) / F.count("prev")).alias("d"))
    )
    anchors = train.agg(
        F.max(F.when(F.col("i") == n_tot - 6, F.col("y"))).alias("y_last"),
        F.max(F.when(F.col("i") == 1, F.col("y"))).alias("y_first"),
        F.lit(n_tot - 6).alias("n_train"),
    )
    s = idx.select((F.col("i") + 12).alias("i"), F.col("y").alias("f_snaive"))
    holdout = (
        idx.filter(F.col("i") > n_tot - 6)
        .join(s, "i")
        .crossJoin(F.broadcast(anchors))
        .select(
            "y",
            F.col("y_last").alias("f_naive"),
            "f_snaive",
            (
                F.col("y_last")
                + (F.col("i") - F.col("n_train"))
                * (F.col("y_last") - F.col("y_first"))
                / (F.col("n_train") - 1)
            ).alias("f_drift"),
        )
    )
    ens = (F.col("f_naive") + F.col("f_snaive") + F.col("f_drift")) / 3.0

    def mae(fc):
        return dsum(F.abs(F.col("y") - fc), 2) / F.count(F.lit(1))

    errs = holdout.agg(
        mae(F.col("f_naive")).alias("mae_naive"),
        mae(F.col("f_snaive")).alias("mae_snaive"),
        mae(F.col("f_drift")).alias("mae_drift"),
        mae(ens).alias("mae_ens"),
    )
    methods = errs.selectExpr(
        "stack(4, 'drift', mae_drift, 'ensemble', mae_ens, "
        "'naive', mae_naive, 'seasonal_naive', mae_snaive) AS (method, mae)"
    )
    return (
        methods.crossJoin(F.broadcast(denom))
        .select(
            "method",
            (quantize(F.col("mae") / F.col("d"), 6) / 1e6).alias("mase"),
        )
        .orderBy("method")
    )


# --- q460: Engle-Granger cointegration test between two regions'
# monthly order revenue — step 1: OLS of y on x from exact sums;
# step 2: ADF regression (Δe on e_lag, no intercept — the q83 shape)
# on the cointegrating residuals. A stationary residual (large
# negative adf_t) means the two series share a long-run equilibrium.
# Residual windows run over the ~80-month calendar spine. ---------------------
@query(
    "q460_engle_granger_cointegration",
    oracle="""
    WITH rev AS (
        SELECT r.r_name AS region,
               date_trunc('month', o.o_orderdate) AS mth,
               CAST(SUM(CAST(SIGN(o.o_totalprice)
                             * FLOOR(ABS(o.o_totalprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / 1e6 AS rev
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name IN ('AMERICA', 'ASIA')
        GROUP BY region, mth
    ),
    wide AS (
        SELECT mth,
               MAX(CASE WHEN region = 'AMERICA' THEN rev END) AS y,
               MAX(CASE WHEN region = 'ASIA' THEN rev END) AS x
        FROM rev GROUP BY mth
        HAVING MAX(CASE WHEN region = 'AMERICA' THEN rev END) IS NOT NULL
           AND MAX(CASE WHEN region = 'ASIA' THEN rev END) IS NOT NULL
    ),
    ols AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sx,
               CAST(SUM(CAST(SIGN(y) * FLOOR(ABS(y) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM(CAST(SIGN(x * x) * FLOOR(ABS(x * x) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sxx,
               CAST(SUM(CAST(SIGN(x * y) * FLOOR(ABS(x * y) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sxy
        FROM wide
    ),
    fit AS (
        SELECT n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS alpha
        FROM ols
    ),
    resid AS (
        SELECT w.mth, w.y - (f.alpha + f.beta * w.x) AS e
        FROM wide w, fit f
    ),
    pairs AS (
        SELECT e - LAG(e) OVER (ORDER BY mth) AS de,
               LAG(e) OVER (ORDER BY mth) AS elag
        FROM resid
        QUALIFY elag IS NOT NULL
    ),
    sums AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(SIGN(elag * de) * FLOOR(ABS(elag * de) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sxy,
               CAST(SUM(CAST(SIGN(elag * elag) * FLOOR(ABS(elag * elag) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sxx,
               CAST(SUM(CAST(SIGN(de * de) * FLOOR(ABS(de * de) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS syy
        FROM pairs
    )
    SELECT (SELECT n FROM ols) AS n_months,
           (SELECT CAST(SIGN(beta) * FLOOR(ABS(beta) * 1000000.0 + 0.5)
                        AS BIGINT) / 1000000.0 FROM fit) AS beta,
           CAST(SIGN(sxy / sxx) * FLOOR(ABS(sxy / sxx) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS phi,
           CAST(SIGN((sxy / sxx) / SQRT(((syy - sxy * sxy / sxx) / (n - 1)) / sxx))
                * FLOOR(ABS((sxy / sxx)
                            / SQRT(((syy - sxy * sxy / sxx) / (n - 1)) / sxx))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS adf_t
    FROM sums
    """,
)
def q460(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name").isin("AMERICA", "ASIA"))
        .groupBy(
            F.col("r_name").alias("region"),
            F.date_trunc("month", "o_orderdate").alias("mth"),
        )
        .agg((dsum("o_totalprice", 2) / 1e6).alias("rev"))
    )
    wide = tracked_persist(
        rev.groupBy("mth")
        .agg(
            F.max(F.when(F.col("region") == "AMERICA", F.col("rev"))).alias("y"),
            F.max(F.when(F.col("region") == "ASIA", F.col("rev"))).alias("x"),
        )
        .filter(F.col("y").isNotNull() & F.col("x").isNotNull())
    )
    ols = wide.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x", 6).alias("sx"),
        dsum("y", 6).alias("sy"),
        dsum(F.col("x") * F.col("x"), 6).alias("sxx"),
        dsum(F.col("x") * F.col("y"), 6).alias("sxy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = ols.select(
        "n",
        beta.alias("beta"),
        ((F.col("sy") - beta * F.col("sx")) / F.col("n")).alias("alpha"),
    )
    resid = wide.crossJoin(F.broadcast(fit)).select(
        "mth",
        (F.col("y") - (F.col("alpha") + F.col("beta") * F.col("x"))).alias("e"),
    )
    w_m = Window.orderBy("mth")
    pairs = resid.select(
        (F.col("e") - F.lag("e").over(w_m)).alias("de"),
        F.lag("e").over(w_m).alias("elag"),
    ).filter(F.col("elag").isNotNull())
    sums = pairs.agg(
        F.count(F.lit(1)).alias("n2"),
        dsum(F.col("elag") * F.col("de"), 6).alias("sxy2"),
        dsum(F.col("elag") * F.col("elag"), 6).alias("sxx2"),
        dsum(F.col("de") * F.col("de"), 6).alias("syy2"),
    )
    phi = F.col("sxy2") / F.col("sxx2")
    adf_t = phi / F.sqrt(
        ((F.col("syy2") - F.col("sxy2") * F.col("sxy2") / F.col("sxx2"))
         / (F.col("n2") - 1))
        / F.col("sxx2")
    )
    return (
        fit.crossJoin(F.broadcast(sums))
        .select(
            F.col("n").alias("n_months"),
            (quantize("beta", 6) / 1e6).alias("beta"),
            (quantize(phi, 6) / 1e6).alias("phi"),
            (quantize(adf_t, 6) / 1e6).alias("adf_t"),
        )
    )


# --- q461: Page-Hinkley change detection on daily revenue (Page 1954;
# sequential-monitoring tier beside q84's CUSUM, which scans mean
# SHIFTS offline — PH is the streaming-style drift alarm): cum_t =
# Σ_{i≤t}(x_i − x̄_i − δ) with x̄_i the running mean, PH_t = cum_t −
# min_{s≤t} cum_s, alarm when PH_t > λ. The running mean linearizes
# into prefix sums, so the whole fold is window algebra over the
# calendar-bounded daily spine — no recursion. --------------------------------
@query(
    "q461_page_hinkley_drift",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', l_shipdate) AS day,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / 1e6 AS x
        FROM lineitem GROUP BY day
    ),
    pref AS (
        SELECT day, x,
               ROW_NUMBER() OVER (ORDER BY day) AS i,
               CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1e6 + 0.5) AS BIGINT))
                    OVER (ORDER BY day) AS DOUBLE) / 1e6 AS sx
        FROM daily
    ),
    terms AS (
        SELECT day, i, x - sx / i - 0.005 AS term FROM pref
    ),
    cum AS (
        SELECT day, i,
               CAST(SUM(CAST(SIGN(term) * FLOOR(ABS(term) * 1e6 + 0.5)
                             AS BIGINT)) OVER (ORDER BY day) AS DOUBLE)
                   / 1e6 AS c
        FROM terms
    ),
    ph AS (
        SELECT day, i, c,
               c - MIN(c) OVER (ORDER BY day) AS ph_t
        FROM cum
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SIGN(MAX(ph_t)) * FLOOR(ABS(MAX(ph_t)) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS ph_max,
           CAST(SUM(CASE WHEN ph_t > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarm_days,
           CAST(MIN(CASE WHEN ph_t > 1.0 THEN i END) AS BIGINT)
               AS first_alarm_idx
    FROM ph
    """,
)
def q461(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        (dsum("l_extendedprice", 2) / 1e6).alias("x")
    )
    from pandrs_spark.operators.timeseries import page_hinkley

    return page_hinkley(daily, "x", "day", delta=0.005, lam=1.0)


# --- q462: Bass diffusion grid fit of weekly customer adoption
# (Bass 1969): with observed cumulative-adoption share F_{t-1}, the
# one-step-ahead prediction n̂_t = (p + q·F_{t-1})(1 − F_{t-1})·M is
# CLOSED FORM per (p, q) — so the fit is a bounded 5×5 literal grid
# broadcast against the weekly spine, SSE per cell from quantized
# sums, argmin with a deterministic tie-break. No recursion, no
# nonlinear solver — the grid-search-consensus pattern (q426's RANSAC
# sibling for parametric curves). ----------------------------------------------
@query(
    "q462_bass_diffusion_grid_fit",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey, MIN(date_trunc('week', o_orderdate)) AS wk
        FROM orders GROUP BY o_custkey
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM firsts),
    weekly AS (
        SELECT wk, CAST(COUNT(*) AS BIGINT) AS n_new FROM firsts GROUP BY wk
    ),
    spine AS (
        SELECT wk, n_new,
               CAST(COALESCE(SUM(n_new) OVER (ORDER BY wk
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS DOUBLE) / m.m AS f_prev
        FROM weekly, m
    ),
    grid AS (
        SELECT p.p, q.q
        FROM (SELECT UNNEST([0.001, 0.003, 0.01, 0.03, 0.1]) AS p) p,
             (SELECT UNNEST([0.1, 0.2, 0.3, 0.4, 0.5]) AS q) q
    ),
    sse AS (
        SELECT g.p, g.q,
               CAST(SUM(CAST(SIGN(POWER(s.n_new - (g.p + g.q * s.f_prev)
                                  * (1 - s.f_prev) * m.m, 2))
                    * FLOOR(ABS(POWER(s.n_new - (g.p + g.q * s.f_prev)
                                  * (1 - s.f_prev) * m.m, 2)) * 100.0 + 0.5)
                    AS BIGINT)) AS DOUBLE) / 100.0 AS sse,
               CAST(COUNT(*) AS BIGINT) AS n_weeks
        FROM spine s, grid g, m
        GROUP BY g.p, g.q
    )
    SELECT p, q,
           CAST(SIGN(sse) * FLOOR(ABS(sse) * 100.0 + 0.5) AS BIGINT) / 100.0
               AS sse,
           n_weeks
    FROM sse
    ORDER BY sse, p, q
    LIMIT 1
    """,
)
def q462(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("week", "o_orderdate")).alias("wk")
    )
    weekly = tracked_persist(
        firsts.groupBy("wk").agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    m = weekly.agg(F.sum("n_new").cast("long").alias("m"))
    w_prior = Window.orderBy("wk").rowsBetween(Window.unboundedPreceding, -1)
    spine = weekly.crossJoin(F.broadcast(m)).select(
        "wk",
        "n_new",
        (
            F.coalesce(F.sum("n_new").over(w_prior), F.lit(0)).cast("double")
            / F.col("m")
        ).alias("f_prev"),
        "m",
    )
    grid = small_local_df(
        spark,
        [(p, q) for p in (0.001, 0.003, 0.01, 0.03, 0.1)
         for q in (0.1, 0.2, 0.3, 0.4, 0.5)],
        "p double, q double",
    )
    pred = (F.col("p") + F.col("q") * F.col("f_prev")) * (
        1 - F.col("f_prev")
    ) * F.col("m")
    err2 = (F.col("n_new") - pred) * (F.col("n_new") - pred)
    sse = (
        spine.crossJoin(F.broadcast(grid))
        .groupBy("p", "q")
        .agg(
            dsum(err2, 2).alias("sse"),
            F.count(F.lit(1)).cast("long").alias("n_weeks"),
        )
    )
    return (
        sse.orderBy(quantize("sse", 2), "p", "q")
        .limit(1)
        .select("p", "q", (quantize("sse", 2) / 100.0).alias("sse"), "n_weeks")
    )


# --- q465: damped-trend Holt forecast of monthly revenue (Gardner-
# McKenzie; q82's undamped sibling, φ = 0.9): the oracle folds the
# IDENTICAL recursion with list_reduce over ordered month prefixes —
# the recursion-in-gate pattern. (1 - alpha)/(phi) written literally
# on both sides; α = 0.5, β = 0.3. --------------------------------------------
@query(
    "q465_holt_damped_forecast",
    oracle=f"""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             {{dsum}} AS revenue
      FROM orders GROUP BY month
    ),
    ser AS (
      SELECT month, revenue,
             ROW_NUMBER() OVER (ORDER BY month) AS t,
             list(revenue) OVER (ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
             LEAD(revenue) OVER (ORDER BY month) AS nxt
      FROM monthly
    )
    SELECT month, revenue,
      ROUND(CASE WHEN t = 1 THEN revenue + 0.9 * (nxt - revenue)
           ELSE (
             SELECT s[1] + 0.9 * s[2] FROM (
               SELECT list_reduce(
                 list_prepend([prefix[1], prefix[2] - prefix[1]],
                              list_transform(prefix[2:], x -> [x])),
                 (acc, x) -> [
                   0.5 * x[1] + (1 - 0.5) * (acc[1] + 0.9 * acc[2]),
                   0.3 * ((0.5 * x[1] + (1 - 0.5) * (acc[1] + 0.9 * acc[2])) - acc[1])
                       + (1 - 0.3) * 0.9 * acc[2]
                 ]) AS s)
           ) END, 4) AS holt_damped_fc
    FROM ser ORDER BY month
    """.replace("{dsum}", sql_dsum("o_totalprice")),
)
def q465(spark, sf_dir):
    from pandrs_spark.operators.timeseries import holt_damped_forecast

    orders = T(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(dsum("o_totalprice").alias("revenue"))
    out = holt_damped_forecast(
        monthly,
        "revenue",
        order_by=["month"],
        partition_by=[],
        alpha=0.5,
        beta=0.3,
        phi=0.9,
        horizon=1,
    )
    return out.select(
        "month", "revenue", F.round("holt_damped_fc", 4).alias("holt_damped_fc")
    ).orderBy("month")


# --- q478: chained monthly Laspeyres price index — the q406 bilateral
# index generalized to a drifting basket: each month's link
# L_m = Σ p_m·q_{m−1} / Σ p_{m−1}·q_{m−1} over parts traded in BOTH
# consecutive months; the chained index is the running product,
# computed as exp(Σ ln L) over the month spine so both engines walk
# one deterministic ordered reduction. One (part, month) rollup + a
# self-join shifted one month — never month×month. ----------------------------
@query(
    "q478_chained_laspeyres_index",
    oracle="""
    WITH pm AS (
        SELECT l_partkey AS part, date_trunc('month', l_shipdate) AS mth,
               CAST(SUM(CAST(SIGN(l_quantity) * FLOOR(ABS(l_quantity)
                             * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS q,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 AS v
        FROM lineitem GROUP BY part, mth
    ),
    priced AS (SELECT part, mth, q, v / q AS p FROM pm WHERE q > 0),
    links AS (
        SELECT cur.mth,
               CAST(SUM(CAST(SIGN(cur.p * prev.q)
                             * FLOOR(ABS(cur.p * prev.q) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 AS num,
               CAST(SUM(CAST(SIGN(prev.p * prev.q)
                             * FLOOR(ABS(prev.p * prev.q) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 AS den
        FROM priced cur
        JOIN priced prev ON prev.part = cur.part
                        AND prev.mth = cur.mth - INTERVAL 1 MONTH
        GROUP BY cur.mth
    ),
    chained AS (
        -- log index: a 79-link chain can overflow any fixed quantized
        -- scale; ln(index) is bounded and is the standard presentation
        SELECT mth, num / den AS link,
               SUM(LN(num / den)) OVER (ORDER BY mth) AS log_idx
        FROM links
    )
    SELECT mth,
           CAST(SIGN(link) * FLOOR(ABS(link) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS link,
           CAST(SIGN(log_idx) * FLOOR(ABS(log_idx) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS chained_log_index
    FROM chained
    ORDER BY mth
    """,
)
def q478(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_trunc("month", "l_shipdate").alias("mth"),
    ).agg(
        dsum("l_quantity", 2).alias("q"),
        dsum("l_extendedprice", 2).alias("v"),
    )
    priced = tracked_persist(
        pm.filter(F.col("q") > 0).select(
            "part", "mth", "q", (F.col("v") / F.col("q")).alias("p")
        )
    )
    prev = priced.select(
        "part",
        (F.col("mth") + F.expr("INTERVAL 1 MONTH")).alias("mth"),
        F.col("q").alias("q_prev"),
        F.col("p").alias("p_prev"),
    )
    links = (
        priced.join(prev, ["part", "mth"])
        .groupBy("mth")
        .agg(
            dsum(F.col("p") * F.col("q_prev"), 2).alias("num"),
            dsum(F.col("p_prev") * F.col("q_prev"), 2).alias("den"),
        )
    )
    w_run = Window.orderBy("mth").rowsBetween(Window.unboundedPreceding, 0)
    link = F.col("num") / F.col("den")
    chained = links.select(
        "mth",
        link.alias("link"),
        F.sum(F.log(link)).over(w_run).alias("log_idx"),
    )
    return chained.select(
        "mth",
        (quantize("link", 6) / 1e6).alias("link"),
        (quantize("log_idx", 6) / 1e6).alias("chained_log_index"),
    ).orderBy("mth")


# --- q482: month-of-year seasonality F-test — one-way ANOVA of the
# monthly revenue rollup on its month-of-year factor (12 groups × ~7
# observations): the formal "is there a seasonal effect" complement to
# q117's periodogram and q418's strength ratios. Reuses the
# distinct-value-exact ANOVA operator over the bounded calendar
# rollup. ------------------------------------------------------------------------
@query(
    "q482_month_of_year_anova",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', l_shipdate) AS mth,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / 1e6 AS rev
        FROM lineitem GROUP BY mth
    ),
    g AS (SELECT EXTRACT(month FROM mth) AS moy, rev FROM monthly),
    per_g AS (
        SELECT moy, COUNT(rev) AS n_g,
               CAST(SUM(CAST(SIGN(rev) * FLOOR(ABS(rev) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS s_g,
               CAST(SUM(CAST(SIGN(rev * rev) * FLOOR(ABS(rev * rev) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS ss_g
        FROM g GROUP BY moy
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n, COUNT(*) AS k,
               SUM(s_g) AS s, SUM(ss_g) AS ss,
               SUM(s_g * s_g / n_g) AS sgg
        FROM per_g
    )
    SELECT n, k,
           ROUND(((sgg - s * s / n) / (k - 1)) / ((ss - sgg) / (n - k)), 6)
               AS f_stat
    FROM tot
    """,
)
def q482(spark, sf_dir):
    from pandrs_spark.operators.hypothesis import anova_oneway

    li = T(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_trunc("month", "l_shipdate").alias("mth")
    ).agg((dsum("l_extendedprice", 2) / 1e6).alias("rev"))
    g = monthly.select(
        F.month("mth").alias("moy"), F.col("rev")
    )
    out = anova_oneway(g, "rev", "moy")
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round("f_stat", 6).alias("f_stat"),
    )


_MONTHLY_REV_SQL = """
    monthly AS MATERIALIZED (
        SELECT date_trunc('month', l_shipdate) AS mth,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / 1e6 AS rev
        FROM lineitem GROUP BY mth
    )
"""


def _monthly_rev(spark, sf_dir):
    """Monthly revenue rollup in millions (quantized exact sum) — the
    shared calendar-bounded series behind the trend/changepoint tier."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy(F.date_trunc("month", "l_shipdate").alias("mth")).agg(
        (dsum("l_extendedprice", 2) / 1e6).alias("rev")
    )


# --- q484: Pettitt changepoint test on monthly revenue (Pettitt 1979;
# the rank-based, distribution-free complement to q84's CUSUM and
# q133's split-mean scan): U_t = 2·Σ_{i≤t} r_i − t(n+1) with r_i the
# rank of x_i in the full series; K = max|U_t| and the argmax month is
# the most probable change point. Ranks ride a deterministic total
# order (rev, mth), so the ENTIRE statistic is exact integer
# arithmetic — no float drift possible. All windows run over the
# ~80-month calendar spine (bounded, whitelisted). -----------------------------
@query(
    "q484_pettitt_changepoint",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    d AS MATERIALIZED (
        SELECT mth,
               ROW_NUMBER() OVER (ORDER BY mth) AS t,
               ROW_NUMBER() OVER (ORDER BY rev, mth) AS rnk
        FROM monthly
    ),
    nn AS (SELECT COUNT(*) AS n FROM d),
    u AS MATERIALIZED (
        SELECT mth, t,
               2 * SUM(rnk) OVER (ORDER BY mth)
                   - t * ((SELECT n FROM nn) + 1) AS u_t
        FROM d
    ),
    k AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
               CAST(MAX(ABS(u_t)) AS BIGINT) AS k_stat
        FROM u
    )
    SELECT k.n_months, k.k_stat,
           (SELECT MIN(mth) FROM u WHERE ABS(u_t) = k.k_stat)
               AS change_month
    FROM k
    """,
)
def q484(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    monthly = tracked_persist(_monthly_rev(spark, sf_dir))
    w_ord = Window.orderBy("mth")
    w_rank = Window.orderBy("rev", "mth")
    d = monthly.select(
        "mth",
        F.row_number().over(w_ord).alias("t"),
        F.row_number().over(w_rank).alias("rnk"),
    )
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_run = Window.orderBy("mth").rowsBetween(Window.unboundedPreceding, 0)
    u = tracked_persist(
        d.crossJoin(F.broadcast(nn)).select(
            "mth",
            (
                2 * F.sum("rnk").over(w_run) - F.col("t") * (F.col("n") + 1)
            ).alias("u_t"),
        )
    )
    k = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.max(F.abs("u_t")).cast("long").alias("k_stat"),
    )
    loc = (
        u.crossJoin(F.broadcast(k))
        .filter(F.abs("u_t") == F.col("k_stat"))
        .agg(F.min("mth").alias("change_month"))
    )
    return k.crossJoin(F.broadcast(loc))


# --- q485: Chow structural-break F-test at the series midpoint — do
# the two halves of the monthly revenue series follow DIFFERENT linear
# trends? F = ((SSR_p − SSR_1 − SSR_2)/k) / ((SSR_1+SSR_2)/(n−2k)),
# k = 2 parameters, SSRs from closed-form OLS over exact conditional
# sums: ONE aggregate produces both segments' sufficient statistics
# (the q411 DiD shape applied to trend fitting). --------------------------------
@query(
    "q485_chow_structural_break",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    d AS MATERIALIZED (
        SELECT rev, ROW_NUMBER() OVER (ORDER BY mth) AS t FROM monthly
    ),
    nn AS (SELECT COUNT(*) AS n FROM d),
    seg AS MATERIALIZED (
        SELECT CASE WHEN t <= (SELECT n FROM nn) / 2 THEN 1 ELSE 2 END AS s,
               CAST(t AS DOUBLE) AS x, rev AS y
        FROM d
    ),
    sums AS MATERIALIZED (
        SELECT s, COUNT(*) AS n,
               CAST(SUM(CAST(x AS BIGINT)) AS DOUBLE) AS sx,
               CAST(SUM(CAST(x * x AS BIGINT)) AS DOUBLE) AS sxx,
               CAST(SUM({sql_quantize('y', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('x * y', 6)}) AS DOUBLE) / 1e6 AS sxy,
               CAST(SUM({sql_quantize('y * y', 6)}) AS DOUBLE) / 1e6 AS syy
        FROM seg GROUP BY s
    ),
    ssr AS MATERIALIZED (
        SELECT s, n, sx, sxx, sy, sxy, syy,
               syy - ((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                      / n) * sy
                   - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sxy AS ssr_s
        FROM sums
    ),
    pooled AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               SUM(sx) AS sx, SUM(sxx) AS sxx, SUM(sy) AS sy,
               SUM(sxy) AS sxy, SUM(syy) AS syy
        FROM sums
    ),
    pssr AS (
        SELECT n,
               syy - ((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                      / n) * sy
                   - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sxy AS ssr_p
        FROM pooled
    )
    SELECT p.n AS n_months,
           CAST({sql_quantize('p.ssr_p', 6)} AS DOUBLE) / 1e6 AS ssr_pooled,
           CAST({sql_quantize('(SELECT CAST(SUM(CAST(SIGN(ssr_s) * FLOOR(ABS(ssr_s) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 FROM ssr)', 6)} AS DOUBLE)
               / 1e6 AS ssr_segments,
           CAST({sql_quantize(
               '((p.ssr_p - (SELECT CAST(SUM(CAST(SIGN(ssr_s) * FLOOR(ABS(ssr_s) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 FROM ssr)) / 2) / '
               '((SELECT CAST(SUM(CAST(SIGN(ssr_s) * FLOOR(ABS(ssr_s) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 FROM ssr) / (p.n - 4))', 6)} AS DOUBLE)
               / 1e6 AS chow_f
    FROM pssr p
    """,
)
def q485(spark, sf_dir):
    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    d = monthly.select(
        "rev", F.row_number().over(w_ord).alias("t")
    )
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    seg = d.crossJoin(F.broadcast(nn)).select(
        F.when(F.col("t") <= F.col("n") / 2, 1).otherwise(2).alias("s"),
        F.col("t").cast("double").alias("x"),
        F.col("rev").alias("y"),
    )
    sums = seg.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("bigint")).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("bigint")).cast("double").alias("sxx"),
        dsum("y", 6).alias("sy"),
        dsum(F.col("x") * F.col("y"), 6).alias("sxy"),
        dsum(F.col("y") * F.col("y"), 6).alias("syy"),
    )

    def ssr_expr():
        b1 = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
        )
        b0 = (F.col("sy") - b1 * F.col("sx")) / F.col("n")
        return F.col("syy") - b0 * F.col("sy") - b1 * F.col("sxy")

    per_seg = sums.select("n", "sx", "sxx", "sy", "sxy", "syy", ssr_expr().alias("ssr_s"))
    seg_tot = per_seg.agg(dsum("ssr_s", 9).alias("ssr_seg_raw"))
    pooled = sums.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sxx").alias("sxx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"),
        F.sum("syy").alias("syy"),
    ).select("n", "sx", "sxx", "sy", "sxy", "syy", ssr_expr().alias("ssr_p"))
    j = pooled.crossJoin(F.broadcast(seg_tot))
    chow = (
        (F.col("ssr_p") - F.col("ssr_seg_raw")) / 2
    ) / (F.col("ssr_seg_raw") / (F.col("n") - 4))
    return j.select(
        F.col("n").alias("n_months"),
        (quantize("ssr_p", 6) / 1e6).alias("ssr_pooled"),
        (quantize("ssr_seg_raw", 6) / 1e6).alias("ssr_segments"),
        (quantize(chow, 6) / 1e6).alias("chow_f"),
    )


_OLS_RESID_SQL = f"""
    d AS MATERIALIZED (
        SELECT mth, rev AS y,
               CAST(ROW_NUMBER() OVER (ORDER BY mth) AS DOUBLE) AS x
        FROM monthly
    ),
    fit AS (
        SELECT COUNT(*) AS n,
               SUM(x) AS sx, SUM(x * x) AS sxx,
               CAST(SUM({sql_quantize('y', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('x * y', 6)}) AS DOUBLE) / 1e6 AS sxy
        FROM d
    ),
    coef AS (
        SELECT n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b1,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS b0
        FROM fit
    ),
    resid AS MATERIALIZED (
        SELECT d.mth, d.x, d.y - (c.b0 + c.b1 * d.x) AS e
        FROM d, coef c
    )
"""


def _ols_resid(spark, sf_dir):
    """Residuals of the monthly-revenue-on-time OLS (closed form from
    exact sums; scalar coefficients carried by broadcast crossJoin) —
    shared by the DW autocorrelation and BP heteroscedasticity
    diagnostics."""
    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    d = monthly.select(
        "mth",
        F.col("rev").alias("y"),
        F.row_number().over(w_ord).cast("double").alias("x"),
    )
    fit = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        dsum("y", 6).alias("sy"),
        dsum(F.col("x") * F.col("y"), 6).alias("sxy"),
    )
    b1 = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    coef = fit.select(
        F.col("n"), b1.alias("b1"), ((F.col("sy") - b1 * F.col("sx")) / F.col("n")).alias("b0")
    )
    return d.crossJoin(F.broadcast(coef)).select(
        "mth",
        "x",
        (F.col("y") - (F.col("b0") + F.col("b1") * F.col("x"))).alias("e"),
    )


# --- q486: Durbin-Watson autocorrelation diagnostic of the monthly
# trend residuals: DW = Σ(e_t − e_{t−1})² / Σe_t² — the classic "are
# the OLS errors serially correlated" check that pairs with q48's ACF
# (which describes) and q415's Ljung-Box (which tests many lags). The
# lag pairs join on the month index (equi-join, no second window). --------------
@query(
    "q486_durbin_watson",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    {_OLS_RESID_SQL},
    pairs AS (
        SELECT a.e AS e1, b.e AS e0
        FROM resid a JOIN resid b ON b.x = a.x - 1
    ),
    num AS (
        SELECT CAST(SUM({sql_quantize('(e1 - e0) * (e1 - e0)', 9)}) AS DOUBLE)
                   / 1e9 AS sd
        FROM pairs
    ),
    den AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
               CAST(SUM({sql_quantize('e * e', 9)}) AS DOUBLE) / 1e9 AS se
        FROM resid
    )
    SELECT den.n_months,
           CAST({sql_quantize('num.sd / den.se', 6)} AS DOUBLE) / 1e6 AS dw
    FROM num, den
    """,
)
def q486(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    resid = tracked_persist(_ols_resid(spark, sf_dir))
    lag = resid.select(
        (F.col("x") + 1).alias("x"), F.col("e").alias("e0")
    )
    pairs = resid.join(lag, "x")
    num = pairs.agg(
        dsum((F.col("e") - F.col("e0")) * (F.col("e") - F.col("e0")), 9).alias("sd")
    )
    den = resid.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        dsum(F.col("e") * F.col("e"), 9).alias("se"),
    )
    j = num.crossJoin(F.broadcast(den))
    return j.select(
        "n_months",
        (quantize(F.col("sd") / F.col("se"), 6) / 1e6).alias("dw"),
    )


# --- q488: Grubbs maximum-outlier statistic on monthly revenue:
# G = max|x − x̄| / s over the ~80-month rollup, plus WHICH month —
# the single-outlier complement to q339's GESD peel (which iterates)
# and q132's winsorize (which clips). Scalar mean/sd carry; argmax by
# deterministic (|dev| DESC, mth ASC) ordering. ---------------------------------
@query(
    "q488_grubbs_max_outlier",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    stats AS (
        SELECT COUNT(*) AS n,
               CAST(SUM({sql_quantize('rev', 6)}) AS DOUBLE) / 1e6 AS s,
               CAST(SUM({sql_quantize('rev * rev', 6)}) AS DOUBLE) / 1e6 AS ss
        FROM monthly
    ),
    dev AS MATERIALIZED (
        SELECT m.mth,
               ABS(m.rev - t.s / t.n)
                   / SQRT((t.ss - t.s * t.s / t.n) / (t.n - 1)) AS g
        FROM monthly m, stats t
    ),
    top AS (
        SELECT mth, g FROM dev ORDER BY g DESC, mth LIMIT 1
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM stats) AS n_months,
           CAST({sql_quantize('top.g', 6)} AS DOUBLE) / 1e6 AS grubbs_g,
           top.mth AS outlier_month
    FROM top
    """,
)
def q488(spark, sf_dir):
    monthly = _monthly_rev(spark, sf_dir)
    stats = monthly.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("rev", 6).alias("s"),
        dsum(F.col("rev") * F.col("rev"), 6).alias("ss"),
    )
    dev = monthly.crossJoin(F.broadcast(stats)).select(
        "mth",
        F.col("n"),
        (
            F.abs(F.col("rev") - F.col("s") / F.col("n"))
            / F.sqrt(
                (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - 1)
            )
        ).alias("g"),
    )
    top = dev.orderBy(F.desc("g"), F.asc("mth")).limit(1)
    return top.select(
        F.col("n").cast("long").alias("n_months"),
        (quantize("g", 6) / 1e6).alias("grubbs_g"),
        F.col("mth").alias("outlier_month"),
    )


# --- q489: Breusch-Pagan heteroscedasticity test of the monthly trend
# residuals: regress e² on the time index and report BP = n·R² of the
# auxiliary fit (Koenker's studentized form divides by the e² variance,
# which the R² already does). Exact auxiliary sums; one more aggregate
# over the same resid frame as q486 — together they are the classic
# post-OLS diagnostic pair (serial correlation + heteroscedasticity). -----------
@query(
    "q489_breusch_pagan",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    {_OLS_RESID_SQL},
    aux AS (
        -- u in (e/100)^2 units: raw e^2 is ~1e5 at sf0.1 (monthly-rev
        -- millions), so u*u at scale 9 overflowed int64 on a single
        -- row (round 11 second-SF gate); BP's nR^2 is invariant under
        -- any linear rescale of u, so the statistic is unchanged
        SELECT (e / 100.0) * (e / 100.0) AS u, x FROM resid
    ),
    s2 AS (
        SELECT COUNT(*) AS n,
               SUM(x) AS sx, SUM(x * x) AS sxx,
               CAST(SUM({sql_quantize('u', 9)}) AS DOUBLE) / 1e9 AS su,
               CAST(SUM({sql_quantize('x * u', 9)}) AS DOUBLE) / 1e9 AS sxu,
               CAST(SUM({sql_quantize('u * u', 9)}) AS DOUBLE) / 1e9 AS suu
        FROM aux
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           CAST({sql_quantize(
               'n * (n * sxu - sx * su) * (n * sxu - sx * su) / '
               '((n * sxx - sx * sx) * (n * suu - su * su))', 6)} AS DOUBLE)
               / 1e6 AS bp_nr2
    FROM s2
    """,
)
def q489(spark, sf_dir):
    resid = _ols_resid(spark, sf_dir)
    # (e/100)^2 units — see oracle comment: nR^2 is invariant under a
    # linear rescale of u; raw e^2*e^2 at scale 9 overflowed at sf0.1
    aux = resid.select(
        ((F.col("e") / 100.0) * (F.col("e") / 100.0)).alias("u"), "x"
    )
    s2 = aux.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        dsum("u", 9).alias("su"),
        dsum(F.col("x") * F.col("u"), 9).alias("sxu"),
        dsum(F.col("u") * F.col("u"), 9).alias("suu"),
    )
    r2_num = (F.col("n") * F.col("sxu") - F.col("sx") * F.col("su")) ** 2
    r2_den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("suu") - F.col("su") * F.col("su")
    )
    return s2.select(
        F.col("n").cast("long").alias("n_months"),
        (quantize(F.col("n") * r2_num / r2_den, 6) / 1e6).alias("bp_nr2"),
    )


# --- q520: Theil's U forecast-quality statistic on monthly revenue —
# U = RMSE(model) / RMSE(naive) for the drift model vs the naive
# last-value carry (U < 1: the model earns its keep; U = 1: no better
# than persistence). Both forecasts are closed-form over the month
# index, so the whole statistic is exact sums over one lag join — the
# decision rule that complements q459's MASE ensemble. ---------------------------
@query(
    "q520_theils_u_forecast",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    d AS MATERIALIZED (
        SELECT rev AS y, ROW_NUMBER() OVER (ORDER BY mth) AS t FROM monthly
    ),
    nn AS (SELECT COUNT(*) AS n FROM d),
    anchors AS (
        SELECT MAX(CASE WHEN t = 1 THEN y END) AS y1,
               MAX(CASE WHEN t = (SELECT n FROM nn) THEN y END) AS ylast
        FROM d
    ),
    pairs AS MATERIALIZED (
        SELECT cur.y AS y, prev.y AS y_prev, cur.t
        FROM d cur JOIN d prev ON prev.t = cur.t - 1
    ),
    errs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_steps,
               CAST(SUM({sql_quantize('(y - y_prev) * (y - y_prev)', 9)})
                    AS DOUBLE) / 1e9 AS sse_naive,
               CAST(SUM({sql_quantize(
                   '(y - (y_prev + (a.ylast - a.y1) / ((SELECT n FROM nn) - 1))) '
                   '* (y - (y_prev + (a.ylast - a.y1) / ((SELECT n FROM nn) - 1)))',
                   9)}) AS DOUBLE) / 1e9 AS sse_drift
        FROM pairs, anchors a
    )
    SELECT n_steps,
           CAST({sql_quantize('SQRT(sse_drift / n_steps)', 6)} AS DOUBLE)
               / 1e6 AS rmse_drift,
           CAST({sql_quantize('SQRT(sse_naive / n_steps)', 6)} AS DOUBLE)
               / 1e6 AS rmse_naive,
           CAST({sql_quantize('SQRT(sse_drift) / SQRT(sse_naive)', 6)}
                AS DOUBLE) / 1e6 AS theils_u
    FROM errs
    """,
)
def q520(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    d = tracked_persist(
        monthly.select(
            F.col("rev").alias("y"), F.row_number().over(w_ord).alias("t")
        )
    )
    nn = d.agg(F.count(F.lit(1)).alias("n"))
    anchors = d.crossJoin(F.broadcast(nn)).agg(
        F.max(F.when(F.col("t") == 1, F.col("y"))).alias("y1"),
        F.max(F.when(F.col("t") == F.col("n"), F.col("y"))).alias("ylast"),
        F.first("n").alias("n"),
    )
    prev = d.select((F.col("t") + 1).alias("t"), F.col("y").alias("y_prev"))
    pairs = d.join(prev, "t")
    drift = F.col("y_prev") + (F.col("ylast") - F.col("y1")) / (F.col("n") - 1)
    errs = pairs.crossJoin(F.broadcast(anchors)).agg(
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        dsum((F.col("y") - F.col("y_prev")) ** 2, 9).alias("sse_naive"),
        dsum((F.col("y") - drift) ** 2, 9).alias("sse_drift"),
    )
    return errs.select(
        "n_steps",
        (quantize(F.sqrt(F.col("sse_drift") / F.col("n_steps")), 6) / 1e6).alias(
            "rmse_drift"
        ),
        (quantize(F.sqrt(F.col("sse_naive") / F.col("n_steps")), 6) / 1e6).alias(
            "rmse_naive"
        ),
        (
            quantize(F.sqrt("sse_drift") / F.sqrt("sse_naive"), 6) / 1e6
        ).alias("theils_u"),
    )


# --- q521: ratio-to-moving-average seasonal factors — the X-11-style
# classical decomposition step q107 stops short of: centered 12-month
# MA as the trend, ratio y/MA per month, then the month-of-year MEDIAN
# ratio normalized so the 12 factors average to 1. Every window rides
# the ~80-month calendar spine. ---------------------------------------------------
@query(
    "q521_seasonal_factors_rma",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    d AS MATERIALIZED (
        SELECT mth, rev, ROW_NUMBER() OVER (ORDER BY mth) AS t FROM monthly
    ),
    ma AS MATERIALIZED (
        -- centered 12-term MA: average of a 12-window and its 1-shift
        -- (the classic 2x12 centering)
        SELECT mth, rev, t,
               (AVG(rev) OVER (ORDER BY t ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)
                + AVG(rev) OVER (ORDER BY t ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING))
                   / 2.0 AS trend,
               COUNT(*) OVER (ORDER BY t ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS w1,
               COUNT(*) OVER (ORDER BY t ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS w2
        FROM d
    ),
    ratios AS MATERIALIZED (
        SELECT EXTRACT(month FROM mth) AS moy, rev / trend AS r
        FROM ma WHERE w1 = 12 AND w2 = 12
    ),
    raw AS MATERIALIZED (
        SELECT moy, quantile_cont(r, 0.5) AS f FROM ratios GROUP BY moy
    ),
    norm AS (SELECT AVG(f) AS fbar FROM raw)
    SELECT CAST(moy AS BIGINT) AS month_of_year,
           CAST({sql_quantize('f / (SELECT fbar FROM norm)', 6)} AS DOUBLE)
               / 1e6 AS seasonal_factor
    FROM raw
    ORDER BY month_of_year
    """,
)
def q521(spark, sf_dir):
    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    d = monthly.select(
        "mth", "rev", F.row_number().over(w_ord).alias("t")
    )
    w1 = Window.orderBy("t").rowsBetween(-6, 5)
    w2 = Window.orderBy("t").rowsBetween(-5, 6)
    ma = d.select(
        "mth",
        "rev",
        ((F.avg("rev").over(w1) + F.avg("rev").over(w2)) / 2.0).alias("trend"),
        F.count(F.lit(1)).over(w1).alias("c1"),
        F.count(F.lit(1)).over(w2).alias("c2"),
    )
    ratios = ma.filter((F.col("c1") == 12) & (F.col("c2") == 12)).select(
        F.month("mth").alias("moy"), (F.col("rev") / F.col("trend")).alias("r")
    )
    raw = ratios.groupBy("moy").agg(
        F.expr("percentile(r, 0.5)").alias("f")
    )
    norm = raw.agg(F.avg("f").alias("fbar"))
    return (
        raw.crossJoin(F.broadcast(norm))
        .select(
            F.col("moy").cast("long").alias("month_of_year"),
            (quantize(F.col("f") / F.col("fbar"), 6) / 1e6).alias(
                "seasonal_factor"
            ),
        )
        .orderBy("month_of_year")
    )


# --- q531: Dixon's Q test on the 25 per-nation revenue totals — the
# small-sample outlier test (gap/range ratio, n ≤ 30 regime) beside
# q488's Grubbs (which assumes normal-ish bulk): Q = (x(2)−x(1)) /
# (x(n)−x(1)) for the low end and its mirror for the high end, plus
# which nation. The 25-row rollup is fixed-cardinality, so the order
# statistics are a bounded sort. -------------------------------------------------
@query(
    "q531_dixon_q_nation_revenue",
    oracle="""
    WITH rev AS MATERIALIZED (
        SELECT s.s_nationkey AS nation,
               CAST(SUM(CAST(SIGN(l.l_extendedprice)
                             * FLOOR(ABS(l.l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / 1e6 AS y
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY nation
    ),
    ranked AS MATERIALIZED (
        SELECT nation, y,
               ROW_NUMBER() OVER (ORDER BY y, nation) AS r,
               COUNT(*) OVER () AS n
        FROM rev
    ),
    pick AS (
        SELECT MAX(CASE WHEN r = 1 THEN y END) AS x1,
               MAX(CASE WHEN r = 2 THEN y END) AS x2,
               MAX(CASE WHEN r = n - 1 THEN y END) AS xn1,
               MAX(CASE WHEN r = n THEN y END) AS xn,
               MAX(CASE WHEN r = 1 THEN nation END) AS low_nation,
               MAX(CASE WHEN r = n THEN nation END) AS high_nation,
               MAX(n) AS n
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_nations, low_nation, high_nation,
           CAST(CAST(SIGN(ql) * FLOOR(ABS(ql) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS q_low,
           CAST(CAST(SIGN(qh) * FLOOR(ABS(qh) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS q_high
    FROM (
        SELECT n, low_nation, high_nation,
               (x2 - x1) / (xn - x1) AS ql,
               (xn - xn1) / (xn - x1) AS qh
        FROM pick
    )
    """,
)
def q531(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nation"))
        .agg((dsum("l_extendedprice", 2) / 1e6).alias("y"))
    )
    w = Window.orderBy("y", "nation")
    ranked = rev.select(
        "nation",
        "y",
        F.row_number().over(w).alias("r"),
    )
    nn = ranked.agg(F.max("r").alias("n"))
    pick = ranked.crossJoin(F.broadcast(nn)).agg(
        F.max(F.when(F.col("r") == 1, F.col("y"))).alias("x1"),
        F.max(F.when(F.col("r") == 2, F.col("y"))).alias("x2"),
        F.max(F.when(F.col("r") == F.col("n") - 1, F.col("y"))).alias("xn1"),
        F.max(F.when(F.col("r") == F.col("n"), F.col("y"))).alias("xn"),
        F.max(F.when(F.col("r") == 1, F.col("nation"))).alias("low_nation"),
        F.max(F.when(F.col("r") == F.col("n"), F.col("nation"))).alias(
            "high_nation"
        ),
        F.max("n").alias("n"),
    )
    return pick.select(
        F.col("n").cast("long").alias("n_nations"),
        "low_nation",
        "high_nation",
        (
            quantize((F.col("x2") - F.col("x1")) / (F.col("xn") - F.col("x1")), 6)
            / 1e6
        ).alias("q_low"),
        (
            quantize(
                (F.col("xn") - F.col("xn1")) / (F.col("xn") - F.col("x1")), 6
            )
            / 1e6
        ).alias("q_high"),
    )


# --- q532: SEASONAL Mann-Kendall trend test — q342's MK statistic
# computed WITHIN each month-of-year and combined (Hirsch-Slack form):
# S* = Σ_m S_m, Var* = Σ_m n_m(n_m−1)(2n_m+5)/18, z = (S*∓1)/√Var*.
# Removes the seasonal cycle from the trend question entirely; the
# pair space is 12 bounded within-month grids (~7×7 each), never the
# full series². -------------------------------------------------------------------
@query(
    "q532_seasonal_mann_kendall",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    d AS MATERIALIZED (
        SELECT EXTRACT(month FROM mth) AS moy,
               EXTRACT(year FROM mth) AS yr, rev
        FROM monthly
    ),
    pairs AS (
        SELECT a.moy,
               CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                             WHEN b.rev < a.rev THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_m
        FROM d a JOIN d b ON b.moy = a.moy AND b.yr > a.yr
        GROUP BY a.moy
    ),
    counts AS (
        SELECT moy, CAST(COUNT(*) AS BIGINT) AS n_m FROM d GROUP BY moy
    ),
    tot AS (
        SELECT CAST(SUM(p.s_m) AS BIGINT) AS s_star,
               SUM(CAST(c.n_m * (c.n_m - 1) * (2 * c.n_m + 5) AS DOUBLE))
                   / 18.0 AS var_star
        FROM pairs p JOIN counts c ON c.moy = p.moy
    )
    SELECT s_star,
           CAST(CAST(SIGN(var_star) * FLOOR(ABS(var_star) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS var_s,
           CAST(CAST(SIGN(z) * FLOOR(ABS(z) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS z
    FROM (
        SELECT s_star, var_star,
               (s_star - SIGN(s_star)) / SQRT(var_star) AS z
        FROM tot
    )
    """,
)
def q532(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    d = tracked_persist(
        monthly.select(
            F.month("mth").alias("moy"),
            F.year("mth").alias("yr"),
            "rev",
        )
    )
    a = d.select(
        F.col("moy"), F.col("yr").alias("ya"), F.col("rev").alias("ra")
    )
    b = d.select(
        F.col("moy"), F.col("yr").alias("yb"), F.col("rev").alias("rb")
    )
    pairs = (
        a.join(b, "moy")
        .filter(F.col("yb") > F.col("ya"))
        .groupBy("moy")
        .agg(
            F.sum(
                F.when(F.col("rb") > F.col("ra"), 1)
                .when(F.col("rb") < F.col("ra"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_m")
        )
    )
    counts = d.groupBy("moy").agg(F.count(F.lit(1)).cast("long").alias("n_m"))
    tot = (
        pairs.join(counts, "moy")
        .agg(
            F.sum("s_m").cast("long").alias("s_star"),
            (
                F.sum(
                    (
                        F.col("n_m") * (F.col("n_m") - 1) * (2 * F.col("n_m") + 5)
                    ).cast("double")
                )
                / 18.0
            ).alias("var_star"),
        )
    )
    z = (F.col("s_star") - F.signum(F.col("s_star").cast("double"))) / F.sqrt(
        "var_star"
    )
    return tot.select(
        "s_star",
        (quantize("var_star", 6) / 1e6).alias("var_s"),
        (quantize(z, 6) / 1e6).alias("z"),
    )


# --- q533: Hodges-Lehmann location estimator of month-over-month
# revenue GROWTH — the median of all pairwise Walsh averages
# (x_i + x_j)/2 over the ~79 monthly growth values: the robust "typical
# monthly change" whose breakdown point beats the mean and whose
# efficiency beats the median. ~3k Walsh pairs — a bounded calendar²
# grid. -----------------------------------------------------------------------------
@query(
    "q533_hodges_lehmann_growth",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    d AS MATERIALIZED (
        SELECT rev, ROW_NUMBER() OVER (ORDER BY mth) AS t FROM monthly
    ),
    growth AS MATERIALIZED (
        SELECT cur.t, cur.rev - prev.rev AS g
        FROM d cur JOIN d prev ON prev.t = cur.t - 1
    ),
    walsh AS MATERIALIZED (
        SELECT (a.g + b.g) / 2.0 AS w
        FROM growth a JOIN growth b ON b.t >= a.t
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM growth) AS n_months,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM walsh) AS n_walsh_pairs,
           CAST({sql_quantize('quantile_cont(w, 0.5)', 6)} AS DOUBLE) / 1e6
               AS hodges_lehmann
    FROM walsh
    """,
)
def q533(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    d = monthly.select(
        "rev", F.row_number().over(w_ord).alias("t")
    )
    prev = d.select((F.col("t") + 1).alias("t"), F.col("rev").alias("prev"))
    growth = tracked_persist(
        d.join(prev, "t").select("t", (F.col("rev") - F.col("prev")).alias("g"))
    )
    a = growth.select(F.col("t").alias("ta"), F.col("g").alias("ga"))
    b = growth.select(F.col("t").alias("tb"), F.col("g").alias("gb"))
    # broadcast the (calendar-bounded, ~79-row) right side so the
    # non-equi pair join plans as BroadcastNestedLoopJoin, never a
    # CartesianProduct
    walsh = a.join(F.broadcast(b), F.col("tb") >= F.col("ta")).select(
        ((F.col("ga") + F.col("gb")) / 2.0).alias("w")
    )
    ng = growth.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    out = walsh.agg(
        F.count(F.lit(1)).cast("long").alias("n_walsh_pairs"),
        F.expr("percentile(w, 0.5)").alias("hl"),
    )
    return (
        F.broadcast(ng)
        .crossJoin(out)
        .select(
            "n_months",
            "n_walsh_pairs",
            (quantize("hl", 6) / 1e6).alias("hodges_lehmann"),
        )
    )


# --- q538: Newey-West (HAC) standard error for the monthly-revenue
# trend slope — the autocorrelation-robust SE that makes the q127-class
# trend t-statistic honest when residuals are serially correlated
# (q486's DW says WHETHER; this corrects the inference):
#   Var_NW(b1) = Σ_l w_l·Σ_t e_t x̃_t e_{t−l} x̃_{t−l} / (Σ x̃²)²,
#   w_l = 1 − l/(L+1), Bartlett window, L = 4.
# Lag products join on the month index (bounded equi-joins), all sums
# quantized. ----------------------------------------------------------------------
@query(
    "q538_newey_west_trend_se",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    {_OLS_RESID_SQL},
    xbar AS (
        SELECT SUM(x) / COUNT(*) AS xb, COUNT(*) AS n FROM resid
    ),
    u AS MATERIALIZED (
        SELECT r.x, r.e * (r.x - (SELECT xb FROM xbar)) AS v
        FROM resid r
    ),
    sxx AS (
        SELECT SUM((x - (SELECT xb FROM xbar))
                   * (x - (SELECT xb FROM xbar))) AS sxx
        FROM resid
    ),
    lags AS MATERIALIZED (
        SELECT l, (1.0 - l / 5.0) AS w
        FROM (SELECT UNNEST(generate_series(0, 4)) AS l)
    ),
    gamma AS MATERIALIZED (
        SELECT g.l, g.w,
               CAST(SUM(CAST(SIGN(a.v * b.v) * FLOOR(ABS(a.v * b.v) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS s_l
        FROM lags g
        JOIN u a ON TRUE
        JOIN u b ON b.x = a.x - g.l
        GROUP BY g.l, g.w
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM xbar) AS n_months,
           CAST({sql_quantize('(SELECT SUM(CASE WHEN l = 0 THEN s_l ELSE 2 * w * s_l END) FROM gamma) / ((SELECT sxx FROM sxx) * (SELECT sxx FROM sxx))', 9)} AS DOUBLE) / 1e9
               AS nw_var_b1,
           CAST({sql_quantize('SQRT((SELECT SUM(CASE WHEN l = 0 THEN s_l ELSE 2 * w * s_l END) FROM gamma) / ((SELECT sxx FROM sxx) * (SELECT sxx FROM sxx)))', 6)} AS DOUBLE) / 1e6
               AS nw_se_b1
    FROM (SELECT 1)
    """,
)
def q538(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    resid = tracked_persist(_ols_resid(spark, sf_dir))
    xbar = resid.agg(
        (F.sum("x") / F.count(F.lit(1))).alias("xb"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    u = tracked_persist(
        resid.crossJoin(F.broadcast(xbar)).select(
            "x", (F.col("e") * (F.col("x") - F.col("xb"))).alias("v")
        )
    )
    sxx = (
        resid.crossJoin(F.broadcast(xbar))
        .agg(
            F.sum(
                (F.col("x") - F.col("xb")) * (F.col("x") - F.col("xb"))
            ).alias("sxx")
        )
    )
    lags = small_local_df(
        spark, [(l, 1.0 - l / 5.0) for l in range(5)], "l int, w double"
    )
    a = u.select(F.col("x").alias("xa"), F.col("v").alias("va"))
    b = u.select(F.col("x").alias("xb2"), F.col("v").alias("vb"))
    gamma = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("xb2") == F.col("xa") - F.col("l"))
        .groupBy("l", "w")
        .agg(dsum(F.col("va") * F.col("vb"), 9).alias("s_l"))
    )
    nw_sum = gamma.agg(
        F.sum(
            F.when(F.col("l") == 0, F.col("s_l")).otherwise(
                2 * F.col("w") * F.col("s_l")
            )
        ).alias("nw")
    )
    j = (
        F.broadcast(xbar.select("n"))
        .crossJoin(F.broadcast(sxx))
        .crossJoin(F.broadcast(nw_sum))
    )
    var_b1 = F.col("nw") / (F.col("sxx") * F.col("sxx"))
    return j.select(
        F.col("n").alias("n_months"),
        (quantize(var_b1, 9) / 1e9).alias("nw_var_b1"),
        (quantize(F.sqrt(var_b1), 6) / 1e6).alias("nw_se_b1"),
    )


# --- q539: volume-weighted least squares trend — the monthly revenue
# trend refit with months weighted by their LINE COUNT (heteroscedastic
# months with thin volume carry less information; q489's BP test says the
# variance moves, this is the corrective fit):
#   b = (Σw x̃ỹ) / (Σw x̃²) with weighted means — closed form over one
# quantized weighted-sum aggregate, directly comparable to the OLS
# slope. -----------------------------------------------------------------------------
@query(
    "q539_wls_trend_fit",
    oracle=f"""
    WITH monthly AS MATERIALIZED (
        SELECT date_trunc('month', l_shipdate) AS mth,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / 1e6 AS y,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem GROUP BY mth
    ),
    d AS MATERIALIZED (
        SELECT y, CAST(w AS DOUBLE) AS w,
               CAST(ROW_NUMBER() OVER (ORDER BY mth) AS DOUBLE) AS x
        FROM monthly
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('w', 2)}) AS DOUBLE) / 1e2 AS sw,
               CAST(SUM({sql_quantize('w * x', 2)}) AS DOUBLE) / 1e2 AS swx,
               CAST(SUM({sql_quantize('w * x * x', 2)}) AS DOUBLE) / 1e2 AS swxx,
               CAST(SUM({sql_quantize('w * y', 6)}) AS DOUBLE) / 1e6 AS swy,
               CAST(SUM({sql_quantize('w * x * y', 6)}) AS DOUBLE) / 1e6 AS swxy
        FROM d
    )
    SELECT n AS n_months,
           CAST({sql_quantize(
               '(sw * swxy - swx * swy) / (sw * swxx - swx * swx)', 6)}
               AS DOUBLE) / 1e6 AS wls_slope,
           CAST({sql_quantize(
               '(swy - (sw * swxy - swx * swy) / (sw * swxx - swx * swx) * swx)'
               ' / sw', 6)} AS DOUBLE) / 1e6 AS wls_intercept
    FROM s
    """,
)
def q539(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    monthly = li.groupBy(F.date_trunc("month", "l_shipdate").alias("mth")).agg(
        (dsum("l_extendedprice", 2) / 1e6).alias("y"),
        F.count(F.lit(1)).cast("long").alias("w"),
    )
    w_ord = Window.orderBy("mth")
    d = monthly.select(
        "y",
        F.col("w").cast("double").alias("w"),
        F.row_number().over(w_ord).cast("double").alias("x"),
    )
    s = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("w", 2).alias("sw"),
        dsum(F.col("w") * F.col("x"), 2).alias("swx"),
        dsum(F.col("w") * F.col("x") * F.col("x"), 2).alias("swxx"),
        dsum(F.col("w") * F.col("y"), 6).alias("swy"),
        dsum(F.col("w") * F.col("x") * F.col("y"), 6).alias("swxy"),
    )
    b1 = (F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swy")) / (
        F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
    )
    return s.select(
        F.col("n").alias("n_months"),
        (quantize(b1, 6) / 1e6).alias("wls_slope"),
        (quantize((F.col("swy") - b1 * F.col("swx")) / F.col("sw"), 6) / 1e6).alias(
            "wls_intercept"
        ),
    )
