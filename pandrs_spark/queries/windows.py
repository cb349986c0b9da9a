"""Window-function surface queries (SURVEY.md §2.5): pandas rank
methods, expanding windows, ntile/percent_rank/cume_dist,
first/last/nth_value frames, time-range (interval) rolling windows.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import (
    davg,
    dsum,
    dsum_over,
    sql_davg,
    sql_dsum,
    sql_dsum_over,
)
from pandrs_spark.operators.windows import ewm_mean, expanding, rank_method
from pandrs_spark.queries import query


# --- q51: pandas rank() methods (RankMethod parity, compat :193) ------------
@query(
    "q51_rank_methods",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER wt AS rank_first,
           DENSE_RANK() OVER w AS rank_dense,
           RANK() OVER w AS rank_min,
           RANK() OVER w + COUNT(*) OVER wp - 1 AS rank_max,
           (RANK() OVER w + (RANK() OVER w + COUNT(*) OVER wp - 1)) / 2 AS rank_avg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice),
           wt AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
           wp AS (PARTITION BY o_custkey, o_totalprice)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q51(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        rank_method(
            "o_totalprice", ["o_custkey"], "first", tiebreak=["o_orderkey"]
        ).alias("rank_first"),
        rank_method("o_totalprice", ["o_custkey"], "dense").alias("rank_dense"),
        rank_method("o_totalprice", ["o_custkey"], "min").alias("rank_min"),
        rank_method("o_totalprice", ["o_custkey"], "max").alias("rank_max"),
        rank_method("o_totalprice", ["o_custkey"], "average").alias("rank_avg"),
    ).orderBy("o_custkey", "o_orderkey")


# --- q52: expanding windows (§2.5a Expanding) -------------------------------
@query(
    "q52_expanding_stats",
    oracle="""
    SELECT o_custkey, o_orderkey,
           COUNT(o_totalprice) OVER w AS exp_n,
           MIN(o_totalprice) OVER w AS exp_min,
           MAX(o_totalprice) OVER w AS exp_max,
           CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(32, 2))) OVER w AS DOUBLE)
               / COUNT(o_totalprice) OVER w AS exp_mean
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q52(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, 0)
    exact_sum = (
        F.sum(F.round(F.col("o_totalprice"), 2).cast(DecimalType(32, 2)))
        .over(frame)
        .cast("double")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        expanding("o_totalprice", w, "count").alias("exp_n"),
        expanding("o_totalprice", w, "min").alias("exp_min"),
        expanding("o_totalprice", w, "max").alias("exp_max"),
        (exact_sum / F.count("o_totalprice").over(frame)).alias("exp_mean"),
    ).orderBy("o_custkey", "o_orderkey")


# --- q53: ntile / percent_rank / cume_dist (§2.5b) --------------------------
@query(
    "q53_customer_balance_quartiles",
    oracle="""
    SELECT c_custkey,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    ORDER BY c_custkey
    """,
)
def q53(spark, sf_dir):
    # Global rank statistics WITHOUT the partitionless-window collapse:
    # distributed row number (range-sort + partition offsets), then
    # ntile/percent_rank/cume_dist follow arithmetically because the
    # (c_acctbal, c_custkey) order is total (custkey unique → no ties).
    from pandrs_spark.operators.windows import global_row_number, ntile_from_rank

    cust = T(spark, sf_dir, "customer")
    n = cust.count()
    ranked = global_row_number(
        cust, [F.asc("c_acctbal"), F.asc("c_custkey")], "rn"
    )
    rn = F.col("rn")
    return ranked.select(
        "c_custkey",
        ntile_from_rank(rn, n, 4).alias("quartile"),
        F.round((rn - 1) / float(max(n - 1, 1)), 6).alias("pct_rank"),
        F.round(rn / float(n), 6).alias("cume"),
    ).orderBy("c_custkey")


# --- q54: first/last/nth value frames (§2.5b) -------------------------------
@query(
    "q54_first_last_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice) OVER wfull AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER wfull AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wfull AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q54(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(wfull).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(wfull).alias("second_price"),
    ).orderBy("o_custkey", "o_orderkey")


# --- q55: time-range rolling window (RANGE frame, §2.5a time rolling) -------
@query(
    "q55_weekly_range_rolling",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', l_shipdate) AS day,
               {sql_dsum('l_extendedprice')} AS rev
        FROM lineitem
        GROUP BY day
    )
    SELECT day, rev,
           COUNT(rev) OVER w AS n_days_7d,
           CAST(SUM(CAST(ROUND(rev, 2) AS DECIMAL(32, 2))) OVER w AS DOUBLE) AS rev_7d
    FROM daily
    WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
)
def q55(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice").alias("rev")
    )
    # Spark RANGE frames need a numeric order key: seconds since epoch.
    secs = F.unix_timestamp("day")
    w = Window.orderBy(secs.cast("long")).rangeBetween(-6 * 86400, 0)
    return daily.select(
        "day",
        "rev",
        F.count("rev").over(w).alias("n_days_7d"),
        F.sum(F.round(F.col("rev"), 2).cast(DecimalType(32, 2)))
        .over(w)
        .cast("double")
        .alias("rev_7d"),
    ).orderBy("day")


# --- q70: exponentially-weighted mean (§2.5a EWM, window.rs:555-640) --------
# EWM is recursive — the one §2.5 operator with no closed-form window
# expression — so the Spark side is the documented applyInPandas path
# (operators/windows.ewm_mean) and the oracle expands the adjust=True
# definition y_t = Σ w_i x_{t-i} / Σ w_i as a bounded self-join over the
# monthly aggregate (84 points/flag), identical math at histogram scale.
@query(
    "q70_ewm_monthly_qty",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag AS flag, date_trunc('month', l_shipdate) AS month,
               {sql_davg('l_quantity')} AS qty
        FROM lineitem GROUP BY flag, month
    ),
    idx AS (
        SELECT flag, month, qty,
               ROW_NUMBER() OVER (PARTITION BY flag ORDER BY month) AS i
        FROM m
    )
    SELECT a.flag, a.month,
           ROUND(SUM(b.qty * POWER(0.7, a.i - b.i)) /
                 SUM(POWER(0.7, a.i - b.i)), 6) AS ewm_qty
    FROM idx a JOIN idx b ON b.flag = a.flag AND b.i <= a.i
    GROUP BY a.flag, a.month
    ORDER BY a.flag, a.month
    """,
)
def q70(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.date_trunc("month", "l_shipdate").alias("month"),
    ).agg(davg("l_quantity").alias("qty"))
    out = ewm_mean(
        monthly,
        value_col="qty",
        order_by=["month"],
        partition_by=["flag"],
        alpha=0.3,
        adjust=True,
        out_col="ewm_raw",
    )
    return out.select(
        "flag", "month", F.round("ewm_raw", 6).alias("ewm_qty")
    ).orderBy("flag", "month")


# --- q87: rolling_apply with a custom Python function (§2.5a rolling_apply
# compat :2068, §2.15 pandas-UDF surface) ------------------------------------
# Custom rolling geometric mean via applyInPandas; the oracle expresses
# the same math as EXP(AVG(LN(x))) over the window frame. Demonstrates
# the escape hatch for window functions Spark lacks, while the oracle
# proves the chosen example is exactly recoverable in SQL.
@query(
    "q87_rolling_apply_geomean",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', l_shipdate) AS day, AVG(l_quantity) AS qty
        FROM lineitem GROUP BY day
    )
    SELECT day,
           ROUND(CASE WHEN COUNT(qty) OVER w = 7 THEN EXP(AVG(LN(qty)) OVER w) END, 6) AS geo7
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
)
def q87(spark, sf_dir):
    import numpy as np

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        F.avg("l_quantity").alias("qty")
    )

    def _roll(pdf):
        pdf = pdf.sort_values("day", kind="mergesort")
        pdf["geo7"] = (
            pdf["qty"]
            .rolling(7, min_periods=7)
            .apply(lambda a: float(np.exp(np.mean(np.log(a)))), raw=True)
            .round(6)
        )
        return pdf

    out = (
        daily.withColumn("__g__", F.lit(1))
        .groupBy("__g__")
        .applyInPandas(
            _roll, schema="day timestamp, qty double, geo7 double, __g__ int"
        )
    )
    return out.select("day", "geo7").orderBy("day")


# --- q156: cumulative-op family per customer order history (compat
# cumsum/cumprod/cummax/cummin :280-327, cumcount :2081) — one ordered
# window serves every running statistic ---------------------------------------
@query(
    "q156_cumulative_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS cum_n,
           (CAST(SUM(CAST(FLOOR(o_totalprice / 1000 * 10000.0 + 0.5) AS BIGINT))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000.0)
             AS cum_spend_k,
           MAX(o_totalprice) OVER wr AS cum_max,
           MIN(o_totalprice) OVER wr AS cum_min
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q156(spark, sf_dir):
    from pandrs_spark.operators.windows import cumcount, cummax, cummin

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = T(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        cumcount(w).cast("long").alias("cum_n"),
        dsum_over(
            F.col("o_totalprice") / 1000,
            w.rowsBetween(Window.unboundedPreceding, 0),
            4,
        ).alias("cum_spend_k"),
        cummax("o_totalprice", w).alias("cum_max"),
        cummin("o_totalprice", w).alias("cum_min"),
    ).orderBy("o_custkey", "o_orderkey")


# --- q175: rolling median / quantile in the generic rolling() dispatch
# (reference DataFrameRolling median/quantile,
# src/dataframe/enhanced_window.rs:249-294). Exact interpolated
# percentile over a ROWS frame — Spark F.percentile and DuckDB
# quantile_cont both interpolate linearly, so values agree to rounding.
@query(
    "q175_rolling_median_quantile",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(MEDIAN(o_totalprice) OVER w, 4) AS med7,
           ROUND(QUANTILE_CONT(o_totalprice, 0.25) OVER w, 4) AS p25_7,
           ROUND(QUANTILE_CONT(o_totalprice, 0.90) OVER w, 4) AS p90_7
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q175(spark, sf_dir):
    from pandrs_spark.operators.windows import rolling

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = T(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            rolling("o_totalprice", 7, w, agg="median", min_periods=1), 4
        ).alias("med7"),
        F.round(
            rolling("o_totalprice", 7, w, agg="quantile", min_periods=1, q=0.25), 4
        ).alias("p25_7"),
        F.round(
            rolling("o_totalprice", 7, w, agg="quantile", min_periods=1, q=0.90), 4
        ).alias("p90_7"),
    ).orderBy("o_custkey", "o_orderkey")


# --- q218: rolling Pearson correlation (pandas Rolling.corr parity)
# of quantity vs extended price per supplier over a 10-item frame —
# five quantized rolling sufficient statistics in ONE window pass
# (operators/windows.py:rolling_corr); the oracle refolds the same
# stats in a named DuckDB window. -----------------------------------------
@query(
    "q218_rolling_corr_qty_price",
    oracle=f"""
    WITH r AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               COUNT(CASE WHEN l_quantity IS NOT NULL
                           AND l_extendedprice IS NOT NULL THEN 1 END)
                   OVER w10 AS n,
               {sql_dsum_over('l_quantity', 'w10', 4)} AS sx,
               {sql_dsum_over('l_extendedprice', 'w10', 4)} AS sy,
               {sql_dsum_over('l_quantity * l_quantity', 'w10', 4)} AS sxx,
               {sql_dsum_over('l_extendedprice * l_extendedprice', 'w10', 4)} AS syy,
               {sql_dsum_over('l_quantity * l_extendedprice', 'w10', 4)} AS sxy
        FROM lineitem
        WINDOW w10 AS (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           ROUND(CASE WHEN n >= 10
                       AND SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy) > 0
                      THEN (n * sxy - sx * sy)
                           / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))
                      END, 6) AS roll_corr
    FROM r
    WHERE l_suppkey % 20 = 0
    ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
)
def q218(spark, sf_dir):
    from pandrs_spark.operators.windows import rolling_corr

    li = T(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.round(
                rolling_corr("l_quantity", "l_extendedprice", 10, w, scale=4),
                6,
            ).alias("roll_corr"),
        )
        .filter(F.col("l_suppkey") % 20 == 0)
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


# --- q297: EWMA control chart — per event_type daily means smoothed
# with the classical z_t = λx_t + (1-λ)z_{t-1} (adjust=False), checked
# against asymptotic control limits μ ± 3σ√(λ/(2-λ)) from exact
# quantized series stats. The process-monitoring composition on top of
# q70's EWM machinery; the oracle expands the recursion as the same
# bounded weighted self-join. ------------------------------------------------
_Q297_SIG = "SQRT((sxx - sx * sx / n) / (n - 1))"


@query(
    "q297_ewma_control_chart",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               {sql_davg('value', 4)} AS x
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, d, x,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
        FROM daily
    ),
    z AS (
        SELECT a.event_type, a.d,
               SUM(b.x * CASE WHEN b.i = 1 THEN POWER(0.8, a.i - 1)
                              ELSE 0.2 * POWER(0.8, a.i - b.i) END) AS z
        FROM idx a JOIN idx b ON b.event_type = a.event_type AND b.i <= a.i
        GROUP BY a.event_type, a.d
    ),
    stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               (CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0) AS sx,
               (CAST(SUM(CAST(SIGN(x * x) * FLOOR(ABS(x * x) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0) AS sxx
        FROM daily GROUP BY event_type
    ),
    lim AS (
        SELECT event_type, n,
               sx / n AS mu,
               3.0 * {_Q297_SIG} * SQRT(0.2 / 1.8) AS halfw
        FROM stats
    )
    SELECT z.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(MIN(l.mu - l.halfw), 4) AS lcl,
           ROUND(MIN(l.mu + l.halfw), 4) AS ucl,
           CAST(COUNT(CASE WHEN z.z > l.mu + l.halfw
                            OR z.z < l.mu - l.halfw THEN 1 END) AS BIGINT)
               AS n_out_of_control
    FROM z JOIN lim l ON z.event_type = l.event_type
    GROUP BY z.event_type ORDER BY z.event_type
    """,
)
def q297(spark, sf_dir):
    from pandrs_spark.operators.windows import ewm_mean

    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(davg("value", 4).alias("x"))
    z = ewm_mean(
        daily,
        value_col="x",
        order_by=["d"],
        partition_by=["event_type"],
        alpha=0.2,
        adjust=False,
        out_col="z",
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x", 4).alias("sx"),
        dsum(F.col("x") * F.col("x"), 4).alias("sxx"),
    )
    lim = stats.select(
        F.col("event_type").alias("et"),
        (F.col("sx") / F.col("n")).alias("mu"),
        (
            3.0 * F.expr(_Q297_SIG) * F.sqrt(F.lit(0.2 / 1.8))
        ).alias("halfw"),
    )
    ooc = (F.col("z") > F.col("mu") + F.col("halfw")) | (
        F.col("z") < F.col("mu") - F.col("halfw")
    )
    return (
        z.join(F.broadcast(lim), z.event_type == lim.et)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.min(F.col("mu") - F.col("halfw")), 4).alias("lcl"),
            F.round(F.min(F.col("mu") + F.col("halfw")), 4).alias("ucl"),
            F.count(F.when(ooc, 1)).alias("n_out_of_control"),
        )
        .orderBy("event_type")
    )
