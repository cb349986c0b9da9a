"""Time-series tier II: risk, SPC and advanced-diagnostics queries
split out of queries/timeseries.py at the round-8 file-hygiene
boundary (q543 onward): Theil-Sen / Mann-Kendall robust trend,
VaR / CVaR / Kupiec / GBM financial risk, Lomb-Scargle and spectral
entropy, sample/permutation entropy complexity, Shewhart / EWMA
control charts, price-index family (Paasche/Fisher/Törnqvist),
Granger / CCF / partial-correlation lead-lag, CUSUM-of-squares and
tracking-signal monitoring.

Shared calendar-spine helpers (_monthly_rev, _ols_resid, the joint
and brand-cell rollups) stay importable from queries.timeseries;
same reference-parity and 100 TB scale notes apply.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import (
    CORR_FORMULA,
    dsum,
    dsum_over,
    sql_dsum,
    sql_quantize,
)
from pandrs_spark.operators.util import small_local_df
from pandrs_spark.queries import query
from pandrs_spark.queries.timeseries import (
    _MONTHLY_REV_SQL,
    _OLS_RESID_SQL,
    _monthly_rev,
    _ols_resid,
)

# --- q543: Theil-Sen slope of monthly revenue — the median of all
# pairwise slopes (y_j − y_i)/(t_j − t_i), robust to the outlier
# months that bias q127's least-squares trend (reference trend surface:
# src/stats/regression/mod.rs). The pair set is the ~80-month calendar
# spine squared (~3k rows, bounded by the observation calendar, never
# data-sized); the month index comes from months_between against the
# scalar first month (broadcast carry), so no window is needed at all.
# Intercept = median(y_i − slope·t_i), the classic Theil-Sen companion. --------
@query(
    "q543_theil_sen_monthly_slope",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    fst AS (SELECT MIN(mth) AS m0 FROM monthly),
    d AS MATERIALIZED (
        SELECT CAST(datediff('month', fst.m0, monthly.mth) AS DOUBLE) AS t,
               monthly.rev AS y
        FROM monthly, fst
    ),
    slopes AS (
        SELECT (b.y - a.y) / (b.t - a.t) AS s
        FROM d a JOIN d b ON b.t > a.t
    ),
    sen AS (SELECT quantile_cont(s, 0.5) AS slope FROM slopes),
    icpt AS (
        SELECT quantile_cont(d.y - sen.slope * d.t, 0.5) AS b0
        FROM d, sen
        GROUP BY sen.slope
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_months,
           CAST({sql_quantize('sen.slope', 8)} AS DOUBLE) / 1e8 AS sen_slope,
           CAST({sql_quantize('icpt.b0', 6)} AS DOUBLE) / 1e6 AS sen_intercept
    FROM sen, icpt
    """,
)
def q543(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    fst = monthly.agg(F.min("mth").alias("m0"))
    d = tracked_persist(
        monthly.crossJoin(F.broadcast(fst)).select(
            F.months_between("mth", "m0").alias("t"), F.col("rev").alias("y")
        )
    )
    b = d.select(F.col("t").alias("t2"), F.col("y").alias("y2"))
    slopes = d.join(b, F.col("t2") > F.col("t")).select(
        ((F.col("y2") - F.col("y")) / (F.col("t2") - F.col("t"))).alias("s")
    )
    sen = slopes.agg(F.expr("percentile(s, 0.5)").alias("slope"))
    icpt = (
        d.crossJoin(F.broadcast(sen))
        .groupBy("slope")
        .agg(
            F.expr("percentile(y - slope * t, 0.5)").alias("b0"),
            F.count(F.lit(1)).cast("long").alias("n_months"),
        )
    )
    return icpt.select(
        "n_months",
        (quantize("slope", 8) / 1e8).alias("sen_slope"),
        (quantize("b0", 6) / 1e6).alias("sen_intercept"),
    )


# --- q544: historical Value-at-Risk and CVaR (expected shortfall) of
# the daily-revenue log-return series: VaR95 = the 5% quantile of
# r_t = ln(rev_t / rev_{t−1}); CVaR95 = the mean of the k = ⌊0.05·n⌋
# WORST returns, selected by rank (not by threshold comparison, so a
# last-ulp disagreement in ln() between engines cannot flip set
# membership). Daily series and its return ranks are bounded by the
# observation calendar (q48 argument); consecutive days pair by an
# equi-join on the day index (q486 pattern). -----------------------------------
@query(
    "q544_var_cvar_daily_returns",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT l_shipdate AS d,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / 1e6 AS rev
        FROM lineitem GROUP BY d
    ),
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS x, rev FROM daily
    ),
    ret AS MATERIALIZED (
        SELECT LN(b.rev / a.rev) AS r, b.x
        FROM idx a JOIN idx b ON b.x = a.x + 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(FLOOR(0.05 * COUNT(*)) AS BIGINT) AS k FROM ret),
    var95 AS (SELECT quantile_cont(r, 0.05) AS v FROM ret),
    worst AS (
        SELECT r FROM (
            SELECT r, ROW_NUMBER() OVER (ORDER BY r ASC, x ASC) AS rk
            FROM ret
        ) q, n WHERE q.rk <= n.k
    ),
    cv AS (
        SELECT CAST(SUM({sql_quantize('r', 9)}) AS DOUBLE) / 1e9
                   / (SELECT k FROM n) AS es
        FROM worst
    )
    SELECT n.n AS n_returns, n.k AS k_tail,
           CAST({sql_quantize('var95.v', 6)} AS DOUBLE) / 1e6 AS var_95,
           CAST({sql_quantize('cv.es', 6)} AS DOUBLE) / 1e6 AS cvar_95
    FROM n, var95, cv
    """,
)
def q544(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        (dsum("l_extendedprice", 2) / 1e6).alias("rev")
    )
    w_ord = Window.orderBy("d")
    idx = daily.select(F.row_number().over(w_ord).alias("x"), "rev")
    nxt = idx.select((F.col("x") - 1).alias("x"), F.col("rev").alias("rev2"))
    ret = tracked_persist(
        idx.join(nxt, "x").select(
            F.log(F.col("rev2") / F.col("rev")).alias("r"), (F.col("x") + 1).alias("x")
        )
    )
    n = ret.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.floor(0.05 * F.count(F.lit(1))).cast("long").alias("k"),
    )
    var95 = ret.agg(F.expr("percentile(r, 0.05)").alias("v"))
    w_rk = Window.orderBy(F.col("r").asc(), F.col("x").asc())
    ranked = ret.select("r", F.row_number().over(w_rk).alias("rk"))
    worst = ranked.crossJoin(F.broadcast(n)).where(F.col("rk") <= F.col("k"))
    cv = worst.groupBy("n", "k").agg((dsum("r", 9) / F.first("k")).alias("es"))
    j = cv.crossJoin(F.broadcast(var95))
    return j.select(
        F.col("n").alias("n_returns"),
        F.col("k").alias("k_tail"),
        (quantize("v", 6) / 1e6).alias("var_95"),
        (quantize("es", 6) / 1e6).alias("cvar_95"),
    )


_MONTHLY_JOINT_SQL = f"""
    mrev AS MATERIALIZED (
        SELECT date_trunc('month', l_shipdate) AS mth,
               CAST(SUM({sql_quantize('l_extendedprice', 2)}) AS DOUBLE)
                   / 100.0 / 1e6 AS rev
        FROM lineitem GROUP BY mth
    ),
    mcnt AS MATERIALIZED (
        SELECT date_trunc('month', o_orderdate) AS mth,
               CAST(COUNT(*) AS DOUBLE) / 1e3 AS cnt
        FROM orders GROUP BY mth
    ),
    joint AS MATERIALIZED (
        SELECT r.mth, r.rev, c.cnt,
               ROW_NUMBER() OVER (ORDER BY r.mth) AS x
        FROM mrev r JOIN mcnt c ON c.mth = r.mth
    )
"""


def _monthly_joint(spark, sf_dir):
    """Joint (monthly revenue, monthly order count) calendar spine with
    a month index — the shared bivariate series behind the
    Granger/CCF/lead-lag tier. Revenue in 1e6 units, counts in 1e3
    units so every second moment stays inside the 1e-9 quantization
    envelope."""
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    mrev = li.groupBy(F.date_trunc("month", "l_shipdate").alias("mth")).agg(
        (dsum("l_extendedprice", 2) / 1e6).alias("rev")
    )
    mcnt = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("mth")).agg(
        (F.count(F.lit(1)).cast("double") / 1e3).alias("cnt")
    )
    joint = mrev.join(mcnt, "mth")
    w_ord = Window.orderBy("mth")
    return joint.select(
        "mth", "rev", "cnt", F.row_number().over(w_ord).alias("x")
    )


# --- q549: Granger causality (lag-1) of monthly order count on
# monthly revenue: compare RSS of the restricted AR(1) model
# rev_t ~ rev_{t−1} against the unrestricted rev_t ~ rev_{t−1} +
# cnt_{t−1}; F = (RSS_r − RSS_u)/(RSS_u/(n−3)). Two-regressor OLS in
# closed form from centered moment sums (2×2 normal equations), all
# moments exact quantized sums over the ~80-month spine. ------------------------
@query(
    "q549_granger_orders_to_revenue",
    oracle=f"""
    WITH {_MONTHLY_JOINT_SQL},
    pairs AS MATERIALIZED (
        SELECT b.rev AS y, a.rev AS u, a.cnt AS v
        FROM joint a JOIN joint b ON b.x = a.x + 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('y', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('u', 6)}) AS DOUBLE) / 1e6 AS su,
               CAST(SUM({sql_quantize('v', 6)}) AS DOUBLE) / 1e6 AS sv,
               CAST(SUM({sql_quantize('y * y', 9)}) AS DOUBLE) / 1e9 AS syy,
               CAST(SUM({sql_quantize('u * u', 9)}) AS DOUBLE) / 1e9 AS suu,
               CAST(SUM({sql_quantize('v * v', 9)}) AS DOUBLE) / 1e9 AS svv,
               CAST(SUM({sql_quantize('u * y', 9)}) AS DOUBLE) / 1e9 AS suy,
               CAST(SUM({sql_quantize('v * y', 9)}) AS DOUBLE) / 1e9 AS svy,
               CAST(SUM({sql_quantize('u * v', 9)}) AS DOUBLE) / 1e9 AS suv
        FROM pairs
    ),
    c AS (
        SELECT n,
               syy - sy * sy / n AS cyy,
               suu - su * su / n AS cuu,
               svv - sv * sv / n AS cvv,
               suy - su * sy / n AS cuy,
               svy - sv * sy / n AS cvy,
               suv - su * sv / n AS cuv
        FROM s
    ),
    fit AS (
        SELECT n,
               cyy - cuy * cuy / cuu AS rss_r,
               cyy - ((cvv * cuy - cuv * cvy) / (cuu * cvv - cuv * cuv)) * cuy
                   - ((cuu * cvy - cuv * cuy) / (cuu * cvv - cuv * cuv)) * cvy
                   AS rss_u,
               (cuu * cvy - cuv * cuy) / (cuu * cvv - cuv * cuv) AS b_cnt
        FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           CAST({sql_quantize('b_cnt', 6)} AS DOUBLE) / 1e6 AS beta_cnt,
           CAST({sql_quantize('(rss_r - rss_u) / (rss_u / (n - 3))', 6)}
                AS DOUBLE) / 1e6 AS f_granger
    FROM fit
    """,
)
def q549(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    joint = tracked_persist(_monthly_joint(spark, sf_dir))
    prev = joint.select(
        (F.col("x") + 1).alias("x"), F.col("rev").alias("u"), F.col("cnt").alias("v")
    )
    pairs = joint.select("x", F.col("rev").alias("y")).join(prev, "x")
    s = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("y", 6).alias("sy"),
        dsum("u", 6).alias("su"),
        dsum("v", 6).alias("sv"),
        dsum(F.col("y") * F.col("y"), 9).alias("syy"),
        dsum(F.col("u") * F.col("u"), 9).alias("suu"),
        dsum(F.col("v") * F.col("v"), 9).alias("svv"),
        dsum(F.col("u") * F.col("y"), 9).alias("suy"),
        dsum(F.col("v") * F.col("y"), 9).alias("svy"),
        dsum(F.col("u") * F.col("v"), 9).alias("suv"),
    )
    c = s.selectExpr(
        "n",
        "syy - sy * sy / n AS cyy",
        "suu - su * su / n AS cuu",
        "svv - sv * sv / n AS cvv",
        "suy - su * sy / n AS cuy",
        "svy - sv * sy / n AS cvy",
        "suv - su * sv / n AS cuv",
    )
    fit = c.selectExpr(
        "n",
        "cyy - cuy * cuy / cuu AS rss_r",
        "cyy - ((cvv * cuy - cuv * cvy) / (cuu * cvv - cuv * cuv)) * cuy"
        " - ((cuu * cvy - cuv * cuy) / (cuu * cvv - cuv * cuv)) * cvy AS rss_u",
        "(cuu * cvy - cuv * cuy) / (cuu * cvv - cuv * cuv) AS b_cnt",
    )
    return fit.select(
        F.col("n").cast("long").alias("n_obs"),
        (quantize("b_cnt", 6) / 1e6).alias("beta_cnt"),
        (
            quantize(
                (F.col("rss_r") - F.col("rss_u")) / (F.col("rss_u") / (F.col("n") - 3)),
                6,
            )
            / 1e6
        ).alias("f_granger"),
    )


# --- q550: cross-correlation function between monthly order count and
# monthly revenue at lags −3..+3 — the lead-lag screen that motivates
# q549's Granger F (reference correlation surface: src/stats/mod.rs).
# The 7-lag fan-out is a fixed literal explode (never data-sized);
# each lag's Pearson r comes from exact quantized sums via the shared
# CORR_FORMULA text, parsed identically by both engines. ------------------------
@query(
    "q550_cross_correlation_lags",
    oracle=f"""
    WITH {_MONTHLY_JOINT_SQL},
    lagged AS MATERIALIZED (
        SELECT l.lag, a.cnt AS xv, b.rev AS yv
        FROM joint a
        CROSS JOIN (SELECT UNNEST([-3, -2, -1, 0, 1, 2, 3]) AS lag) l
        JOIN joint b ON b.x = a.x + l.lag
    ),
    s AS (
        SELECT lag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('xv', 6)}) AS DOUBLE) / 1e6 AS sx,
               CAST(SUM({sql_quantize('yv', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('xv * xv', 9)}) AS DOUBLE) / 1e9 AS sxx,
               CAST(SUM({sql_quantize('yv * yv', 9)}) AS DOUBLE) / 1e9 AS syy,
               CAST(SUM({sql_quantize('xv * yv', 9)}) AS DOUBLE) / 1e9 AS sxy
        FROM lagged GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           CAST(CAST(SIGN(r) * FLOOR(ABS(r) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS ccf
    FROM (
        SELECT lag, n,
               {CORR_FORMULA.format(n='n', sx='sx', sy='sy',
                                    sxx='sxx', syy='syy', sxy='sxy')} AS r
        FROM s
    )
    ORDER BY lag
    """,
)
def q550(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    joint = tracked_persist(_monthly_joint(spark, sf_dir))
    lags = F.explode(F.array(*[F.lit(v) for v in range(-3, 4)])).alias("lag")
    a = joint.select(F.col("x"), F.col("cnt").alias("xv"), lags)
    b = joint.select((F.col("x")).alias("xb"), F.col("rev").alias("yv"))
    lagged = a.withColumn("xk", F.col("x") + F.col("lag")).join(
        b, F.col("xb") == F.col("xk")
    )
    s = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("xv", 6).alias("sx"),
        dsum("yv", 6).alias("sy"),
        dsum(F.col("xv") * F.col("xv"), 9).alias("sxx"),
        dsum(F.col("yv") * F.col("yv"), 9).alias("syy"),
        dsum(F.col("xv") * F.col("yv"), 9).alias("sxy"),
    )
    r = s.selectExpr(
        "lag",
        "n",
        CORR_FORMULA.format(n="n", sx="sx", sy="sy", sxx="sxx", syy="syy", sxy="sxy")
        + " AS r",
    )
    return r.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        (quantize("r", 6) / 1e6).alias("ccf"),
    ).orderBy("lag")


# --- q551: Lo-MacKinlay variance-ratio test VR(5) on daily-revenue
# log returns — the random-walk diagnostic: VR(q) = σ̂²_q/(q·σ̂²_1)
# with σ̂²_q from overlapping q-period returns (rolling 5-sum over the
# daily calendar spine, bounded) and the homoscedastic normal score
# z = (VR−1)/sqrt(2(2q−1)(q−1)/(3qn)). Lo & MacKinlay (1988) — public
# methodology; all sums exact-quantized. ----------------------------------------
@query(
    "q551_variance_ratio_rw_test",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT l_shipdate AS d,
               CAST(SUM({sql_quantize('l_extendedprice', 2)}) AS DOUBLE)
                   / 100.0 / 1e6 AS rev
        FROM lineitem GROUP BY d
    ),
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS x, rev FROM daily
    ),
    ret AS MATERIALIZED (
        SELECT b.x, LN(b.rev / a.rev) AS r
        FROM idx a JOIN idx b ON b.x = a.x + 1
    ),
    mu AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('r', 9)}) AS DOUBLE) / 1e9
                   / COUNT(*) AS m
        FROM ret
    ),
    rq AS MATERIALIZED (
        SELECT x, SUM(r) OVER (ORDER BY x
                               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s5,
               COUNT(*) OVER (ORDER BY x
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS w
        FROM ret
    ),
    s1 AS (
        SELECT CAST(SUM({sql_quantize('(ret.r - mu.m) * (ret.r - mu.m)', 12)})
                    AS DOUBLE) / 1e12 AS ss1
        FROM ret, mu
    ),
    sq AS (
        SELECT CAST(SUM({sql_quantize(
                   '(rq.s5 - 5 * mu.m) * (rq.s5 - 5 * mu.m)', 12)})
                    AS DOUBLE) / 1e12 AS ssq
        FROM rq, mu WHERE rq.w = 5
    ),
    vr AS (
        SELECT mu.n,
               (sq.ssq / (5.0 * (mu.n - 5 + 1) * (1 - 5.0 / mu.n)))
                   / (5.0 * (s1.ss1 / (mu.n - 1))) AS v
        FROM mu, s1, sq
    )
    SELECT CAST(n AS BIGINT) AS n_returns,
           CAST({sql_quantize('v', 6)} AS DOUBLE) / 1e6 AS vr_5,
           CAST({sql_quantize(
               '(v - 1) / SQRT(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * n))',
               6)} AS DOUBLE) / 1e6 AS z_vr
    FROM vr
    """,
)
def q551(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        (dsum("l_extendedprice", 2) / 1e6).alias("rev")
    )
    w_ord = Window.orderBy("d")
    idx = daily.select(F.row_number().over(w_ord).alias("x"), "rev")
    nxt = idx.select((F.col("x") - 1).alias("x"), F.col("rev").alias("rev2"))
    ret = tracked_persist(
        idx.join(nxt, "x").select(
            (F.col("x") + 1).alias("x"), F.log(F.col("rev2") / F.col("rev")).alias("r")
        )
    )
    mu = ret.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (dsum("r", 9) / F.count(F.lit(1))).alias("m"),
    )
    w5 = Window.orderBy("x").rowsBetween(-4, 0)
    rq = ret.select(
        "x", F.sum("r").over(w5).alias("s5"), F.count(F.lit(1)).over(w5).alias("w")
    )
    s1 = ret.crossJoin(F.broadcast(mu)).agg(
        dsum((F.col("r") - F.col("m")) * (F.col("r") - F.col("m")), 12).alias("ss1")
    )
    sq = (
        rq.where(F.col("w") == 5)
        .crossJoin(F.broadcast(mu))
        .agg(
            dsum(
                (F.col("s5") - 5 * F.col("m")) * (F.col("s5") - 5 * F.col("m")), 12
            ).alias("ssq")
        )
    )
    vr = (
        mu.crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(sq))
        .selectExpr(
            "n",
            "(ssq / (5.0 * (n - 5 + 1) * (1 - 5.0 / n)))"
            " / (5.0 * (ss1 / (n - 1))) AS v",
        )
    )
    return vr.select(
        F.col("n").cast("long").alias("n_returns"),
        (quantize("v", 6) / 1e6).alias("vr_5"),
        (
            quantize(
                (F.col("v") - 1)
                / F.sqrt(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * F.col("n"))),
                6,
            )
            / 1e6
        ).alias("z_vr"),
    )


# --- q552: Engle's ARCH LM test (lag 1) on the monthly-trend OLS
# residuals — regress e_t² on e_{t−1}²; LM = n·R² where R² = corr² for
# the single-regressor case. Completes the residual-diagnostic trio
# with q486 (serial correlation) and q489 (heteroscedasticity in the
# mean regressor); pairs join on the month index (q486 pattern). ----------------
@query(
    "q552_arch_lm_residuals",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    {_OLS_RESID_SQL},
    rawp AS MATERIALIZED (
        SELECT b.e * b.e AS w, a.e * a.e AS wl
        FROM resid a JOIN resid b ON b.x = a.x + 1
    ),
    mw AS (
        -- data-derived normalizer: mean squared residual, from the
        -- same quantized sum both engines fold. corr (and so the LM
        -- statistic n*corr^2) is invariant under the rescale, and the
        -- normalized w is O(1) at EVERY SF — raw w*w at scale 12
        -- overflowed int64 at sf0.1 (round 11 second-SF gate)
        SELECT CAST(SUM({sql_quantize('w', 6)}) AS DOUBLE) / 1e6
               / COUNT(*) AS m
        FROM rawp
    ),
    pairs AS MATERIALIZED (
        SELECT w / mw.m AS w, wl / mw.m AS wl FROM rawp, mw
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('w', 9)}) AS DOUBLE) / 1e9 AS sx,
               CAST(SUM({sql_quantize('wl', 9)}) AS DOUBLE) / 1e9 AS sy,
               CAST(SUM({sql_quantize('w * w', 12)}) AS DOUBLE) / 1e12 AS sxx,
               CAST(SUM({sql_quantize('wl * wl', 12)}) AS DOUBLE) / 1e12 AS syy,
               CAST(SUM({sql_quantize('w * wl', 12)}) AS DOUBLE) / 1e12 AS sxy
        FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           CAST(CAST(SIGN(lm) * FLOOR(ABS(lm) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS arch_lm
    FROM (
        SELECT n,
               n * ({CORR_FORMULA.format(n='n', sx='sx', sy='sy',
                                          sxx='sxx', syy='syy', sxy='sxy')})
                 * ({CORR_FORMULA.format(n='n', sx='sx', sy='sy',
                                          sxx='sxx', syy='syy', sxy='sxy')})
                 AS lm
        FROM s
    )
    """,
)
def q552(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    resid = tracked_persist(_ols_resid(spark, sf_dir))
    prev = resid.select(
        (F.col("x") + 1).alias("x"), (F.col("e") * F.col("e")).alias("wl")
    )
    rawp = tracked_persist(
        resid.select("x", (F.col("e") * F.col("e")).alias("w")).join(
            prev, "x"
        )
    )
    # normalize by the mean squared residual (quantized-sum mean, so
    # both engines divide by the identical double) — corr/LM invariant,
    # and w stays O(1) at every SF (see oracle comment)
    mw = rawp.agg((dsum("w", 6) / F.count(F.lit(1))).alias("m"))
    pairs = rawp.crossJoin(F.broadcast(mw)).select(
        (F.col("w") / F.col("m")).alias("w"),
        (F.col("wl") / F.col("m")).alias("wl"),
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("w", 9).alias("sx"),
        dsum("wl", 9).alias("sy"),
        dsum(F.col("w") * F.col("w"), 12).alias("sxx"),
        dsum(F.col("wl") * F.col("wl"), 12).alias("syy"),
        dsum(F.col("w") * F.col("wl"), 12).alias("sxy"),
    )
    corr = CORR_FORMULA.format(n="n", sx="sx", sy="sy", sxx="sxx", syy="syy", sxy="sxy")
    lm = s.selectExpr("n", f"n * ({corr}) * ({corr}) AS lm")
    return lm.select(
        F.col("n").cast("long").alias("n_obs"),
        (quantize("lm", 6) / 1e6).alias("arch_lm"),
    )


# --- q553: Cox-Stuart trend test on monthly revenue — pair each of
# the first ⌊n/2⌋ months with its month ⌈n/2⌉ later, count rises vs
# falls (ties dropped), z = (n⁺ − m/2)/sqrt(m/4). The sign-based,
# distribution-free cousin of q532's seasonal Mann-Kendall; the pair
# offset is a scalar carry over the month index, and the whole
# statistic is integer counting — no float path at all. -------------------------
@query(
    "q553_cox_stuart_trend",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(FLOOR(COUNT(*) / 2.0) AS BIGINT) AS m,
               CAST(COUNT(*) - FLOOR(COUNT(*) / 2.0) AS BIGINT) AS c
        FROM idx
    ),
    pairs AS (
        SELECT CASE WHEN b.rev > a.rev THEN 1 ELSE 0 END AS pos,
               CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END AS neg
        FROM idx a CROSS JOIN nn
        JOIN idx b ON b.x = a.x + nn.c
        WHERE a.x <= nn.m
    ),
    cnt AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(neg) AS BIGINT) AS n_neg
        FROM pairs
    )
    SELECT nn.n AS n_months, cnt.n_pos, cnt.n_neg,
           CAST({sql_quantize(
               '(cnt.n_pos - (cnt.n_pos + cnt.n_neg) / 2.0)'
               ' / SQRT((cnt.n_pos + cnt.n_neg) / 4.0)', 6)}
               AS DOUBLE) / 1e6 AS cs_z
    FROM nn, cnt
    """,
)
def q553(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    idx = tracked_persist(
        monthly.select(F.row_number().over(w_ord).alias("x"), "rev")
    )
    nn = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.count(F.lit(1)) / 2).cast("long").alias("m"),
        (F.count(F.lit(1)) - (F.count(F.lit(1)) / 2).cast("long"))
        .cast("long")
        .alias("c"),
    )
    a = (
        idx.crossJoin(F.broadcast(nn))
        .where(F.col("x") <= F.col("m"))
        .select((F.col("x") + F.col("c")).alias("xk"), F.col("rev").alias("ra"), "n")
    )
    b = idx.select(F.col("x").alias("xk"), F.col("rev").alias("rb"))
    pairs = a.join(b, "xk")
    cnt = pairs.groupBy("n").agg(
        F.sum(F.when(F.col("rb") > F.col("ra"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("rb") < F.col("ra"), 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
    )
    return cnt.select(
        F.col("n").alias("n_months"),
        "n_pos",
        "n_neg",
        (
            quantize(
                (F.col("n_pos") - (F.col("n_pos") + F.col("n_neg")) / 2.0)
                / F.sqrt((F.col("n_pos") + F.col("n_neg")) / 4.0),
                6,
            )
            / 1e6
        ).alias("cs_z"),
    )


_BRAND_CELLS_SQL = f"""
    cells AS MATERIALIZED (
        SELECT date_trunc('month', l.l_shipdate) AS mth, p.p_brand AS brand,
               CAST(SUM({sql_quantize('l.l_extendedprice', 2)}) AS DOUBLE)
                   / 100.0 / 1e3
                 / (CAST(SUM({sql_quantize('l.l_quantity', 2)}) AS DOUBLE)
                    / 100.0) AS p,
               CAST(SUM({sql_quantize('l.l_quantity', 2)}) AS DOUBLE)
                   / 100.0 / 1e3 AS q
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY mth, brand
    ),
    base AS MATERIALIZED (
        SELECT brand, p AS p0, q AS q0 FROM cells
        WHERE mth = (SELECT MIN(mth) FROM cells)
    )
"""


def _brand_cells(spark, sf_dir):
    """(month, brand) unit-value price p (thousands) and quantity q
    (thousands) cells — the bounded 25-brand basket behind the price-
    index tier (q478's Laspeyres, q555's Paasche/Fisher, q556's
    Törnqvist). One fact-table aggregate; everything downstream is
    brand×month sized."""
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.date_trunc("month", "l_shipdate").alias("mth"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            ((dsum("l_extendedprice", 2) / 1e3) / dsum("l_quantity", 2)).alias("p"),
            (dsum("l_quantity", 2) / 1e3).alias("q"),
        )
    )


# --- q555: Paasche and Fisher-ideal price indexes per month over the
# 25-brand basket — completing the index-number family around q478's
# chained Laspeyres: L_t = Σp_t q_0/Σp_0 q_0 (base-weighted),
# P_t = Σp_t q_t/Σp_0 q_t (current-weighted), F_t = sqrt(L_t·P_t).
# Cells are brand×month bounded; the base basket joins by brand
# (broadcast-sized); per-month sums quantize each product term. ----------------
@query(
    "q555_paasche_fisher_index",
    oracle=f"""
    WITH {_BRAND_CELLS_SQL},
    m AS (
        SELECT c.mth,
               CAST(SUM({sql_quantize('c.p * b.q0', 9)}) AS DOUBLE) / 1e9 AS ptq0,
               CAST(SUM({sql_quantize('b.p0 * b.q0', 9)}) AS DOUBLE) / 1e9 AS p0q0,
               CAST(SUM({sql_quantize('c.p * c.q', 9)}) AS DOUBLE) / 1e9 AS ptqt,
               CAST(SUM({sql_quantize('b.p0 * c.q', 9)}) AS DOUBLE) / 1e9 AS p0qt
        FROM cells c JOIN base b ON b.brand = c.brand
        GROUP BY c.mth
    )
    SELECT mth,
           CAST({sql_quantize('ptq0 / p0q0', 6)} AS DOUBLE) / 1e6 AS laspeyres,
           CAST({sql_quantize('ptqt / p0qt', 6)} AS DOUBLE) / 1e6 AS paasche,
           CAST({sql_quantize('SQRT((ptq0 / p0q0) * (ptqt / p0qt))', 6)}
                AS DOUBLE) / 1e6 AS fisher
    FROM m
    ORDER BY mth
    """,
)
def q555(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    cells = tracked_persist(_brand_cells(spark, sf_dir))
    m0 = cells.agg(F.min("mth").alias("m0"))
    base = (
        cells.crossJoin(F.broadcast(m0))
        .where(F.col("mth") == F.col("m0"))
        .select("brand", F.col("p").alias("p0"), F.col("q").alias("q0"))
    )
    j = cells.join(F.broadcast(base), "brand")
    m = j.groupBy("mth").agg(
        dsum(F.col("p") * F.col("q0"), 9).alias("ptq0"),
        dsum(F.col("p0") * F.col("q0"), 9).alias("p0q0"),
        dsum(F.col("p") * F.col("q"), 9).alias("ptqt"),
        dsum(F.col("p0") * F.col("q"), 9).alias("p0qt"),
    )
    return m.select(
        "mth",
        (quantize(F.col("ptq0") / F.col("p0q0"), 6) / 1e6).alias("laspeyres"),
        (quantize(F.col("ptqt") / F.col("p0qt"), 6) / 1e6).alias("paasche"),
        (
            quantize(
                F.sqrt((F.col("ptq0") / F.col("p0q0")) * (F.col("ptqt") / F.col("p0qt"))),
                6,
            )
            / 1e6
        ).alias("fisher"),
    ).orderBy("mth")


# --- q556: Törnqvist price index per month — the superlative
# share-weighted geometric form: ln T_t = Σ_b ½(w_0b + w_tb)·ln(p_tb/p_0b)
# with w the within-month revenue shares. Pairs with q555: Fisher and
# Törnqvist should track each other closely (both superlative), a
# cross-check the oracle enforces value-exactly. --------------------------------
@query(
    "q556_tornqvist_index",
    oracle=f"""
    WITH {_BRAND_CELLS_SQL},
    shares AS MATERIALIZED (
        SELECT mth, brand, p,
               p * q / SUM(p * q) OVER (PARTITION BY mth) AS w
        FROM cells
    ),
    w0 AS MATERIALIZED (
        SELECT brand, p AS p0, w AS w0 FROM shares
        WHERE mth = (SELECT MIN(mth) FROM shares)
    ),
    t AS (
        SELECT s.mth,
               CAST(SUM({sql_quantize(
                   '0.5 * (w0.w0 + s.w) * LN(s.p / w0.p0)', 12)})
                    AS DOUBLE) / 1e12 AS lnt
        FROM shares s JOIN w0 ON w0.brand = s.brand
        GROUP BY s.mth
    )
    SELECT mth,
           CAST({sql_quantize('EXP(lnt)', 6)} AS DOUBLE) / 1e6 AS tornqvist
    FROM t
    ORDER BY mth
    """,
)
def q556(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    cells = _brand_cells(spark, sf_dir)
    w_m = Window.partitionBy("mth")
    shares = tracked_persist(
        cells.select(
            "mth",
            "brand",
            "p",
            ((F.col("p") * F.col("q")) / F.sum(F.col("p") * F.col("q")).over(w_m)).alias(
                "w"
            ),
        )
    )
    m0 = shares.agg(F.min("mth").alias("m0"))
    w0 = (
        shares.crossJoin(F.broadcast(m0))
        .where(F.col("mth") == F.col("m0"))
        .select("brand", F.col("p").alias("p0"), F.col("w").alias("w0"))
    )
    t = (
        shares.join(F.broadcast(w0), "brand")
        .groupBy("mth")
        .agg(
            dsum(
                0.5 * (F.col("w0") + F.col("w")) * F.log(F.col("p") / F.col("p0")), 12
            ).alias("lnt")
        )
    )
    return t.select(
        "mth", (quantize(F.exp("lnt"), 6) / 1e6).alias("tornqvist")
    ).orderBy("mth")


# --- q561: sample entropy SampEn(m=2, r=0.2σ) of monthly revenue —
# the regularity measure (Richman & Moorman 2000, public methodology):
# B = #template pairs of length 2 within Chebyshev distance r,
# A = same for length 3, SampEn = −ln(A/B). The pair set is the
# ~80-month spine squared (bounded); r comes from the exact-moment σ
# (IEEE sqrt, engine-identical), so match counting is pure integer
# arithmetic — no float sums at all. --------------------------------------------
@query(
    "q561_sample_entropy_monthly",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    trip AS MATERIALIZED (
        SELECT a.x, a.rev AS v, b.rev AS v1, c.rev AS v2
        FROM idx a JOIN idx b ON b.x = a.x + 1
                   JOIN idx c ON c.x = a.x + 2
    ),
    rr AS (
        SELECT 0.2 * SQRT((
                   CAST(SUM({sql_quantize('rev * rev', 9)}) AS DOUBLE) / 1e9
                   - CAST(SUM({sql_quantize('rev', 6)}) AS DOUBLE) / 1e6
                     * (CAST(SUM({sql_quantize('rev', 6)}) AS DOUBLE) / 1e6)
                     / COUNT(*)
               ) / (COUNT(*) - 1)) AS r
        FROM idx
    ),
    cnts AS (
        SELECT CAST(SUM(CASE WHEN GREATEST(ABS(a.v - b.v), ABS(a.v1 - b.v1))
                                  < rr.r THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN GREATEST(ABS(a.v - b.v), ABS(a.v1 - b.v1),
                                           ABS(a.v2 - b.v2))
                                  < rr.r THEN 1 ELSE 0 END) AS BIGINT) AS a
        FROM trip a CROSS JOIN rr JOIN trip b ON b.x > a.x
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM idx) AS n_months,
           cnts.a AS n_match_3, cnts.b AS n_match_2,
           CAST({sql_quantize(
               '-LN(CAST(cnts.a AS DOUBLE) / cnts.b)', 6)} AS DOUBLE) / 1e6
               AS sampen
    FROM cnts
    """,
)
def q561(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    idx = tracked_persist(
        monthly.select(F.row_number().over(w_ord).alias("x"), "rev")
    )
    b1 = idx.select((F.col("x") - 1).alias("x"), F.col("rev").alias("v1"))
    b2 = idx.select((F.col("x") - 2).alias("x"), F.col("rev").alias("v2"))
    trip = tracked_persist(
        idx.select("x", F.col("rev").alias("v")).join(b1, "x").join(b2, "x")
    )
    rr = idx.agg(
        (
            0.2
            * F.sqrt(
                (
                    dsum(F.col("rev") * F.col("rev"), 9)
                    - dsum("rev", 6)
                    * dsum("rev", 6)
                    / F.count(F.lit(1))
                )
                / (F.count(F.lit(1)) - 1)
            )
        ).alias("r"),
        F.count(F.lit(1)).cast("long").alias("n_months"),
    )
    b = trip.select(
        F.col("x").alias("xb"),
        F.col("v").alias("bv"),
        F.col("v1").alias("bv1"),
        F.col("v2").alias("bv2"),
    )
    # broadcast the bounded (~80-row) template side: non-equi pair joins
    # otherwise compile to CartesianProduct (the q533 lesson)
    pairs = trip.crossJoin(F.broadcast(rr)).join(
        F.broadcast(b), F.col("xb") > F.col("x")
    )
    d2 = F.greatest(F.abs(F.col("v") - F.col("bv")), F.abs(F.col("v1") - F.col("bv1")))
    d3 = F.greatest(d2, F.abs(F.col("v2") - F.col("bv2")))
    cnts = pairs.groupBy("n_months").agg(
        F.sum(F.when(d2 < F.col("r"), 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(d3 < F.col("r"), 1).otherwise(0)).cast("long").alias("a"),
    )
    return cnts.select(
        "n_months",
        F.col("a").alias("n_match_3"),
        F.col("b").alias("n_match_2"),
        (
            quantize(-F.log(F.col("a").cast("double") / F.col("b")), 6) / 1e6
        ).alias("sampen"),
    )


# --- q562: permutation entropy (order 3) of monthly revenue — the
# ordinal-pattern complexity measure (Bandt & Pompe 2002, public
# methodology): each consecutive triple maps to the code
# 4·[v1>v] + 2·[v2>v] + [v2>v1] (ties collapse downward,
# deterministically); H = −Σ p ln p over the ≤8 observed codes,
# normalized by ln 6. Pattern counting is pure integers over the
# calendar spine. ----------------------------------------------------------------
@query(
    "q562_permutation_entropy_monthly",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    codes AS MATERIALIZED (
        SELECT 4 * (CASE WHEN b.rev > a.rev THEN 1 ELSE 0 END)
             + 2 * (CASE WHEN c.rev > a.rev THEN 1 ELSE 0 END)
             + (CASE WHEN c.rev > b.rev THEN 1 ELSE 0 END) AS code
        FROM idx a JOIN idx b ON b.x = a.x + 1
                   JOIN idx c ON c.x = a.x + 2
    ),
    dist AS MATERIALIZED (
        SELECT code, CAST(COUNT(*) AS DOUBLE) AS c FROM codes GROUP BY code
    ),
    tot AS (SELECT SUM(c) AS t, CAST(COUNT(*) AS BIGINT) AS k FROM dist)
    SELECT tot.k AS n_patterns,
           CAST((SELECT SUM(CAST(c AS BIGINT)) FROM dist) AS BIGINT)
               AS n_triples,
           CAST({sql_quantize(
               '(SELECT CAST(SUM(CAST(SIGN(-(c / t.t) * LN(c / t.t)) '
               '* FLOOR(ABS(-(c / t.t) * LN(c / t.t)) * 1e12 + 0.5) '
               'AS BIGINT)) AS DOUBLE) / 1e12 '
               ' FROM dist, tot t) / LN(6.0)', 6)} AS DOUBLE) / 1e6
               AS pe_norm
    FROM tot
    """,
)
def q562(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    idx = tracked_persist(
        monthly.select(F.row_number().over(w_ord).alias("x"), "rev")
    )
    b1 = idx.select((F.col("x") - 1).alias("x"), F.col("rev").alias("v1"))
    b2 = idx.select((F.col("x") - 2).alias("x"), F.col("rev").alias("v2"))
    codes = (
        idx.select("x", F.col("rev").alias("v"))
        .join(b1, "x")
        .join(b2, "x")
        .select(
            (
                4 * F.when(F.col("v1") > F.col("v"), 1).otherwise(0)
                + 2 * F.when(F.col("v2") > F.col("v"), 1).otherwise(0)
                + F.when(F.col("v2") > F.col("v1"), 1).otherwise(0)
            ).alias("code")
        )
    )
    dist = codes.groupBy("code").agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = dist.agg(
        F.sum("c").alias("t"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("c").cast("long").alias("n_triples"),
    )
    ent = dist.crossJoin(F.broadcast(tot)).agg(
        dsum(
            -(F.col("c") / F.col("t")) * F.log(F.col("c") / F.col("t")), 12
        ).alias("h"),
        F.first("k").alias("n_patterns"),
        F.first("n_triples").alias("n_triples"),
    )
    return ent.select(
        "n_patterns",
        "n_triples",
        (quantize(F.col("h") / F.log(F.lit(6.0)), 6) / 1e6).alias("pe_norm"),
    )


# --- q563: Lomb-Scargle periodogram of daily revenue at the weekly /
# monthly / quarterly candidate periods — the spectral estimator that
# stays valid when the sampling grid is irregular (ship-date gaps),
# unlike q117's evenly-spaced periodogram. Fixed 3-frequency grid
# (never data-sized); per-frequency τ phase from exact trig sums; both
# engines parse the SAME ω decimal literals so the arithmetic trees
# agree. Scargle 1982 — public methodology. -------------------------------------
@query(
    "q563_lomb_scargle_periods",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT l_shipdate AS d,
               CAST(SUM({sql_quantize('l_extendedprice', 2)}) AS DOUBLE)
                   / 100.0 / 1e6 AS rev
        FROM lineitem GROUP BY d
    ),
    t0 AS (SELECT MIN(d) AS d0,
                  CAST(SUM({sql_quantize('rev', 6)}) AS DOUBLE) / 1e6
                      / COUNT(*) AS mu
           FROM daily),
    pts AS MATERIALIZED (
        SELECT CAST(datediff('day', t0.d0, daily.d) AS DOUBLE) AS t,
               daily.rev - t0.mu AS xc
        FROM daily, t0
    ),
    freqs AS (
        SELECT * FROM (VALUES (7, 0.8975979010256552),
                              (30, 0.20943951023931953),
                              (91, 0.06904599238658886)) AS f(period, w)
    ),
    ph AS MATERIALIZED (
        SELECT f.period, f.w,
               ATAN2(CAST(SUM({sql_quantize('SIN(2 * f.w * p.t)', 12)})
                          AS DOUBLE) / 1e12,
                     CAST(SUM({sql_quantize('COS(2 * f.w * p.t)', 12)})
                          AS DOUBLE) / 1e12) / (2 * f.w) AS tau
        FROM pts p CROSS JOIN freqs f
        GROUP BY f.period, f.w
    ),
    pw AS (
        SELECT ph.period,
               0.5 * (
                 POWER(CAST(SUM({sql_quantize(
                     'p.xc * COS(ph.w * (p.t - ph.tau))', 12)})
                       AS DOUBLE) / 1e12, 2)
                 / (CAST(SUM({sql_quantize(
                     'COS(ph.w * (p.t - ph.tau)) * COS(ph.w * (p.t - ph.tau))',
                     12)}) AS DOUBLE) / 1e12)
                 +
                 POWER(CAST(SUM({sql_quantize(
                     'p.xc * SIN(ph.w * (p.t - ph.tau))', 12)})
                       AS DOUBLE) / 1e12, 2)
                 / (CAST(SUM({sql_quantize(
                     'SIN(ph.w * (p.t - ph.tau)) * SIN(ph.w * (p.t - ph.tau))',
                     12)}) AS DOUBLE) / 1e12)
               ) AS power
        FROM pts p CROSS JOIN ph
        GROUP BY ph.period
    )
    SELECT CAST(period AS BIGINT) AS period_days,
           CAST({sql_quantize('power', 5)} AS DOUBLE) / 1e5 AS ls_power
    FROM pw
    ORDER BY period_days
    """,
)
def q563(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        (dsum("l_extendedprice", 2) / 1e6).alias("rev")
    )
    t0 = daily.agg(
        F.min("d").alias("d0"),
        (dsum("rev", 6) / F.count(F.lit(1))).alias("mu"),
    )
    pts = tracked_persist(
        daily.crossJoin(F.broadcast(t0)).select(
            F.datediff("d", "d0").cast("double").alias("t"),
            (F.col("rev") - F.col("mu")).alias("xc"),
        )
    )
    freqs = small_local_df(
        spark, [(7, 0.8975979010256552), (30, 0.20943951023931953), (91, 0.06904599238658886)],
        "period int, w double",
    )
    ph = (
        pts.crossJoin(F.broadcast(freqs))
        .groupBy("period", "w")
        .agg(
            (
                F.atan2(
                    dsum(F.sin(2 * F.col("w") * F.col("t")), 12),
                    dsum(F.cos(2 * F.col("w") * F.col("t")), 12),
                )
                / (2 * F.col("w"))
            ).alias("tau")
        )
    )
    cosw = F.cos(F.col("w") * (F.col("t") - F.col("tau")))
    sinw = F.sin(F.col("w") * (F.col("t") - F.col("tau")))
    pw = (
        pts.crossJoin(F.broadcast(ph))
        .groupBy("period")
        .agg(
            (
                0.5
                * (
                    F.pow(
                        dsum(F.col("xc") * cosw, 12),
                        F.lit(2.0),
                    )
                    / dsum(cosw * cosw, 12)
                    + F.pow(
                        dsum(F.col("xc") * sinw, 12),
                        F.lit(2.0),
                    )
                    / dsum(sinw * sinw, 12)
                )
            ).alias("power")
        )
    )
    return pw.select(
        F.col("period").cast("long").alias("period_days"),
        (quantize("power", 5) / 1e5).alias("ls_power"),
    ).orderBy("period_days")


# --- q566: forecast tracking signal for the 12-month seasonal-naive
# forecast — the ops-monitoring statistic that flags biased forecasts:
# TS = Σe_t / MAD with e_t = actual − forecast and MAD = Σ|e_t|/n. The
# forecast is the month-spine 12-lag equi-join (q356 pattern); exact
# quantized error sums; |TS| > 4 is the classic alarm. ---------------------------
@query(
    "q566_forecast_tracking_signal",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    err AS MATERIALIZED (
        SELECT b.rev - a.rev AS e
        FROM idx a JOIN idx b ON b.x = a.x + 12
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('e', 6)}) AS DOUBLE) / 1e6 AS se,
               CAST(SUM({sql_quantize('ABS(e)', 6)}) AS DOUBLE) / 1e6 AS sae
        FROM err
    )
    SELECT n AS n_obs,
           CAST({sql_quantize('sae / n', 6)} AS DOUBLE) / 1e6 AS mad,
           CAST({sql_quantize('se / (sae / n)', 6)} AS DOUBLE) / 1e6
               AS tracking_signal
    FROM s
    """,
)
def q566(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    idx = tracked_persist(
        monthly.select(F.row_number().over(w_ord).alias("x"), "rev")
    )
    fc = idx.select((F.col("x") + 12).alias("x"), F.col("rev").alias("f"))
    err = idx.join(fc, "x").select((F.col("rev") - F.col("f")).alias("e"))
    s = err.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("e", 6).alias("se"),
        dsum(F.abs("e"), 6).alias("sae"),
    )
    return s.select(
        F.col("n").alias("n_obs"),
        (quantize(F.col("sae") / F.col("n"), 6) / 1e6).alias("mad"),
        (quantize(F.col("se") / (F.col("sae") / F.col("n")), 6) / 1e6).alias(
            "tracking_signal"
        ),
    )


# --- q583: Gumbel extreme-value fit on monthly maxima of daily
# revenue (block-maxima method, method-of-moments: β = s√6/π,
# μ = x̄ − γβ with γ the Euler-Mascheroni constant) plus the 100-month
# return level μ − β·ln(−ln(1 − 1/100)) — the tail-risk complement to
# q545's Hill index (which fits the POT tail; this fits block maxima).
# Monthly maxima are one two-level aggregate; the fit is closed-form
# from exact moments. -------------------------------------------------------------
@query(
    "q583_gumbel_block_maxima",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT l_shipdate AS d, date_trunc('month', l_shipdate) AS mth,
               CAST(SUM({sql_quantize('l_extendedprice', 2)}) AS DOUBLE)
                   / 100.0 / 1e6 AS rev
        FROM lineitem GROUP BY d, mth
    ),
    mx AS MATERIALIZED (
        SELECT mth, MAX(rev) AS m FROM daily GROUP BY mth
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('m', 6)}) AS DOUBLE) / 1e6 AS sm,
               CAST(SUM({sql_quantize('m * m', 9)}) AS DOUBLE) / 1e9 AS smm
        FROM mx
    ),
    fit AS (
        SELECT n,
               SQRT((smm - sm * sm / n) / (n - 1)) * SQRT(6.0)
                   / 3.141592653589793 AS beta,
               sm / n - 0.5772156649015329
                   * (SQRT((smm - sm * sm / n) / (n - 1)) * SQRT(6.0)
                      / 3.141592653589793) AS mu
        FROM s
    )
    SELECT n AS n_blocks,
           CAST({sql_quantize('mu', 6)} AS DOUBLE) / 1e6 AS gumbel_mu,
           CAST({sql_quantize('beta', 6)} AS DOUBLE) / 1e6 AS gumbel_beta,
           CAST({sql_quantize('mu - beta * LN(-LN(1 - 1.0 / 100))', 6)}
                AS DOUBLE) / 1e6 AS return_level_100
    FROM fit
    """,
)
def q583(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_shipdate").alias("d"),
        F.date_trunc("month", "l_shipdate").alias("mth"),
    ).agg((dsum("l_extendedprice", 2) / 1e6).alias("rev"))
    mx = daily.groupBy("mth").agg(F.max("rev").alias("m"))
    s = mx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("m", 6).alias("sm"),
        dsum(F.col("m") * F.col("m"), 9).alias("smm"),
    )
    fit = s.selectExpr(
        "n",
        "SQRT((smm - sm * sm / n) / (n - 1)) * SQRT(6.0)"
        " / 3.141592653589793 AS beta",
        "sm / n - 0.5772156649015329"
        " * (SQRT((smm - sm * sm / n) / (n - 1)) * SQRT(6.0)"
        "    / 3.141592653589793) AS mu",
    )
    return fit.select(
        F.col("n").alias("n_blocks"),
        (quantize("mu", 6) / 1e6).alias("gumbel_mu"),
        (quantize("beta", 6) / 1e6).alias("gumbel_beta"),
        (
            quantize(
                F.col("mu")
                - F.col("beta") * F.log(-F.log(F.lit(1 - 1.0 / 100))),
                6,
            )
            / 1e6
        ).alias("return_level_100"),
    )


# --- q584: Kupiec proportion-of-failures backtest of the q544 VaR —
# count days whose return breached VaR95 and test x/n against p = 5%
# with LR_POF = −2·ln[ (1−p)^{n−x} p^x / ((1−x/n)^{n−x} (x/n)^x) ]
# (Kupiec 1995, public methodology; χ²₁ under H0). The risk-model
# validation loop: estimate (q544) → monitor (this). Breach counting
# is integer-exact; the LR is a closed scalar formula. --------------------------
@query(
    "q584_kupiec_var_backtest",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT l_shipdate AS d,
               CAST(SUM({sql_quantize('l_extendedprice', 2)}) AS DOUBLE)
                   / 100.0 / 1e6 AS rev
        FROM lineitem GROUP BY d
    ),
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS x, rev FROM daily
    ),
    ret AS MATERIALIZED (
        SELECT LN(b.rev / a.rev) AS r
        FROM idx a JOIN idx b ON b.x = a.x + 1
    ),
    var95 AS (SELECT quantile_cont(r, 0.05) AS v FROM ret),
    cnt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN ret.r < var95.v THEN 1 ELSE 0 END)
                    AS BIGINT) AS x
        FROM ret, var95
    )
    SELECT n AS n_days, x AS n_breaches,
           CAST({sql_quantize('CAST(x AS DOUBLE) / n', 6)} AS DOUBLE) / 1e6
               AS breach_rate,
           CAST({sql_quantize(
               '-2 * ((n - x) * LN(1 - 0.05) + x * LN(0.05)'
               '      - (n - x) * LN(1 - CAST(x AS DOUBLE) / n)'
               '      - x * LN(CAST(x AS DOUBLE) / n))', 6)} AS DOUBLE)
               / 1e6 AS kupiec_lr
    FROM cnt
    """,
)
def q584(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        (dsum("l_extendedprice", 2) / 1e6).alias("rev")
    )
    w_ord = Window.orderBy("d")
    idx = daily.select(F.row_number().over(w_ord).alias("x"), "rev")
    nxt = idx.select((F.col("x") - 1).alias("x"), F.col("rev").alias("rev2"))
    ret = tracked_persist(
        idx.join(nxt, "x").select(F.log(F.col("rev2") / F.col("rev")).alias("r"))
    )
    var95 = ret.agg(F.expr("percentile(r, 0.05)").alias("v"))
    cnt = ret.crossJoin(F.broadcast(var95)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("r") < F.col("v"), 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    lr = -2 * (
        (F.col("n") - F.col("x")) * F.log(F.lit(1 - 0.05))
        + F.col("x") * F.log(F.lit(0.05))
        - (F.col("n") - F.col("x"))
        * F.log(1 - F.col("x").cast("double") / F.col("n"))
        - F.col("x") * F.log(F.col("x").cast("double") / F.col("n"))
    )
    return cnt.select(
        F.col("n").alias("n_days"),
        F.col("x").alias("n_breaches"),
        (quantize(F.col("x").cast("double") / F.col("n"), 6) / 1e6).alias(
            "breach_rate"
        ),
        (quantize(lr, 6) / 1e6).alias("kupiec_lr"),
    )


# --- q585: CUSUM-of-squares variance-stability test on the monthly
# trend residuals (Brown-Durbin-Evans 1975, public methodology):
# S_t = Σ_{i≤t} e_i² / Σe_i², D = max|S_t − t/n| — flags variance
# regime changes that q84's mean-CUSUM cannot see. Prefix sums ride
# the bounded month spine; the argmax month ships with the statistic. -----------
@query(
    "q585_cusum_squares_variance",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    {_OLS_RESID_SQL},
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('e * e', 9)}) AS DOUBLE) / 1e9 AS se
        FROM resid
    ),
    walk AS (
        SELECT mth, x,
               SUM(CAST(SIGN(e * e) * FLOOR(ABS(e * e) * 1e9 + 0.5)
                        AS BIGINT))
                   OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) / 1e9 AS cse
        FROM resid
    ),
    dev AS (
        SELECT mth, ABS(cse / tot.se - CAST(x AS DOUBLE) / tot.n) AS dabs
        FROM walk, tot
    )
    SELECT (SELECT n FROM tot) AS n_months,
           mth AS argmax_month,
           CAST(CAST(SIGN(dabs) * FLOOR(ABS(dabs) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS cusum_sq_d
    FROM dev
    ORDER BY CAST(SIGN(dabs) * FLOOR(ABS(dabs) * 1e9 + 0.5) AS BIGINT) DESC,
             mth ASC
    LIMIT 1
    """,
)
def q585(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    resid = tracked_persist(_ols_resid(spark, sf_dir))
    tot = resid.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.col("e") * F.col("e"), 9).alias("se"),
    )
    w_ord = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    walk = resid.select(
        "mth",
        "x",
        dsum_over(F.col("e") * F.col("e"), w_ord, 9).alias("cse"),
    )
    dev = walk.crossJoin(F.broadcast(tot)).select(
        "mth",
        "n",
        F.abs(
            F.col("cse") / F.col("se") - F.col("x").cast("double") / F.col("n")
        ).alias("dabs"),
    )
    best = dev.orderBy(quantize("dabs", 9).desc(), F.col("mth").asc()).limit(1)
    return best.select(
        F.col("n").alias("n_months"),
        F.col("mth").alias("argmax_month"),
        (quantize("dabs", 6) / 1e6).alias("cusum_sq_d"),
    )


# --- q587: geometric-Brownian-motion parameter estimates from daily
# log returns — σ̂ (annualized, 252 trading days), the log-drift
# μ̂_log·252, and the GBM percentage drift μ̂_log·252 + σ̂²/2 (Itô
# correction): the "what volatility does this revenue stream carry"
# summary a scenario engine (q-Monte-Carlo tier) is parameterized by.
# Exact moment sums over the calendar-bounded return series. --------------------
@query(
    "q587_gbm_parameter_mle",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT l_shipdate AS d,
               CAST(SUM({sql_quantize('l_extendedprice', 2)}) AS DOUBLE)
                   / 100.0 / 1e6 AS rev
        FROM lineitem GROUP BY d
    ),
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS x, rev FROM daily
    ),
    ret AS MATERIALIZED (
        SELECT LN(b.rev / a.rev) AS r
        FROM idx a JOIN idx b ON b.x = a.x + 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('r', 9)}) AS DOUBLE) / 1e9 AS sr,
               CAST(SUM({sql_quantize('r * r', 12)}) AS DOUBLE) / 1e12 AS srr
        FROM ret
    )
    SELECT n AS n_returns,
           CAST({sql_quantize('(sr / n) * 252', 6)} AS DOUBLE) / 1e6
               AS log_drift_annual,
           CAST({sql_quantize(
               'SQRT((srr - sr * sr / n) / (n - 1)) * SQRT(252.0)', 6)}
               AS DOUBLE) / 1e6 AS sigma_annual,
           CAST({sql_quantize(
               '(sr / n) * 252'
               ' + ((srr - sr * sr / n) / (n - 1)) * 252.0 / 2', 6)}
               AS DOUBLE) / 1e6 AS gbm_drift_annual
    FROM s
    """,
)
def q587(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        (dsum("l_extendedprice", 2) / 1e6).alias("rev")
    )
    w_ord = Window.orderBy("d")
    idx = daily.select(F.row_number().over(w_ord).alias("x"), "rev")
    nxt = idx.select((F.col("x") - 1).alias("x"), F.col("rev").alias("rev2"))
    ret = idx.join(nxt, "x").select(F.log(F.col("rev2") / F.col("rev")).alias("r"))
    s = ret.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("r", 9).alias("sr"),
        dsum(F.col("r") * F.col("r"), 12).alias("srr"),
    )
    return s.selectExpr(
        "n AS n_returns",
        "(sr / n) * 252 AS ld",
        "SQRT((srr - sr * sr / n) / (n - 1)) * SQRT(252.0) AS sa",
        "(sr / n) * 252 + ((srr - sr * sr / n) / (n - 1)) * 252.0 / 2 AS gd",
    ).select(
        "n_returns",
        (quantize("ld", 6) / 1e6).alias("log_drift_annual"),
        (quantize("sa", 6) / 1e6).alias("sigma_annual"),
        (quantize("gd", 6) / 1e6).alias("gbm_drift_annual"),
    )


# --- q588: first-order partial correlation of monthly order count and
# monthly revenue CONTROLLING for the average unit price:
# r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — "is the
# count↔revenue link just price mix?" All three Pearson terms come
# from one exact moment aggregate over the joint month spine; the
# shared CORR_FORMULA text keeps the arithmetic trees identical. ----------------
@query(
    "q588_partial_correlation_price",
    oracle=f"""
    WITH {_MONTHLY_JOINT_SQL},
    withz AS MATERIALIZED (
        SELECT j.cnt AS xv, j.rev AS yv,
               j.rev / q.qty AS zv
        FROM joint j JOIN (
            SELECT date_trunc('month', l_shipdate) AS mth,
                   CAST(SUM({sql_quantize('l_quantity', 2)}) AS DOUBLE)
                       / 1e2 / 1e3 AS qty
            FROM lineitem GROUP BY mth
        ) q ON q.mth = j.mth
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('xv', 6)}) AS DOUBLE) / 1e6 AS sx,
               CAST(SUM({sql_quantize('yv', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('zv', 6)}) AS DOUBLE) / 1e6 AS sz,
               CAST(SUM({sql_quantize('xv * xv', 9)}) AS DOUBLE) / 1e9 AS sxx,
               CAST(SUM({sql_quantize('yv * yv', 9)}) AS DOUBLE) / 1e9 AS syy,
               CAST(SUM({sql_quantize('zv * zv', 9)}) AS DOUBLE) / 1e9 AS szz,
               CAST(SUM({sql_quantize('xv * yv', 9)}) AS DOUBLE) / 1e9 AS sxy,
               CAST(SUM({sql_quantize('xv * zv', 9)}) AS DOUBLE) / 1e9 AS sxz,
               CAST(SUM({sql_quantize('yv * zv', 9)}) AS DOUBLE) / 1e9 AS syz
        FROM withz
    ),
    r AS (
        SELECT n,
               {CORR_FORMULA.format(n='n', sx='sx', sy='sy', sxx='sxx',
                                    syy='syy', sxy='sxy')} AS rxy,
               {CORR_FORMULA.format(n='n', sx='sx', sy='sz', sxx='sxx',
                                    syy='szz', sxy='sxz')} AS rxz,
               {CORR_FORMULA.format(n='n', sx='sy', sy='sz', sxx='syy',
                                    syy='szz', sxy='syz')} AS ryz
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           CAST({sql_quantize('rxy', 6)} AS DOUBLE) / 1e6 AS r_xy,
           CAST({sql_quantize(
               '(rxy - rxz * ryz) / SQRT((1 - rxz * rxz) * (1 - ryz * ryz))',
               6)} AS DOUBLE) / 1e6 AS r_xy_given_z
    FROM r
    """,
)
def q588(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    joint = _monthly_joint(spark, sf_dir)
    q = li.groupBy(F.date_trunc("month", "l_shipdate").alias("mth")).agg(
        (dsum("l_quantity", 2) / 1e3).alias("qty")
    )
    withz = joint.join(q, "mth").select(
        F.col("cnt").alias("xv"),
        F.col("rev").alias("yv"),
        (F.col("rev") / F.col("qty")).alias("zv"),
    )
    s = withz.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("xv", 6).alias("sx"),
        dsum("yv", 6).alias("sy"),
        dsum("zv", 6).alias("sz"),
        dsum(F.col("xv") * F.col("xv"), 9).alias("sxx"),
        dsum(F.col("yv") * F.col("yv"), 9).alias("syy"),
        dsum(F.col("zv") * F.col("zv"), 9).alias("szz"),
        dsum(F.col("xv") * F.col("yv"), 9).alias("sxy"),
        dsum(F.col("xv") * F.col("zv"), 9).alias("sxz"),
        dsum(F.col("yv") * F.col("zv"), 9).alias("syz"),
    )
    from pandrs_spark.functions.deterministic import CORR_FORMULA as CF

    r = s.selectExpr(
        "n",
        CF.format(n="n", sx="sx", sy="sy", sxx="sxx", syy="syy", sxy="sxy") + " AS rxy",
        CF.format(n="n", sx="sx", sy="sz", sxx="sxx", syy="szz", sxy="sxz") + " AS rxz",
        CF.format(n="n", sx="sy", sy="sz", sxx="syy", syy="szz", sxy="syz") + " AS ryz",
    )
    return r.selectExpr(
        "CAST(n AS BIGINT) AS n_months",
        "rxy",
        "(rxy - rxz * ryz) / SQRT((1 - rxz * rxz) * (1 - ryz * ryz)) AS rp",
    ).select(
        "n_months",
        (quantize("rxy", 6) / 1e6).alias("r_xy"),
        (quantize("rp", 6) / 1e6).alias("r_xy_given_z"),
    )


# --- q592: (non-seasonal) Mann-Kendall trend test on monthly revenue:
# S = Σ_{i<j} sign(x_j − x_i) with the tie-corrected variance
# V = [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18 and the continuity-corrected
# z — the distribution-free significance layer on top of q543's
# Theil-Sen slope (estimate) and q553's Cox-Stuart (sign pairs at one
# fixed offset; MK uses ALL pairs). Pairs are the bounded month spine
# squared; S is pure integer arithmetic. -----------------------------------------
@query(
    "q592_mann_kendall_trend",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                             WHEN b.rev < a.rev THEN -1 ELSE 0 END)
                    AS BIGINT) AS s
        FROM idx a JOIN idx b ON b.x > a.x
    ),
    ties AS (
        SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tt
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM idx GROUP BY rev)
        WHERE t > 1
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
    v AS (
        SELECT (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - ties.tt) / 18.0
                   AS var
        FROM nn, ties
    )
    SELECT nn.n AS n_months, s.s AS mk_s,
           CAST({sql_quantize(
               'CASE WHEN s.s > 0 THEN (s.s - 1) / SQRT(v.var)'
               '     WHEN s.s < 0 THEN (s.s + 1) / SQRT(v.var)'
               '     ELSE 0.0 END', 6)} AS DOUBLE) / 1e6 AS mk_z
    FROM nn, s, v
    """,
)
def q592(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    idx = tracked_persist(
        monthly.select(F.row_number().over(w_ord).alias("x"), "rev")
    )
    b = idx.select(F.col("x").alias("xb"), F.col("rev").alias("rb"))
    s = idx.join(F.broadcast(b), F.col("xb") > F.col("x")).agg(
        F.sum(
            F.when(F.col("rb") > F.col("rev"), 1)
            .when(F.col("rb") < F.col("rev"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s")
    )
    ties = (
        idx.groupBy("rev")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tt")
        )
    )
    nn = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = nn.crossJoin(F.broadcast(s)).crossJoin(F.broadcast(ties))
    var = (
        F.col("n").cast("double") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tt")
    ) / 18.0
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        F.col("n").alias("n_months"),
        F.col("s").alias("mk_s"),
        (quantize(z, 6) / 1e6).alias("mk_z"),
    )


# --- q598: Shewhart X̄/R control chart on weekly subgroups of daily
# revenue — classic SPC with n=7 subgroup constants A2=0.419,
# D3=0.076, D4=1.924 (published factors): center lines from the
# grand mean / mean range, limit-violation counts for both charts.
# Complete 7-day weeks only (count fence); subgroup stats are one
# aggregate, violations a bounded second pass. -----------------------------------
@query(
    "q598_shewhart_xbar_r_chart",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT l_shipdate AS d, date_trunc('week', l_shipdate) AS wk,
               CAST(SUM({sql_quantize('l_extendedprice', 2)}) AS DOUBLE)
                   / 100.0 / 1e6 AS rev
        FROM lineitem GROUP BY d, wk
    ),
    sub AS MATERIALIZED (
        SELECT wk,
               CAST(SUM({sql_quantize('rev', 6)}) AS DOUBLE) / 1e6
                   / COUNT(*) AS xbar,
               MAX(rev) - MIN(rev) AS r
        FROM daily GROUP BY wk
        HAVING COUNT(*) = 7
    ),
    lines AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_weeks,
               CAST(SUM({sql_quantize('xbar', 9)}) AS DOUBLE) / 1e9
                   / COUNT(*) AS xbb,
               CAST(SUM({sql_quantize('r', 9)}) AS DOUBLE) / 1e9
                   / COUNT(*) AS rbar
        FROM sub
    )
    SELECT l.n_weeks,
           CAST({sql_quantize('l.xbb', 6)} AS DOUBLE) / 1e6 AS xbar_center,
           CAST({sql_quantize('l.rbar', 6)} AS DOUBLE) / 1e6 AS r_center,
           CAST(SUM(CASE WHEN s.xbar > l.xbb + 0.419 * l.rbar
                           OR s.xbar < l.xbb - 0.419 * l.rbar
                         THEN 1 ELSE 0 END) AS BIGINT) AS xbar_violations,
           CAST(SUM(CASE WHEN s.r > 1.924 * l.rbar
                           OR s.r < 0.076 * l.rbar
                         THEN 1 ELSE 0 END) AS BIGINT) AS r_violations
    FROM sub s, lines l
    GROUP BY l.n_weeks, l.xbb, l.rbar
    """,
)
def q598(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_shipdate").alias("d"),
        F.date_trunc("week", "l_shipdate").alias("wk"),
    ).agg((dsum("l_extendedprice", 2) / 1e6).alias("rev"))
    sub = tracked_persist(
        daily.groupBy("wk")
        .agg(
            (dsum("rev", 6) / F.count(F.lit(1))).alias("xbar"),
            (F.max("rev") - F.min("rev")).alias("r"),
            F.count(F.lit(1)).alias("nd"),
        )
        .where(F.col("nd") == 7)
    )
    lines = sub.agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        (dsum("xbar", 9) / F.count(F.lit(1))).alias("xbb"),
        (dsum("r", 9) / F.count(F.lit(1))).alias("rbar"),
    )
    j = sub.crossJoin(F.broadcast(lines))
    out = j.groupBy("n_weeks", "xbb", "rbar").agg(
        F.sum(
            F.when(
                (F.col("xbar") > F.col("xbb") + 0.419 * F.col("rbar"))
                | (F.col("xbar") < F.col("xbb") - 0.419 * F.col("rbar")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("xbar_violations"),
        F.sum(
            F.when(
                (F.col("r") > 1.924 * F.col("rbar"))
                | (F.col("r") < 0.076 * F.col("rbar")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("r_violations"),
    )
    return out.select(
        "n_weeks",
        (quantize("xbb", 6) / 1e6).alias("xbar_center"),
        (quantize("rbar", 6) / 1e6).alias("r_center"),
        "xbar_violations",
        "r_violations",
    )


# --- q599: EWMA control chart (λ=0.2, L=3) on monthly revenue — the
# small-shift detector: z_t = λΣ(1−λ)^{t−i}x_i + (1−λ)^t·x̄₀ computed
# NON-recursively as a bounded weighted pair-join over the month spine
# (the (1−λ)^k weights come from exact integer powers, identical on
# both engines), with time-varying limits
# x̄ ± L·σ̂·√(λ/(2−λ)·(1−(1−λ)^{2t})). Counts violations. --------------------------
@query(
    "q599_ewma_control_chart",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('rev', 6)}) AS DOUBLE) / 1e6
                   / COUNT(*) AS mu,
               SQRT((CAST(SUM({sql_quantize('rev * rev', 9)}) AS DOUBLE)
                     / 1e9
                     - CAST(SUM({sql_quantize('rev', 6)}) AS DOUBLE) / 1e6
                       * (CAST(SUM({sql_quantize('rev', 6)}) AS DOUBLE)
                          / 1e6) / COUNT(*))
                    / (COUNT(*) - 1)) AS sd
        FROM idx
    ),
    z AS MATERIALIZED (
        SELECT b.x,
               CAST(SUM({sql_quantize(
                   '0.2 * POWER(0.8, b.x - a.x) * a.rev', 9)}) AS DOUBLE)
                   / 1e9
                 + POWER(0.8, b.x) * base.mu AS zt
        FROM idx a JOIN idx b ON a.x <= b.x
        CROSS JOIN base
        GROUP BY b.x, base.mu
    ),
    lim AS (
        SELECT z.x, z.zt,
               base.mu + 3 * base.sd
                   * SQRT(0.2 / 1.8 * (1 - POWER(0.8, 2 * z.x))) AS ucl,
               base.mu - 3 * base.sd
                   * SQRT(0.2 / 1.8 * (1 - POWER(0.8, 2 * z.x))) AS lcl
        FROM z, base
    )
    SELECT (SELECT n FROM base) AS n_months,
           CAST(SUM(CASE WHEN zt > ucl OR zt < lcl THEN 1 ELSE 0 END)
                AS BIGINT) AS ewma_violations,
           CAST(CAST(SIGN(MAX(zt)) * FLOOR(ABS(MAX(zt)) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS max_ewma
    FROM lim
    """,
)
def q599(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    idx = tracked_persist(
        monthly.select(F.row_number().over(w_ord).alias("x"), "rev")
    )
    base = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (dsum("rev", 6) / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            (
                dsum(F.col("rev") * F.col("rev"), 9)
                - dsum("rev", 6)
                * dsum("rev", 6)
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("sd"),
    )
    b = idx.select(F.col("x").alias("xb"))
    z = (
        idx.join(F.broadcast(b), F.col("x") <= F.col("xb"))
        .crossJoin(F.broadcast(base))
        .groupBy("xb", "mu")
        .agg(
            dsum(
                0.2 * F.pow(F.lit(0.8), F.col("xb") - F.col("x")) * F.col("rev"), 9
            ).alias("wsum")
        )
        .select(
            "xb",
            (F.col("wsum") + F.pow(F.lit(0.8), F.col("xb")) * F.col("mu")).alias(
                "zt"
            ),
        )
    )
    lim = z.crossJoin(F.broadcast(base)).select(
        "zt",
        "n",
        (
            F.col("mu")
            + 3
            * F.col("sd")
            * F.sqrt(0.2 / 1.8 * (1 - F.pow(F.lit(0.8), 2 * F.col("xb"))))
        ).alias("ucl"),
        (
            F.col("mu")
            - 3
            * F.col("sd")
            * F.sqrt(0.2 / 1.8 * (1 - F.pow(F.lit(0.8), 2 * F.col("xb"))))
        ).alias("lcl"),
    )
    out = lim.groupBy("n").agg(
        F.sum(
            F.when((F.col("zt") > F.col("ucl")) | (F.col("zt") < F.col("lcl")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("ewma_violations"),
        F.max("zt").alias("mz"),
    )
    return out.select(
        F.col("n").alias("n_months"),
        "ewma_violations",
        (quantize("mz", 6) / 1e6).alias("max_ewma"),
    )


# --- q602: integrated autocorrelation time of monthly revenue —
# τ_int = 1 + 2Σ_{l=1..10} ρ̂_l and the effective sample size
# n_eff = n/τ_int: "how many independent observations does this
# series really contain" (the MCMC-diagnostics view of q48's ACF).
# Lag pairs are equi-joins on the month index; each ρ̂_l uses the
# standard biased estimator over the full-series mean and variance. -------------
@query(
    "q602_integrated_autocorr_time",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    mu AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('rev', 6)}) AS DOUBLE) / 1e6
                   / COUNT(*) AS m
        FROM idx
    ),
    c0 AS (
        SELECT CAST(SUM({sql_quantize('(rev - m) * (rev - m)', 9)})
                    AS DOUBLE) / 1e9 AS c
        FROM idx, mu
    ),
    lags AS (
        SELECT l.lag,
               CAST(SUM({sql_quantize(
                   '(a.rev - mu.m) * (b.rev - mu.m)', 9)}) AS DOUBLE) / 1e9
                   AS cl
        FROM idx a
        CROSS JOIN (SELECT UNNEST(generate_series(1, 10)) AS lag) l
        JOIN idx b ON b.x = a.x + l.lag
        CROSS JOIN mu
        GROUP BY l.lag
    ),
    tau AS (
        SELECT 1 + 2 * CAST(SUM({sql_quantize('cl / c0.c', 9)}) AS DOUBLE)
                   / 1e9 AS t
        FROM lags, c0
    )
    SELECT mu.n AS n_months,
           CAST({sql_quantize('tau.t', 6)} AS DOUBLE) / 1e6 AS tau_int,
           CAST({sql_quantize('mu.n / tau.t', 6)} AS DOUBLE) / 1e6
               AS effective_n
    FROM mu, tau
    """,
)
def q602(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    idx = tracked_persist(
        monthly.select(F.row_number().over(w_ord).alias("x"), "rev")
    )
    mu = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (dsum("rev", 6) / F.count(F.lit(1))).alias("m"),
    )
    c0 = idx.crossJoin(F.broadcast(mu)).agg(
        dsum((F.col("rev") - F.col("m")) * (F.col("rev") - F.col("m")), 9).alias("c")
    )
    lagged = idx.select(
        F.col("x"),
        F.col("rev"),
        F.explode(F.array(*[F.lit(v) for v in range(1, 11)])).alias("lag"),
    )
    b = idx.select(F.col("x").alias("xb"), F.col("rev").alias("rb"))
    lags = (
        lagged.withColumn("xk", F.col("x") + F.col("lag"))
        .join(b, F.col("xb") == F.col("xk"))
        .crossJoin(F.broadcast(mu))
        .groupBy("lag")
        .agg(
            dsum(
                (F.col("rev") - F.col("m")) * (F.col("rb") - F.col("m")), 9
            ).alias("cl")
        )
    )
    tau = lags.crossJoin(F.broadcast(c0)).agg(
        (
            1
            + 2 * F.sum(quantize(F.col("cl") / F.col("c"), 9)).cast("double") / 1e9
        ).alias("t")
    )
    j = mu.crossJoin(F.broadcast(tau))
    return j.select(
        F.col("n").alias("n_months"),
        (quantize("t", 6) / 1e6).alias("tau_int"),
        (quantize(F.col("n") / F.col("t"), 6) / 1e6).alias("effective_n"),
    )


# --- q609: p-chart on the weekly urgent-order share — attribute SPC:
# limits p̄ ± 3·√(p̄(1−p̄)/n_w) vary with each week's sample size
# (the textbook varying-limit form); counts weeks out of control.
# Completes the control-chart family: X̄/R (q598, variables), EWMA
# (q599, small shifts), p (this, attributes). ------------------------------------
@query(
    "q609_p_chart_urgent_share",
    oracle="""
    WITH wk AS MATERIALIZED (
        SELECT date_trunc('week', o_orderdate) AS w,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS DOUBLE) AS x
        FROM orders GROUP BY w
    ),
    pbar AS (
        SELECT SUM(x) / SUM(n) AS p, CAST(COUNT(*) AS BIGINT) AS n_weeks
        FROM wk
    )
    SELECT pbar.n_weeks,
           CAST(CAST(SIGN(pbar.p) * FLOOR(ABS(pbar.p) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS p_center,
           CAST(SUM(CASE WHEN wk.x / wk.n >
                              pbar.p + 3 * SQRT(pbar.p * (1 - pbar.p) / wk.n)
                           OR wk.x / wk.n <
                              pbar.p - 3 * SQRT(pbar.p * (1 - pbar.p) / wk.n)
                         THEN 1 ELSE 0 END) AS BIGINT) AS violations
    FROM wk, pbar
    GROUP BY pbar.n_weeks, pbar.p
    """,
)
def q609(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    wk = orders.groupBy(F.date_trunc("week", "o_orderdate").alias("w")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("double")
        .alias("x"),
    )
    pbar = wk.agg(
        (F.sum("x") / F.sum("n")).alias("p"),
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
    )
    j = wk.crossJoin(F.broadcast(pbar))
    lim = 3 * F.sqrt(F.col("p") * (1 - F.col("p")) / F.col("n"))
    out = j.groupBy("n_weeks", "p").agg(
        F.sum(
            F.when(
                (F.col("x") / F.col("n") > F.col("p") + lim)
                | (F.col("x") / F.col("n") < F.col("p") - lim),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("violations")
    )
    return out.select(
        "n_weeks",
        (quantize("p", 6) / 1e6).alias("p_center"),
        "violations",
    )


# --- q620: spectral entropy of monthly revenue — DFT power at the
# first 12 harmonics, normalized to a distribution, H/ln(12): near 1
# means white-noise-like (unforecastable), near 0 means one dominant
# cycle. The "forecastability" scalar that gates whether the seasonal
# models (q80/q107/q521) are even worth fitting. Fixed harmonic grid;
# trig terms share the 2π literal so both engines build identical
# arguments. -----------------------------------------------------------------------
@query(
    "q620_spectral_entropy_monthly",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) - 1 AS t, rev FROM monthly
    ),
    mu AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('rev', 6)}) AS DOUBLE) / 1e6
                   / COUNT(*) AS m
        FROM idx
    ),
    harm AS (SELECT UNNEST(generate_series(1, 12)) AS k),
    pw AS MATERIALIZED (
        SELECT h.k,
               POWER(CAST(SUM({sql_quantize(
                   '(i.rev - mu.m)'
                   ' * COS(6.283185307179586 * h.k * i.t / mu.n)', 12)})
                     AS DOUBLE) / 1e12, 2)
             + POWER(CAST(SUM({sql_quantize(
                   '(i.rev - mu.m)'
                   ' * SIN(6.283185307179586 * h.k * i.t / mu.n)', 12)})
                     AS DOUBLE) / 1e12, 2) AS p
        FROM idx i CROSS JOIN harm h CROSS JOIN mu
        GROUP BY h.k
    ),
    tot AS (SELECT SUM(p) AS sp FROM pw),
    ent AS (
        SELECT CAST(SUM(CAST(SIGN(-(p / tot.sp) * LN(p / tot.sp))
                             * FLOOR(ABS(-(p / tot.sp) * LN(p / tot.sp))
                                     * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1e9 AS h
        FROM pw, tot WHERE p > 0
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM mu) AS n_months,
           CAST({sql_quantize('ent.h / LN(12.0)', 6)} AS DOUBLE) / 1e6
               AS spectral_entropy
    FROM ent
    """,
)
def q620(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    idx = tracked_persist(
        monthly.select((F.row_number().over(w_ord) - 1).alias("t"), "rev")
    )
    mu = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (dsum("rev", 6) / F.count(F.lit(1))).alias("m"),
    )
    harm = small_local_df(spark, [(k,) for k in range(1, 13)], "k int")
    arg = 6.283185307179586 * F.col("k") * F.col("t") / F.col("n")
    pw = (
        idx.crossJoin(F.broadcast(harm))
        .crossJoin(F.broadcast(mu))
        .groupBy("k")
        .agg(
            (
                F.pow(
                    dsum((F.col("rev") - F.col("m")) * F.cos(arg), 12),
                    F.lit(2.0),
                )
                + F.pow(
                    dsum((F.col("rev") - F.col("m")) * F.sin(arg), 12),
                    F.lit(2.0),
                )
            ).alias("p")
        )
    )
    pw = tracked_persist(pw)
    tot = pw.agg(F.sum("p").alias("sp"))
    ent = (
        pw.crossJoin(F.broadcast(tot))
        .where(F.col("p") > 0)
        .agg(
            dsum(
                -(F.col("p") / F.col("sp")) * F.log(F.col("p") / F.col("sp")), 9
            ).alias("h")
        )
    )
    n_m = idx.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    j = n_m.crossJoin(F.broadcast(ent))
    return j.select(
        "n_months",
        (quantize(F.col("h") / F.log(F.lit(12.0)), 6) / 1e6).alias(
            "spectral_entropy"
        ),
    )


# --- q626: mean-reversion half-life of monthly revenue — fit the
# AR(1) x_t − x̄ = φ(x_{t−1} − x̄) + ε by centered lag-1 regression and
# report t½ = −ln2/ln φ: "how many months does a demand shock take to
# decay by half" — the planning constant behind the q599 EWMA span and
# the q-SES smoothing choices. Lag pairs join on the month index. ----------------
@query(
    "q626_mean_reversion_half_life",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    pairs AS MATERIALIZED (
        SELECT b.rev AS y, a.rev AS yl
        FROM idx a JOIN idx b ON b.x = a.x + 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('y', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('yl', 6)}) AS DOUBLE) / 1e6 AS sl,
               CAST(SUM({sql_quantize('yl * yl', 9)}) AS DOUBLE) / 1e9 AS sll,
               CAST(SUM({sql_quantize('yl * y', 9)}) AS DOUBLE) / 1e9 AS sly
        FROM pairs
    ),
    fit AS (
        SELECT n, (n * sly - sl * sy) / (n * sll - sl * sl) AS phi FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           CAST({sql_quantize('phi', 6)} AS DOUBLE) / 1e6 AS ar1_phi,
           CAST({sql_quantize(
               'CASE WHEN phi > 0 AND phi < 1'
               '     THEN -0.6931471805599453 / LN(phi) END', 6)}
               AS DOUBLE) / 1e6 AS half_life_months
    FROM fit
    """,
)
def q626(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    idx = tracked_persist(
        monthly.select(F.row_number().over(w_ord).alias("x"), "rev")
    )
    prev = idx.select((F.col("x") + 1).alias("x"), F.col("rev").alias("yl"))
    pairs = idx.select("x", F.col("rev").alias("y")).join(prev, "x")
    s = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("y", 6).alias("sy"),
        dsum("yl", 6).alias("sl"),
        dsum(F.col("yl") * F.col("yl"), 9).alias("sll"),
        dsum(F.col("yl") * F.col("y"), 9).alias("sly"),
    )
    phi = (F.col("n") * F.col("sly") - F.col("sl") * F.col("sy")) / (
        F.col("n") * F.col("sll") - F.col("sl") * F.col("sl")
    )
    fit = s.select(F.col("n"), phi.alias("phi"))
    hl = F.when(
        (F.col("phi") > 0) & (F.col("phi") < 1),
        -0.6931471805599453 / F.log("phi"),
    )
    return fit.select(
        F.col("n").cast("long").alias("n_obs"),
        (quantize("phi", 6) / 1e6).alias("ar1_phi"),
        (quantize(hl, 6) / 1e6).alias("half_life_months"),
    )


# --- q628: Cook's distance influence diagnostics for the monthly
# trend OLS — D_i = e_i²·h_ii / (p·s²·(1−h_ii)²) with leverage
# h_ii = 1/n + (x_i−x̄)²/S_xx: WHICH months single-handedly bend the
# trend line. Completes the q484-q489 regression-diagnostics family
# (they test aggregate properties; this localizes). Top-5 by
# (quantized D DESC, month ASC) — bounded output. ---------------------------------
@query(
    "q628_cooks_distance_months",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    {_OLS_RESID_SQL},
    xm AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(x) / COUNT(*) AS xbar,
               SUM(x * x) - SUM(x) * SUM(x) / COUNT(*) AS sxx,
               CAST(SUM({sql_quantize('e * e', 9)}) AS DOUBLE) / 1e9
                   / (COUNT(*) - 2) AS s2
        FROM resid
    ),
    dd AS (
        SELECT r.mth,
               (r.e * r.e)
                 * (1.0 / xm.n + (r.x - xm.xbar) * (r.x - xm.xbar) / xm.sxx)
                 / (2 * xm.s2
                    * (1 - (1.0 / xm.n
                            + (r.x - xm.xbar) * (r.x - xm.xbar) / xm.sxx))
                    * (1 - (1.0 / xm.n
                            + (r.x - xm.xbar) * (r.x - xm.xbar) / xm.sxx)))
                   AS d
        FROM resid r, xm
    )
    SELECT mth,
           CAST(CAST(SIGN(d) * FLOOR(ABS(d) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS cooks_d
    FROM dd
    ORDER BY CAST(SIGN(d) * FLOOR(ABS(d) * 1e9 + 0.5) AS BIGINT) DESC,
             mth ASC
    LIMIT 5
    """,
)
def q628(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    resid = tracked_persist(_ols_resid(spark, sf_dir))
    xm = resid.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("x") / F.count(F.lit(1))).alias("xbar"),
        (
            F.sum(F.col("x") * F.col("x"))
            - F.sum("x") * F.sum("x") / F.count(F.lit(1))
        ).alias("sxx"),
        (dsum(F.col("e") * F.col("e"), 9) / (F.count(F.lit(1)) - 2)).alias("s2"),
    )
    j = resid.crossJoin(F.broadcast(xm))
    h = 1.0 / F.col("n") + (F.col("x") - F.col("xbar")) * (
        F.col("x") - F.col("xbar")
    ) / F.col("sxx")
    d = (F.col("e") * F.col("e")) * h / (2 * F.col("s2") * (1 - h) * (1 - h))
    dd = j.select("mth", d.alias("d"))
    return (
        dd.orderBy(quantize("d", 9).desc(), F.col("mth").asc())
        .limit(5)
        .select("mth", (quantize("d", 6) / 1e6).alias("cooks_d"))
    )


# --- q631: pinball (quantile) loss of the seasonal-naive forecast at
# τ = 0.5 and 0.9 — the proper scoring rule for quantile forecasts:
# L_τ = mean[(y−f)·τ if y≥f else (f−y)(1−τ)]. What a quantile-
# forecasting service publishes next to q566's bias tracking signal.
# Forecast pairs ride the 12-month spine lag join. -------------------------------
@query(
    "q631_pinball_loss_seasonal_naive",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    pairs AS MATERIALIZED (
        SELECT b.rev AS y, a.rev AS f
        FROM idx a JOIN idx b ON b.x = a.x + 12
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize(
                   'CASE WHEN y >= f THEN (y - f) * 0.5'
                   ' ELSE (f - y) * 0.5 END', 9)}) AS DOUBLE) / 1e9
                   / COUNT(*) AS l50,
               CAST(SUM({sql_quantize(
                   'CASE WHEN y >= f THEN (y - f) * 0.9'
                   ' ELSE (f - y) * 0.1 END', 9)}) AS DOUBLE) / 1e9
                   / COUNT(*) AS l90
        FROM pairs
    )
    SELECT n AS n_obs,
           CAST({sql_quantize('l50', 6)} AS DOUBLE) / 1e6 AS pinball_50,
           CAST({sql_quantize('l90', 6)} AS DOUBLE) / 1e6 AS pinball_90
    FROM s
    """,
)
def q631(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    idx = tracked_persist(
        monthly.select(F.row_number().over(w_ord).alias("x"), "rev")
    )
    fc = idx.select((F.col("x") + 12).alias("x"), F.col("rev").alias("f"))
    pairs = idx.select("x", F.col("rev").alias("y")).join(fc, "x")
    l50 = F.when(
        F.col("y") >= F.col("f"), (F.col("y") - F.col("f")) * 0.5
    ).otherwise((F.col("f") - F.col("y")) * 0.5)
    l90 = F.when(
        F.col("y") >= F.col("f"), (F.col("y") - F.col("f")) * 0.9
    ).otherwise((F.col("f") - F.col("y")) * 0.1)
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (dsum(l50, 9) / F.count(F.lit(1))).alias("l50"),
        (dsum(l90, 9) / F.count(F.lit(1))).alias("l90"),
    )
    return s.select(
        F.col("n").alias("n_obs"),
        (quantize("l50", 6) / 1e6).alias("pinball_50"),
        (quantize("l90", 6) / 1e6).alias("pinball_90"),
    )


# --- q632: CRPS of a 3-member forecast ensemble (naive-1, seasonal-
# naive-12, 3-month drift) for monthly revenue — the empirical
# continuous ranked probability score CRPS = mean_t[ Σ|f_i − y|/m −
# ΣΣ|f_i − f_j|/(2m²) ] (Gneiting & Raftery 2007, public methodology):
# the PROPER score that rewards both calibration and sharpness, next
# to q459's point-forecast MASE. Members assemble by spine lag joins;
# the m=3 inner sums are fixed-size expressions. ----------------------------------
@query(
    "q632_crps_forecast_ensemble",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    rows_ AS MATERIALIZED (
        SELECT cur.rev AS y,
               l1.rev AS f1,
               l12.rev AS f2,
               l1.rev + (l1.rev - l4.rev) / 3.0 AS f3
        FROM idx cur
        JOIN idx l1 ON l1.x = cur.x - 1
        JOIN idx l4 ON l4.x = cur.x - 4
        JOIN idx l12 ON l12.x = cur.x - 12
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize(
                   '(ABS(f1 - y) + ABS(f2 - y) + ABS(f3 - y)) / 3.0'
                   ' - (ABS(f1 - f2) + ABS(f1 - f3) + ABS(f2 - f3)) / 9.0',
                   9)}) AS DOUBLE) / 1e9 / COUNT(*) AS crps
        FROM rows_
    )
    SELECT n AS n_obs,
           CAST({sql_quantize('crps', 6)} AS DOUBLE) / 1e6 AS crps
    FROM s
    """,
)
def q632(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    idx = tracked_persist(
        monthly.select(F.row_number().over(w_ord).alias("x"), "rev")
    )
    l1 = idx.select((F.col("x") + 1).alias("x"), F.col("rev").alias("f1"))
    l4 = idx.select((F.col("x") + 4).alias("x"), F.col("rev").alias("r4"))
    l12 = idx.select((F.col("x") + 12).alias("x"), F.col("rev").alias("f2"))
    rows_ = (
        idx.select("x", F.col("rev").alias("y"))
        .join(l1, "x")
        .join(l4, "x")
        .join(l12, "x")
        .select(
            "y",
            "f1",
            "f2",
            (F.col("f1") + (F.col("f1") - F.col("r4")) / 3.0).alias("f3"),
        )
    )
    term = (
        F.abs(F.col("f1") - F.col("y"))
        + F.abs(F.col("f2") - F.col("y"))
        + F.abs(F.col("f3") - F.col("y"))
    ) / 3.0 - (
        F.abs(F.col("f1") - F.col("f2"))
        + F.abs(F.col("f1") - F.col("f3"))
        + F.abs(F.col("f2") - F.col("f3"))
    ) / 9.0
    s = rows_.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (dsum(term, 9) / F.count(F.lit(1))).alias("crps"),
    )
    return s.select(
        F.col("n").alias("n_obs"), (quantize("crps", 6) / 1e6).alias("crps")
    )


# ===== Wave q633-q638: financial-microstructure & risk-ratio tier ======
# Public methodology throughout: Roll (1984) effective spread,
# Parkinson (1980) / Garman-Klass (1980) range volatility, Amihud
# (2002) illiquidity, Sharpe/Sortino/Calmar performance ratios,
# Martin's ulcer index (1987), Cornish-Fisher (1938) modified VaR.
# The reference has no dedicated risk/finance module (its closest
# surface is src/time_series/stats.rs); these estimators are built
# beyond it from the cited public papers. All series are calendar-bounded rollups
# (~80 months / ~2.4k days), so every self-join and window here is
# spine-sized, never data-sized — the 100 TB shape is the single
# groupBy shuffle that builds the spine.

# Shared monthly simple-return fragment: rev series -> (x, rev, r).
_MRET_SQL = f"""
    {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    ret AS MATERIALIZED (
        SELECT cur.x AS x, cur.rev AS rev, cur.rev / prv.rev - 1 AS r
        FROM idx cur JOIN idx prv ON prv.x = cur.x - 1
    )
"""


def _monthly_ret(spark, sf_dir):
    """(x, rev, r) monthly simple returns via a spine lag-join (the
    q632 pattern); bit-identical to :data:`_MRET_SQL`."""
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    idx = tracked_persist(
        monthly.select(
            F.row_number().over(Window.orderBy("mth")).alias("x"), "rev"
        )
    )
    prv = idx.select((F.col("x") + 1).alias("x"), F.col("rev").alias("prev"))
    return idx.join(prv, "x").select(
        "x", "rev", (F.col("rev") / F.col("prev") - 1).alias("r")
    )


# --- q633: Roll (1984) implied effective spread from the serial
# covariance of monthly unit-value changes: under the bid-ask bounce
# model cov(Δp_t, Δp_{t-1}) = −s²/4, so s = 2·√(−cov); a positive
# covariance means the estimator is undefined (the documented Roll
# failure mode) and we emit NULL rather than a clamped 0. Unit value
# = exact Σprice / Σqty per month; Δp pairs ride two spine lag-joins;
# the covariance is exact quantized sufficient statistics. ---------------------
@query(
    "q633_roll_effective_spread",
    oracle=f"""
    WITH uv AS MATERIALIZED (
        SELECT date_trunc('month', l_shipdate) AS mth,
               {sql_dsum('l_extendedprice')}
                   / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS p
        FROM lineitem GROUP BY mth
    ),
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, p FROM uv
    ),
    dp AS MATERIALIZED (
        SELECT cur.x AS x, cur.p - prv.p AS d
        FROM idx cur JOIN idx prv ON prv.x = cur.x - 1
    ),
    pairs AS (
        SELECT a.d AS dx, b.d AS dy
        FROM dp a JOIN dp b ON b.x = a.x + 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('dx', 6)}) AS DOUBLE) / 1e6 AS sx,
               CAST(SUM({sql_quantize('dy', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('dx * dy', 6)}) AS DOUBLE) / 1e6 AS sxy
        FROM pairs
    ),
    c AS (
        SELECT n, (sxy - sx * sy / n) / (n - 1) AS cov FROM s
    ),
    mp AS (SELECT CAST(SUM({sql_quantize('p', 6)}) AS DOUBLE) / 1e6
                  / COUNT(*) AS pbar FROM uv)
    SELECT c.n AS n_pairs,
           CAST({sql_quantize('c.cov', 6)} AS DOUBLE) / 1e6 AS serial_cov,
           CASE WHEN c.cov < 0 THEN
               CAST({sql_quantize('2.0 * SQRT(-c.cov)', 6)} AS DOUBLE) / 1e6
           END AS roll_spread,
           CASE WHEN c.cov < 0 THEN
               CAST({sql_quantize('200.0 * SQRT(-c.cov) / mp.pbar', 6)}
                    AS DOUBLE) / 1e6
           END AS roll_spread_pct
    FROM c, mp
    """,
)
def q633(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    uv = li.groupBy(F.date_trunc("month", "l_shipdate").alias("mth")).agg(
        (
            dsum("l_extendedprice", 2)
            / F.sum(F.col("l_quantity").cast("bigint")).cast("double")
        ).alias("p")
    )
    idx = tracked_persist(
        uv.select(F.row_number().over(Window.orderBy("mth")).alias("x"), "p")
    )
    prv = idx.select((F.col("x") + 1).alias("x"), F.col("p").alias("pp"))
    dp = tracked_persist(
        idx.join(prv, "x").select("x", (F.col("p") - F.col("pp")).alias("d"))
    )
    nxt = dp.select((F.col("x") + 1).alias("x"), F.col("d").alias("dy"))
    pairs = dp.select("x", F.col("d").alias("dx")).join(nxt, "x")
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("dx", 6).alias("sx"),
        dsum("dy", 6).alias("sy"),
        dsum(F.col("dx") * F.col("dy"), 6).alias("sxy"),
    )
    c = s.select(
        "n",
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("cov"),
    )
    mp = uv.agg((dsum("p", 6) / F.count(F.lit(1))).alias("pbar"))
    out = c.crossJoin(F.broadcast(mp))
    return out.select(
        F.col("n").alias("n_pairs"),
        (quantize("cov", 6) / 1e6).alias("serial_cov"),
        F.when(
            F.col("cov") < 0,
            quantize(2.0 * F.sqrt(-F.col("cov")), 6) / 1e6,
        ).alias("roll_spread"),
        F.when(
            F.col("cov") < 0,
            quantize(200.0 * F.sqrt(-F.col("cov")) / F.col("pbar"), 6) / 1e6,
        ).alias("roll_spread_pct"),
    )


# --- q634: Parkinson (1980) and Garman-Klass (1980) range-based
# volatility from monthly OHLC bars of the daily-revenue series:
# σ²_P = mean[ln(H/L)²]/(4·ln2), σ²_GK = mean[½·ln(H/L)² −
# (2ln2−1)·ln(C/O)²] — the classic estimators that extract ~5-7×
# more information per bar than close-to-close variance. Open/close
# via min_by/max_by on the day key (exactly-one-row deterministic),
# high/low plain min/max; per-bar terms quantized then exactly
# averaged. -----------------------------------------------------------------------
@query(
    "q634_parkinson_garman_klass",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT date_trunc('day', l_shipdate) AS day,
               {sql_dsum('l_extendedprice')} AS rev
        FROM lineitem GROUP BY day
    ),
    bars AS MATERIALIZED (
        SELECT date_trunc('month', day) AS mth,
               arg_min(rev, day) AS o,
               MAX(rev) AS h,
               MIN(rev) AS l,
               arg_max(rev, day) AS c
        FROM daily GROUP BY mth
    ),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('LN(h / l) * LN(h / l)', 9)})
                    AS DOUBLE) / 1e9 AS shl,
               CAST(SUM({sql_quantize(
                   '0.5 * LN(h / l) * LN(h / l)'
                   ' - (2.0 * LN(2.0) - 1.0) * LN(c / o) * LN(c / o)', 9)})
                    AS DOUBLE) / 1e9 AS sgk
        FROM bars
    )
    SELECT n AS n_months,
           CAST({sql_quantize('SQRT(shl / n / (4.0 * LN(2.0)))', 6)}
                AS DOUBLE) / 1e6 AS parkinson_vol,
           CAST({sql_quantize('SQRT(sgk / n)', 6)} AS DOUBLE) / 1e6
               AS garman_klass_vol
    FROM t
    """,
)
def q634(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        dsum("l_extendedprice", 2).alias("rev")
    )
    bars = daily.groupBy(F.date_trunc("month", "day").alias("mth")).agg(
        F.min_by("rev", "day").alias("o"),
        F.max("rev").alias("h"),
        F.min("rev").alias("l"),
        F.max_by("rev", "day").alias("c"),
    )
    hl = F.log(F.col("h") / F.col("l"))
    co = F.log(F.col("c") / F.col("o"))
    ln2 = float(2.0)
    t = bars.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(hl * hl, 9).alias("shl"),
        dsum(0.5 * hl * hl - (2.0 * F.log(F.lit(ln2)) - 1.0) * co * co, 9).alias("sgk"),
    )
    return t.select(
        F.col("n").alias("n_months"),
        (
            quantize(
                F.sqrt(F.col("shl") / F.col("n") / (4.0 * F.log(F.lit(ln2)))),
                6,
            )
            / 1e6
        ).alias("parkinson_vol"),
        (quantize(F.sqrt(F.col("sgk") / F.col("n")), 6) / 1e6).alias(
            "garman_klass_vol"
        ),
    )


# --- q635: Amihud (2002) illiquidity by month — mean over the
# month's consecutive-day pairs of |daily return| / daily volume,
# scaled ×1e6 (the standard reporting unit). The day spine is the
# only global ordering (row_number over ~2.4k calendar days,
# whitelisted); everything else is one groupBy. -----------------------------------
@query(
    "q635_amihud_illiquidity",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT date_trunc('day', l_shipdate) AS day,
               {sql_dsum('l_extendedprice')} / 1e6 AS rev,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS vol
        FROM lineitem GROUP BY day
    ),
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS x, day, rev, vol
        FROM daily
    ),
    r AS (
        SELECT date_trunc('month', cur.day) AS mth,
               ABS(cur.rev / prv.rev - 1) / cur.vol * 1e6 AS illiq
        FROM idx cur JOIN idx prv ON prv.x = cur.x - 1
    )
    SELECT mth,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST({sql_quantize(
               'CAST(SUM(' + sql_quantize('illiq', 9)
               + ') AS DOUBLE) / 1e9 / COUNT(*)', 6)} AS DOUBLE) / 1e6
               AS amihud
    FROM r GROUP BY mth
    """,
)
def q635(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("day")).agg(
        (dsum("l_extendedprice", 2) / 1e6).alias("rev"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("double").alias("vol"),
    )
    idx = tracked_persist(
        daily.select(
            F.row_number().over(Window.orderBy("day")).alias("x"),
            "day",
            "rev",
            "vol",
        )
    )
    prv = idx.select((F.col("x") + 1).alias("x"), F.col("rev").alias("prev"))
    r = idx.join(prv, "x").select(
        F.date_trunc("month", "day").alias("mth"),
        (
            F.abs(F.col("rev") / F.col("prev") - 1) / F.col("vol") * 1e6
        ).alias("illiq"),
    )
    g = r.groupBy("mth").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (dsum("illiq", 9) / F.count(F.lit(1))).alias("m"),
    )
    return g.select(
        "mth", "n_days", (quantize("m", 6) / 1e6).alias("amihud")
    )


# --- q636: Sharpe / Sortino / Calmar performance ratios of the
# monthly revenue-growth series (rf = 0): Sharpe = √12·μ/σ, Sortino =
# √12·μ/√(Σmin(r,0)²/n) (full-n downside deviation), Calmar = 12·μ /
# max-drawdown of the underlying level series. μ/σ from exact
# quantized sufficient sums; the drawdown running-max rides the month
# spine. -----------------------------------------------------------------------
@query(
    "q636_sharpe_sortino_calmar",
    oracle=f"""
    WITH {_MRET_SQL},
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('r', 9)}) AS DOUBLE) / 1e9 AS s1,
               CAST(SUM({sql_quantize('r * r', 9)}) AS DOUBLE) / 1e9 AS s2,
               CAST(SUM({sql_quantize(
                   'CASE WHEN r < 0 THEN r * r ELSE 0.0 END', 9)})
                    AS DOUBLE) / 1e9 AS sdn
        FROM ret
    ),
    dd AS (
        SELECT MAX(d) AS maxdd FROM (
            SELECT 1.0 - rev / MAX(rev) OVER
                   (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS d
            FROM idx
        )
    )
    SELECT s.n AS n_rets,
           CAST({sql_quantize(
               'SQRT(12.0) * (s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1))',
               6)} AS DOUBLE) / 1e6 AS sharpe_ann,
           CASE WHEN sdn > 0 THEN CAST({sql_quantize(
               'SQRT(12.0) * (s1 / n) / SQRT(sdn / n)', 6)} AS DOUBLE) / 1e6
           END AS sortino_ann,
           CASE WHEN dd.maxdd > 0 THEN CAST({sql_quantize(
               '12.0 * (s1 / n) / dd.maxdd', 6)} AS DOUBLE) / 1e6
           END AS calmar,
           CAST({sql_quantize('dd.maxdd', 6)} AS DOUBLE) / 1e6
               AS max_drawdown
    FROM s, dd
    """,
)
def q636(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    idx = tracked_persist(
        monthly.select(
            F.row_number().over(Window.orderBy("mth")).alias("x"), "rev"
        )
    )
    prv = idx.select((F.col("x") + 1).alias("x"), F.col("rev").alias("prev"))
    ret = idx.join(prv, "x").select(
        (F.col("rev") / F.col("prev") - 1).alias("r")
    )
    s = ret.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("r", 9).alias("s1"),
        dsum(F.col("r") * F.col("r"), 9).alias("s2"),
        dsum(
            F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0), 9
        ).alias("sdn"),
    )
    runmax = F.max("rev").over(
        Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = idx.select((1.0 - F.col("rev") / runmax).alias("d")).agg(
        F.max("d").alias("maxdd")
    )
    out = s.crossJoin(F.broadcast(dd))
    mu = F.col("s1") / F.col("n")
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    sq12 = F.sqrt(F.lit(12.0))
    return out.select(
        F.col("n").alias("n_rets"),
        (quantize(sq12 * mu / sd, 6) / 1e6).alias("sharpe_ann"),
        F.when(
            F.col("sdn") > 0,
            quantize(sq12 * mu / F.sqrt(F.col("sdn") / F.col("n")), 6) / 1e6,
        ).alias("sortino_ann"),
        F.when(
            F.col("maxdd") > 0, quantize(12.0 * mu / F.col("maxdd"), 6) / 1e6
        ).alias("calmar"),
        (quantize("maxdd", 6) / 1e6).alias("max_drawdown"),
    )


# --- q637: Martin's ulcer index (1987) of the monthly revenue level —
# UI = √(mean D_t²) with D_t = 100·(rev_t/runmax_t − 1) ≤ 0, pain
# index = mean|D_t|, Martin (pain) ratio = annualized mean growth (%)
# / UI: the drawdown-DEPTH-weighted risk complement to q636's Calmar
# (which sees only the single worst trough). ----------------------------------
@query(
    "q637_ulcer_index_pain_ratio",
    oracle=f"""
    WITH {_MRET_SQL},
    d AS MATERIALIZED (
        SELECT 100.0 * (rev / MAX(rev) OVER
                   (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) - 1.0) AS dd
        FROM idx
    ),
    u AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('dd * dd', 9)}) AS DOUBLE) / 1e9 AS sq,
               CAST(SUM({sql_quantize('-dd', 9)}) AS DOUBLE) / 1e9 AS sa
        FROM d
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nr,
               CAST(SUM({sql_quantize('r', 9)}) AS DOUBLE) / 1e9 AS s1
        FROM ret
    )
    SELECT u.n AS n_months,
           CAST({sql_quantize('SQRT(sq / n)', 6)} AS DOUBLE) / 1e6
               AS ulcer_index,
           CAST({sql_quantize('sa / n', 6)} AS DOUBLE) / 1e6 AS pain_index,
           CASE WHEN sq > 0 THEN CAST({sql_quantize(
               '100.0 * 12.0 * (s1 / nr) / SQRT(sq / n)', 6)}
               AS DOUBLE) / 1e6
           END AS martin_ratio
    FROM u, g
    """,
)
def q637(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    idx = tracked_persist(
        monthly.select(
            F.row_number().over(Window.orderBy("mth")).alias("x"), "rev"
        )
    )
    runmax = F.max("rev").over(
        Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    )
    d = idx.select((100.0 * (F.col("rev") / runmax - 1.0)).alias("dd"))
    u = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.col("dd") * F.col("dd"), 9).alias("sq"),
        dsum(-F.col("dd"), 9).alias("sa"),
    )
    prv = idx.select((F.col("x") + 1).alias("x"), F.col("rev").alias("prev"))
    ret = idx.join(prv, "x").select(
        (F.col("rev") / F.col("prev") - 1).alias("r")
    )
    g = ret.agg(
        F.count(F.lit(1)).cast("long").alias("nr"),
        dsum("r", 9).alias("s1"),
    )
    out = u.crossJoin(F.broadcast(g))
    ui = F.sqrt(F.col("sq") / F.col("n"))
    return out.select(
        F.col("n").alias("n_months"),
        (quantize(ui, 6) / 1e6).alias("ulcer_index"),
        (quantize(F.col("sa") / F.col("n"), 6) / 1e6).alias("pain_index"),
        F.when(
            F.col("sq") > 0,
            quantize(100.0 * 12.0 * (F.col("s1") / F.col("nr")) / ui, 6) / 1e6,
        ).alias("martin_ratio"),
    )


# --- q638: Cornish-Fisher (1938) modified 95% VaR of monthly returns
# — the quantile expansion that corrects the Gaussian z by the
# sample's own skew S and excess kurtosis K:
#   z_cf = z + (z²−1)S/6 + (z³−3z)K/24 − (2z³−5z)S²/36,  z = −1.645
# mVaR = −(μ + z_cf·σ). Central moments via the q487 two-pass exact
# pattern (mean first, quantized Σ(r−μ)^{2,3,4} second); reported next
# to the plain-normal VaR so the fat-tail correction is visible. --------------
@query(
    "q638_cornish_fisher_var",
    oracle=f"""
    WITH {_MRET_SQL},
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('r', 9)}) AS DOUBLE) / 1e9 AS s1
        FROM ret
    ),
    cm AS (
        SELECT (SELECT n FROM m) AS n,
               CAST(SUM({sql_quantize(
                   '(r - (SELECT s1 / n FROM m))'
                   ' * (r - (SELECT s1 / n FROM m))', 12)})
                    AS DOUBLE) / 1e12 AS m2,
               CAST(SUM({sql_quantize(
                   '(r - (SELECT s1 / n FROM m))'
                   ' * (r - (SELECT s1 / n FROM m))'
                   ' * (r - (SELECT s1 / n FROM m))', 12)})
                    AS DOUBLE) / 1e12 AS m3,
               CAST(SUM({sql_quantize(
                   '(r - (SELECT s1 / n FROM m))'
                   ' * (r - (SELECT s1 / n FROM m))'
                   ' * (r - (SELECT s1 / n FROM m))'
                   ' * (r - (SELECT s1 / n FROM m))', 12)})
                    AS DOUBLE) / 1e12 AS m4,
               (SELECT s1 / n FROM m) AS mu
        FROM ret
    ),
    k AS (
        SELECT n, mu,
               SQRT(m2 / n) AS sig,
               (m3 / n) / POW(m2 / n, 1.5) AS s,
               (m4 / n) / ((m2 / n) * (m2 / n)) - 3.0 AS ek
        FROM cm
    )
    SELECT n AS n_rets,
           CAST({sql_quantize('s', 6)} AS DOUBLE) / 1e6 AS skewness,
           CAST({sql_quantize('ek', 6)} AS DOUBLE) / 1e6 AS excess_kurtosis,
           CAST({sql_quantize('-(mu - 1.6448536269514722 * sig)', 6)}
                AS DOUBLE) / 1e6 AS var95_normal,
           CAST({sql_quantize(
               '-(mu + (-1.6448536269514722e0'
               ' + ((-1.6448536269514722e0) * (-1.6448536269514722e0) - 1.0)'
               ' * s / 6.0'
               ' + ((-1.6448536269514722e0) * (-1.6448536269514722e0)'
               ' * (-1.6448536269514722e0) - 3.0 * (-1.6448536269514722e0))'
               ' * ek / 24.0'
               ' - (2.0 * (-1.6448536269514722e0) * (-1.6448536269514722e0)'
               ' * (-1.6448536269514722e0) - 5.0 * (-1.6448536269514722e0))'
               ' * s * s / 36.0) * sig)', 6)} AS DOUBLE) / 1e6
               AS var95_cornish_fisher
    FROM k
    """,
)
def q638(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    ret = tracked_persist(_monthly_ret(spark, sf_dir).select("r"))
    m = ret.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("r", 9).alias("s1"),
    )
    dev = F.col("r") - F.col("s1") / F.col("n")
    cm = (
        ret.crossJoin(F.broadcast(m))
        .agg(
            F.first("n").alias("n"),
            dsum(dev * dev, 12).alias("m2"),
            dsum(dev * dev * dev, 12).alias("m3"),
            dsum(dev * dev * dev * dev, 12).alias("m4"),
            (F.first("s1") / F.first("n")).alias("mu"),
        )
    )
    z = -1.6448536269514722
    k = cm.select(
        "n",
        "mu",
        F.sqrt(F.col("m2") / F.col("n")).alias("sig"),
        ((F.col("m3") / F.col("n")) / F.pow(F.col("m2") / F.col("n"), 1.5)).alias(
            "s"
        ),
        (
            (F.col("m4") / F.col("n"))
            / ((F.col("m2") / F.col("n")) * (F.col("m2") / F.col("n")))
            - 3.0
        ).alias("ek"),
    )
    zcf = (
        F.lit(z)
        + (F.lit(z) * F.lit(z) - 1.0) * F.col("s") / 6.0
        + (F.lit(z) * F.lit(z) * F.lit(z) - 3.0 * F.lit(z)) * F.col("ek") / 24.0
        - (2.0 * F.lit(z) * F.lit(z) * F.lit(z) - 5.0 * F.lit(z))
        * F.col("s")
        * F.col("s")
        / 36.0
    )
    return k.select(
        F.col("n").alias("n_rets"),
        (quantize("s", 6) / 1e6).alias("skewness"),
        (quantize("ek", 6) / 1e6).alias("excess_kurtosis"),
        (quantize(-(F.col("mu") + F.lit(z) * F.col("sig")), 6) / 1e6).alias(
            "var95_normal"
        ),
        (quantize(-(F.col("mu") + zcf * F.col("sig")), 6) / 1e6).alias(
            "var95_cornish_fisher"
        ),
    )


# ===== Wave q651-q656: post-OLS diagnostics tier II ====================
# Completes the q486/q488 Durbin-Watson / Breusch-Pagan pair with the
# rest of the classic regression-diagnostics toolbox, all on the
# monthly-revenue-on-time fit: PRESS/LOOCV (Allen 1974), leverage +
# internally studentized residuals, Glejser (1969) + Harvey-Godfrey
# (1976/1978) heteroscedasticity, Goldfeld-Quandt (1965), Ramsey RESET
# (1969) and Breusch-Godfrey (1978/1979). Multi-regressor F/LM tests
# reduce to SEQUENCES OF 1-D CLOSED-FORM REGRESSIONS via
# Frisch-Waugh-Lovell partialling, so every statistic is exact
# quantized sums + a shared double-formula tree — no matrix solver,
# no driver math, and the only data-sized work remains the monthly
# rollup shuffle.

# --- q651: PRESS statistic + LOOCV RMSE of the monthly trend fit —
# PRESS = Σ(e_i/(1−h_i))² with the simple-regression hat diagonal
# h_i = 1/n + (x_i−x̄)²/Sxx: the exact leave-one-out error WITHOUT
# n refits (Allen 1974). Reported with R²_prediction = 1 − PRESS/SST,
# the honest out-of-sample complement of q127's in-sample R². ------------------
@query(
    "q651_press_loocv",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    {_OLS_RESID_SQL},
    st AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
               CAST(SUM({sql_quantize('y', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('y * y', 6)}) AS DOUBLE) / 1e6 AS syy
        FROM d
    ),
    terms AS (
        SELECT CAST(SUM({sql_quantize(
                   '(r.e / (1.0 - (1.0 / st.n'
                   ' + (r.x - st.sx / st.n) * (r.x - st.sx / st.n)'
                   ' / (st.sxx - st.sx * st.sx / st.n))))'
                   ' * (r.e / (1.0 - (1.0 / st.n'
                   ' + (r.x - st.sx / st.n) * (r.x - st.sx / st.n)'
                   ' / (st.sxx - st.sx * st.sx / st.n))))', 9)})
                    AS DOUBLE) / 1e9 AS press
        FROM resid r, st
    )
    SELECT CAST(st.n AS BIGINT) AS n_months,
           CAST({sql_quantize('terms.press', 6)} AS DOUBLE) / 1e6 AS press,
           CAST({sql_quantize('SQRT(terms.press / st.n)', 6)}
                AS DOUBLE) / 1e6 AS loocv_rmse,
           CAST({sql_quantize(
               '1.0 - terms.press / (st.syy - st.sy * st.sy / st.n)', 6)}
               AS DOUBLE) / 1e6 AS r2_prediction
    FROM st, terms
    """,
)
def q651(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    monthly = _monthly_rev(spark, sf_dir)
    d = monthly.select(
        F.col("rev").alias("y"),
        F.row_number().over(Window.orderBy("mth")).cast("double").alias("x"),
    )
    st = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        dsum("y", 6).alias("sy"),
        dsum(F.col("y") * F.col("y"), 6).alias("syy"),
    )
    resid = _ols_resid(spark, sf_dir)
    h = F.lit(1.0) / F.col("n") + (
        (F.col("x") - F.col("sx") / F.col("n"))
        * (F.col("x") - F.col("sx") / F.col("n"))
        / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
    )
    t = F.col("e") / (1.0 - h)
    terms = resid.crossJoin(F.broadcast(st)).agg(
        dsum(t * t, 9).alias("press"),
        F.first("n").alias("n"),
        F.first("sy").alias("sy"),
        F.first("syy").alias("syy"),
    )
    return terms.select(
        F.col("n").cast("long").alias("n_months"),
        (quantize("press", 6) / 1e6).alias("press"),
        (quantize(F.sqrt(F.col("press") / F.col("n")), 6) / 1e6).alias(
            "loocv_rmse"
        ),
        (
            quantize(
                1.0
                - F.col("press")
                / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
                6,
            )
            / 1e6
        ).alias("r2_prediction"),
    )


# --- q652: leverage + internally studentized residuals — r_i =
# e_i/(s·√(1−h_i)) with s² = RSS/(n−2): the properly-scaled outlier
# diagnostic that q628's Cook's distance composes (D_i =
# r_i²·h_i/((1−h_i)·p)). Top-5 months by |r| (ties by month), the
# months a modeler would actually inspect. ---------------------------------------
@query(
    "q652_studentized_residuals",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    {_OLS_RESID_SQL},
    st AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
        FROM d
    ),
    rss AS (
        SELECT CAST(SUM({sql_quantize('e * e', 9)}) AS DOUBLE) / 1e9 AS sse
        FROM resid
    ),
    scored AS (
        SELECT r.mth,
               1.0 / st.n + (r.x - st.sx / st.n) * (r.x - st.sx / st.n)
                   / (st.sxx - st.sx * st.sx / st.n) AS h,
               r.e / (SQRT(rss.sse / (st.n - 2))
                      * SQRT(1.0 - (1.0 / st.n
                          + (r.x - st.sx / st.n) * (r.x - st.sx / st.n)
                          / (st.sxx - st.sx * st.sx / st.n)))) AS r
        FROM resid r, st, rss
    )
    SELECT mth,
           CAST({sql_quantize('h', 6)} AS DOUBLE) / 1e6 AS leverage,
           CAST({sql_quantize('r', 6)} AS DOUBLE) / 1e6 AS studentized
    FROM scored
    ORDER BY ABS(r) DESC, mth
    LIMIT 5
    """,
)
def q652(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    monthly = _monthly_rev(spark, sf_dir)
    d = monthly.select(
        F.row_number().over(Window.orderBy("mth")).cast("double").alias("x")
    )
    st = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    resid = _ols_resid(spark, sf_dir)
    rss = resid.agg(dsum(F.col("e") * F.col("e"), 9).alias("sse"))
    scored = resid.crossJoin(F.broadcast(st)).crossJoin(F.broadcast(rss))
    h = F.lit(1.0) / F.col("n") + (
        (F.col("x") - F.col("sx") / F.col("n"))
        * (F.col("x") - F.col("sx") / F.col("n"))
        / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
    )
    r = F.col("e") / (
        F.sqrt(F.col("sse") / (F.col("n") - 2)) * F.sqrt(1.0 - h)
    )
    out = scored.select(
        "mth", h.alias("h"), r.alias("r")
    )
    return (
        out.orderBy(F.abs(F.col("r")).desc(), F.asc("mth"))
        .limit(5)
        .select(
            "mth",
            (quantize("h", 6) / 1e6).alias("leverage"),
            (quantize("r", 6) / 1e6).alias("studentized"),
        )
    )


# --- q653: Glejser (1969) + Harvey-Godfrey heteroscedasticity tests —
# the |e|-on-x and ln(e²)-on-x auxiliary slopes with their t
# statistics, flanking q488's Breusch-Pagan (e²-on-x): Glejser is
# robust to outlier residuals, Harvey-Godfrey tests multiplicative
# variance. Each is a closed-form 1-D regression over the residual
# frame (ln(e²) rows with e = 0 are excluded by contract — ln is
# undefined there; the count reports how many were kept). -----------------------
@query(
    "q653_glejser_harvey_godfrey",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    {_OLS_RESID_SQL},
    g AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
               CAST(SUM({sql_quantize('ABS(e)', 9)}) AS DOUBLE) / 1e9 AS sy,
               CAST(SUM({sql_quantize('x * ABS(e)', 9)}) AS DOUBLE) / 1e9
                   AS sxy,
               CAST(SUM({sql_quantize('ABS(e) * ABS(e)', 9)}) AS DOUBLE)
                   / 1e9 AS syy
        FROM resid
    ),
    hg AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
               CAST(SUM({sql_quantize('LN(e * e)', 9)}) AS DOUBLE) / 1e9
                   AS sy,
               CAST(SUM({sql_quantize('x * LN(e * e)', 9)}) AS DOUBLE) / 1e9
                   AS sxy,
               CAST(SUM({sql_quantize('LN(e * e) * LN(e * e)', 9)})
                    AS DOUBLE) / 1e9 AS syy
        FROM resid WHERE e <> 0
    ),
    f AS (
        SELECT CAST(g.n AS BIGINT) AS n_glejser,
               (g.n * g.sxy - g.sx * g.sy) / (g.n * g.sxx - g.sx * g.sx)
                   AS b_g,
               (g.syy - g.sy * g.sy / g.n
                - ((g.n * g.sxy - g.sx * g.sy) / (g.n * g.sxx - g.sx * g.sx))
                  * (g.sxy - g.sx * g.sy / g.n)) / (g.n - 2)
                   / (g.sxx - g.sx * g.sx / g.n) AS v_g,
               CAST(hg.n AS BIGINT) AS n_harvey,
               (hg.n * hg.sxy - hg.sx * hg.sy)
                   / (hg.n * hg.sxx - hg.sx * hg.sx) AS b_h,
               (hg.syy - hg.sy * hg.sy / hg.n
                - ((hg.n * hg.sxy - hg.sx * hg.sy)
                   / (hg.n * hg.sxx - hg.sx * hg.sx))
                  * (hg.sxy - hg.sx * hg.sy / hg.n)) / (hg.n - 2)
                   / (hg.sxx - hg.sx * hg.sx / hg.n) AS v_h
        FROM g, hg
    )
    SELECT n_glejser, n_harvey,
           CAST({sql_quantize('b_g', 8)} AS DOUBLE) / 1e8 AS glejser_slope,
           CAST({sql_quantize('b_g / SQRT(v_g)', 6)} AS DOUBLE) / 1e6
               AS glejser_t,
           CAST({sql_quantize('b_h', 8)} AS DOUBLE) / 1e8
               AS harvey_godfrey_slope,
           CAST({sql_quantize('b_h / SQRT(v_h)', 6)} AS DOUBLE) / 1e6
               AS harvey_godfrey_t
    FROM f
    """,
)
def q653(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    resid = _ols_resid(spark, sf_dir)
    from pandrs_spark.operators.util import tracked_persist

    resid = tracked_persist(resid)

    def aux(frame, ycol):
        return frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            dsum(ycol, 9).alias("sy"),
            dsum(F.col("x") * ycol, 9).alias("sxy"),
            dsum(ycol * ycol, 9).alias("syy"),
        )

    def slope_var(pfx):
        n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
        sy, sxy, syy = F.col("sy"), F.col("sxy"), F.col("syy")
        b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        v = (
            (syy - sy * sy / n - b * (sxy - sx * sy / n))
            / (n - 2)
            / (sxx - sx * sx / n)
        )
        return b, v

    g = aux(resid, F.abs(F.col("e")))
    bg, vg = slope_var("g")
    g = g.select(
        F.col("n").cast("long").alias("n_glejser"),
        bg.alias("b_g"),
        vg.alias("v_g"),
    )
    hgf = aux(
        resid.where(F.col("e") != 0), F.log(F.col("e") * F.col("e"))
    )
    bh, vh = slope_var("h")
    hgf = hgf.select(
        F.col("n").cast("long").alias("n_harvey"),
        bh.alias("b_h"),
        vh.alias("v_h"),
    )
    out = g.crossJoin(F.broadcast(hgf))
    return out.select(
        "n_glejser",
        "n_harvey",
        (quantize("b_g", 8) / 1e8).alias("glejser_slope"),
        (quantize(F.col("b_g") / F.sqrt(F.col("v_g")), 6) / 1e6).alias(
            "glejser_t"
        ),
        (quantize("b_h", 8) / 1e8).alias("harvey_godfrey_slope"),
        (quantize(F.col("b_h") / F.sqrt(F.col("v_h")), 6) / 1e6).alias(
            "harvey_godfrey_t"
        ),
    )


# --- q654: Goldfeld-Quandt (1965) heteroscedasticity test — fit the
# trend separately on the FIRST and LAST thirds of the spine (middle
# third dropped, the classic d = n/3 screen) and compare residual
# variances: F = (RSS₂/df₂)/(RSS₁/df₁). Segment RSS in closed
# centered-sums form: RSS = Syy − Sxy²/Sxx; one conditional-sum pass
# after a broadcast count. --------------------------------------------------------
@query(
    "q654_goldfeld_quandt",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    d AS MATERIALIZED (
        SELECT rev AS y,
               CAST(ROW_NUMBER() OVER (ORDER BY mth) AS DOUBLE) AS x
        FROM monthly
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    seg AS (
        SELECT CASE WHEN x <= FLOOR(nn.n / 3.0) THEN 1
                    WHEN x > nn.n - FLOOR(nn.n / 3.0) THEN 2 END AS s,
               x, y
        FROM d, nn
    ),
    st AS (
        SELECT s, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
               CAST(SUM({sql_quantize('y', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('x * y', 6)}) AS DOUBLE) / 1e6 AS sxy,
               CAST(SUM({sql_quantize('y * y', 6)}) AS DOUBLE) / 1e6 AS syy
        FROM seg WHERE s IS NOT NULL GROUP BY s
    ),
    rss AS (
        SELECT s, n,
               (syy - sy * sy / n)
               - (sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / (sxx - sx * sx / n) AS r
        FROM st
    ),
    w AS (
        SELECT MAX(CASE WHEN s = 1 THEN n END) AS n1,
               MAX(CASE WHEN s = 2 THEN n END) AS n2,
               MAX(CASE WHEN s = 1 THEN r END) AS r1,
               MAX(CASE WHEN s = 2 THEN r END) AS r2
        FROM rss
    )
    SELECT CAST(n1 AS BIGINT) AS n_first, CAST(n2 AS BIGINT) AS n_last,
           CAST({sql_quantize('r1 / (n1 - 2)', 6)} AS DOUBLE) / 1e6
               AS mse_first,
           CAST({sql_quantize('r2 / (n2 - 2)', 6)} AS DOUBLE) / 1e6
               AS mse_last,
           CAST({sql_quantize('(r2 / (n2 - 2)) / (r1 / (n1 - 2))', 6)}
                AS DOUBLE) / 1e6 AS gq_f_stat
    FROM w
    """,
)
def q654(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    monthly = _monthly_rev(spark, sf_dir)
    d = monthly.select(
        F.col("rev").alias("y"),
        F.row_number().over(Window.orderBy("mth")).cast("double").alias("x"),
    )
    from pandrs_spark.operators.util import tracked_persist

    d = tracked_persist(d)
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    seg = d.crossJoin(F.broadcast(nn)).select(
        F.when(F.col("x") <= F.floor(F.col("n") / 3.0), 1)
        .when(F.col("x") > F.col("n") - F.floor(F.col("n") / 3.0), 2)
        .alias("s"),
        "x",
        "y",
    )
    st = (
        seg.where(F.col("s").isNotNull())
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            dsum("y", 6).alias("sy"),
            dsum(F.col("x") * F.col("y"), 6)
            .alias("sxy"),
            dsum(F.col("y") * F.col("y"), 6)
            .alias("syy"),
        )
    )
    r = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) - (
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    ) * (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    rss = st.select("s", "n", r.alias("r"))
    w = rss.agg(
        F.max(F.when(F.col("s") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("s") == 2, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("s") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("s") == 2, F.col("r"))).alias("r2"),
    )
    mse1 = F.col("r1") / (F.col("n1") - 2)
    mse2 = F.col("r2") / (F.col("n2") - 2)
    return w.select(
        F.col("n1").cast("long").alias("n_first"),
        F.col("n2").cast("long").alias("n_last"),
        (quantize(mse1, 6) / 1e6).alias("mse_first"),
        (quantize(mse2, 6) / 1e6).alias("mse_last"),
        (quantize(mse2 / mse1, 6) / 1e6).alias("gq_f_stat"),
    )


# --- q655: Ramsey RESET (1969) functional-form test, quadratic term —
# does adding ŷ² (⇔ x², since ŷ is affine in x) improve the trend
# fit? Computed EXACTLY via Frisch-Waugh-Lovell: partial x² out of
# {1, x} on the spine (integer sums), then the added-variable gain is
# (Σe·z*)²/Σz*² and F = gain/((RSS₁−gain)/(n−3)) — three 1-D closed
# forms, no 3×3 solve. ------------------------------------------------------------
@query(
    "q655_ramsey_reset",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    {_OLS_RESID_SQL},
    zfit AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
               SUM(x * x) AS sz, SUM(x * x * x) AS sxz
        FROM d
    ),
    zc AS (
        SELECT n,
               (n * sxz - sx * sz) / (n * sxx - sx * sx) AS a1,
               (sz - (n * sxz - sx * sz) / (n * sxx - sx * sx) * sx) / n
                   AS a0
        FROM zfit
    ),
    fwl AS (
        SELECT CAST(SUM({sql_quantize('r.e * r.e', 9)}) AS DOUBLE) / 1e9
                   AS rss1,
               CAST(SUM({sql_quantize(
                   'r.e * (r.x * r.x - (zc.a0 + zc.a1 * r.x))', 6)})
                    AS DOUBLE) / 1e6 AS sez,
               CAST(SUM({sql_quantize(
                   '(r.x * r.x - (zc.a0 + zc.a1 * r.x))'
                   ' * (r.x * r.x - (zc.a0 + zc.a1 * r.x))', 6)})
                    AS DOUBLE) / 1e6 AS szz,
               CAST(MAX(zc.n) AS BIGINT) AS n
        FROM resid r, zc
    )
    SELECT n AS n_months,
           CAST({sql_quantize('sez / szz', 9)} AS DOUBLE) / 1e9
               AS quad_coef,
           CAST({sql_quantize(
               '(sez * sez / szz)'
               ' / ((rss1 - sez * sez / szz) / (n - 3))', 6)}
               AS DOUBLE) / 1e6 AS reset_f_stat
    FROM fwl
    """,
)
def q655(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    monthly = _monthly_rev(spark, sf_dir)
    d = monthly.select(
        F.row_number().over(Window.orderBy("mth")).cast("double").alias("x")
    )
    zfit = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("x")).alias("sz"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("sxz"),
    )
    a1 = (F.col("n") * F.col("sxz") - F.col("sx") * F.col("sz")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    zc = zfit.select(
        "n",
        a1.alias("a1"),
        ((F.col("sz") - a1 * F.col("sx")) / F.col("n")).alias("a0"),
    )
    resid = _ols_resid(spark, sf_dir)
    zstar = F.col("x") * F.col("x") - (
        F.col("a0") + F.col("a1") * F.col("x")
    )
    fwl = resid.crossJoin(F.broadcast(zc)).agg(
        dsum(F.col("e") * F.col("e"), 9).alias("rss1"),
        dsum(F.col("e") * zstar, 6).alias("sez"),
        dsum(zstar * zstar, 6).alias("szz"),
        F.max("n").cast("long").alias("n"),
    )
    gain = F.col("sez") * F.col("sez") / F.col("szz")
    return fwl.select(
        F.col("n").alias("n_months"),
        (quantize(F.col("sez") / F.col("szz"), 9) / 1e9).alias("quad_coef"),
        (
            quantize(gain / ((F.col("rss1") - gain) / (F.col("n") - 3)), 6)
            / 1e6
        ).alias("reset_f_stat"),
    )


# --- q656: Breusch-Godfrey (1978) LM test for AR(1) residual
# autocorrelation — regress e_t on {1, x_t, e_{t−1}} over t ≥ 2 and
# LM = (n−1)·R², again via FWL on the subsample: r₁ = e⊥{1,x},
# w* = e_{t−1}⊥{1,x}, R² = (Σr₁w*)²/(Σw*²·SST). The regression-based
# generalization of q486's Durbin-Watson that stays valid with lagged
# regressors. ---------------------------------------------------------------------
@query(
    "q656_breusch_godfrey_lm",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    {_OLS_RESID_SQL},
    pairs AS MATERIALIZED (
        SELECT a.x AS x, a.e AS u, b.e AS w
        FROM resid a JOIN resid b ON b.x = a.x - 1
    ),
    st AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
               CAST(SUM({sql_quantize('u', 9)}) AS DOUBLE) / 1e9 AS su,
               CAST(SUM({sql_quantize('x * u', 9)}) AS DOUBLE) / 1e9 AS sxu,
               CAST(SUM({sql_quantize('w', 9)}) AS DOUBLE) / 1e9 AS sw,
               CAST(SUM({sql_quantize('x * w', 9)}) AS DOUBLE) / 1e9 AS sxw
        FROM pairs
    ),
    cf AS (
        SELECT n,
               (n * sxu - sx * su) / (n * sxx - sx * sx) AS bu,
               (su - (n * sxu - sx * su) / (n * sxx - sx * sx) * sx) / n
                   AS au,
               (n * sxw - sx * sw) / (n * sxx - sx * sx) AS bw,
               (sw - (n * sxw - sx * sw) / (n * sxx - sx * sx) * sx) / n
                   AS aw
        FROM st
    ),
    fwl AS (
        SELECT CAST(SUM({sql_quantize(
                   '(p.u - (cf.au + cf.bu * p.x))'
                   ' * (p.u - (cf.au + cf.bu * p.x))', 9)})
                    AS DOUBLE) / 1e9 AS s11,
               CAST(SUM({sql_quantize(
                   '(p.u - (cf.au + cf.bu * p.x))'
                   ' * (p.w - (cf.aw + cf.bw * p.x))', 9)})
                    AS DOUBLE) / 1e9 AS s1w,
               CAST(SUM({sql_quantize(
                   '(p.w - (cf.aw + cf.bw * p.x))'
                   ' * (p.w - (cf.aw + cf.bw * p.x))', 9)})
                    AS DOUBLE) / 1e9 AS sww,
               CAST(MAX(cf.n) AS BIGINT) AS n
        FROM pairs p, cf
    )
    SELECT n AS n_pairs,
           CAST({sql_quantize('s1w / sww', 6)} AS DOUBLE) / 1e6 AS rho_hat,
           CAST({sql_quantize(
               'n * (s1w * s1w) / (sww * s11)', 6)} AS DOUBLE) / 1e6
               AS bg_lm_stat
    FROM fwl
    """,
)
def q656(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    resid = tracked_persist(_ols_resid(spark, sf_dir))
    b = resid.select((F.col("x") + 1).alias("x"), F.col("e").alias("w"))
    pairs = tracked_persist(
        resid.select("x", F.col("e").alias("u")).join(b, "x")
    )
    st = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        dsum("u", 9).alias("su"),
        dsum(F.col("x") * F.col("u"), 9).alias("sxu"),
        dsum("w", 9).alias("sw"),
        dsum(F.col("x") * F.col("w"), 9).alias("sxw"),
    )
    bu = (F.col("n") * F.col("sxu") - F.col("sx") * F.col("su")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    bw = (F.col("n") * F.col("sxw") - F.col("sx") * F.col("sw")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    cf = st.select(
        "n",
        bu.alias("bu"),
        ((F.col("su") - bu * F.col("sx")) / F.col("n")).alias("au"),
        bw.alias("bw"),
        ((F.col("sw") - bw * F.col("sx")) / F.col("n")).alias("aw"),
    )
    r1 = F.col("u") - (F.col("au") + F.col("bu") * F.col("x"))
    ws = F.col("w") - (F.col("aw") + F.col("bw") * F.col("x"))
    fwl = pairs.crossJoin(F.broadcast(cf)).agg(
        dsum(r1 * r1, 9).alias("s11"),
        dsum(r1 * ws, 9).alias("s1w"),
        dsum(ws * ws, 9).alias("sww"),
        F.max("n").cast("long").alias("n"),
    )
    return fwl.select(
        F.col("n").alias("n_pairs"),
        (quantize(F.col("s1w") / F.col("sww"), 6) / 1e6).alias("rho_hat"),
        (
            quantize(
                F.col("n")
                * (F.col("s1w") * F.col("s1w"))
                / (F.col("sww") * F.col("s11")),
                6,
            )
            / 1e6
        ).alias("bg_lm_stat"),
    )


# ===== Wave q663-q668: time-series analysis tier II ===================
# Public methodology: Lo-MacKinlay (1988) variance ratio, the Theta
# method (Assimakopoulos & Nikolopoulos 2000; Hyndman & Billah 2003
# SES-with-drift equivalence), detrended fluctuation analysis (Peng et
# al. 1994), the Kalman (1960) local-level filter (Harvey 1989 form),
# Cowles-Jones (1937) continuation ratio, and one-way random-effects
# variance components / ICC (Fisher 1925). Recursions fold over the
# BOUNDED month spine exactly like q82's Holt (list_reduce in DuckDB,
# the JVM-side `aggregate` higher-order function in Spark — identical
# update arithmetic, no Python in the loop); everything else is exact
# quantized sums.

# --- q663: Lo-MacKinlay (1988) variance-ratio test, q = 4 — is the
# monthly log-revenue series a random walk? VR = Var(r₄)/(4·Var(r₁))
# over OVERLAPPING 4-month log returns; homoscedastic asymptotic
# z = (VR−1)/√(2(2q−1)(q−1)/(3q·n)). Both variances are mean-adjusted
# two-pass exact sums; the 4-month return is one spine lag-join, not
# a window. -----------------------------------------------------------------------
@query(
    "q663_variance_ratio_test",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    r1 AS MATERIALIZED (
        SELECT LN(cur.rev / prv.rev) AS r
        FROM idx cur JOIN idx prv ON prv.x = cur.x - 1
    ),
    r4 AS MATERIALIZED (
        SELECT LN(cur.rev / prv.rev) AS r
        FROM idx cur JOIN idx prv ON prv.x = cur.x - 4
    ),
    m1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('r', 9)}) AS DOUBLE) / 1e9 AS s1
        FROM r1
    ),
    v1 AS (
        SELECT CAST(SUM({sql_quantize(
                   '(r - (SELECT s1 / n FROM m1))'
                   ' * (r - (SELECT s1 / n FROM m1))', 12)})
                    AS DOUBLE) / 1e12 AS ss
        FROM r1
    ),
    v4 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM({sql_quantize(
                   '(r - 4.0 * (SELECT s1 / n FROM m1))'
                   ' * (r - 4.0 * (SELECT s1 / n FROM m1))', 12)})
                    AS DOUBLE) / 1e12 AS ss
        FROM r4
    )
    SELECT m1.n AS n_rets,
           CAST({sql_quantize('vr', 6)} AS DOUBLE) / 1e6 AS vr4,
           CAST({sql_quantize(
               '(vr - 1.0) / SQRT(2.0 * (2.0 * 4.0 - 1.0) * (4.0 - 1.0)'
               ' / (3.0 * 4.0 * m1.n))', 6)} AS DOUBLE) / 1e6 AS vr_z
    FROM m1, (
        SELECT (v4.ss / (v4.m - 1)) / (4.0 * (v1.ss / ((SELECT n FROM m1) - 1)))
               AS vr
        FROM v1, v4
    )
    """,
)
def q663(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    idx = tracked_persist(
        monthly.select(
            F.row_number().over(Window.orderBy("mth")).alias("x"), "rev"
        )
    )

    def lagret(k):
        prv = idx.select(
            (F.col("x") + k).alias("x"), F.col("rev").alias("prev")
        )
        return idx.join(prv, "x").select(
            F.log(F.col("rev") / F.col("prev")).alias("r")
        )

    r1 = tracked_persist(lagret(1))
    r4 = lagret(4)
    m1 = r1.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("r", 9).alias("s1"),
    )
    mu = F.col("s1") / F.col("n")
    v1 = r1.crossJoin(F.broadcast(m1)).agg(
        dsum((F.col("r") - mu) * (F.col("r") - mu), 12).alias("ss"),
        F.first("n").alias("n"),
        F.first("s1").alias("s1"),
    )
    v4 = r4.crossJoin(F.broadcast(m1)).agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        dsum((F.col("r") - 4.0 * mu) * (F.col("r") - 4.0 * mu), 12).alias("ss4"),
    )
    w = v1.crossJoin(F.broadcast(v4))
    vr = (F.col("ss4") / (F.col("m") - 1)) / (
        4.0 * (F.col("ss") / (F.col("n") - 1))
    )
    z = (vr - 1.0) / F.sqrt(
        2.0 * (2.0 * 4.0 - 1.0) * (4.0 - 1.0) / (3.0 * 4.0 * F.col("n"))
    )
    return w.select(
        F.col("n").alias("n_rets"),
        (quantize(vr, 6) / 1e6).alias("vr4"),
        (quantize(z, 6) / 1e6).alias("vr_z"),
    )


# --- q664: Theta-method forecast (θ = 2) with a 12-month holdout MASE
# — via the Hyndman & Billah (2003) equivalence: Theta(2) ≡ SES (here
# α = 0.3, fixed and documented) plus half the linear-trend slope as
# drift: ŷ_{T+h} = SES_T + h·b̂/2. The SES level folds over the
# bounded train spine (list_reduce / JVM `aggregate` — identical
# recursions); MASE scales holdout MAE by the in-sample naive-1 MAE
# (Hyndman & Koehler 2006). --------------------------------------------------------
@query(
    "q664_theta_method_mase",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
    ses AS (
        SELECT list_reduce(list(rev ORDER BY x),
                           (a, v) -> 0.3 * v + 0.7 * a) AS lvl
        FROM idx, nn WHERE x <= nn.n - 12
    ),
    tr AS (
        SELECT COUNT(*) AS t, SUM(x) AS sx, SUM(x * x) AS sxx,
               CAST(SUM({sql_quantize('rev', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('x * rev', 6)}) AS DOUBLE) / 1e6 AS sxy
        FROM idx, nn WHERE x <= nn.n - 12
    ),
    drift AS (
        SELECT t, (t * sxy - sx * sy) / (t * sxx - sx * sx) AS b FROM tr
    ),
    naive AS (
        SELECT CAST(SUM({sql_quantize('ABS(cur.rev - prv.rev)', 9)})
                    AS DOUBLE) / 1e9 / COUNT(*) AS mae
        FROM idx cur JOIN idx prv ON prv.x = cur.x - 1, nn
        WHERE cur.x <= nn.n - 12
    ),
    fc AS (
        SELECT CAST(SUM({sql_quantize(
                   'ABS(idx.rev - (ses.lvl'
                   ' + (idx.x - (nn.n - 12)) * drift.b / 2.0))', 9)})
                    AS DOUBLE) / 1e9 / COUNT(*) AS mae
        FROM idx, nn, ses, drift WHERE idx.x > nn.n - 12
    )
    SELECT drift.t AS n_train,
           CAST({sql_quantize('ses.lvl', 6)} AS DOUBLE) / 1e6 AS ses_level,
           CAST({sql_quantize('drift.b / 2.0', 8)} AS DOUBLE) / 1e8
               AS theta_drift,
           CAST({sql_quantize('fc.mae', 6)} AS DOUBLE) / 1e6
               AS holdout_mae,
           CAST({sql_quantize('fc.mae / naive.mae', 6)} AS DOUBLE) / 1e6
               AS mase
    FROM drift, ses, naive, fc
    """,
)
def q664(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    idx = tracked_persist(
        monthly.select(
            F.row_number().over(Window.orderBy("mth")).alias("x"), "rev"
        )
    )
    nn = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    train = idx.crossJoin(F.broadcast(nn)).where(
        F.col("x") <= F.col("n") - 12
    )
    ses = train.agg(
        F.expr(
            "aggregate(slice(array_sort(collect_list(struct(x, rev))),"
            " 2, 100000), array_sort(collect_list(struct(x, rev)))[0].rev,"
            " (a, s) -> 0.3 * s.rev + 0.7 * a)"
        ).alias("lvl")
    )
    tr = train.agg(
        F.count(F.lit(1)).alias("t"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        dsum("rev", 6).alias("sy"),
        dsum(F.col("x") * F.col("rev"), 6)
        .alias("sxy"),
    )
    b = (F.col("t") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("t") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    drift = tr.select(F.col("t"), b.alias("b"))
    prv = idx.select((F.col("x") + 1).alias("x"), F.col("rev").alias("prev"))
    naive = (
        idx.join(prv, "x")
        .crossJoin(F.broadcast(nn))
        .where(F.col("x") <= F.col("n") - 12)
        .agg(
            (
                dsum(F.abs(F.col("rev") - F.col("prev")), 9) / F.count(F.lit(1))
            ).alias("naive_mae")
        )
    )
    hold = (
        idx.crossJoin(F.broadcast(nn))
        .where(F.col("x") > F.col("n") - 12)
        .crossJoin(F.broadcast(ses))
        .crossJoin(F.broadcast(drift))
        .agg(
            (
                dsum(
                    F.abs(
                        F.col("rev")
                        - (
                            F.col("lvl")
                            + (F.col("x") - (F.col("n") - 12)) * F.col("b") / 2.0
                        )
                    ),
                    9,
                )
                / F.count(F.lit(1))
            ).alias("mae"),
            F.first("t").alias("t"),
            F.first("lvl").alias("lvl"),
            F.first("b").alias("b"),
        )
    )
    out = hold.crossJoin(F.broadcast(naive))
    return out.select(
        F.col("t").cast("long").alias("n_train"),
        (quantize("lvl", 6) / 1e6).alias("ses_level"),
        (quantize(F.col("b") / 2.0, 8) / 1e8).alias("theta_drift"),
        (quantize("mae", 6) / 1e6).alias("holdout_mae"),
        (quantize(F.col("mae") / F.col("naive_mae"), 6) / 1e6).alias("mase"),
    )


# --- q665: detrended fluctuation analysis (Peng et al. 1994) of
# monthly log returns — integrate the mean-centered series into a
# profile, split into non-overlapping windows of s ∈ {4, 8, 16},
# linearly detrend EACH window (closed centered-sums RSS), F(s) =
# √(mean residual variance), and the scaling exponent α = the
# 3-point log-log slope: α ≈ 0.5 random walk, > 0.5 persistent —
# the detrending-robust complement of q450's Hurst R/S. -------------------------
@query(
    "q665_dfa_scaling_exponent",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, rev FROM monthly
    ),
    lr AS MATERIALIZED (
        SELECT cur.x - 1 AS t, LN(cur.rev / prv.rev) AS r
        FROM idx cur JOIN idx prv ON prv.x = cur.x - 1
    ),
    mu AS (
        SELECT CAST(SUM({sql_quantize('r', 12)}) AS DOUBLE) / 1e12
               / COUNT(*) AS m
        FROM lr
    ),
    prof AS MATERIALIZED (
        SELECT t,
               CAST(SUM({sql_quantize('r - mu.m', 12)})
                    OVER (ORDER BY t) AS DOUBLE) / 1e12 AS y
        FROM lr, mu
    ),
    scales AS (SELECT UNNEST([4, 8, 16]) AS s),
    seg AS (
        SELECT sc.s, CAST(FLOOR((p.t - 1) / sc.s) AS BIGINT) AS k,
               p.t - FLOOR((p.t - 1) / sc.s) * sc.s AS u, p.y
        FROM prof p CROSS JOIN scales sc
    ),
    fits AS (
        SELECT s, k, COUNT(*) AS n, SUM(u) AS su, SUM(u * u) AS suu,
               CAST(SUM({sql_quantize('y', 12)}) AS DOUBLE) / 1e12 AS sy,
               CAST(SUM({sql_quantize('u * y', 12)}) AS DOUBLE) / 1e12
                   AS suy,
               CAST(SUM({sql_quantize('y * y', 12)}) AS DOUBLE) / 1e12
                   AS syy
        FROM seg GROUP BY s, k HAVING COUNT(*) = s
    ),
    fs AS (
        SELECT s,
               CAST(COUNT(*) AS BIGINT) AS n_seg,
               SQRT(CAST(SUM({sql_quantize(
                   '((syy - sy * sy / n)'
                   ' - (suy - su * sy / n) * (suy - su * sy / n)'
                   '   / (suu - su * su / n)) / n', 12)})
                    AS DOUBLE) / 1e12 / COUNT(*)) AS f
        FROM fits GROUP BY s
    ),
    ll AS (
        SELECT COUNT(*) AS k, SUM(LN(CAST(s AS DOUBLE))) AS sx,
               SUM(LN(CAST(s AS DOUBLE)) * LN(CAST(s AS DOUBLE))) AS sxx,
               CAST(SUM({sql_quantize('LN(f)', 9)}) AS DOUBLE) / 1e9 AS sy,
               CAST(SUM({sql_quantize('LN(CAST(s AS DOUBLE)) * LN(f)', 9)})
                    AS DOUBLE) / 1e9 AS sxy
        FROM fs
    )
    SELECT (SELECT CAST(SUM(n_seg) AS BIGINT) FROM fs) AS n_segments,
           CAST({sql_quantize(
               '(k * sxy - sx * sy) / (k * sxx - sx * sx)', 6)}
               AS DOUBLE) / 1e6 AS dfa_alpha
    FROM ll
    """,
)
def q665(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    monthly = _monthly_rev(spark, sf_dir)
    idx = tracked_persist(
        monthly.select(
            F.row_number().over(Window.orderBy("mth")).alias("x"), "rev"
        )
    )
    prv = idx.select((F.col("x") + 1).alias("x"), F.col("rev").alias("prev"))
    lr = tracked_persist(
        idx.join(prv, "x").select(
            (F.col("x") - 1).alias("t"),
            F.log(F.col("rev") / F.col("prev")).alias("r"),
        )
    )
    mu = lr.agg((dsum("r", 12) / F.count(F.lit(1))).alias("m"))
    prof = tracked_persist(
        lr.crossJoin(F.broadcast(mu)).select(
            "t",
            dsum_over(
                F.col("r") - F.col("m"),
                Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0),
                12,
            ).alias("y"),
        )
    )
    scales = small_local_df(
        monthly.sparkSession, [(4,), (8,), (16,)], "s int"
    )
    seg = prof.crossJoin(F.broadcast(scales)).select(
        "s",
        F.floor((F.col("t") - 1) / F.col("s")).cast("long").alias("k"),
        (F.col("t") - F.floor((F.col("t") - 1) / F.col("s")) * F.col("s"))
        .alias("u"),
        "y",
    )
    fits = (
        seg.groupBy("s", "k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("u").alias("su"),
            F.sum(F.col("u") * F.col("u")).alias("suu"),
            dsum("y", 12).alias("sy"),
            dsum(F.col("u") * F.col("y"), 12)
            .alias("suy"),
            dsum(F.col("y") * F.col("y"), 12)
            .alias("syy"),
        )
        .where(F.col("n") == F.col("s"))
    )
    rss_n = (
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        - (F.col("suy") - F.col("su") * F.col("sy") / F.col("n"))
        * (F.col("suy") - F.col("su") * F.col("sy") / F.col("n"))
        / (F.col("suu") - F.col("su") * F.col("su") / F.col("n"))
    ) / F.col("n")
    fs = fits.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_seg"),
        F.sqrt(dsum(rss_n, 12) / F.count(F.lit(1))).alias("f"),
    )
    ls = F.log(F.col("s").cast("double"))
    ll = fs.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(ls).alias("sx"),
        F.sum(ls * ls).alias("sxx"),
        dsum(F.log("f"), 9).alias("sy"),
        dsum(ls * F.log("f"), 9).alias("sxy"),
        F.sum("n_seg").cast("long").alias("n_segments"),
    )
    alpha = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return ll.select(
        "n_segments", (quantize(alpha, 6) / 1e6).alias("dfa_alpha")
    )


# --- q666: Kalman local-level filter (Harvey 1989) over monthly
# revenue — state [level, P, standardized-SSE] folds through the
# update equations K = (P+Q)/(P+Q+R), l ← l + K·(y−l),
# P ← (1−K)(P+Q) with documented constants Q=10, R=50, P₀=100 (units:
# rev in millions). The recursion runs as DuckDB list_reduce and
# Spark's JVM-side `aggregate` HOF over the bounded spine — the same
# engine-parity device as q82's Holt fold; reports the final filtered
# level, its variance and the mean standardized innovation² (≈1 when
# the noise model fits). -----------------------------------------------------------
@query(
    "q666_kalman_local_level",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    arr AS (
        SELECT list(rev ORDER BY mth) AS v, CAST(COUNT(*) AS BIGINT) AS n
        FROM monthly
    ),
    fold AS (
        SELECT n,
               list_reduce(
                   list_prepend([v[1], 100.0, 0.0],
                                list_transform(v[2:], x -> [x, 0.0, 0.0])),
                   (a, x) -> [
                       a[1] + ((a[2] + 10.0) / (a[2] + 10.0 + 50.0))
                           * (x[1] - a[1]),
                       (1.0 - (a[2] + 10.0) / (a[2] + 10.0 + 50.0))
                           * (a[2] + 10.0),
                       a[3] + (x[1] - a[1]) * (x[1] - a[1])
                           / (a[2] + 10.0 + 50.0)
                   ]) AS s
        FROM arr
    )
    SELECT n AS n_months,
           CAST({sql_quantize('s[1]', 6)} AS DOUBLE) / 1e6 AS kalman_level,
           CAST({sql_quantize('s[2]', 6)} AS DOUBLE) / 1e6 AS kalman_p,
           CAST({sql_quantize('s[3] / (n - 1)', 6)} AS DOUBLE) / 1e6
               AS mean_std_innov2
    FROM fold
    """,
)
def q666(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    monthly = _monthly_rev(spark, sf_dir)
    arr = monthly.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(mth, rev))),"
            " s -> s.rev)"
        ).alias("v"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    fold = arr.select(
        "n",
        F.expr(
            "aggregate(slice(v, 2, 1000000),"
            " array(v[0], CAST(100.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),"
            " (a, x) -> array("
            "   a[0] + ((a[1] + 10.0) / (a[1] + 10.0 + 50.0)) * (x - a[0]),"
            "   (1.0 - (a[1] + 10.0) / (a[1] + 10.0 + 50.0))"
            "       * (a[1] + 10.0),"
            "   a[2] + (x - a[0]) * (x - a[0]) / (a[1] + 10.0 + 50.0)))"
        ).alias("s"),
    )
    return fold.select(
        F.col("n").alias("n_months"),
        (quantize(F.col("s")[0], 6) / 1e6).alias("kalman_level"),
        (quantize(F.col("s")[1], 6) / 1e6).alias("kalman_p"),
        (quantize(F.col("s")[2] / (F.col("n") - 1), 6) / 1e6).alias(
            "mean_std_innov2"
        ),
    )


# --- q667: Cowles-Jones (1937) continuation/reversal ratio of monthly
# return signs — CJ = #continuations / #reversals over adjacent
# sign pairs, with the binomial z-test against the p = ½ random-walk
# null: the oldest (and still-used) momentum diagnostic, the sign-
# level complement of q663's variance ratio. Exact integer counts
# from two spine lag-joins. --------------------------------------------------------
@query(
    "q667_cowles_jones_ratio",
    oracle=f"""
    WITH {_MRET_SQL},
    sgn AS MATERIALIZED (
        SELECT x, CASE WHEN r > 0 THEN 1 WHEN r < 0 THEN -1 ELSE 0 END AS s
        FROM ret WHERE r <> 0
    ),
    seq AS MATERIALIZED (
        SELECT s, ROW_NUMBER() OVER (ORDER BY x) AS i FROM sgn
    ),
    pairs AS (
        SELECT a.s AS s1, b.s AS s2
        FROM seq a JOIN seq b ON b.i = a.i + 1
    ),
    c AS (
        SELECT CAST(SUM(CASE WHEN s1 = s2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS cont,
               CAST(SUM(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS rev
        FROM pairs
    )
    SELECT cont AS continuations, rev AS reversals,
           CASE WHEN rev > 0 THEN
               CAST({sql_quantize('CAST(cont AS DOUBLE) / rev', 6)}
                    AS DOUBLE) / 1e6
           END AS cj_ratio,
           CAST({sql_quantize(
               '(cont - (cont + rev) / 2.0)'
               ' / SQRT((cont + rev) / 4.0)', 6)} AS DOUBLE) / 1e6 AS cj_z
    FROM c
    """,
)
def q667(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    ret = _monthly_ret(spark, sf_dir)
    sgn = ret.where(F.col("r") != 0).select(
        "x",
        F.when(F.col("r") > 0, 1).when(F.col("r") < 0, -1).otherwise(0)
        .alias("s"),
    )
    seq = tracked_persist(
        sgn.select(
            "s", F.row_number().over(Window.orderBy("x")).alias("i")
        )
    )
    nxt = seq.select((F.col("i") + 1).alias("i"), F.col("s").alias("s2"))
    pairs = seq.join(nxt, "i")
    c = pairs.agg(
        F.sum(F.when(F.col("s") == F.col("s2"), 1).otherwise(0))
        .cast("long")
        .alias("cont"),
        F.sum(F.when(F.col("s") != F.col("s2"), 1).otherwise(0))
        .cast("long")
        .alias("rev"),
    )
    tot = F.col("cont") + F.col("rev")
    z = (F.col("cont") - tot / 2.0) / F.sqrt(tot / 4.0)
    return c.select(
        F.col("cont").alias("continuations"),
        F.col("rev").alias("reversals"),
        F.when(
            F.col("rev") > 0,
            quantize(F.col("cont").cast("double") / F.col("rev"), 6) / 1e6,
        ).alias("cj_ratio"),
        (quantize(z, 6) / 1e6).alias("cj_z"),
    )


# --- q668: one-way random-effects variance components + ICC(1,1) of
# unit prices within parts — MSB/MSW from the classic ANOVA identity
# (SSB = ΣT_i²/n_i − G²/N), k̄ = (N − Σn_i²/N)/(p−1) for unbalanced
# groups, σ²_between = (MSB−MSW)/k̄, ICC = σ²_b/(σ²_b + MSW): how much
# of price variation is the PART vs the transaction — the
# measurement-system (gauge-style) repeatability question asked of
# catalog data. One per-part rollup; every sum is quantized-exact. ---------------
@query(
    "q668_variance_components_icc",
    oracle=f"""
    WITH obs AS (
        -- y in 100-unit terms: raw unit-price sums-of-squares pushed
        -- the per-group quadratic terms past int64 at sf0.1 (round 11
        -- second-SF gate); icc1 is a variance RATIO (invariant), and
        -- the two mean squares multiply back by 100^2 at output
        SELECT l_partkey AS g,
               CAST(l_extendedprice AS DOUBLE)
                   / CAST(l_quantity AS DOUBLE) / 100.0 AS y
        FROM lineitem
    ),
    per_g AS MATERIALIZED (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_i,
               CAST(SUM({sql_quantize('y', 4)}) AS BIGINT) AS syq,
               CAST(SUM({sql_quantize('y * y', 4)}) AS BIGINT) AS syyq
        FROM obs GROUP BY g
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS p,
               CAST(SUM(n_i) AS BIGINT) AS n,
               CAST(SUM(CAST(n_i AS HUGEINT) * n_i) AS BIGINT) AS sn2,
               CAST(SUM(syq) AS BIGINT) AS gq,
               CAST(SUM(syyq) AS BIGINT) AS syy_all,
               CAST(SUM({sql_quantize(
                   '(CAST(syq AS DOUBLE) / 1e4) * (CAST(syq AS DOUBLE) / 1e4)'
                   ' / n_i', 6)}) AS DOUBLE) / 1e6 AS st2
        FROM per_g
    ),
    ms AS (
        SELECT p, n,
               (st2 - (CAST(gq AS DOUBLE) / 1e4) * (CAST(gq AS DOUBLE) / 1e4)
                      / n) / (p - 1) AS msb,
               (CAST(syy_all AS DOUBLE) / 1e4 - st2) / (n - p) AS msw,
               (n - CAST(sn2 AS DOUBLE) / n) / (p - 1.0) AS kbar
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_obs, CAST(p AS BIGINT) AS n_parts,
           CAST({sql_quantize('msb * 10000.0', 4)} AS DOUBLE) / 1e4
               AS ms_between,
           CAST({sql_quantize('msw * 10000.0', 4)} AS DOUBLE) / 1e4
               AS ms_within,
           CAST({sql_quantize(
               '((msb - msw) / kbar) / ((msb - msw) / kbar + msw)', 6)}
               AS DOUBLE) / 1e6 AS icc1
    FROM ms
    """,
)
def q668(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    li = T(spark, sf_dir, "lineitem")
    obs = li.select(
        F.col("l_partkey").alias("g"),
        # 100-unit y: see oracle comment (icc invariant; mean squares
        # unscale by 1e4 at output; raw quadratics overflowed at sf0.1)
        (
            F.col("l_extendedprice").cast("double")
            / F.col("l_quantity").cast("double")
            / F.lit(100.0)
        ).alias("y"),
    )
    per_g = obs.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum(quantize("y", 4)).cast("long").alias("syq"),
        F.sum(quantize(F.col("y") * F.col("y"), 4)).cast("long").alias("syyq"),
    )
    ti = F.col("syq").cast("double") / 1e4
    s = per_g.agg(
        F.count(F.lit(1)).cast("long").alias("p"),
        F.sum("n_i").cast("long").alias("n"),
        F.sum(F.col("n_i") * F.col("n_i")).cast("long").alias("sn2"),
        F.sum("syq").cast("long").alias("gq"),
        F.sum("syyq").cast("long").alias("syy_all"),
        dsum(ti * ti / F.col("n_i"), 6).alias("st2"),
    )
    g_d = F.col("gq").cast("double") / 1e4
    msb = (F.col("st2") - g_d * g_d / F.col("n")) / (F.col("p") - 1)
    msw = (F.col("syy_all").cast("double") / 1e4 - F.col("st2")) / (
        F.col("n") - F.col("p")
    )
    kbar = (F.col("n") - F.col("sn2").cast("double") / F.col("n")) / (
        F.col("p") - 1.0
    )
    ms = s.select(
        F.col("n"), F.col("p"), msb.alias("msb"), msw.alias("msw"),
        kbar.alias("kbar"),
    )
    sb = (F.col("msb") - F.col("msw")) / F.col("kbar")
    return ms.select(
        F.col("n").alias("n_obs"),
        F.col("p").alias("n_parts"),
        (quantize(F.col("msb") * 10000.0, 4) / 1e4).alias("ms_between"),
        (quantize(F.col("msw") * 10000.0, 4) / 1e4).alias("ms_within"),
        (quantize(sb / (sb + F.col("msw")), 6) / 1e6).alias("icc1"),
    )


# --- q716: empirical tail-dependence coefficients of the (monthly
# revenue, monthly order count) joint series — copula-tier risk
# diagnostics (Joe 1997; Frahm-Junker-Schmidt 2005 empirical
# estimator, public): lambda_U(q) = P(Fx(X)>q, Fy(Y)>q)/(1-q) and the
# lower mirror at q = 0.75, from rank-transformed margins (row_number
# over the ~80-month spine, ties broken by month — deterministic on
# both engines). Linear correlation misses exactly this: whether the
# two series crash/spike TOGETHER. Bounded spine, two rank windows,
# one scalar rollup. ----------------------------------------------------------
@query(
    "q716_tail_dependence_rev_orders",
    oracle=f"""
    WITH {_MONTHLY_JOINT_SQL},
    rk AS (
        SELECT x,
               ROW_NUMBER() OVER (ORDER BY rev, mth) AS rr,
               ROW_NUMBER() OVER (ORDER BY cnt, mth) AS rc,
               CAST((SELECT COUNT(*) FROM joint) AS BIGINT) AS n
        FROM joint
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_months,
           0.75 AS q,
           CAST({sql_quantize(
               'SUM(CASE WHEN rr > 0.75 * n AND rc > 0.75 * n '
               'THEN 1 ELSE 0 END) / (MAX(n) * 0.25)', 6)} AS DOUBLE)
               / 1e6 AS lambda_upper,
           CAST({sql_quantize(
               'SUM(CASE WHEN rr <= 0.25 * n AND rc <= 0.25 * n '
               'THEN 1 ELSE 0 END) / (MAX(n) * 0.25)', 6)} AS DOUBLE)
               / 1e6 AS lambda_lower
    FROM rk
    """,
)
def q716(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    joint = _monthly_joint(spark, sf_dir)
    w_r = Window.orderBy("rev", "mth")
    w_c = Window.orderBy("cnt", "mth")
    w_all = Window.partitionBy()
    rk = joint.select(
        F.row_number().over(w_r).alias("rr"),
        F.row_number().over(w_c).alias("rc"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    up = F.sum(
        F.when((F.col("rr") > 0.75 * F.col("n")) & (F.col("rc") > 0.75 * F.col("n")), 1).otherwise(0)
    )
    lo = F.sum(
        F.when((F.col("rr") <= 0.25 * F.col("n")) & (F.col("rc") <= 0.25 * F.col("n")), 1).otherwise(0)
    )
    return rk.agg(
        F.max("n").cast("long").alias("n_months"),
        F.lit(0.75).alias("q"),
        (quantize(up / (F.max("n") * 0.25), 6) / 1e6).alias("lambda_upper"),
        (quantize(lo / (F.max("n") * 0.25), 6) / 1e6).alias("lambda_lower"),
    )


# --- q717: records trend test on monthly revenue — the
# distribution-free trend screen from records theory (Glick 1978;
# Foster-Stuart 1954, public): under exchangeability the k-th
# observation is an upper record with probability 1/k, so the record
# count R_n has mean H_n (harmonic number) and variance H_n - H_n^(2);
# an excess of upper records (deficit of lower) flags monotone trend
# without ANY distributional assumption — the robust cousin of
# Mann-Kendall (q544-class). Records come from a prefix-max window
# over the ~80-month spine; H_n sums fold over the spine's own month
# index (no driver-side series). ------------------------------------------------
@query(
    "q717_records_trend_test",
    oracle=f"""
    WITH {_MONTHLY_REV_SQL},
    idx AS (
        SELECT rev, ROW_NUMBER() OVER (ORDER BY mth) AS x,
               MAX(rev) OVER (ORDER BY mth
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prevmax,
               MIN(rev) OVER (ORDER BY mth
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prevmin
        FROM monthly
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN prevmax IS NULL OR rev > prevmax
                             THEN 1 ELSE 0 END) AS BIGINT) AS r_up,
               CAST(SUM(CASE WHEN prevmin IS NULL OR rev < prevmin
                             THEN 1 ELSE 0 END) AS BIGINT) AS r_lo,
               SUM(1.0 / x) AS h1,
               SUM(1.0 / (x * CAST(x AS DOUBLE))) AS h2
        FROM idx
    )
    SELECT n AS n_months, r_up AS n_upper_records, r_lo AS n_lower_records,
           CAST({sql_quantize('h1', 6)} AS DOUBLE) / 1e6 AS expected_records,
           CAST({sql_quantize('(r_up - h1) / SQRT(h1 - h2)', 6)} AS DOUBLE)
               / 1e6 AS z_upper,
           CAST({sql_quantize('(r_lo - h1) / SQRT(h1 - h2)', 6)} AS DOUBLE)
               / 1e6 AS z_lower
    FROM s
    """,
)
def q717(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    monthly = _monthly_rev(spark, sf_dir)
    w_ord = Window.orderBy("mth")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    idx = monthly.select(
        "rev",
        F.row_number().over(w_ord).alias("x"),
        F.max("rev").over(w_prev).alias("prevmax"),
        F.min("rev").over(w_prev).alias("prevmin"),
    )
    s = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("prevmax").isNull() | (F.col("rev") > F.col("prevmax")), 1).otherwise(0)
        )
        .cast("long")
        .alias("r_up"),
        F.sum(
            F.when(F.col("prevmin").isNull() | (F.col("rev") < F.col("prevmin")), 1).otherwise(0)
        )
        .cast("long")
        .alias("r_lo"),
        F.sum(1.0 / F.col("x")).alias("h1"),
        F.sum(1.0 / (F.col("x") * F.col("x").cast("double"))).alias("h2"),
    )
    sd = F.sqrt(F.col("h1") - F.col("h2"))
    return s.select(
        F.col("n").alias("n_months"),
        F.col("r_up").alias("n_upper_records"),
        F.col("r_lo").alias("n_lower_records"),
        (quantize("h1", 6) / 1e6).alias("expected_records"),
        (quantize((F.col("r_up") - F.col("h1")) / sd, 6) / 1e6).alias("z_upper"),
        (quantize((F.col("r_lo") - F.col("h1")) / sd, 6) / 1e6).alias("z_lower"),
    )
