"""Warehouse tier III: econometrics, causal inference and decision
queries split out of queries/warehouse.py at the round-8 file-hygiene
boundary (q403 onward): mSPRT sequential inference, price indices,
newsvendor, DiD / stratified-ATE / QTE / IPW-ATE / regression-
discontinuity causal kit members, Wilson ranking, Monte-Carlo
scenarios, empirical-Bayes shrinkage, TOPSIS, ABC migration,
dependency concentration, IPF raking — plus the trending/rollup/
skyline pattern queries that shipped in the same wave.

Same reference-parity and 100 TB scale notes as queries/warehouse.py:
facts aggregate once on their natural keys, dims broadcast, scalar
models carry via bounded crossJoins, and every query is DuckDB
oracle-paired.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import (
    davg,
    dsum,
    quantize,
    sql_davg,
    sql_dsum,
    sql_quantize,
)
from pandrs_spark.operators.joins import anti_join
from pandrs_spark.operators.util import small_local_df
from pandrs_spark.queries import query


# --- q403: always-valid A/B inference via mSPRT (mixture sequential
# probability ratio test, Johari et al. 2017) — the modern "peeking-
# safe" replacement for the fixed-horizon z-test (q344): the mixture
# likelihood ratio Λ = sqrt(V/(V+τ²))·exp(θ̂²τ²/(2V(V+τ²))) is a
# supermartingale under H0, so p = min(1, 1/Λ) stays valid at ANY
# stopping time. Pure double formula over exact pooled counts (md5
# arms on custkey; "conversion" = order fulfilled), shared verbatim
# with the oracle. ------------------------------------------------------------
@query(
    "q403_msprt_always_valid",
    oracle="""
    WITH arms AS (
        SELECT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS arm,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS conv
        FROM orders
    ),
    agg AS (
        SELECT CAST(SUM(arm) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
                   AS c1,
               CAST(SUM(1 - arm) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
                   AS c0
        FROM arms
    ),
    stat AS (
        SELECT n1, c1, n0, c0,
               CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0 AS theta,
               (CAST(c1 + c0 AS DOUBLE) / (n1 + n0))
                   * (1 - CAST(c1 + c0 AS DOUBLE) / (n1 + n0))
                   * (1.0 / n1 + 1.0 / n0) AS v
        FROM agg
    ),
    lam AS (
        SELECT n1, c1, n0, c0, theta, v,
               SQRT(v / (v + 0.0001))
                   * EXP(theta * theta * 0.0001 / (2.0 * v * (v + 0.0001)))
                   AS lambda_stat
        FROM stat
    )
    SELECT n1, c1, n0, c0,
           CAST(SIGN(theta) * FLOOR(ABS(theta) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS theta,
           CAST(SIGN(lambda_stat) * FLOOR(ABS(lambda_stat) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS lambda_stat,
           CAST(SIGN(LEAST(1.0, 1.0 / lambda_stat))
                * FLOOR(ABS(LEAST(1.0, 1.0 / lambda_stat)) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS p_always_valid
    FROM lam
    """,
)
def q403(spark, sf_dir):
    from pandrs_spark.operators.hypothesis import msprt_two_proportion

    orders = T(spark, sf_dir, "orders")
    arms = orders.select(
        F.when(
            F.expr("substr(md5(cast(o_custkey as string)), 1, 1) < '8'"), 1
        )
        .otherwise(0)
        .alias("arm"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("conv"),
    )
    lam = msprt_two_proportion(arms, "arm", "conv", tau2=0.0001)
    return lam.select(
        "n1",
        "c1",
        "n0",
        "c0",
        (quantize("theta", 6) / 1e6).alias("theta"),
        (quantize("lambda_stat", 6) / 1e6).alias("lambda_stat"),
        (
            quantize(F.least(F.lit(1.0), 1.0 / F.col("lambda_stat")), 6) / 1e6
        ).alias("p_always_valid"),
    )


# --- q406: Laspeyres / Paasche / Fisher price indices between two
# years of lineitem trade (index-number economics; aggregation tier).
# Per part: base-year (1994) and current-year (1997) quantity and
# mean price; indices over parts traded in BOTH years:
# L = Σp1q0/Σp0q0, P = Σp1q1/Σp0q1, F = √(LP). All sums quantized
# exact; prices are extended-price/quantity ratios of exact sums. ------------
@query(
    "q406_fisher_price_index",
    oracle=f"""
    WITH base AS (
        SELECT l_partkey,
               {sql_dsum('l_quantity', 6)} AS q0,
               {sql_dsum('l_extendedprice')} AS v0
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01'
          AND l_shipdate < TIMESTAMP '1995-01-01'
        GROUP BY 1
    ),
    cur AS (
        SELECT l_partkey,
               {sql_dsum('l_quantity', 6)} AS q1,
               {sql_dsum('l_extendedprice')} AS v1
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
    ),
    joined AS (
        SELECT b.l_partkey,
               b.q0, b.v0 / b.q0 AS p0,
               c.q1, c.v1 / c.q1 AS p1
        FROM base b JOIN cur c ON b.l_partkey = c.l_partkey
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM({sql_quantize('p1 * q0', 2)}) AS BIGINT) / 100.0
                   AS s_p1q0,
               CAST(SUM({sql_quantize('p0 * q0', 2)}) AS BIGINT) / 100.0
                   AS s_p0q0,
               CAST(SUM({sql_quantize('p1 * q1', 2)}) AS BIGINT) / 100.0
                   AS s_p1q1,
               CAST(SUM({sql_quantize('p0 * q1', 2)}) AS BIGINT) / 100.0
                   AS s_p0q1
        FROM joined
    )
    SELECT n_parts,
           {sql_quantize('s_p1q0 / s_p0q0', 6)} / 1000000.0 AS laspeyres,
           {sql_quantize('s_p1q1 / s_p0q1', 6)} / 1000000.0 AS paasche,
           {sql_quantize('SQRT((s_p1q0 / s_p0q0) * (s_p1q1 / s_p0q1))', 6)}
               / 1000000.0 AS fisher
    FROM sums
    """,
)
def q406(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")

    def year(y):
        return li.filter(
            (F.col("l_shipdate") >= f"{y}-01-01")
            & (F.col("l_shipdate") < f"{y + 1}-01-01")
        ).groupBy("l_partkey").agg(
            dsum("l_quantity", 6).alias("q"),
            dsum("l_extendedprice").alias("v"),
        )

    base = year(1994).select(
        "l_partkey", F.col("q").alias("q0"), (F.col("v") / F.col("q")).alias("p0")
    )
    cur = year(1997).select(
        "l_partkey", F.col("q").alias("q1"), (F.col("v") / F.col("q")).alias("p1")
    )
    joined = base.join(cur, "l_partkey")
    sums = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        dsum(F.col("p1") * F.col("q0"), 2).alias("s_p1q0"),
        dsum(F.col("p0") * F.col("q0"), 2).alias("s_p0q0"),
        dsum(F.col("p1") * F.col("q1"), 2).alias("s_p1q1"),
        dsum(F.col("p0") * F.col("q1"), 2).alias("s_p0q1"),
    )
    lasp = F.col("s_p1q0") / F.col("s_p0q0")
    paas = F.col("s_p1q1") / F.col("s_p0q1")
    return sums.select(
        "n_parts",
        (quantize(lasp, 6) / 1e6).alias("laspeyres"),
        (quantize(paas, 6) / 1e6).alias("paasche"),
        (quantize(F.sqrt(lasp * paas), 6) / 1e6).alias("fisher"),
    )


# --- q407: newsvendor critical-fractile stocking levels — per part,
# the profit-optimal order quantity is the demand quantile at
# cu/(cu+co) (underage 3 : overage 1 ⇒ 0.75). EXACT type-1 quantile
# per part via a cumulative count over the per-part value histogram —
# windows PARTITIONED BY part, so a billion parts scale horizontally;
# rank arithmetic is integer-exact (k = ceil(3n/4) = (3n+3) div 4). --------
@query(
    "q407_newsvendor_stocking",
    oracle="""
    WITH d AS (
        SELECT l_partkey, CAST(l_quantity AS DOUBLE) AS x
        FROM lineitem WHERE l_partkey % 199 = 3
    ),
    hist AS (
        SELECT l_partkey, x, COUNT(*) AS c
        FROM d GROUP BY 1, 2
    ),
    cum AS (
        SELECT l_partkey, x,
               CAST(SUM(c) OVER (PARTITION BY l_partkey ORDER BY x
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(c) OVER (PARTITION BY l_partkey) AS BIGINT) AS n
        FROM hist
    )
    SELECT l_partkey AS partkey,
           CAST(MIN(n) AS BIGINT) AS n_obs,
           MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN x END)
               AS optimal_order_qty
    FROM cum
    GROUP BY l_partkey
    ORDER BY partkey
    """,
)
def q407(spark, sf_dir):
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 199 == 3)
    hist = li.groupBy(
        "l_partkey", F.col("l_quantity").cast("double").alias("x")
    ).agg(F.count(F.lit(1)).alias("c"))
    w_cum = (
        Window.partitionBy("l_partkey")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("l_partkey")
    cum = hist.select(
        "l_partkey",
        "x",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    )
    return (
        cum.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.min("n").cast("long").alias("n_obs"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(3 * n + 3) div 4"), F.col("x")
                )
            ).alias("optimal_order_qty"),
        )
        .orderBy("partkey")
    )


# --- q411: difference-in-differences estimator — the quasi-
# experimental workhorse: md5-split "treated" customers, pre/post
# periods around 1996-01-01, outcome = order value. DiD = (T_post −
# T_pre) − (C_post − C_pre), with the large-sample SE from per-cell
# variances (Welch form): SE² = Σ s²_cell/n_cell. All four cell
# moments from quantized exact sums — one grouped aggregate total. ----------
@query(
    "q411_difference_in_differences",
    oracle="""
    WITH obs AS (
        SELECT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS treated,
               CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                    THEN 1 ELSE 0 END AS post,
               CAST(o_totalprice AS DOUBLE) AS y
        FROM orders
    ),
    cells AS (
        SELECT treated, post,
               COUNT(*) AS n,
               CAST(SUM(CAST(SIGN(y) * FLOOR(ABS(y) * 100.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS sy,
               CAST(SUM(CAST(SIGN(y * y) * FLOOR(ABS(y * y) + 0.5) AS BIGINT))
                    AS DOUBLE) AS syy
        FROM obs GROUP BY treated, post
    ),
    m AS (
        SELECT treated, post, n, sy / n AS mean,
               (syy - sy * sy / n) / (n - 1) AS var
        FROM cells
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN treated = 1 AND post = 1 THEN mean END) AS t1,
            MAX(CASE WHEN treated = 1 AND post = 0 THEN mean END) AS t0,
            MAX(CASE WHEN treated = 0 AND post = 1 THEN mean END) AS c1,
            MAX(CASE WHEN treated = 0 AND post = 0 THEN mean END) AS c0,
            MAX(CASE WHEN treated = 1 AND post = 1 THEN var / n END) AS v11,
            MAX(CASE WHEN treated = 1 AND post = 0 THEN var / n END) AS v10,
            MAX(CASE WHEN treated = 0 AND post = 1 THEN var / n END) AS v01,
            MAX(CASE WHEN treated = 0 AND post = 0 THEN var / n END) AS v00,
            CAST(SUM(n) AS BIGINT) AS n_total
        FROM m
    )
    SELECT n_total,
           CAST(SIGN((t1 - t0) - (c1 - c0))
                * FLOOR(ABS((t1 - t0) - (c1 - c0)) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS did,
           CAST(SIGN(SQRT(v11 + v10 + v01 + v00))
                * FLOOR(ABS(SQRT(v11 + v10 + v01 + v00)) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS se,
           CAST(SIGN(((t1 - t0) - (c1 - c0)) / SQRT(v11 + v10 + v01 + v00))
                * FLOOR(ABS(((t1 - t0) - (c1 - c0))
                            / SQRT(v11 + v10 + v01 + v00)) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS z
    FROM wide
    """,
)
def q411(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    obs = orders.select(
        F.when(
            F.expr("substr(md5(cast(o_custkey as string)), 1, 1) < '8'"), 1
        )
        .otherwise(0)
        .alias("treated"),
        F.when(F.col("o_orderdate") >= "1996-01-01", 1).otherwise(0).alias("post"),
        F.col("o_totalprice").cast("double").alias("y"),
    )
    cells = obs.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("y", 2).alias("sy"),
        F.sum(quantize(F.col("y") * F.col("y"), 0)).cast("double").alias("syy"),
    )
    m = cells.withColumn("mean", F.col("sy") / F.col("n")).withColumn(
        "var",
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        / (F.col("n") - 1),
    )

    def cell(t, p, col):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        )

    wide = m.agg(
        cell(1, 1, "mean").alias("t1"),
        cell(1, 0, "mean").alias("t0"),
        cell(0, 1, "mean").alias("c1"),
        cell(0, 0, "mean").alias("c0"),
        F.max(
            F.when(
                (F.col("treated") == 1) & (F.col("post") == 1),
                F.col("var") / F.col("n"),
            )
        ).alias("v11"),
        F.max(
            F.when(
                (F.col("treated") == 1) & (F.col("post") == 0),
                F.col("var") / F.col("n"),
            )
        ).alias("v10"),
        F.max(
            F.when(
                (F.col("treated") == 0) & (F.col("post") == 1),
                F.col("var") / F.col("n"),
            )
        ).alias("v01"),
        F.max(
            F.when(
                (F.col("treated") == 0) & (F.col("post") == 0),
                F.col("var") / F.col("n"),
            )
        ).alias("v00"),
        F.sum("n").cast("long").alias("n_total"),
    )
    did = (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0"))
    se = F.sqrt(F.col("v11") + F.col("v10") + F.col("v01") + F.col("v00"))
    return wide.select(
        "n_total",
        (quantize(did, 6) / 1e6).alias("did"),
        (quantize(se, 6) / 1e6).alias("se"),
        (quantize(did / se, 6) / 1e6).alias("z"),
    )


# --- q412: exponentially time-decayed trending score — the "what's
# hot NOW" ranking: every sale of a part contributes
# exp(−λ·age_days) with λ = ln2/30 (30-day half-life), so a part's
# score is its demand convolved with recency. Map-only expression +
# one groupBy; the decayed contributions are quantized before summing
# (exp() of exact integer day ages is bit-reproducible across
# engines). Top 15 by (score, partkey) total order. -------------------------
@query(
    "q412_decayed_trending_parts",
    oracle="""
    WITH mx AS (SELECT MAX(l_shipdate) AS mxd FROM lineitem),
    scored AS (
        SELECT l_partkey,
               CAST(SIGN(CAST(l_quantity AS DOUBLE)
                         * EXP(-(LN(2.0) / 30.0)
                               * DATEDIFF('day', l_shipdate, mx.mxd)))
                    * FLOOR(ABS(CAST(l_quantity AS DOUBLE)
                                * EXP(-(LN(2.0) / 30.0)
                                      * DATEDIFF('day', l_shipdate, mx.mxd)))
                            * 1e9 + 0.5) AS BIGINT) AS q9
        FROM lineitem, mx
    ),
    agg AS (
        SELECT l_partkey, COUNT(*) AS n_sales,
               CAST(SUM(q9) AS BIGINT) AS sq9
        FROM scored GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, CAST(n_sales AS BIGINT) AS n_sales,
           CAST(SIGN(CAST(sq9 AS DOUBLE) / 1e9)
                * FLOOR(ABS(CAST(sq9 AS DOUBLE) / 1e9) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS trend_score
    FROM agg
    ORDER BY sq9 DESC, partkey
    LIMIT 15
    """,
)
def q412(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    mx = li.agg(F.max("l_shipdate").alias("mxd"))
    lam = F.log(F.lit(2.0)) / 30.0
    contrib = F.col("l_quantity").cast("double") * F.exp(
        -lam * F.datediff("mxd", "l_shipdate")
    )
    scored = li.crossJoin(F.broadcast(mx)).select(
        "l_partkey", quantize(contrib, 9).alias("q9")
    )
    agg = scored.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_sales"),
        F.sum("q9").cast("long").alias("sq9"),
    )
    return (
        agg.orderBy(F.desc("sq9"), "l_partkey")
        .limit(15)
        .select(
            F.col("l_partkey").alias("partkey"),
            "n_sales",
            (quantize(F.col("sq9").cast("double") / 1e9, 6) / 1e6).alias(
                "trend_score"
            ),
        )
    )


# --- q416: materialized-rollup reuse — the summary-table pattern: ONE
# persisted (nation, month) revenue rollup answers three coarser
# grains (per nation, per month, global) by RE-AGGREGATION, never
# rescanning the fact table. Exact because dsum's quantized longs are
# associative: re-aggregating partial sums equals aggregating raw rows
# (the map-side-combine identity, verified here value-for-value — the
# oracle computes every grain DIRECTLY from orders). At 100 TB the
# rollup is the only fact-table scan; each grain is then
# rollup-sized. --------------------------------------------------------------
@query(
    "q416_materialized_rollup_reuse",
    oracle="""
    WITH direct_nation AS (
        SELECT 'nation' AS grain, CAST(c.c_nationkey AS VARCHAR) AS key,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(SIGN(o.o_totalprice)
                             * FLOOR(ABS(o.o_totalprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey
    ),
    direct_month AS (
        SELECT 'month' AS grain,
               strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS key,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(SIGN(o.o_totalprice)
                             * FLOOR(ABS(o.o_totalprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq
        FROM orders o
        GROUP BY 2
    ),
    direct_global AS (
        SELECT 'global' AS grain, 'all' AS key,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(SIGN(o.o_totalprice)
                             * FLOOR(ABS(o.o_totalprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq
        FROM orders o
    )
    SELECT grain, key, n_orders, CAST(revq AS DOUBLE) / 100.0 AS revenue
    FROM (SELECT * FROM direct_nation UNION ALL
          SELECT * FROM direct_month UNION ALL
          SELECT * FROM direct_global)
    ORDER BY grain, key
    """,
)
def q416(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    # the ONE fact scan: quantized partial sums at (nation, month) grain
    rollup = tracked_persist(
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.date_format(
                F.date_trunc("month", "o_orderdate"), "yyyy-MM"
            ).alias("month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(quantize("o_totalprice", 2)).alias("revq"),
        )
    )

    def regrain(keys, grain, key_expr):
        return (
            rollup.groupBy(*keys)
            .agg(
                F.sum("n_orders").cast("long").alias("n_orders"),
                F.sum("revq").cast("long").alias("revq"),
            )
            .select(
                F.lit(grain).alias("grain"),
                key_expr.alias("key"),
                "n_orders",
                (F.col("revq").cast("double") / 100.0).alias("revenue"),
            )
        )

    out = regrain(["nation"], "nation", F.col("nation").cast("string"))
    out = out.unionByName(regrain(["month"], "month", F.col("month")))
    out = out.unionByName(regrain([], "global", F.lit("all")))
    return out.orderBy("grain", "key")


# --- q420: stratified average-treatment-effect estimator — completes
# the causal kit (CUPED q335, DiD q411, mSPRT q403): md5-arm
# "treatment" on orders, outcomes stratified into five fixed
# account-balance bands; ATE = Σ_h (n_h/N)·(ȳ_Th − ȳ_Ch) with the
# stratified SE from within-cell variances. One grouped aggregate over
# (band, arm) cells — all moments quantized exact. --------------------------
@query(
    "q420_stratified_ate",
    oracle="""
    WITH obs AS (
        SELECT CAST(FLOOR((c.c_acctbal + 1000.0) / 2200.0) AS BIGINT) AS band,
               CASE WHEN substr(md5(CAST(o.o_custkey AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS arm,
               CAST(o.o_totalprice AS DOUBLE) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
        SELECT band, arm, COUNT(*) AS n,
               CAST(SUM(CAST(SIGN(y) * FLOOR(ABS(y) * 100.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS sy,
               CAST(SUM(CAST(SIGN(y * y) * FLOOR(ABS(y * y) + 0.5) AS BIGINT))
                    AS DOUBLE) AS syy
        FROM obs GROUP BY band, arm
    ),
    m AS (
        SELECT band, arm, n, sy / n AS mean,
               (syy - sy * sy / n) / (n - 1) AS var
        FROM cells
    ),
    strata AS (
        SELECT band,
               CAST(SUM(n) AS BIGINT) AS n_h,
               MAX(CASE WHEN arm = 1 THEN mean END)
                   - MAX(CASE WHEN arm = 0 THEN mean END) AS diff,
               MAX(CASE WHEN arm = 1 THEN var / n END)
                   + MAX(CASE WHEN arm = 0 THEN var / n END) AS v_h
        FROM m GROUP BY band
    ),
    tot AS (SELECT CAST(SUM(n_h) AS BIGINT) AS n FROM strata),
    agg AS (
        SELECT t.n,
               CAST(SUM(CAST(SIGN((CAST(s.n_h AS DOUBLE) / t.n) * s.diff)
                             * FLOOR(ABS((CAST(s.n_h AS DOUBLE) / t.n) * s.diff)
                                     * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
                   AS ate,
               CAST(SUM(CAST(SIGN((CAST(s.n_h AS DOUBLE) / t.n)
                                  * (CAST(s.n_h AS DOUBLE) / t.n) * s.v_h)
                             * FLOOR(ABS((CAST(s.n_h AS DOUBLE) / t.n)
                                         * (CAST(s.n_h AS DOUBLE) / t.n) * s.v_h)
                                     * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
                   AS var_ate
        FROM strata s, tot t
        GROUP BY t.n
    )
    SELECT n,
           CAST(SIGN(ate) * FLOOR(ABS(ate) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS ate,
           CAST(SIGN(SQRT(var_ate)) * FLOOR(ABS(SQRT(var_ate)) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS se,
           CAST(SIGN(ate / SQRT(var_ate))
                * FLOOR(ABS(ate / SQRT(var_ate)) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS z
    FROM agg
    """,
)
def q420(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    obs = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.floor((F.col("c_acctbal") + 1000.0) / 2200.0)
        .cast("long")
        .alias("band"),
        F.when(
            F.expr("substr(md5(cast(o_custkey as string)), 1, 1) < '8'"), 1
        )
        .otherwise(0)
        .alias("arm"),
        F.col("o_totalprice").cast("double").alias("y"),
    )
    cells = obs.groupBy("band", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("y", 2).alias("sy"),
        F.sum(quantize(F.col("y") * F.col("y"), 0)).cast("double").alias("syy"),
    )
    m = cells.withColumn("mean", F.col("sy") / F.col("n")).withColumn(
        "var",
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        / (F.col("n") - 1),
    )
    strata = m.groupBy("band").agg(
        F.sum("n").cast("long").alias("n_h"),
        (
            F.max(F.when(F.col("arm") == 1, F.col("mean")))
            - F.max(F.when(F.col("arm") == 0, F.col("mean")))
        ).alias("diff"),
        (
            F.max(F.when(F.col("arm") == 1, F.col("var") / F.col("n")))
            + F.max(F.when(F.col("arm") == 0, F.col("var") / F.col("n")))
        ).alias("v_h"),
    )
    tot = strata.agg(F.sum("n_h").cast("long").alias("n"))
    w = F.col("n_h").cast("double") / F.col("n")
    agg = (
        strata.crossJoin(F.broadcast(tot))
        .agg(
            F.min("n").alias("n"),
            dsum(w * F.col("diff"), 9).alias("ate"),
            dsum(w * w * F.col("v_h"), 9).alias("var_ate"),
        )
    )
    return agg.select(
        "n",
        (quantize("ate", 6) / 1e6).alias("ate"),
        (quantize(F.sqrt("var_ate"), 6) / 1e6).alias("se"),
        (quantize(F.col("ate") / F.sqrt("var_ate"), 6) / 1e6).alias("z"),
    )


# --- q421: Pareto-frontier (skyline) query — parts not dominated on
# (cheaper retail price, larger size): the multi-objective shortlist
# primitive. Distributed 2-D sweep: collapse to per-price groups
# (max size per price), run the NEW global_prefix_max partition-offset
# primitive over the price order (running max of size over strictly
# cheaper prices via a 1-group shift), and keep points that top their
# price group AND beat every cheaper price's best size. NO
# partitionless window, no pairwise dominance join. --------------------------
@query(
    "q421_pareto_frontier_parts",
    oracle="""
    WITH sub AS (
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE) AS price,
               CAST(p_size AS BIGINT) AS sz
        FROM part WHERE p_partkey % 7 = 3
    ),
    grp AS (
        SELECT price, MAX(sz) AS smax FROM sub GROUP BY price
    ),
    pfx AS (
        SELECT price, smax,
               MAX(smax) OVER (ORDER BY price
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS before_max
        FROM grp
    )
    SELECT s.p_partkey AS partkey, s.price, s.sz AS size
    FROM sub s JOIN pfx g ON s.price = g.price
    WHERE s.sz = g.smax
      AND (g.before_max IS NULL OR s.sz > g.before_max)
    ORDER BY s.price, s.p_partkey
    """,
)
def q421(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_max

    part = T(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 == 3)
    sub = part.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("price"),
        F.col("p_size").cast("long").alias("sz"),
    )
    grp = sub.groupBy("price").agg(F.max("sz").alias("smax"))
    cum = global_prefix_max(grp, [F.col("price")], "smax", "run_max")
    # the strictly-cheaper max is the PREVIOUS group's running max; grp
    # is price-distinct (data-sized), so a lag over it would be a
    # partitionless window — join on the global row number instead
    # (same sorted pass, plain equi-join).
    from pandrs_spark.operators.windows import global_row_number

    numbered = global_row_number(
        cum.select("price", "smax", "run_max"), [F.col("price")], "rn"
    )
    prev = numbered.select(
        (F.col("rn") + 1).alias("rn"), F.col("run_max").alias("before_max")
    )
    pfx = numbered.join(prev, "rn", "left")
    out = (
        sub.join(pfx.select("price", "smax", "before_max"), "price")
        .filter(
            (F.col("sz") == F.col("smax"))
            & (F.col("before_max").isNull() | (F.col("sz") > F.col("before_max")))
        )
        .select(
            F.col("p_partkey").alias("partkey"),
            "price",
            F.col("sz").alias("size"),
        )
        .orderBy("price", "partkey")
    )
    return out


# --- q423: quantile treatment effects — the distributional view the
# mean-ATE (q420) hides: QTE(p) = Q_T(p) − Q_C(p) at the deciles,
# exact type-1 quantiles per arm from one cumulative histogram pass
# (the q391 rank machinery: k = ceil(p·n) in pure integers, the
# decile set is fixed so the rank lookup is a bounded broadcast
# join). -----------------------------------------------------------------------
@query(
    "q423_quantile_treatment_effects",
    oracle="""
    WITH obs AS (
        SELECT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS arm,
               CAST(o_totalprice AS DOUBLE) AS y
        FROM orders
    ),
    hist AS (
        SELECT arm, y, COUNT(*) AS c FROM obs GROUP BY arm, y
    ),
    cum AS (
        SELECT arm, y,
               CAST(SUM(c) OVER (PARTITION BY arm ORDER BY y
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(c) OVER (PARTITION BY arm) AS BIGINT) AS n
        FROM hist
    ),
    qs AS (
        SELECT g.i, c.arm, MIN(c.y) AS q
        FROM generate_series(1, 9) g(i)
        JOIN cum c ON c.cum >= (g.i * c.n + 9) // 10
        GROUP BY g.i, c.arm
    )
    SELECT i / 10.0 AS level,
           MIN(CASE WHEN arm = 1 THEN q END) AS q_treat,
           MIN(CASE WHEN arm = 0 THEN q END) AS q_control,
           CAST(SIGN(MIN(CASE WHEN arm = 1 THEN q END)
                     - MIN(CASE WHEN arm = 0 THEN q END))
                * FLOOR(ABS(MIN(CASE WHEN arm = 1 THEN q END)
                            - MIN(CASE WHEN arm = 0 THEN q END))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS qte
    FROM qs GROUP BY i ORDER BY level
    """,
)
def q423(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    obs = orders.select(
        F.when(
            F.expr("substr(md5(cast(o_custkey as string)), 1, 1) < '8'"), 1
        )
        .otherwise(0)
        .alias("arm"),
        F.col("o_totalprice").cast("double").alias("y"),
    )
    from pandrs_spark.operators.windows import global_prefix_counts

    # NOT Window.partitionBy(arm).orderBy(y): two arms = two tasks for
    # the whole table. One distributed sorted pass over (arm, y) with
    # per-arm count columns — arms are contiguous under that order, so
    # each row's own-arm running count is exact.
    hist = obs.groupBy("arm", "y").agg(F.count(F.lit(1)).alias("c"))
    hist2 = hist.select(
        "arm",
        "y",
        F.when(F.col("arm") == 1, F.col("c")).otherwise(0).alias("ct"),
        F.when(F.col("arm") == 0, F.col("c")).otherwise(0).alias("cc"),
    )
    cumd = global_prefix_counts(
        hist2, [F.col("arm"), F.col("y")], {"cum_t": "ct", "cum_c": "cc"}
    )
    tot = hist.groupBy("arm").agg(F.sum("c").cast("long").alias("n"))
    cum = cumd.join(F.broadcast(tot), "arm").select(
        "arm",
        "y",
        F.when(F.col("arm") == 1, F.col("cum_t"))
        .otherwise(F.col("cum_c"))
        .cast("long")
        .alias("cum"),
        "n",
    )
    levels = spark.range(1, 10).select(F.col("id").cast("int").alias("i"))
    qs = (
        cum.join(F.broadcast(levels), F.col("cum") >= F.expr("(i * n + 9) div 10"))
        .groupBy("i", "arm")
        .agg(F.min("y").alias("q"))
    )
    qt = F.min(F.when(F.col("arm") == 1, F.col("q")))
    qc = F.min(F.when(F.col("arm") == 0, F.col("q")))
    return (
        qs.groupBy("i")
        .agg(
            qt.alias("q_treat"),
            qc.alias("q_control"),
            (quantize(qt - qc, 6) / 1e6).alias("qte"),
        )
        .select(
            (F.col("i") / 10.0).alias("level"), "q_treat", "q_control", "qte"
        )
        .orderBy("level")
    )


# --- q424: Wilson lower-bound ranking — the cold-start-safe way to
# rank brands by fulfilled-order rate: the naive rate p̂ overranks
# tiny-n items; the Wilson score interval's LOWER bound
# (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n), z = 1.96,
# penalizes uncertainty exactly. Pure grouped aggregate + shared
# closed-form; top 10 by (wilson_lb, brand) total order. ----------------------
@query(
    "q424_wilson_lb_brand_ranking",
    oracle="""
    WITH rates AS (
        SELECT p.p_brand AS brand,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l.l_returnflag = 'N' THEN 1 ELSE 0 END)
                    AS BIGINT) AS good
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    ),
    scored AS (
        SELECT brand, n, good,
               CAST(good AS DOUBLE) / n AS p_hat,
               ((CAST(good AS DOUBLE) / n) + 1.96 * 1.96 / (2.0 * n)
                - 1.96 * SQRT((CAST(good AS DOUBLE) / n)
                              * (1.0 - CAST(good AS DOUBLE) / n) / n
                              + 1.96 * 1.96 / (4.0 * n * n)))
               / (1.0 + 1.96 * 1.96 / n) AS wilson_lb
        FROM rates
    )
    SELECT brand, n, good,
           CAST(SIGN(p_hat) * FLOOR(ABS(p_hat) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS p_hat,
           CAST(SIGN(wilson_lb) * FLOOR(ABS(wilson_lb) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS wilson_lb
    FROM scored
    ORDER BY CAST(SIGN(wilson_lb) * FLOOR(ABS(wilson_lb) * 1e9 + 0.5) AS BIGINT)
             DESC, brand
    LIMIT 10
    """,
)
def q424(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    rates = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
            .cast("long")
            .alias("good"),
        )
    )
    p_hat = F.col("good").cast("double") / F.col("n")
    z2 = 1.96 * 1.96
    wilson = (
        p_hat
        + F.lit(z2) / (2.0 * F.col("n"))
        - 1.96
        * F.sqrt(
            p_hat * (1.0 - p_hat) / F.col("n")
            + F.lit(z2) / (4.0 * F.col("n") * F.col("n"))
        )
    ) / (1.0 + F.lit(z2) / F.col("n"))
    scored = rates.withColumn("p_hat_raw", p_hat).withColumn(
        "wilson_raw", wilson
    )
    return (
        scored.orderBy(F.desc(quantize("wilson_raw", 9)), "brand")
        .limit(10)
        .select(
            "brand",
            "n",
            "good",
            (quantize("p_hat_raw", 6) / 1e6).alias("p_hat"),
            (quantize("wilson_raw", 6) / 1e6).alias("wilson_lb"),
        )
    )


# --- q425: deterministic Monte-Carlo revenue scenarios — hash-seeded
# simulation at scale: each 1996 order takes K=100 multiplicative
# shocks u ∈ [0.9, 1.1) drawn from md5(orderkey, k) (the repo's
# seeded-randomness idiom, so BOTH engines draw identical scenarios),
# scenario totals come from quantized exact sums, and the P5/P50/P95
# of the 100-scenario distribution are exact order statistics over the
# FIXED scenario axis. Scale shape: the explode is a bounded ×100
# map-only multiplier (fan_out-style width is inherited from the
# scan); the shuffle is one groupBy over 100 keys of partial sums.
# The shape behind revenue-at-risk / capacity planning. -----------------------
@query(
    "q425_mc_revenue_scenarios",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS y
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
    ),
    shocked AS (
        SELECT g.k,
               y * (0.9 + 0.2 * (CAST(('0x' || substr(
                       md5(CAST(o_orderkey AS VARCHAR) || ':' ||
                           CAST(g.k AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0)) AS shocked_y
        FROM base, generate_series(1, 100) g(k)
    ),
    scen AS (
        SELECT k,
               CAST(SUM(CAST(SIGN(shocked_y) * FLOOR(ABS(shocked_y) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS totq
        FROM shocked GROUP BY k
    ),
    ranked AS (
        SELECT totq, ROW_NUMBER() OVER (ORDER BY totq) AS rn FROM scen
    )
    SELECT CAST(100 AS BIGINT) AS n_scenarios,
           (SELECT CAST(totq AS DOUBLE) / 100.0 FROM ranked WHERE rn = 5)
               AS var_p5,
           (SELECT CAST(totq AS DOUBLE) / 100.0 FROM ranked WHERE rn = 50)
               AS median_scenario,
           (SELECT CAST(totq AS DOUBLE) / 100.0 FROM ranked WHERE rn = 95)
               AS var_p95
    """,
)
def q425(spark, sf_dir):
    from pandrs_spark.operators.util import fan_out

    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    base = orders.select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("y")
    )
    ks = spark.range(1, 101).select(F.col("id").cast("int").alias("k"))
    u = (
        F.expr(
            "cast(conv(substr(md5(cast(o_orderkey as string) || ':' || "
            "cast(k as string)), 1, 8), 16, 10) as bigint)"
        )
        / F.lit(4294967296.0)
    )
    shocked = fan_out(base).crossJoin(F.broadcast(ks)).select(
        "k",
        (F.col("y") * (0.9 + 0.2 * u)).alias("shocked_y"),
    )

    scen = shocked.groupBy("k").agg(
        F.sum(quantize("shocked_y", 2)).cast("long").alias("totq")
    )
    # 100 scenarios — a FIXED axis; rank deterministically via a
    # broadcast self-count (rank = #scenarios below under the (totq, k)
    # total order) instead of any window
    a = scen.select(F.col("totq").alias("ta"), F.col("k").alias("ka"))
    rnk = (
        scen.crossJoin(F.broadcast(a))
        .groupBy("totq", "k")
        .agg(
            F.sum(
                F.when(
                    (F.col("ta") < F.col("totq"))
                    | ((F.col("ta") == F.col("totq")) & (F.col("ka") < F.col("k"))),
                    1,
                ).otherwise(0)
            ).alias("below")
        )
        .withColumn("rn", F.col("below") + 1)
    )
    def at(r):
        return F.min(F.when(F.col("rn") == r, F.col("totq").cast("double") / 100.0))

    return rnk.agg(
        F.lit(100).cast("long").alias("n_scenarios"),
        at(5).alias("var_p5"),
        at(50).alias("median_scenario"),
        at(95).alias("var_p95"),
    )


# --- q428: inverse-propensity-weighted ATE (Hájek estimator) — the
# third causal-adjustment paradigm beside stratification (q420) and
# DiD (q411): a closed-form linear-probability propensity
# p̂(x) = β₀ + β₁·acctbal (OLS from quantized exact sums), clipped to
# [0.05, 0.95], reweights each customer's total spend by 1/p̂ (treated)
# or 1/(1−p̂) (control). Every weighted sum is quantized before the
# final ratios, and the whole β → p̂ → weight chain is shared verbatim
# with the oracle. One fact-table rollup + two scalar aggregates. ------------
@query(
    "q428_ipw_ate",
    oracle="""
    WITH spend AS (
        SELECT c.c_custkey AS k, CAST(c.c_acctbal AS DOUBLE) AS x,
               CASE WHEN substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 1) < '8'
                    THEN 1.0 ELSE 0.0 END AS tr,
               COALESCE(CAST(SUM(CAST(SIGN(o.o_totalprice)
                        * FLOOR(ABS(o.o_totalprice) * 100.0 + 0.5) AS BIGINT))
                        AS DOUBLE) / 100.0, 0.0) AS y
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ),
    ols AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 100.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS sx,
               CAST(SUM(CAST(SIGN(x * x) * FLOOR(ABS(x * x) + 0.5) AS BIGINT))
                    AS DOUBLE) AS sxx,
               CAST(SUM(tr) AS DOUBLE) AS st,
               CAST(SUM(CAST(SIGN(tr * x) * FLOOR(ABS(tr * x) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 AS stx
        FROM spend
    ),
    beta AS (
        SELECT n,
               (n * stx - sx * st) / (n * sxx - sx * sx) AS b1,
               (st - (n * stx - sx * st) / (n * sxx - sx * sx) * sx) / n AS b0
        FROM ols
    ),
    wtd AS (
        SELECT s.k, s.tr, s.y,
               LEAST(0.95, GREATEST(0.05, b.b0 + b.b1 * s.x)) AS p
        FROM spend s, beta b
    ),
    sums AS (
        SELECT
            CAST(SUM(CAST(SIGN(tr * y / p) * FLOOR(ABS(tr * y / p) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS syt,
            CAST(SUM(CAST(SIGN(tr / p) * FLOOR(ABS(tr / p) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS swt,
            CAST(SUM(CAST(SIGN((1.0 - tr) * y / (1.0 - p)) * FLOOR(ABS((1.0 - tr) * y / (1.0 - p)) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS syc,
            CAST(SUM(CAST(SIGN((1.0 - tr) / (1.0 - p)) * FLOOR(ABS((1.0 - tr) / (1.0 - p)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS swc,
            CAST(SUM(CAST(SIGN(tr * y) * FLOOR(ABS(tr * y) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS nyt,
            CAST(SUM(tr) AS DOUBLE) AS nt,
            CAST(SUM(CAST(SIGN((1.0 - tr) * y) * FLOOR(ABS((1.0 - tr) * y) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS nyc,
            CAST(SUM(1.0 - tr) AS DOUBLE) AS nc
        FROM wtd
    )
    SELECT b.n,
           CAST(SIGN(b.b1) * FLOOR(ABS(b.b1) * 1e9 + 0.5) AS BIGINT) / 1e9 AS beta1,
           CAST(SIGN(s.syt / s.swt - s.syc / s.swc)
                * FLOOR(ABS(s.syt / s.swt - s.syc / s.swc) * 100.0 + 0.5)
                AS BIGINT) / 100.0 AS ate_ipw,
           CAST(SIGN(s.nyt / s.nt - s.nyc / s.nc)
                * FLOOR(ABS(s.nyt / s.nt - s.nyc / s.nc) * 100.0 + 0.5)
                AS BIGINT) / 100.0 AS naive_diff
    FROM sums s, beta b
    """,
)
def q428(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    spend = tracked_persist(
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(
            F.col("c_custkey").alias("k"),
            F.col("c_acctbal").cast("double").alias("x"),
        )
        .agg(
            F.coalesce(
                dsum("o_totalprice", 2),
                F.lit(0.0),
            ).alias("y")
        )
        .withColumn(
            "tr",
            F.when(
                F.expr("substr(md5(cast(k as string)), 1, 1) < '8'"), 1.0
            ).otherwise(0.0),
        )
    )
    ols = spend.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x", 2).alias("sx"),
        F.sum(quantize(F.col("x") * F.col("x"), 0)).cast("double").alias("sxx"),
        F.sum("tr").cast("double").alias("st"),
        dsum(F.col("tr") * F.col("x"), 2).alias("stx"),
    )
    b1 = (F.col("n") * F.col("stx") - F.col("sx") * F.col("st")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    beta = ols.select(
        "n",
        b1.alias("b1"),
        ((F.col("st") - b1 * F.col("sx")) / F.col("n")).alias("b0"),
    )
    wtd = spend.crossJoin(F.broadcast(beta)).withColumn(
        "p",
        F.least(
            F.lit(0.95),
            F.greatest(F.lit(0.05), F.col("b0") + F.col("b1") * F.col("x")),
        ),
    )
    sums = wtd.agg(
        dsum(F.col("tr") * F.col("y") / F.col("p"), 2).alias("syt"),
        dsum(F.col("tr") / F.col("p"), 6).alias("swt"),
        dsum((1.0 - F.col("tr")) * F.col("y") / (1.0 - F.col("p")), 2).alias("syc"),
        dsum((1.0 - F.col("tr")) / (1.0 - F.col("p")), 6).alias("swc"),
        dsum(F.col("tr") * F.col("y"), 2).alias("nyt"),
        F.sum("tr").cast("double").alias("nt"),
        dsum((1.0 - F.col("tr")) * F.col("y"), 2).alias("nyc"),
        F.sum(1.0 - F.col("tr")).cast("double").alias("nc"),
    )
    ate = F.col("syt") / F.col("swt") - F.col("syc") / F.col("swc")
    naive = F.col("nyt") / F.col("nt") - F.col("nyc") / F.col("nc")
    return sums.crossJoin(F.broadcast(beta.select("n", "b1"))).select(
        "n",
        (quantize("b1", 9) / 1e9).alias("beta1"),
        (quantize(ate, 2) / 100.0).alias("ate_ipw"),
        (quantize(naive, 2) / 100.0).alias("naive_diff"),
    )


# --- q430: empirical-Bayes shrinkage of brand fulfilled-rates — the
# James-Stein companion to q424's Wilson bound: a Beta prior is
# moment-matched to the observed cross-brand rate distribution
# (α = m(m(1−m)/v − 1), β = (1−m)(·)), then each brand's rate shrinks to
# (good + α)/(n + α + β) — small-n brands move toward the corpus mean,
# big-n brands barely move. Prior moments come from quantized exact
# sums over the bounded brand rollup; the whole chain is shared
# verbatim with the oracle. Top 10 by shrunk rate. ---------------------------
@query(
    "q430_empirical_bayes_brand_rates",
    oracle="""
    WITH rates AS (
        SELECT p.p_brand AS brand,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l.l_returnflag = 'N' THEN 1 ELSE 0 END)
                    AS BIGINT) AS good
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    ),
    mom AS (
        SELECT COUNT(*) AS k,
               CAST(SUM(CAST(SIGN(CAST(good AS DOUBLE) / n)
                             * FLOOR(ABS(CAST(good AS DOUBLE) / n) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS sr,
               CAST(SUM(CAST(SIGN((CAST(good AS DOUBLE) / n) * (CAST(good AS DOUBLE) / n))
                             * FLOOR(ABS((CAST(good AS DOUBLE) / n) * (CAST(good AS DOUBLE) / n)) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS srr
        FROM rates
    ),
    prior AS (
        SELECT (sr / k) * ((sr / k) * (1.0 - sr / k)
                           / ((srr - sr * sr / k) / (k - 1)) - 1.0) AS alpha,
               (1.0 - sr / k) * ((sr / k) * (1.0 - sr / k)
                                 / ((srr - sr * sr / k) / (k - 1)) - 1.0) AS beta
        FROM mom
    )
    SELECT r.brand, r.n, r.good,
           CAST(SIGN(CAST(r.good AS DOUBLE) / r.n)
                * FLOOR(ABS(CAST(r.good AS DOUBLE) / r.n) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS raw_rate,
           CAST(SIGN((r.good + p.alpha) / (r.n + p.alpha + p.beta))
                * FLOOR(ABS((r.good + p.alpha) / (r.n + p.alpha + p.beta))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS eb_rate
    FROM rates r, prior p
    ORDER BY CAST(SIGN((r.good + p.alpha) / (r.n + p.alpha + p.beta))
                  * FLOOR(ABS((r.good + p.alpha) / (r.n + p.alpha + p.beta))
                          * 1e9 + 0.5) AS BIGINT) DESC, r.brand
    LIMIT 10
    """,
)
def q430(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    rates = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
            .cast("long")
            .alias("good"),
        )
    )
    r = F.col("good").cast("double") / F.col("n")
    mom = rates.agg(
        F.count(F.lit(1)).alias("k"),
        dsum(r, 9).alias("sr"),
        dsum(r * r, 9).alias("srr"),
    )
    m = F.col("sr") / F.col("k")
    v = (F.col("srr") - F.col("sr") * F.col("sr") / F.col("k")) / (
        F.col("k") - 1
    )
    scale = m * (1.0 - m) / v - 1.0
    prior = mom.select(
        (m * scale).alias("alpha"), ((1.0 - m) * scale).alias("beta")
    )
    eb = (F.col("good") + F.col("alpha")) / (
        F.col("n") + F.col("alpha") + F.col("beta")
    )
    return (
        rates.crossJoin(F.broadcast(prior))
        .orderBy(F.desc(quantize(eb, 9)), "brand")
        .limit(10)
        .select(
            "brand",
            "n",
            "good",
            (quantize(r, 6) / 1e6).alias("raw_rate"),
            (quantize(eb, 6) / 1e6).alias("eb_rate"),
        )
    )


# --- q464: entropy-weighted TOPSIS supplier ranking — the classic
# multi-criteria decision matrix (Hwang-Yoon 1981; entropy weights per
# Shannon): criteria per supplier are revenue (benefit), mean discount
# (cost) and part breadth (benefit); columns are vector-normalized,
# entropy-weighted, and each supplier scored by closeness
# d⁻/(d⁺+d⁻) to the ideal/anti-ideal. Top-10 out. Everything is
# column-bounded (3 criteria): two aggregates over the supplier
# rollup + broadcast scalar carries — no pairwise work. -----------------------
@query(
    "q464_topsis_supplier_ranking",
    oracle="""
    WITH crit AS (
        SELECT l_suppkey AS supp,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / 1e6 AS rev,
               CAST(SUM(CAST(SIGN(l_discount) * FLOOR(ABS(l_discount)
                             * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
                   / COUNT(*) AS disc,
               CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS breadth
        FROM lineitem GROUP BY supp
    ),
    norms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SQRT(CAST(SUM(CAST(SIGN(rev * rev) * FLOOR(ABS(rev * rev) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) AS nr,
               SQRT(CAST(SUM(CAST(SIGN(disc * disc) * FLOOR(ABS(disc * disc) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9) AS nd,
               SQRT(CAST(SUM(CAST(SIGN(breadth * breadth) * FLOOR(ABS(breadth * breadth) + 0.5) AS BIGINT)) AS DOUBLE)) AS nb,
               CAST(SUM(CAST(SIGN(rev) * FLOOR(ABS(rev) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sr,
               CAST(SUM(CAST(SIGN(disc) * FLOOR(ABS(disc) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS sd,
               CAST(SUM(CAST(SIGN(breadth) * FLOOR(ABS(breadth) + 0.5) AS BIGINT)) AS DOUBLE) AS sb
        FROM crit
    ),
    ent AS (
        SELECT
            -CAST(SUM(CAST(SIGN((rev / n2.sr) * LN(rev / n2.sr)) * FLOOR(ABS((rev / n2.sr) * LN(rev / n2.sr)) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 / LN(n2.n) AS er,
            -CAST(SUM(CAST(SIGN((disc / n2.sd) * LN(disc / n2.sd)) * FLOOR(ABS((disc / n2.sd) * LN(disc / n2.sd)) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 / LN(n2.n) AS ed,
            -CAST(SUM(CAST(SIGN((breadth / n2.sb) * LN(breadth / n2.sb)) * FLOOR(ABS((breadth / n2.sb) * LN(breadth / n2.sb)) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 / LN(n2.n) AS eb
        FROM crit, norms n2
        GROUP BY n2.n, n2.sr, n2.sd, n2.sb
    ),
    wts AS (
        SELECT (1 - er) / ((1 - er) + (1 - ed) + (1 - eb)) AS wr,
               (1 - ed) / ((1 - er) + (1 - ed) + (1 - eb)) AS wd,
               (1 - eb) / ((1 - er) + (1 - ed) + (1 - eb)) AS wb
        FROM ent
    ),
    v AS (
        SELECT c.supp,
               w.wr * (c.rev / n2.nr) AS vr,
               w.wd * (c.disc / n2.nd) AS vd,
               w.wb * (c.breadth / n2.nb) AS vb
        FROM crit c, norms n2, wts w
    ),
    ideal AS (
        SELECT MAX(vr) AS vr_best, MIN(vr) AS vr_worst,
               MIN(vd) AS vd_best, MAX(vd) AS vd_worst,
               MAX(vb) AS vb_best, MIN(vb) AS vb_worst
        FROM v
    ),
    scored AS (
        SELECT v.supp,
               SQRT(POWER(v.vr - i.vr_best, 2) + POWER(v.vd - i.vd_best, 2)
                    + POWER(v.vb - i.vb_best, 2)) AS d_plus,
               SQRT(POWER(v.vr - i.vr_worst, 2) + POWER(v.vd - i.vd_worst, 2)
                    + POWER(v.vb - i.vb_worst, 2)) AS d_minus
        FROM v, ideal i
    )
    SELECT CAST(supp AS BIGINT) AS supp,
           CAST(SIGN(d_minus / (d_plus + d_minus))
                * FLOOR(ABS(d_minus / (d_plus + d_minus)) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS closeness
    FROM scored
    ORDER BY CAST(SIGN(d_minus / (d_plus + d_minus))
                * FLOOR(ABS(d_minus / (d_plus + d_minus)) * 1000000.0 + 0.5)
                AS BIGINT) DESC, supp
    LIMIT 10
    """,
)
def q464(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    crit = tracked_persist(
        li.groupBy(F.col("l_suppkey").alias("supp")).agg(
            (dsum("l_extendedprice", 2) / 1e6).alias("rev"),
            (dsum("l_discount", 2) / F.count(F.lit(1))).alias("disc"),
            F.countDistinct("l_partkey").cast("double").alias("breadth"),
        )
    )
    norms = crit.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sqrt(dsum(F.col("rev") * F.col("rev"), 6)).alias("nr"),
        F.sqrt(dsum(F.col("disc") * F.col("disc"), 9)).alias("nd"),
        F.sqrt(
            F.sum(quantize(F.col("breadth") * F.col("breadth"), 0)).cast(
                "double"
            )
        ).alias("nb"),
        dsum("rev", 6).alias("sr"),
        dsum("disc", 9).alias("sd"),
        F.sum(quantize("breadth", 0)).cast("double").alias("sb"),
    )
    j = crit.crossJoin(F.broadcast(norms))

    def ent_term(col, tot):
        p = F.col(col) / F.col(tot)
        return p * F.log(p)

    ent = j.groupBy("n", "sr", "sd", "sb").agg(
        (-dsum(ent_term("rev", "sr"), 9)).alias("ser"),
        (-dsum(ent_term("disc", "sd"), 9)).alias("sed"),
        (-dsum(ent_term("breadth", "sb"), 9)).alias("seb"),
    ).select(
        (F.col("ser") / F.log(F.col("n").cast("double"))).alias("er"),
        (F.col("sed") / F.log(F.col("n").cast("double"))).alias("ed"),
        (F.col("seb") / F.log(F.col("n").cast("double"))).alias("eb"),
    )
    wsum = (1 - F.col("er")) + (1 - F.col("ed")) + (1 - F.col("eb"))
    wts = ent.select(
        ((1 - F.col("er")) / wsum).alias("wr"),
        ((1 - F.col("ed")) / wsum).alias("wd"),
        ((1 - F.col("eb")) / wsum).alias("wb"),
    )
    v = tracked_persist(
        crit.crossJoin(F.broadcast(norms))
        .crossJoin(F.broadcast(wts))
        .select(
            "supp",
            (F.col("wr") * (F.col("rev") / F.col("nr"))).alias("vr"),
            (F.col("wd") * (F.col("disc") / F.col("nd"))).alias("vd"),
            (F.col("wb") * (F.col("breadth") / F.col("nb"))).alias("vb"),
        )
    )
    ideal = v.agg(
        F.max("vr").alias("vr_best"),
        F.min("vr").alias("vr_worst"),
        F.min("vd").alias("vd_best"),
        F.max("vd").alias("vd_worst"),
        F.max("vb").alias("vb_best"),
        F.min("vb").alias("vb_worst"),
    )
    s = v.crossJoin(F.broadcast(ideal))
    d_plus = F.sqrt(
        (F.col("vr") - F.col("vr_best")) ** 2
        + (F.col("vd") - F.col("vd_best")) ** 2
        + (F.col("vb") - F.col("vb_best")) ** 2
    )
    d_minus = F.sqrt(
        (F.col("vr") - F.col("vr_worst")) ** 2
        + (F.col("vd") - F.col("vd_worst")) ** 2
        + (F.col("vb") - F.col("vb_worst")) ** 2
    )
    closeness = d_minus / (d_plus + d_minus)
    return (
        s.select(
            F.col("supp").cast("long").alias("supp"),
            (quantize(closeness, 6) / 1e6).alias("closeness"),
        )
        .orderBy(F.desc(quantize("closeness", 6)), "supp")
        .limit(10)
    )


def _q471_abc_sql(alias: str, lo: str, hi: str) -> str:
    """ABC classes for one period: parts ranked by revenue DESC, class
    from the running revenue share (A ≤ 0.8, B ≤ 0.95, C rest)."""
    return f"""
    rev_{alias} AS (
        SELECT l_partkey AS part,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'
        GROUP BY part
    ),
    cls_{alias} AS (
        SELECT part,
               CASE WHEN CAST(SUM(revq) OVER (ORDER BY revq DESC, part)
                         AS DOUBLE) / (SELECT SUM(revq) FROM rev_{alias})
                         <= 0.8 THEN 'A'
                    WHEN CAST(SUM(revq) OVER (ORDER BY revq DESC, part)
                         AS DOUBLE) / (SELECT SUM(revq) FROM rev_{alias})
                         <= 0.95 THEN 'B'
                    ELSE 'C' END AS cls
        FROM rev_{alias}
    )"""


# --- q471: ABC class migration matrix — which parts moved between
# revenue classes from the 1995-1997 window to 1998-2000? Each
# period's classes come from a revenue-ranked running share (the q216
# shape; exact scaled-long revenue so rank ties are deterministic);
# the migration matrix is one join + one count rollup, parts absent
# from a period labeled '-'. The inventory-management lifecycle view
# (growing A's, dying C's). ------------------------------------------------------
@query(
    "q471_abc_migration_matrix",
    oracle="WITH "
    + _q471_abc_sql("a", "1995-01-01", "1998-01-01")
    + ","
    + _q471_abc_sql("b", "1998-01-01", "2001-01-01")
    + """
    SELECT COALESCE(a.cls, '-') AS class_from,
           COALESCE(b.cls, '-') AS class_to,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM cls_a a FULL OUTER JOIN cls_b b ON b.part = a.part
    GROUP BY class_from, class_to
    ORDER BY class_from, class_to
    """,
)
def q471(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    li = T(spark, sf_dir, "lineitem")

    def classes(lo, hi):
        rev = li.filter(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
        ).groupBy(F.col("l_partkey").alias("part")).agg(
            F.sum(quantize("l_extendedprice", 2)).cast("long").alias("revq")
        )
        tot = rev.agg(F.sum("revq").alias("tot"))
        ranked = global_prefix_counts(
            rev, [F.desc("revq"), F.asc("part")], {"cum": "revq"}
        )
        share = F.col("cum").cast("double") / F.col("tot")
        return ranked.crossJoin(F.broadcast(tot)).select(
            "part",
            F.when(share <= 0.8, "A")
            .when(share <= 0.95, "B")
            .otherwise("C")
            .alias("cls"),
        )

    a = tracked_persist(classes("1995-01-01", "1998-01-01"))
    b = tracked_persist(
        classes("1998-01-01", "2001-01-01").withColumnRenamed("cls", "cls_b")
    )
    return (
        a.join(b, "part", "outer")
        .groupBy(
            F.coalesce("cls", F.lit("-")).alias("class_from"),
            F.coalesce("cls_b", F.lit("-")).alias("class_to"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .orderBy("class_from", "class_to")
    )


# --- q472: supplier dependency concentration per brand — single-source
# risk: for each part, the top supplier's revenue share; per brand the
# count of single-sourced parts and the mean top-supplier share. Two
# rollups + one max_by-shaped aggregate, no windows over raw facts. -----------
@query(
    "q472_supplier_dependency",
    oracle="""
    WITH ps AS (
        SELECT l.l_partkey AS part, l.l_suppkey AS supp,
               CAST(SUM(CAST(SIGN(l.l_extendedprice)
                             * FLOOR(ABS(l.l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq
        FROM lineitem l GROUP BY part, supp
    ),
    per_part AS (
        SELECT part,
               CAST(MAX(revq) AS DOUBLE) / SUM(revq) AS top_share,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM ps GROUP BY part
    )
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN pp.n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_single_sourced,
           CAST(SIGN(CAST(SUM(CAST(SIGN(pp.top_share)
                    * FLOOR(ABS(pp.top_share) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 / COUNT(*))
                * FLOOR(ABS(CAST(SUM(CAST(SIGN(pp.top_share)
                    * FLOOR(ABS(pp.top_share) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS mean_top_share
    FROM per_part pp JOIN part p ON p.p_partkey = pp.part
    GROUP BY brand
    ORDER BY brand
    """,
)
def q472(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    ps = li.groupBy(
        F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp")
    ).agg(F.sum(quantize("l_extendedprice", 2)).cast("long").alias("revq"))
    per_part = ps.groupBy("part").agg(
        (F.max("revq").cast("double") / F.sum("revq")).alias("top_share"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    j = per_part.join(
        part.select(F.col("p_partkey").alias("part"), "p_brand"),
        "part",
    )
    agg = j.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.when(F.col("n_suppliers") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_single_sourced"),
        dsum("top_share", 9).alias("ss"),
    )
    return agg.select(
        "brand",
        "n_parts",
        "n_single_sourced",
        (quantize(F.col("ss") / F.col("n_parts"), 6) / 1e6).alias(
            "mean_top_share"
        ),
    ).orderBy("brand")


def _q475_round(i: int, prev: str) -> str:
    """One IPF round: scale to segment margins, then region margins.
    MATERIALIZED keeps DuckDB's planner linear in rounds."""
    return f"""
    r{i}a AS MATERIALIZED (
        SELECT c.seg, c.reg, c.n,
               w.w * (t.target / s.tot) AS w
        FROM {prev} w
        JOIN cells c ON c.seg = w.seg AND c.reg = w.reg
        JOIN (SELECT w2.seg, CAST(SUM(CAST(SIGN(c2.n * w2.w)
                  * FLOOR(ABS(c2.n * w2.w) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
                  / 1e9 AS tot
              FROM {prev} w2 JOIN cells c2
                ON c2.seg = w2.seg AND c2.reg = w2.reg
              GROUP BY w2.seg) s ON s.seg = w.seg
        JOIN seg_targets t ON t.seg = w.seg
    ),
    r{i} AS MATERIALIZED (
        SELECT a.seg, a.reg,
               a.w * (t.target / s.tot) AS w
        FROM r{i}a a
        JOIN (SELECT a2.reg, CAST(SUM(CAST(SIGN(a2.n * a2.w)
                  * FLOOR(ABS(a2.n * a2.w) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
                  / 1e9 AS tot
              FROM r{i}a a2 GROUP BY a2.reg) s ON s.reg = a.reg
        JOIN reg_targets t ON t.reg = a.reg
    )"""


# --- q475: iterative proportional fitting (IPF / raking) of the
# (market segment × region) customer table to uniform target margins —
# the survey-weighting primitive (Deming-Stephan 1940). Three unrolled
# rounds over the bounded 25-cell table, margin totals as quantized
# exact sums; the oracle replays the identical trajectory with
# per-round MATERIALIZED CTEs. One data-scale pass (the cell rollup);
# everything after is cell-bounded. --------------------------------------------
@query(
    "q475_ipf_raking_weights",
    oracle=f"""
    WITH cells AS MATERIALIZED (
        SELECT c.c_mktsegment AS seg, n.n_regionkey AS reg,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY seg, reg
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM cells),
    seg_targets AS (
        SELECT seg, (SELECT total FROM tot)
                    / (SELECT COUNT(DISTINCT seg) FROM cells) AS target
        FROM (SELECT DISTINCT seg FROM cells)
    ),
    reg_targets AS (
        SELECT reg, (SELECT total FROM tot)
                    / (SELECT COUNT(DISTINCT reg) FROM cells) AS target
        FROM (SELECT DISTINCT reg FROM cells)
    ),
    r0 AS (SELECT seg, reg, 1.0 AS w FROM cells),
    {_q475_round(1, 'r0')},
    {_q475_round(2, 'r1')},
    {_q475_round(3, 'r2')}
    SELECT c.seg, CAST(c.reg AS BIGINT) AS reg, c.n,
           CAST(SIGN(r.w) * FLOOR(ABS(r.w) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS weight,
           CAST(SIGN(c.n * r.w) * FLOOR(ABS(c.n * r.w) * 100.0 + 0.5)
                AS BIGINT) / 100.0 AS weighted_n
    FROM cells c JOIN r3 r ON r.seg = c.seg AND r.reg = c.reg
    ORDER BY c.seg, c.reg
    """,
)
def q475(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    cust = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation")
    cells = tracked_persist(
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("n_regionkey").alias("reg"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cells.agg(F.sum("n").cast("double").alias("total"))
    n_seg = cells.select("seg").distinct().count()
    n_reg = cells.select("reg").distinct().count()
    seg_targets = (
        cells.select("seg")
        .distinct()
        .crossJoin(F.broadcast(tot))
        .select("seg", (F.col("total") / n_seg).alias("target_s"))
    )
    reg_targets = (
        cells.select("reg")
        .distinct()
        .crossJoin(F.broadcast(tot))
        .select("reg", (F.col("total") / n_reg).alias("target_r"))
    )
    from pandrs_spark.operators.hypothesis import ipf_rake

    w = ipf_rake(
        cells,
        "seg",
        "reg",
        "n",
        seg_targets.withColumnRenamed("target_s", "target_r"),
        reg_targets.withColumnRenamed("target_r", "target_c"),
        n_rounds=3,
    )
    return w.select(
        "seg",
        F.col("reg").cast("long").alias("reg"),
        "n",
        (quantize("w", 6) / 1e6).alias("weight"),
        (quantize(F.col("n") * F.col("w"), 2) / 100.0).alias("weighted_n"),
    ).orderBy("seg", "reg")


def _q477_side_sql(alias: str, cond: str) -> str:
    """Per-side local OLS of spend on balance from exact sums."""
    return f"""
    {alias} AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sx,
               CAST(SUM(CAST(SIGN(y) * FLOOR(ABS(y) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sy,
               CAST(SUM(CAST(SIGN(x * x) * FLOOR(ABS(x * x) * 1.0 + 0.5) AS BIGINT)) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(SIGN(x * y) * FLOOR(ABS(x * y) * 1.0 + 0.5) AS BIGINT)) AS DOUBLE) AS sxy
        FROM pts WHERE {cond}
    )"""


# --- q477: sharp regression discontinuity at the zero-balance cutoff —
# does per-customer spend JUMP as the account balance crosses 0?
# Local linear fits on each side of the cutoff within a ±2000
# bandwidth (Imbens-Lemieux form); the RD effect is the difference of
# the two intercepts AT the cutoff. Two exact-sum aggregates + the
# closed-form OLS — the causal kit's sixth member (DiD q411,
# ATE q420/q428, QTE q423, mSPRT q403). -----------------------------------------
@query(
    "q477_regression_discontinuity",
    oracle=f"""
    WITH pts AS (
        SELECT c.c_acctbal AS x,
               CAST(SUM(CAST(SIGN(o.o_totalprice)
                             * FLOOR(ABS(o.o_totalprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / 1e3 AS y
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_acctbal >= -2000 AND c.c_acctbal <= 2000
        GROUP BY c.c_custkey, c.c_acctbal
    ),
    {_q477_side_sql('l', 'x < 0').lstrip()},
    {_q477_side_sql('r', 'x >= 0').lstrip()}
    SELECT l.n AS n_left, r.n AS n_right,
           CAST(SIGN((l.sy - ((l.n * l.sxy - l.sx * l.sy) / (l.n * l.sxx - l.sx * l.sx)) * l.sx) / l.n)
                * FLOOR(ABS((l.sy - ((l.n * l.sxy - l.sx * l.sy) / (l.n * l.sxx - l.sx * l.sx)) * l.sx) / l.n)
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS icept_left,
           CAST(SIGN((r.sy - ((r.n * r.sxy - r.sx * r.sy) / (r.n * r.sxx - r.sx * r.sx)) * r.sx) / r.n)
                * FLOOR(ABS((r.sy - ((r.n * r.sxy - r.sx * r.sy) / (r.n * r.sxx - r.sx * r.sx)) * r.sx) / r.n)
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS icept_right,
           CAST(SIGN(((r.sy - ((r.n * r.sxy - r.sx * r.sy) / (r.n * r.sxx - r.sx * r.sx)) * r.sx) / r.n)
                     - ((l.sy - ((l.n * l.sxy - l.sx * l.sy) / (l.n * l.sxx - l.sx * l.sx)) * l.sx) / l.n))
                * FLOOR(ABS(((r.sy - ((r.n * r.sxy - r.sx * r.sy) / (r.n * r.sxx - r.sx * r.sx)) * r.sx) / r.n)
                     - ((l.sy - ((l.n * l.sxy - l.sx * l.sy) / (l.n * l.sxx - l.sx * l.sx)) * l.sx) / l.n))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS rd_effect
    FROM l, r
    """,
)
def q477(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    pts = tracked_persist(
        cust.filter(
            (F.col("c_acctbal") >= -2000) & (F.col("c_acctbal") <= 2000)
        )
        .join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg((dsum("o_totalprice", 2) / 1e3).alias("y"))
        .select(F.col("c_acctbal").alias("x"), "y")
    )

    def side(cond, pre):
        agg = pts.filter(cond).agg(
            F.count(F.lit(1)).alias(f"n_{pre}"),
            dsum("x", 2).alias(f"sx_{pre}"),
            dsum("y", 2).alias(f"sy_{pre}"),
            F.sum(quantize(F.col("x") * F.col("x"), 0))
            .cast("double")
            .alias(f"sxx_{pre}"),
            F.sum(quantize(F.col("x") * F.col("y"), 0))
            .cast("double")
            .alias(f"sxy_{pre}"),
        )
        return agg

    l = side(F.col("x") < 0, "l")
    r = side(F.col("x") >= 0, "r")

    def icept(pre):
        n = F.col(f"n_{pre}")
        sx = F.col(f"sx_{pre}")
        sy = F.col(f"sy_{pre}")
        sxx = F.col(f"sxx_{pre}")
        sxy = F.col(f"sxy_{pre}")
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        return (sy - slope * sx) / n

    j = F.broadcast(l).crossJoin(F.broadcast(r))
    return j.select(
        F.col("n_l").alias("n_left"),
        F.col("n_r").alias("n_right"),
        (quantize(icept("l"), 6) / 1e6).alias("icept_left"),
        (quantize(icept("r"), 6) / 1e6).alias("icept_right"),
        (quantize(icept("r") - icept("l"), 6) / 1e6).alias("rd_effect"),
    )


# --- q557: Oaxaca-Blinder two-fold decomposition of the BUILDING vs
# MACHINERY mean-order-value gap with nation as the categorical
# covariate: gap = Σ_n(sh_An − sh_Bn)·m_Bn  [explained / endowments]
#                + Σ_n sh_An·(m_An − m_Bn)  [unexplained / returns],
# computed over the common-support nation cells (bounded 25-nation
# rollup). The identity gap = explained + unexplained holds exactly by
# construction and ships as a verifiable output column. -------------------------
@query(
    "q557_oaxaca_blinder_gap",
    oracle=f"""
    WITH cells AS MATERIALIZED (
        SELECT c.c_nationkey AS nk,
               CAST(SUM(CASE WHEN c.c_mktsegment = 'BUILDING'
                             THEN 1 ELSE 0 END) AS DOUBLE) AS na,
               CAST(SUM(CASE WHEN c.c_mktsegment = 'MACHINERY'
                             THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
               CAST(SUM(CASE WHEN c.c_mktsegment = 'BUILDING'
                             THEN {sql_quantize('o.o_totalprice', 2)}
                             ELSE 0 END) AS DOUBLE) / 1e2 / 1e3 AS sa,
               CAST(SUM(CASE WHEN c.c_mktsegment = 'MACHINERY'
                             THEN {sql_quantize('o.o_totalprice', 2)}
                             ELSE 0 END) AS DOUBLE) / 1e2 / 1e3 AS sb
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY nk
        HAVING SUM(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) > 0
           AND SUM(CASE WHEN c.c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) > 0
    ),
    tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM cells),
    parts AS (
        SELECT CAST(SUM({sql_quantize(
                   '(na / ta - nb / tb) * (sb / nb)', 12)}) AS DOUBLE)
                   / 1e12 AS explained,
               CAST(SUM({sql_quantize(
                   '(na / ta) * (sa / na - sb / nb)', 12)}) AS DOUBLE)
                   / 1e12 AS unexplained,
               CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM cells, tot
    )
    SELECT n_cells,
           CAST({sql_quantize('explained + unexplained', 6)} AS DOUBLE)
               / 1e6 AS gap,
           CAST({sql_quantize('explained', 6)} AS DOUBLE) / 1e6 AS explained,
           CAST({sql_quantize('unexplained', 6)} AS DOUBLE) / 1e6
               AS unexplained
    FROM parts
    """,
)
def q557(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0))
            .cast("double")
            .alias("na"),
            F.sum(F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0))
            .cast("double")
            .alias("nb"),
            (
                F.sum(
                    F.when(
                        F.col("c_mktsegment") == "BUILDING",
                        quantize("o_totalprice", 2),
                    ).otherwise(F.lit(0))
                ).cast("double")
                / 1e2
                / 1e3
            ).alias("sa"),
            (
                F.sum(
                    F.when(
                        F.col("c_mktsegment") == "MACHINERY",
                        quantize("o_totalprice", 2),
                    ).otherwise(F.lit(0))
                ).cast("double")
                / 1e2
                / 1e3
            ).alias("sb"),
        )
        .where((F.col("na") > 0) & (F.col("nb") > 0))
    )
    tot = cells.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    parts = cells.crossJoin(F.broadcast(tot)).agg(
        dsum(
            (F.col("na") / F.col("ta") - F.col("nb") / F.col("tb"))
            * (F.col("sb") / F.col("nb")),
            12,
        ).alias("explained"),
        dsum(
            (F.col("na") / F.col("ta"))
            * (F.col("sa") / F.col("na") - F.col("sb") / F.col("nb")),
            12,
        ).alias("unexplained"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    return parts.select(
        "n_cells",
        (quantize(F.col("explained") + F.col("unexplained"), 6) / 1e6).alias("gap"),
        (quantize("explained", 6) / 1e6).alias("explained"),
        (quantize("unexplained", 6) / 1e6).alias("unexplained"),
    )


# --- q558: positive-part James-Stein shrinkage of per-brand mean
# retail prices toward the grand brand mean — the frequentist cousin
# of q430's empirical-Bayes rates: θ_i = m̄ + (1 − (k−3)·v̄/S)₊·(m_i − m̄)
# with S = Σ(m_i − m̄)² and v̄ the average squared standard error.
# Everything lives on the bounded 25-brand rollup after one exact
# moment aggregate. --------------------------------------------------------------
@query(
    "q558_james_stein_brand_means",
    oracle=f"""
    WITH per_b AS MATERIALIZED (
        SELECT p_brand AS brand,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('p_retailprice', 2)}) AS DOUBLE)
                   / 1e2 / 1e3 AS s,
               CAST(SUM({sql_quantize('p_retailprice * p_retailprice', -2)})
                    AS DOUBLE) * 1e2 / 1e6 AS ss
        FROM part GROUP BY brand
    ),
    m AS MATERIALIZED (
        SELECT brand, n, s / n AS mi,
               ((ss - s * s / n) / (n - 1)) / n AS vi
        FROM per_b
    ),
    g AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k,
               CAST(SUM({sql_quantize('mi', 9)}) AS DOUBLE) / 1e9
                   / COUNT(*) AS mbar,
               CAST(SUM({sql_quantize('vi', 12)}) AS DOUBLE) / 1e12
                   / COUNT(*) AS vbar
        FROM m
    ),
    ss AS (
        SELECT CAST(SUM({sql_quantize('(mi - mbar) * (mi - mbar)', 12)})
                    AS DOUBLE) / 1e12 AS s2
        FROM m, g
    )
    SELECT m.brand,
           CAST({sql_quantize('m.mi', 6)} AS DOUBLE) / 1e6 AS raw_mean,
           CAST({sql_quantize(
               'g.mbar + GREATEST(0.0, 1 - (g.k - 3) * g.vbar / ss.s2)'
               ' * (m.mi - g.mbar)', 6)} AS DOUBLE) / 1e6 AS js_mean
    FROM m, g, ss
    ORDER BY m.brand
    """,
)
def q558(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    part = T(spark, sf_dir, "part")
    per_b = part.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (dsum("p_retailprice", 2) / 1e3).alias("s"),
        (
            F.sum(quantize(F.col("p_retailprice") * F.col("p_retailprice"), -2)).cast(
                "double"
            )
            * 1e2
            / 1e6
        ).alias("ss"),
    )
    m = tracked_persist(
        per_b.select(
            "brand",
            "n",
            (F.col("s") / F.col("n")).alias("mi"),
            (
                ((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1))
                / F.col("n")
            ).alias("vi"),
        )
    )
    g = m.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        (dsum("mi", 9) / F.count(F.lit(1))).alias("mbar"),
        (dsum("vi", 12) / F.count(F.lit(1))).alias("vbar"),
    )
    ss = m.crossJoin(F.broadcast(g)).agg(
        dsum(
            (F.col("mi") - F.col("mbar")) * (F.col("mi") - F.col("mbar")), 12
        ).alias("s2")
    )
    j = m.crossJoin(F.broadcast(g)).crossJoin(F.broadcast(ss))
    shrink = F.col("mbar") + F.greatest(
        F.lit(0.0), 1 - (F.col("k") - 3) * F.col("vbar") / F.col("s2")
    ) * (F.col("mi") - F.col("mbar"))
    return j.select(
        "brand",
        (quantize("mi", 6) / 1e6).alias("raw_mean"),
        (quantize(shrink, 6) / 1e6).alias("js_mean"),
    ).orderBy("brand")


def _sql_u01(key_expr: str) -> str:
    """DuckDB replay of operators/sampling._uniform01: first 6 md5 hex
    chars of the key string → integer, u = (x + 0.5)/16^6. Positional
    hex decode (q212/q233 oracle idiom)."""
    h = f"substr(md5({key_expr}), 1, 6)"
    terms = " + ".join(
        f"{16 ** (5 - j)} * (strpos('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1)"
        for j in range(6)
    )
    return f"((({terms}) + 0.5) / {float(16 ** 6)})"


# --- q559: Horvitz-Thompson total from a deterministic probability-
# proportional-to-size sample — include order i iff u_i < π_i with
# π_i = clamp(totalprice/5e5, 0.02, 1) and u_i the md5-uniform of the
# order key (engine-portable, partition-invariant); T̂ = Σ y_i/π_i over
# the sample. The estimator the survey tier needs when frames are
# sampled by value; output carries the true total so the gate verifies
# both the sample selection AND the reweighting exactly. ------------------------
@query(
    "q559_horvitz_thompson_total",
    oracle=f"""
    WITH marked AS MATERIALIZED (
        SELECT o_totalprice AS y,
               GREATEST(0.02, LEAST(1.0, o_totalprice / 500000.0)) AS pi,
               {_sql_u01("CAST(o_orderkey AS VARCHAR)")} AS u
        FROM orders
    ),
    samp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(SUM({sql_quantize('y / pi', 2)}) AS DOUBLE)
                   / 1e2 / 1e6 AS ht_total
        FROM marked WHERE u < pi
    ),
    tru AS (
        SELECT CAST(SUM({sql_quantize('y', 2)}) AS DOUBLE) / 1e2 / 1e6
                   AS true_total,
               CAST(COUNT(*) AS BIGINT) AS n_frame
        FROM marked
    )
    SELECT samp.n_sampled, tru.n_frame,
           CAST({sql_quantize('samp.ht_total', 4)} AS DOUBLE) / 1e4
               AS ht_total_m,
           CAST({sql_quantize('tru.true_total', 4)} AS DOUBLE) / 1e4
               AS true_total_m,
           CAST({sql_quantize('samp.ht_total / tru.true_total - 1', 6)}
                AS DOUBLE) / 1e6 AS rel_err
    FROM samp, tru
    """,
)
def q559(spark, sf_dir):
    from pandrs_spark.operators.sampling import _uniform01
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    marked = tracked_persist(
        orders.select(
            F.col("o_totalprice").alias("y"),
            F.greatest(
                F.lit(0.02), F.least(F.lit(1.0), F.col("o_totalprice") / 500000.0)
            ).alias("pi"),
            _uniform01("o_orderkey").alias("u"),
        )
    )
    samp = marked.where(F.col("u") < F.col("pi")).agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        (dsum(F.col("y") / F.col("pi"), 2) / 1e6).alias("ht_total"),
    )
    tru = marked.agg(
        (dsum("y", 2) / 1e6).alias("true_total"),
        F.count(F.lit(1)).cast("long").alias("n_frame"),
    )
    j = samp.crossJoin(F.broadcast(tru))
    return j.select(
        "n_sampled",
        "n_frame",
        (quantize("ht_total", 4) / 1e4).alias("ht_total_m"),
        (quantize("true_total", 4) / 1e4).alias("true_total_m"),
        (quantize(F.col("ht_total") / F.col("true_total") - 1, 6) / 1e6).alias(
            "rel_err"
        ),
    )


# --- q560: post-stratification correction of a deterministic 20%
# customer subsample — reweight per-nation sample means by the FULL-
# frame nation shares W_n (the design fix when a sample over/under-
# represents strata): x̂_ps = Σ_n W_n·x̄_n,samp vs the raw sample mean
# and the frame truth. Strata are the bounded 25-nation rollup; the
# md5 coin makes the subsample identical on any engine/partitioning. ------------
@query(
    "q560_post_stratified_mean",
    oracle=f"""
    WITH marked AS MATERIALIZED (
        SELECT c_nationkey AS nk, c_acctbal AS y,
               CASE WHEN {_sql_u01("CAST(c_custkey AS VARCHAR)")} < 0.2
                    THEN 1 ELSE 0 END AS in_s
        FROM customer
    ),
    strata AS MATERIALIZED (
        SELECT nk,
               CAST(COUNT(*) AS DOUBLE) AS n_frame,
               CAST(SUM(in_s) AS DOUBLE) AS n_samp,
               CAST(SUM(CASE WHEN in_s = 1
                             THEN {sql_quantize('y', 2)} ELSE 0 END)
                    AS DOUBLE) / 1e2 / 1e3 AS s_samp
        FROM marked GROUP BY nk
        HAVING SUM(in_s) > 0
    ),
    tot AS (
        SELECT SUM(n_frame) AS nf, SUM(n_samp) AS ns,
               CAST(SUM({sql_quantize('s_samp', 6)}) AS DOUBLE) / 1e6 AS ssum
        FROM strata
    ),
    ps AS (
        SELECT CAST(SUM({sql_quantize(
                   '(n_frame / tot.nf) * (s_samp / n_samp)', 12)})
                    AS DOUBLE) / 1e12 AS psm,
               CAST(COUNT(*) AS BIGINT) AS n_strata
        FROM strata, tot
    ),
    tru AS (
        SELECT CAST(SUM({sql_quantize('y', 2)}) AS DOUBLE) / 1e2 / 1e3
                   / COUNT(*) AS tm
        FROM marked
    )
    SELECT ps.n_strata,
           CAST(tot.ns AS BIGINT) AS n_sample,
           CAST({sql_quantize('tot.ssum / tot.ns', 6)} AS DOUBLE) / 1e6
               AS raw_mean,
           CAST({sql_quantize('ps.psm', 6)} AS DOUBLE) / 1e6
               AS post_strat_mean,
           CAST({sql_quantize('tru.tm', 6)} AS DOUBLE) / 1e6 AS frame_mean
    FROM ps, tot, tru
    """,
)
def q560(spark, sf_dir):
    from pandrs_spark.operators.sampling import _uniform01
    from pandrs_spark.operators.util import tracked_persist

    cust = T(spark, sf_dir, "customer")
    marked = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_acctbal").alias("y"),
        F.when(_uniform01("c_custkey") < 0.2, 1).otherwise(0).alias("in_s"),
    )
    strata = tracked_persist(
        marked.groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_frame"),
            F.sum("in_s").cast("double").alias("n_samp"),
            (
                F.sum(
                    F.when(F.col("in_s") == 1, quantize("y", 2)).otherwise(F.lit(0))
                ).cast("double")
                / 1e2
                / 1e3
            ).alias("s_samp"),
        )
        .where(F.col("n_samp") > 0)
    )
    tot = strata.agg(
        F.sum("n_frame").alias("nf"),
        F.sum("n_samp").alias("ns"),
        dsum("s_samp", 6).alias("ssum"),
    )
    ps = strata.crossJoin(F.broadcast(tot)).agg(
        dsum(
            (F.col("n_frame") / F.col("nf")) * (F.col("s_samp") / F.col("n_samp")), 12
        ).alias("psm"),
        F.count(F.lit(1)).cast("long").alias("n_strata"),
    )
    tru = marked.agg((dsum("y", 2) / 1e3 / F.count(F.lit(1))).alias("tm"))
    j = ps.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(tru))
    return j.select(
        "n_strata",
        F.col("ns").cast("long").alias("n_sample"),
        (quantize(F.col("ssum") / F.col("ns"), 6) / 1e6).alias("raw_mean"),
        (quantize("psm", 6) / 1e6).alias("post_strat_mean"),
        (quantize("tm", 6) / 1e6).alias("frame_mean"),
    )


# --- q610: VIKOR compromise ranking of suppliers — the
# closest-to-ideal multi-criteria method that complements q464's
# TOPSIS: per supplier-nation, criteria (total line revenue ↑, avg
# discount given ↓, distinct parts carried ↑) normalize to the
# best/worst range; S = Σw·d (group utility), R = max w·d (individual
# regret), Q = v·(S−S*)/(S⁻−S*) + (1−v)·(R−R*)/(R⁻−R*) with v = 0.5
# (Opricovic & Tzeng 2004, public methodology). Bounded 25-nation
# decision matrix after one fact aggregate. --------------------------------------
@query(
    "q610_vikor_supplier_ranking",
    oracle=f"""
    WITH m AS MATERIALIZED (
        SELECT s.s_nationkey AS nk,
               CAST(SUM({sql_quantize('l.l_extendedprice', 2)}) AS DOUBLE)
                   / 1e2 / 1e6 AS rev,
               CAST(SUM({sql_quantize('l.l_discount', 4)}) AS DOUBLE) / 1e4
                   / COUNT(*) AS disc,
               CAST(COUNT(DISTINCT l.l_partkey) AS DOUBLE) AS parts
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY nk
    ),
    rng AS (
        SELECT MAX(rev) AS rev_b, MIN(rev) AS rev_w,
               MIN(disc) AS disc_b, MAX(disc) AS disc_w,
               MAX(parts) AS parts_b, MIN(parts) AS parts_w
        FROM m
    ),
    sr AS MATERIALIZED (
        SELECT m.nk,
               (1.0 / 3) * (rng.rev_b - m.rev) / (rng.rev_b - rng.rev_w)
                 + (1.0 / 3) * (m.disc - rng.disc_b)
                   / (rng.disc_w - rng.disc_b)
                 + (1.0 / 3) * (rng.parts_b - m.parts)
                   / (rng.parts_b - rng.parts_w) AS s,
               GREATEST(
                   (1.0 / 3) * (rng.rev_b - m.rev) / (rng.rev_b - rng.rev_w),
                   (1.0 / 3) * (m.disc - rng.disc_b)
                       / (rng.disc_w - rng.disc_b),
                   (1.0 / 3) * (rng.parts_b - m.parts)
                       / (rng.parts_b - rng.parts_w)) AS r
        FROM m, rng
    ),
    srr AS (
        SELECT MIN(s) AS s_b, MAX(s) AS s_w, MIN(r) AS r_b, MAX(r) AS r_w
        FROM sr
    )
    SELECT sr.nk AS nation,
           CAST(CAST(SIGN(sr.s) * FLOOR(ABS(sr.s) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS vikor_s,
           CAST(CAST(SIGN(sr.r) * FLOOR(ABS(sr.r) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS vikor_r,
           CAST(CAST(SIGN(q) * FLOOR(ABS(q) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS vikor_q
    FROM sr, srr,
    LATERAL (SELECT 0.5 * (sr.s - srr.s_b) / (srr.s_w - srr.s_b)
                  + 0.5 * (sr.r - srr.r_b) / (srr.r_w - srr.r_b) AS q)
    ORDER BY nation
    """,
)
def q610(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    m = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(
            (dsum("l_extendedprice", 2) / 1e6).alias("rev"),
            (dsum("l_discount", 4) / F.count(F.lit(1))).alias("disc"),
            F.count_distinct("l_partkey").cast("double").alias("parts"),
        )
    )
    rng = m.agg(
        F.max("rev").alias("rev_b"),
        F.min("rev").alias("rev_w"),
        F.min("disc").alias("disc_b"),
        F.max("disc").alias("disc_w"),
        F.max("parts").alias("parts_b"),
        F.min("parts").alias("parts_w"),
    )
    d1 = (1.0 / 3) * (F.col("rev_b") - F.col("rev")) / (F.col("rev_b") - F.col("rev_w"))
    d2 = (1.0 / 3) * (F.col("disc") - F.col("disc_b")) / (
        F.col("disc_w") - F.col("disc_b")
    )
    d3 = (1.0 / 3) * (F.col("parts_b") - F.col("parts")) / (
        F.col("parts_b") - F.col("parts_w")
    )
    sr = tracked_persist(
        m.crossJoin(F.broadcast(rng)).select(
            "nk",
            (d1 + d2 + d3).alias("s"),
            F.greatest(d1, d2, d3).alias("r"),
        )
    )
    srr = sr.agg(
        F.min("s").alias("s_b"),
        F.max("s").alias("s_w"),
        F.min("r").alias("r_b"),
        F.max("r").alias("r_w"),
    )
    j = sr.crossJoin(F.broadcast(srr))
    q_col = 0.5 * (F.col("s") - F.col("s_b")) / (F.col("s_w") - F.col("s_b")) + 0.5 * (
        F.col("r") - F.col("r_b")
    ) / (F.col("r_w") - F.col("r_b"))
    return j.select(
        F.col("nk").alias("nation"),
        (quantize("s", 6) / 1e6).alias("vikor_s"),
        (quantize("r", 6) / 1e6).alias("vikor_r"),
        (quantize(q_col, 6) / 1e6).alias("vikor_q"),
    ).orderBy("nation")


# --- q571: economic order quantity per brand — EOQ = sqrt(2·D·S/H)
# with annual demand D from the observed quantity rate, ordering cost
# S = 100 (fixed policy constant) and holding cost H = 20% of the
# brand's unit value (Σ extprice / Σ qty). The inventory-policy
# complement to q-newsvendor: one fact aggregate, bounded 25-brand
# output, closed-form per row. ---------------------------------------------------
@query(
    "q571_eoq_per_brand",
    oracle=f"""
    WITH span AS (
        SELECT CAST(COUNT(DISTINCT date_trunc('month', l_shipdate))
                    AS DOUBLE) AS n_months
        FROM lineitem
    ),
    per_b AS (
        SELECT p.p_brand AS brand,
               CAST(SUM({sql_quantize('l.l_quantity', 2)}) AS DOUBLE)
                   / 1e2 AS qty,
               CAST(SUM({sql_quantize('l.l_extendedprice', 2)}) AS DOUBLE)
                   / 1e2 AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand
    )
    SELECT brand,
           CAST({sql_quantize('qty * 12.0 / span.n_months', 2)} AS DOUBLE)
               / 1e2 AS annual_demand,
           CAST({sql_quantize(
               'SQRT(2.0 * (qty * 12.0 / span.n_months) * 100.0'
               ' / (0.2 * (rev / qty)))', 4)} AS DOUBLE) / 1e4 AS eoq
    FROM per_b, span
    ORDER BY brand
    """,
)
def q571(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    span = li.agg(
        F.count_distinct(F.date_trunc("month", "l_shipdate"))
        .cast("double")
        .alias("n_months")
    )
    per_b = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            dsum("l_quantity", 2).alias("qty"),
            dsum("l_extendedprice", 2).alias("rev"),
        )
    )
    j = per_b.crossJoin(F.broadcast(span))
    d_annual = F.col("qty") * 12.0 / F.col("n_months")
    eoq = F.sqrt(2.0 * d_annual * 100.0 / (0.2 * (F.col("rev") / F.col("qty"))))
    return j.select(
        "brand",
        (quantize(d_annual, 2) / 1e2).alias("annual_demand"),
        (quantize(eoq, 4) / 1e4).alias("eoq"),
    ).orderBy("brand")


# --- q572: ABC-XYZ inventory matrix — every part classed twice:
# ABC by cumulative revenue share (A ≤80%, B ≤95%, C tail; the q216
# distributed prefix fold, range-sort + partition-offset cumsum, never
# a one-task window) and XYZ by monthly-demand variability
# (CV ≤0.5 X, ≤1.0 Y, else Z; months with no sales count as zeros via
# the month-span carry). Output: the 9-cell planning matrix with part
# counts and revenue share per cell. ---------------------------------------------
@query(
    "q572_abc_xyz_matrix",
    oracle=f"""
    WITH span AS (
        SELECT CAST(COUNT(DISTINCT date_trunc('month', l_shipdate))
                    AS DOUBLE) AS nm
        FROM lineitem
    ),
    rev AS MATERIALIZED (
        SELECT l_partkey, {sql_dsum("l_extendedprice * (1 - l_discount)", 2)}
                   AS revenue
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT {sql_dsum("revenue", 2)} AS total FROM rev),
    run AS (
        SELECT l_partkey, revenue,
               SUM(CASE WHEN revenue < 0
                        THEN CAST(CEIL(revenue * 100 - 0.5) AS BIGINT)
                        ELSE CAST(FLOOR(revenue * 100 + 0.5) AS BIGINT) END)
                   OVER (ORDER BY revenue DESC, l_partkey
                         ROWS UNBOUNDED PRECEDING) / 100.0 AS running
        FROM rev
    ),
    abc AS MATERIALIZED (
        SELECT l_partkey, revenue,
               CASE WHEN running / (SELECT total FROM tot) <= 0.80 THEN 'A'
                    WHEN running / (SELECT total FROM tot) <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM run
    ),
    mdem AS MATERIALIZED (
        SELECT l_partkey,
               CAST(COUNT(*) AS DOUBLE) AS n_active,
               CAST(SUM({sql_quantize('mq', 2)}) AS DOUBLE) / 1e2 AS s,
               CAST(SUM({sql_quantize('mq * mq', 2)}) AS DOUBLE) / 1e2 AS ss
        FROM (
            SELECT l_partkey, date_trunc('month', l_shipdate) AS mth,
                   CAST(SUM({sql_quantize('l_quantity', 2)}) AS DOUBLE)
                       / 1e2 AS mq
            FROM lineitem GROUP BY l_partkey, mth
        ) GROUP BY l_partkey
    ),
    xyz AS MATERIALIZED (
        SELECT l_partkey,
               CASE WHEN cv <= 0.5 THEN 'X'
                    WHEN cv <= 1.0 THEN 'Y' ELSE 'Z' END AS xyz_class
        FROM (
            SELECT l_partkey,
                   SQRT((ss - s * s / span.nm) / (span.nm - 1))
                       / (s / span.nm) AS cv
            FROM mdem, span
        )
    )
    SELECT a.abc_class, x.xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST({sql_quantize(
               'SUM(a.revenue) / (SELECT total FROM tot)', 6)} AS DOUBLE)
               / 1e6 AS revenue_share
    FROM abc a JOIN xyz x ON x.l_partkey = a.l_partkey
    GROUP BY a.abc_class, x.xyz_class
    ORDER BY a.abc_class, x.xyz_class
    """,
)
def q572(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_sum

    li = T(spark, sf_dir, "lineitem")
    span = li.agg(
        F.count_distinct(F.date_trunc("month", "l_shipdate"))
        .cast("double")
        .alias("nm")
    )
    rev = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "revenue"
        )
    )
    total = rev.agg(dsum("revenue", 2).alias("__total__"))
    run = global_prefix_sum(
        rev,
        [F.desc("revenue"), F.asc("l_partkey")],
        "revenue",
        out_col="running",
        scale=2,
    )
    abc = run.join(F.broadcast(total)).select(
        "l_partkey",
        "revenue",
        F.when(F.col("running") / F.col("__total__") <= 0.80, "A")
        .when(F.col("running") / F.col("__total__") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
        F.col("__total__"),
    )
    monthly = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("mth")
    ).agg(dsum("l_quantity", 2).alias("mq"))
    mdem = monthly.groupBy("l_partkey").agg(
        dsum("mq", 2).alias("s"),
        dsum(F.col("mq") * F.col("mq"), 2).alias("ss"),
    )
    cv = (
        mdem.crossJoin(F.broadcast(span))
        .select(
            "l_partkey",
            (
                F.sqrt(
                    (F.col("ss") - F.col("s") * F.col("s") / F.col("nm"))
                    / (F.col("nm") - 1)
                )
                / (F.col("s") / F.col("nm"))
            ).alias("cv"),
        )
    )
    xyz = cv.select(
        "l_partkey",
        F.when(F.col("cv") <= 0.5, "X")
        .when(F.col("cv") <= 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    j = abc.join(xyz, "l_partkey")
    return (
        j.groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            (
                quantize(F.sum("revenue") / F.first("__total__"), 6) / 1e6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class", "xyz_class")
    )


# --- q576: association-rule metrics for brand co-purchase — support,
# confidence, lift, leverage and conviction for every ordered brand
# pair appearing in ≥50 shared orders: the full Agrawal-style metric
# set on top of the q-FP-Growth itemsets (which mines; this scores).
# Basket→brand dedup first, pair counting second — the pair space is
# bounded by the 25-brand catalog, never by orders. ------------------------------
@query(
    "q576_association_rule_metrics",
    oracle="""
    WITH ob AS MATERIALIZED (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n_orders AS (
        SELECT CAST(COUNT(DISTINCT ok) AS DOUBLE) AS n FROM ob
    ),
    brand_cnt AS MATERIALIZED (
        SELECT brand, CAST(COUNT(*) AS DOUBLE) AS c FROM ob GROUP BY brand
    ),
    pair_cnt AS MATERIALIZED (
        SELECT a.brand AS ante, b.brand AS cons,
               CAST(COUNT(*) AS DOUBLE) AS cab
        FROM ob a JOIN ob b ON b.ok = a.ok AND b.brand <> a.brand
        GROUP BY ante, cons
        HAVING COUNT(*) >= 50
    )
    SELECT ante, cons,
           CAST(cab AS BIGINT) AS n_joint,
           CAST(CAST(SIGN(sup) * FLOOR(ABS(sup) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS support,
           CAST(CAST(SIGN(conf) * FLOOR(ABS(conf) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS confidence,
           CAST(CAST(SIGN(lift) * FLOOR(ABS(lift) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS lift,
           CAST(CAST(SIGN(lev) * FLOOR(ABS(lev) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS leverage,
           CAST(CAST(SIGN(conv) * FLOOR(ABS(conv) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS conviction
    FROM (
        SELECT pc.ante, pc.cons, pc.cab,
               pc.cab / n.n AS sup,
               pc.cab / ca.c AS conf,
               (pc.cab / ca.c) / (cb.c / n.n) AS lift,
               pc.cab / n.n - (ca.c / n.n) * (cb.c / n.n) AS lev,
               (1 - cb.c / n.n) / (1 - pc.cab / ca.c) AS conv
        FROM pair_cnt pc
        JOIN brand_cnt ca ON ca.brand = pc.ante
        JOIN brand_cnt cb ON cb.brand = pc.cons
        CROSS JOIN n_orders n
    )
    ORDER BY ante, cons
    """,
)
def q576(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    ob = tracked_persist(
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = ob.agg(F.count_distinct("ok").cast("double").alias("n"))
    brand_cnt = ob.groupBy("brand").agg(F.count(F.lit(1)).cast("double").alias("c"))
    b = ob.select(F.col("ok"), F.col("brand").alias("cons"))
    pair_cnt = (
        ob.select("ok", F.col("brand").alias("ante"))
        .join(b, "ok")
        .where(F.col("cons") != F.col("ante"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).cast("double").alias("cab"))
        .where(F.col("cab") >= 50)
    )
    ca = brand_cnt.select(F.col("brand").alias("ante"), F.col("c").alias("c_a"))
    cb = brand_cnt.select(F.col("brand").alias("cons"), F.col("c").alias("c_b"))
    j = (
        pair_cnt.join(F.broadcast(ca), "ante")
        .join(F.broadcast(cb), "cons")
        .crossJoin(F.broadcast(n_orders))
    )
    sup = F.col("cab") / F.col("n")
    conf = F.col("cab") / F.col("c_a")
    lift = (F.col("cab") / F.col("c_a")) / (F.col("c_b") / F.col("n"))
    lev = F.col("cab") / F.col("n") - (F.col("c_a") / F.col("n")) * (
        F.col("c_b") / F.col("n")
    )
    conv = (1 - F.col("c_b") / F.col("n")) / (1 - F.col("cab") / F.col("c_a"))
    return j.select(
        "ante",
        "cons",
        F.col("cab").cast("long").alias("n_joint"),
        (quantize(sup, 6) / 1e6).alias("support"),
        (quantize(conf, 6) / 1e6).alias("confidence"),
        (quantize(lift, 6) / 1e6).alias("lift"),
        (quantize(lev, 6) / 1e6).alias("leverage"),
        (quantize(conv, 6) / 1e6).alias("conviction"),
    ).orderBy("ante", "cons")


# --- q577: hypergeometric enrichment z-scores — is each market
# segment over-represented among the top-value orders? With K = global
# top-decile count, n_s = segment size, k_s = segment hits: under the
# hypergeometric null E = n_s·K/N, V = n_s·K(N−K)(N−n_s)/(N²(N−1));
# z = (k_s − E)/√V. The set-enrichment screen (GSEA-style, public
# methodology) over bounded segment strata; the decile cut rides the
# exact distributed percentile. ---------------------------------------------------
@query(
    "q577_segment_enrichment_z",
    oracle=f"""
    WITH cut AS (SELECT quantile_cont(o_totalprice, 0.9) AS c FROM orders),
    marked AS MATERIALIZED (
        SELECT cst.c_mktsegment AS seg,
               CASE WHEN o.o_totalprice > cut.c THEN 1 ELSE 0 END AS hit
        FROM orders o JOIN customer cst ON cst.c_custkey = o.o_custkey
        CROSS JOIN cut
    ),
    per_s AS MATERIALIZED (
        SELECT seg, CAST(COUNT(*) AS DOUBLE) AS ns,
               CAST(SUM(hit) AS DOUBLE) AS ks
        FROM marked GROUP BY seg
    ),
    tot AS (
        SELECT SUM(ns) AS n, SUM(ks) AS k FROM per_s
    )
    SELECT seg,
           CAST(ks AS BIGINT) AS n_hits,
           CAST(ns AS BIGINT) AS n_orders,
           CAST({sql_quantize(
               '(ks - ns * t.k / t.n)'
               ' / SQRT(ns * (t.k / t.n) * (1 - t.k / t.n)'
               '        * (t.n - ns) / (t.n - 1))', 6)} AS DOUBLE) / 1e6
               AS enrichment_z
    FROM per_s, tot t
    ORDER BY seg
    """,
)
def q577(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    cut = orders.agg(F.expr("percentile(o_totalprice, 0.9)").alias("c"))
    marked = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .crossJoin(F.broadcast(cut))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.when(F.col("o_totalprice") > F.col("c"), 1).otherwise(0).alias("hit"),
        )
    )
    per_s = tracked_persist(
        marked.groupBy("seg").agg(
            F.count(F.lit(1)).cast("double").alias("ns"),
            F.sum("hit").cast("double").alias("ks"),
        )
    )
    tot = per_s.agg(F.sum("ns").alias("n"), F.sum("ks").alias("k"))
    j = per_s.crossJoin(F.broadcast(tot))
    z = (F.col("ks") - F.col("ns") * F.col("k") / F.col("n")) / F.sqrt(
        F.col("ns")
        * (F.col("k") / F.col("n"))
        * (1 - F.col("k") / F.col("n"))
        * (F.col("n") - F.col("ns"))
        / (F.col("n") - 1)
    )
    return j.select(
        "seg",
        F.col("ks").cast("long").alias("n_hits"),
        F.col("ns").cast("long").alias("n_orders"),
        (quantize(z, 6) / 1e6).alias("enrichment_z"),
    ).orderBy("seg")


# --- q578: Chapman capture-recapture estimate of the active-part
# population — two independent deterministic md5 "survey waves" over
# lineitem-active parts (different hash salts), N̂ = (n1+1)(n2+1)/(m+1)
# − 1 with m the recaptures. The population-size estimator a coverage
# audit runs when no frame is complete; the gate verifies both waves
# and the estimate against the true catalog truth it also outputs. --------------
@query(
    "q578_capture_recapture_parts",
    oracle="""
    WITH active AS MATERIALIZED (
        SELECT DISTINCT l_partkey AS pk FROM lineitem
    ),
    waves AS MATERIALIZED (
        SELECT pk,
               CASE WHEN substr(md5('w1|' || CAST(pk AS VARCHAR)), 1, 1)
                         < '8' THEN 1 ELSE 0 END AS w1,
               CASE WHEN substr(md5('w2|' || CAST(pk AS VARCHAR)), 1, 1)
                         < '8' THEN 1 ELSE 0 END AS w2
        FROM active
    ),
    s AS (
        SELECT CAST(SUM(w1) AS BIGINT) AS n1,
               CAST(SUM(w2) AS BIGINT) AS n2,
               CAST(SUM(w1 * w2) AS BIGINT) AS m,
               CAST(COUNT(*) AS BIGINT) AS truth
        FROM waves
    )
    SELECT n1, n2, m, truth,
           CAST(CAST(SIGN(est) * FLOOR(ABS(est) * 1e4 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e4 AS chapman_estimate
    FROM (
        SELECT n1, n2, m, truth,
               (CAST(n1 AS DOUBLE) + 1) * (n2 + 1) / (m + 1) - 1 AS est
        FROM s
    )
    """,
)
def q578(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    active = li.select(F.col("l_partkey").alias("pk")).distinct()
    coin1 = F.substring(F.md5(F.concat(F.lit("w1|"), F.col("pk").cast("string"))), 1, 1)
    coin2 = F.substring(F.md5(F.concat(F.lit("w2|"), F.col("pk").cast("string"))), 1, 1)
    waves = active.select(
        F.when(coin1 < "8", 1).otherwise(0).alias("w1"),
        F.when(coin2 < "8", 1).otherwise(0).alias("w2"),
    )
    s = waves.agg(
        F.sum("w1").cast("long").alias("n1"),
        F.sum("w2").cast("long").alias("n2"),
        F.sum(F.col("w1") * F.col("w2")).cast("long").alias("m"),
        F.count(F.lit(1)).cast("long").alias("truth"),
    )
    est = (F.col("n1").cast("double") + 1) * (F.col("n2") + 1) / (F.col("m") + 1) - 1
    return s.select(
        "n1", "n2", "m", "truth", (quantize(est, 4) / 1e4).alias("chapman_estimate")
    )


# --- q590: Lorenz asymmetry coefficient of customer lifetime spend —
# S = F(μ) + L(μ) in the discrete convention (share of customers below
# the mean plus their share of total spend): S < 1 means inequality is
# driven by many small customers, S > 1 by a few giants — the
# DIRECTION diagnostic q499's Lorenz deciles and the Gini level both
# miss (Damgaard & Weiner 2000, public methodology). Two exact
# aggregates; the below-mean split is one broadcast-scalar comparison. -----------
@query(
    "q590_lorenz_asymmetry_spend",
    oracle=f"""
    WITH spend AS MATERIALIZED (
        SELECT o_custkey,
               CAST(SUM({sql_quantize('o_totalprice', 2)}) AS DOUBLE)
                   / 1e2 / 1e3 AS x
        FROM orders GROUP BY o_custkey
    ),
    mu AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('x', 6)}) AS DOUBLE) / 1e6 AS lt,
               CAST(SUM({sql_quantize('x', 6)}) AS DOUBLE) / 1e6
                   / COUNT(*) AS m
        FROM spend
    ),
    below AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM({sql_quantize('x', 6)}) AS DOUBLE) / 1e6 AS lb
        FROM spend, mu WHERE x < mu.m
    )
    SELECT mu.n AS n_customers, below.nb AS n_below_mean,
           CAST({sql_quantize(
               'CAST(below.nb AS DOUBLE) / mu.n', 6)} AS DOUBLE) / 1e6
               AS f_mu,
           CAST({sql_quantize('below.lb / mu.lt', 6)} AS DOUBLE) / 1e6
               AS l_mu,
           CAST({sql_quantize(
               'CAST(below.nb AS DOUBLE) / mu.n + below.lb / mu.lt', 6)}
               AS DOUBLE) / 1e6 AS lorenz_asymmetry
    FROM mu, below
    """,
)
def q590(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    spend = tracked_persist(
        orders.groupBy("o_custkey").agg((dsum("o_totalprice", 2) / 1e3).alias("x"))
    )
    mu = spend.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("x", 6).alias("lt"),
        (dsum("x", 6) / F.count(F.lit(1))).alias("m"),
    )
    below = spend.crossJoin(F.broadcast(mu)).where(F.col("x") < F.col("m")).agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        dsum("x", 6).alias("lb"),
    )
    j = mu.crossJoin(F.broadcast(below))
    return j.select(
        F.col("n").alias("n_customers"),
        F.col("nb").alias("n_below_mean"),
        (quantize(F.col("nb").cast("double") / F.col("n"), 6) / 1e6).alias("f_mu"),
        (quantize(F.col("lb") / F.col("lt"), 6) / 1e6).alias("l_mu"),
        (
            quantize(
                F.col("nb").cast("double") / F.col("n") + F.col("lb") / F.col("lt"),
                6,
            )
            / 1e6
        ).alias("lorenz_asymmetry"),
    )


# --- q593: greedy fractional-knapsack promotion budget — rank parts
# by profit density (margin per unit of inventory cost), take whole
# parts until the 10M cost budget, fractionally include the marginal
# part: the classic LP-relaxation optimum (exact for fractional
# knapsack). Ranking + running cost ride the q216 distributed prefix
# fold — no one-task window. Output: parts funded, budget used, total
# margin captured, and the marginal density (the shadow price). -----------------
@query(
    "q593_knapsack_promo_budget",
    oracle=f"""
    WITH per_p AS MATERIALIZED (
        SELECT l_partkey,
               CAST(SUM({sql_quantize(
                   'l_extendedprice * (1 - l_discount) * 0.1', 2)})
                    AS DOUBLE) / 1e2 AS margin,
               CAST(SUM({sql_quantize('l_extendedprice * 0.5', 2)})
                    AS DOUBLE) / 1e2 AS cost
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS MATERIALIZED (
        SELECT l_partkey, margin, cost, margin / cost AS density,
               -- FLOOR(x + 0.5), not CAST(x + 0.5): Spark's double→long
               -- cast truncates, DuckDB's rounds — mirror the Spark fold
               SUM(CAST(FLOOR(cost * 100 + 0.5) AS BIGINT))
                   OVER (ORDER BY margin / cost DESC, l_partkey
                         ROWS UNBOUNDED PRECEDING) / 100.0 AS run_cost
        FROM per_p
    ),
    funded AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_full,
               CAST(SUM({sql_quantize('margin', 2)}) AS DOUBLE) / 1e2
                   AS full_margin,
               MAX(run_cost) AS used
        FROM ranked WHERE run_cost <= 10000000.0
    ),
    marginal AS (
        SELECT density, margin, cost, run_cost FROM ranked
        WHERE run_cost > 10000000.0
        ORDER BY run_cost ASC LIMIT 1
    )
    SELECT funded.n_full AS n_parts_funded,
           CAST({sql_quantize('funded.used', 2)} AS DOUBLE) / 1e2 / 1e6
               AS budget_used_m,
           CAST({sql_quantize(
               'funded.full_margin + marginal.margin'
               ' * (10000000.0 - funded.used) / marginal.cost', 2)}
               AS DOUBLE) / 1e2 / 1e6 AS total_margin_m,
           CAST({sql_quantize('marginal.density', 6)} AS DOUBLE) / 1e6
               AS shadow_density
    FROM funded, marginal
    """,
)
def q593(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_sum

    li = T(spark, sf_dir, "lineitem")
    per_p = li.groupBy("l_partkey").agg(
        dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 0.1, 2
        ).alias("margin"),
        dsum(F.col("l_extendedprice") * 0.5, 2).alias("cost"),
    )
    per_p = per_p.withColumn("density", F.col("margin") / F.col("cost"))
    ranked = tracked_persist(
        global_prefix_sum(
            per_p,
            [F.desc("density"), F.asc("l_partkey")],
            "cost",
            out_col="run_cost",
            scale=2,
        )
    )
    funded = ranked.where(F.col("run_cost") <= 10000000.0).agg(
        F.count(F.lit(1)).cast("long").alias("n_full"),
        dsum("margin", 2).alias("full_margin"),
        F.max("run_cost").alias("used"),
    )
    marginal = (
        ranked.where(F.col("run_cost") > 10000000.0)
        .orderBy(F.col("run_cost").asc())
        .limit(1)
        .select("density", "margin", "cost")
    )
    j = funded.crossJoin(F.broadcast(marginal))
    total = F.col("full_margin") + F.col("margin") * (
        10000000.0 - F.col("used")
    ) / F.col("cost")
    return j.select(
        F.col("n_full").alias("n_parts_funded"),
        (quantize("used", 2) / 1e2 / 1e6).alias("budget_used_m"),
        (quantize(total, 2) / 1e2 / 1e6).alias("total_margin_m"),
        (quantize("density", 6) / 1e6).alias("shadow_density"),
    )


# --- q594: Kendall tau-b stability of the brand league table — how
# consistent are the revenue ranking and the unit-volume ranking of
# the 25 brands? Exact concordant/discordant counting over the bounded
# brand-pair grid with the tau-b tie normalization:
# τ_b = (C − D)/√((n0 − t_x)(n0 − t_y)). The "does price mix reorder
# the league" check next to q494's Kendall-W (many judges; this is
# two). -----------------------------------------------------------------------------
@query(
    "q594_kendall_taub_brand_league",
    oracle=f"""
    WITH per_b AS MATERIALIZED (
        SELECT p.p_brand AS brand,
               CAST(SUM({sql_quantize(
                   'l.l_extendedprice * (1 - l.l_discount)', 2)})
                    AS DOUBLE) / 1e2 AS rev,
               CAST(SUM({sql_quantize('l.l_quantity', 2)}) AS DOUBLE)
                   / 1e2 AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN (b.rev > a.rev AND b.qty > a.qty)
                               OR (b.rev < a.rev AND b.qty < a.qty)
                             THEN 1 ELSE 0 END) AS BIGINT) AS cc,
               CAST(SUM(CASE WHEN (b.rev > a.rev AND b.qty < a.qty)
                               OR (b.rev < a.rev AND b.qty > a.qty)
                             THEN 1 ELSE 0 END) AS BIGINT) AS dd,
               CAST(SUM(CASE WHEN b.rev = a.rev AND b.qty <> a.qty
                             THEN 1 ELSE 0 END) AS BIGINT) AS tx,
               CAST(SUM(CASE WHEN b.qty = a.qty AND b.rev <> a.rev
                             THEN 1 ELSE 0 END) AS BIGINT) AS ty,
               CAST(COUNT(*) AS BIGINT) AS n0
        FROM per_b a JOIN per_b b ON a.brand < b.brand
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per_b) AS n_brands,
           cc AS concordant, dd AS discordant,
           CAST({sql_quantize(
               '(CAST(cc AS DOUBLE) - dd)'
               ' / SQRT(CAST(n0 - tx AS DOUBLE) * (n0 - ty))', 6)}
               AS DOUBLE) / 1e6 AS kendall_tau_b
    FROM pairs
    """,
)
def q594(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    per_b = tracked_persist(
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("rev"),
            dsum("l_quantity", 2).alias("qty"),
        )
    )
    b = per_b.select(
        F.col("brand").alias("brand_b"),
        F.col("rev").alias("rev_b"),
        F.col("qty").alias("qty_b"),
    )
    conc = ((F.col("rev_b") > F.col("rev")) & (F.col("qty_b") > F.col("qty"))) | (
        (F.col("rev_b") < F.col("rev")) & (F.col("qty_b") < F.col("qty"))
    )
    disc = ((F.col("rev_b") > F.col("rev")) & (F.col("qty_b") < F.col("qty"))) | (
        (F.col("rev_b") < F.col("rev")) & (F.col("qty_b") > F.col("qty"))
    )
    tx = (F.col("rev_b") == F.col("rev")) & (F.col("qty_b") != F.col("qty"))
    ty = (F.col("qty_b") == F.col("qty")) & (F.col("rev_b") != F.col("rev"))
    pairs = per_b.join(F.broadcast(b), F.col("brand") < F.col("brand_b")).agg(
        F.sum(F.when(conc, 1).otherwise(0)).cast("long").alias("cc"),
        F.sum(F.when(disc, 1).otherwise(0)).cast("long").alias("dd"),
        F.sum(F.when(tx, 1).otherwise(0)).cast("long").alias("tx"),
        F.sum(F.when(ty, 1).otherwise(0)).cast("long").alias("ty"),
        F.count(F.lit(1)).cast("long").alias("n0"),
    )
    nb = per_b.agg(F.count(F.lit(1)).cast("long").alias("n_brands"))
    j = nb.crossJoin(F.broadcast(pairs))
    tau = (F.col("cc").cast("double") - F.col("dd")) / F.sqrt(
        (F.col("n0") - F.col("tx")).cast("double") * (F.col("n0") - F.col("ty"))
    )
    return j.select(
        "n_brands",
        F.col("cc").alias("concordant"),
        F.col("dd").alias("discordant"),
        (quantize(tau, 6) / 1e6).alias("kendall_tau_b"),
    )


# --- q595: market beta of each brand's monthly revenue against the
# total-market series — β_b = Cov(r_b, r_m)/Var(r_m) over the month
# spine, the factor-exposure view of the catalog ("which brands
# amplify demand cycles, which dampen them"). Brand×month cells from
# one fact aggregate; the market series is their rollup; covariances
# are exact quantized sums over bounded cells. -----------------------------------
@query(
    "q595_brand_market_beta",
    oracle=f"""
    WITH cells AS MATERIALIZED (
        SELECT p.p_brand AS brand, date_trunc('month', l.l_shipdate) AS mth,
               CAST(SUM({sql_quantize('l.l_extendedprice', 2)}) AS DOUBLE)
                   / 1e2 / 1e6 AS rb
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand, mth
    ),
    mkt AS MATERIALIZED (
        SELECT mth, CAST(SUM({sql_quantize('rb', 6)}) AS DOUBLE) / 1e6 AS rm
        FROM cells GROUP BY mth
    ),
    s AS (
        SELECT c.brand,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('c.rb', 6)}) AS DOUBLE) / 1e6 AS sb,
               CAST(SUM({sql_quantize('m.rm', 6)}) AS DOUBLE) / 1e6 AS sm,
               CAST(SUM({sql_quantize('c.rb * m.rm', 9)}) AS DOUBLE) / 1e9
                   AS sbm,
               CAST(SUM({sql_quantize('m.rm * m.rm', 9)}) AS DOUBLE) / 1e9
                   AS smm
        FROM cells c JOIN mkt m ON m.mth = c.mth
        GROUP BY c.brand
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n_months,
           CAST({sql_quantize(
               '(sbm - sb * sm / n) / (smm - sm * sm / n)', 6)} AS DOUBLE)
               / 1e6 AS market_beta
    FROM s
    ORDER BY brand
    """,
)
def q595(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    cells = tracked_persist(
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").alias("mth"),
        )
        .agg((dsum("l_extendedprice", 2) / 1e6).alias("rb"))
    )
    mkt = cells.groupBy("mth").agg(dsum("rb", 6).alias("rm"))
    s = (
        cells.join(F.broadcast(mkt), "mth")
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            dsum("rb", 6).alias("sb"),
            dsum("rm", 6).alias("sm"),
            dsum(F.col("rb") * F.col("rm"), 9).alias("sbm"),
            dsum(F.col("rm") * F.col("rm"), 9).alias("smm"),
        )
    )
    beta = (F.col("sbm") - F.col("sb") * F.col("sm") / F.col("n")) / (
        F.col("smm") - F.col("sm") * F.col("sm") / F.col("n")
    )
    return s.select(
        "brand",
        F.col("n").cast("long").alias("n_months"),
        (quantize(beta, 6) / 1e6).alias("market_beta"),
    ).orderBy("brand")


# --- q596: monthly brand-concentration (HHI) trend — compute the
# Herfindahl index of brand revenue shares per month, then the OLS
# slope of HHI on the month index: "is the catalog concentrating or
# diversifying?" The dynamic extension of q497's static diversity
# snapshot. Shares are per-month bounded cells; the trend is the
# closed-form fit over the calendar spine. ----------------------------------------
@query(
    "q596_hhi_concentration_trend",
    oracle=f"""
    WITH cells AS MATERIALIZED (
        SELECT p.p_brand AS brand, date_trunc('month', l.l_shipdate) AS mth,
               CAST(SUM({sql_quantize('l.l_extendedprice', 2)}) AS DOUBLE)
                   / 1e2 / 1e6 AS rb
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand, mth
    ),
    tot AS MATERIALIZED (
        SELECT mth, CAST(SUM({sql_quantize('rb', 6)}) AS DOUBLE) / 1e6 AS rm
        FROM cells GROUP BY mth
    ),
    hhi AS MATERIALIZED (
        SELECT c.mth,
               CAST(SUM({sql_quantize(
                   '(c.rb / t.rm) * (c.rb / t.rm)', 12)}) AS DOUBLE) / 1e12
                   AS h
        FROM cells c JOIN tot t ON t.mth = c.mth
        GROUP BY c.mth
    ),
    idx AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY mth) AS x, h FROM hhi
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(CAST(x AS DOUBLE)) AS sx,
               SUM(CAST(x AS DOUBLE) * x) AS sxx,
               CAST(SUM({sql_quantize('h', 9)}) AS DOUBLE) / 1e9 AS sy,
               CAST(SUM({sql_quantize('x * h', 9)}) AS DOUBLE) / 1e9 AS sxy
        FROM idx
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           CAST({sql_quantize('sy / n', 6)} AS DOUBLE) / 1e6 AS mean_hhi,
           CAST({sql_quantize(
               '(n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e4', 6)}
               AS DOUBLE) / 1e6 AS hhi_slope_x1e4
    FROM fit
    """,
)
def q596(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    cells = tracked_persist(
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").alias("mth"),
        )
        .agg((dsum("l_extendedprice", 2) / 1e6).alias("rb"))
    )
    tot = cells.groupBy("mth").agg(dsum("rb", 6).alias("rm"))
    hhi = (
        cells.join(F.broadcast(tot), "mth")
        .groupBy("mth")
        .agg(
            dsum(
                (F.col("rb") / F.col("rm")) * (F.col("rb") / F.col("rm")), 12
            ).alias("h")
        )
    )
    w_ord = Window.orderBy("mth")
    idx = hhi.select(F.row_number().over(w_ord).alias("x"), "h")
    fit = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("double")).alias("sx"),
        F.sum(F.col("x").cast("double") * F.col("x")).alias("sxx"),
        dsum("h", 9).alias("sy"),
        dsum(F.col("x") * F.col("h"), 9).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        F.col("n").cast("long").alias("n_months"),
        (quantize(F.col("sy") / F.col("n"), 6) / 1e6).alias("mean_hhi"),
        (quantize(slope * 1e4, 6) / 1e6).alias("hhi_slope_x1e4"),
    )


# --- q611: GSEA-style running-sum enrichment of a brand set in the
# part revenue ranking — walk parts from best- to worst-selling, step
# up (weighted by revenue share) at set members, down at non-members;
# ES = the maximum absolute deviation and its rank position
# (Subramanian 2005, public methodology). "Is Brand#12's catalog
# concentrated at the top of the league table?" — the running sum is
# the q216 distributed prefix fold, never a one-task window. ---------------------
@query(
    "q611_gsea_brand_enrichment",
    oracle=f"""
    WITH per_p AS MATERIALIZED (
        SELECT l.l_partkey,
               CASE WHEN p.p_brand = 'Brand#12' THEN 1 ELSE 0 END AS hit,
               CAST(SUM({sql_quantize(
                   'l.l_extendedprice * (1 - l.l_discount)', 2)})
                    AS DOUBLE) / 1e2 AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY l.l_partkey, hit
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN hit = 1
                             THEN CAST(FLOOR(rev * 100 + 0.5) AS BIGINT)
                             ELSE 0 END) AS DOUBLE) / 1e2 AS hit_rev,
               CAST(SUM(1 - hit) AS DOUBLE) AS n_miss,
               CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM per_p
    ),
    walk AS MATERIALIZED (
        SELECT hit, rev,
               ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS pos,
               SUM(CASE WHEN hit = 1
                        THEN CAST(FLOOR(rev * 100 + 0.5) AS BIGINT)
                        ELSE 0 END)
                   OVER (ORDER BY rev DESC, l_partkey
                         ROWS UNBOUNDED PRECEDING) / 1e2 AS cum_hit,
               SUM(1 - hit)
                   OVER (ORDER BY rev DESC, l_partkey
                         ROWS UNBOUNDED PRECEDING) AS cum_miss
        FROM per_p
    ),
    dev AS (
        SELECT pos,
               cum_hit / tot.hit_rev - cum_miss / tot.n_miss AS d
        FROM walk, tot
    )
    SELECT (SELECT n_parts FROM tot) AS n_parts,
           CAST(pos AS BIGINT) AS es_position,
           CAST(CAST(SIGN(d) * FLOOR(ABS(d) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS enrichment_score
    FROM dev
    ORDER BY CAST(SIGN(ABS(d)) * FLOOR(ABS(d) * 1e9 + 0.5) AS BIGINT) DESC,
             pos ASC
    LIMIT 1
    """,
)
def q611(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    per_p = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            "l_partkey",
            F.when(F.col("p_brand") == "Brand#12", 1).otherwise(0).alias("hit"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("rev"),
        )
    )
    per_p = tracked_persist(
        per_p.withColumn(
            "hit_q",
            F.when(
                F.col("hit") == 1,
                F.floor(F.col("rev") * 100 + 0.5).cast("long"),
            ).otherwise(F.lit(0)),
        ).withColumn("miss", 1 - F.col("hit"))
    )
    tot = per_p.agg(
        (F.sum("hit_q").cast("double") / 1e2).alias("hit_rev"),
        F.sum("miss").cast("double").alias("n_miss"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    per_p = per_p.withColumn("one", F.lit(1))
    walk = global_prefix_counts(
        per_p,
        [F.desc("rev"), F.asc("l_partkey")],
        {"cum_hitq": "hit_q", "cum_miss": "miss", "pos": "one"},
    )
    dev = walk.crossJoin(F.broadcast(tot)).select(
        F.col("pos").cast("long").alias("pos"),
        "n_parts",
        (
            F.col("cum_hitq").cast("double") / 1e2 / F.col("hit_rev")
            - F.col("cum_miss") / F.col("n_miss")
        ).alias("d"),
    )
    best = dev.orderBy(quantize(F.abs("d"), 9).desc(), F.col("pos").asc()).limit(1)
    return best.select(
        "n_parts",
        F.col("pos").alias("es_position"),
        (quantize("d", 6) / 1e6).alias("enrichment_score"),
    )


# --- q612: Dirichlet-multinomial overdispersion of the monthly brand
# mix — Pearson X² of the month×brand contingency against the pooled
# shares, with the design effect X²/df (df = (M−1)(B−1)): deff ≈ 1
# means brand mix is a stable multinomial; deff ≫ 1 means the mix
# itself drifts month to month (the Dirichlet-multinomial signature).
# Bounded month×brand cells after one fact aggregate. ----------------------------
@query(
    "q612_brand_mix_overdispersion",
    oracle=f"""
    WITH cells AS MATERIALIZED (
        SELECT date_trunc('month', l.l_shipdate) AS mth, p.p_brand AS brand,
               CAST(COUNT(*) AS DOUBLE) AS x
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY mth, brand
    ),
    nm AS MATERIALIZED (
        SELECT mth, SUM(x) AS n FROM cells GROUP BY mth
    ),
    pb AS MATERIALIZED (
        SELECT brand, SUM(x) AS xb FROM cells GROUP BY brand
    ),
    tot AS (
        SELECT SUM(xb) AS nn,
               CAST(COUNT(*) AS DOUBLE) AS b,
               (SELECT CAST(COUNT(*) AS DOUBLE) FROM nm) AS m
        FROM pb
    ),
    chi AS (
        SELECT CAST(SUM({sql_quantize(
                   '(c.x - nm.n * pb.xb / tot.nn)'
                   ' * (c.x - nm.n * pb.xb / tot.nn)'
                   ' / (nm.n * pb.xb / tot.nn)', 9)}) AS DOUBLE) / 1e9 AS x2
        FROM cells c
        JOIN nm ON nm.mth = c.mth
        JOIN pb ON pb.brand = c.brand
        CROSS JOIN tot
    )
    SELECT CAST(tot.m AS BIGINT) AS n_months,
           CAST(tot.b AS BIGINT) AS n_brands,
           CAST({sql_quantize('chi.x2', 6)} AS DOUBLE) / 1e6 AS pearson_x2,
           CAST({sql_quantize(
               'chi.x2 / ((tot.m - 1) * (tot.b - 1))', 6)} AS DOUBLE) / 1e6
               AS design_effect
    FROM tot, chi
    """,
)
def q612(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    cells = tracked_persist(
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.date_trunc("month", "l_shipdate").alias("mth"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    nm = cells.groupBy("mth").agg(F.sum("x").alias("n"))
    pb = cells.groupBy("brand").agg(F.sum("x").alias("xb"))
    tot = pb.agg(
        F.sum("xb").alias("nn"), F.count(F.lit(1)).cast("double").alias("b")
    ).crossJoin(
        F.broadcast(nm.agg(F.count(F.lit(1)).cast("double").alias("m")))
    )
    e = F.col("n") * F.col("xb") / F.col("nn")
    chi = (
        cells.join(F.broadcast(nm), "mth")
        .join(F.broadcast(pb), "brand")
        .crossJoin(F.broadcast(tot))
        .agg(
            dsum((F.col("x") - e) * (F.col("x") - e) / e, 9).alias("x2"),
            F.first("m").alias("m"),
            F.first("b").alias("b"),
        )
    )
    return chi.select(
        F.col("m").cast("long").alias("n_months"),
        F.col("b").cast("long").alias("n_brands"),
        (quantize("x2", 6) / 1e6).alias("pearson_x2"),
        (
            quantize(F.col("x2") / ((F.col("m") - 1) * (F.col("b") - 1)), 6) / 1e6
        ).alias("design_effect"),
    )


# --- q615: first-passage time to 100k lifetime spend — for every
# customer, days from first order until cumulative spend first crosses
# the threshold (per-customer running sum, PARTITIONED window), then
# exact percentiles of the crossing time and the share who never
# cross: the milestone-analysis staple ("how long to whale status").
# Percentiles ride Spark's exact percentile == quantile_cont. ---------------------
@query(
    "q615_first_passage_100k",
    oracle="""
    WITH runs AS MATERIALIZED (
        SELECT o_custkey,
               MIN(o_orderdate) OVER (PARTITION BY o_custkey) AS first_d,
               o_orderdate,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS UNBOUNDED PRECEDING) / 100.0 AS cum
        FROM orders
    ),
    crossing AS MATERIALIZED (
        SELECT o_custkey,
               MIN(CAST(datediff('day', first_d, o_orderdate) AS DOUBLE))
                   AS days_to_cross
        FROM runs WHERE cum >= 100000.0
        GROUP BY o_custkey
    ),
    base AS (
        SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
        FROM orders
    )
    SELECT base.n_customers,
           CAST((SELECT COUNT(*) FROM crossing) AS BIGINT) AS n_crossed,
           CAST(CAST(SIGN(sh) * FLOOR(ABS(sh) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS crossed_share,
           CAST(CAST(SIGN(p50) * FLOOR(ABS(p50) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS p50_days,
           CAST(CAST(SIGN(p90) * FLOOR(ABS(p90) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS p90_days
    FROM base,
         (SELECT CAST((SELECT COUNT(*) FROM crossing) AS DOUBLE)
                     / (SELECT n_customers FROM base) AS sh,
                 (SELECT quantile_cont(days_to_cross, 0.5) FROM crossing)
                     AS p50,
                 (SELECT quantile_cont(days_to_cross, 0.9) FROM crossing)
                     AS p90)
    """,
)
def q615(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist
    from pyspark.sql import Window

    orders = T(spark, sf_dir, "orders")
    w_c = Window.partitionBy("o_custkey")
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = orders.select(
        "o_custkey",
        F.min("o_orderdate").over(w_c).alias("first_d"),
        "o_orderdate",
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).over(w_run)
            / 100.0
        ).alias("cum"),
    )
    crossing = tracked_persist(
        runs.where(F.col("cum") >= 100000.0)
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff("o_orderdate", "first_d").cast("double")).alias(
                "days_to_cross"
            )
        )
    )
    base = orders.agg(
        F.count_distinct("o_custkey").cast("long").alias("n_customers")
    )
    stats = crossing.agg(
        F.count(F.lit(1)).cast("long").alias("n_crossed"),
        F.expr("percentile(days_to_cross, 0.5)").alias("p50"),
        F.expr("percentile(days_to_cross, 0.9)").alias("p90"),
    )
    j = base.crossJoin(F.broadcast(stats))
    return j.select(
        "n_customers",
        "n_crossed",
        (
            quantize(F.col("n_crossed").cast("double") / F.col("n_customers"), 6)
            / 1e6
        ).alias("crossed_share"),
        (quantize("p50", 6) / 1e6).alias("p50_days"),
        (quantize("p90", 6) / 1e6).alias("p90_days"),
    )


# --- q616: empirical renewal function of repeat ordering — average
# cumulative orders per customer by account age (30/90/180/365/730
# days), each age computed over the customers actually OBSERVABLE
# that long (first order at least `age` days before the calendar
# end): the repeat-purchase curve a CLV model calibrates against.
# Fixed age grid fan-out; per-age counting is one conditional
# aggregate. ----------------------------------------------------------------------
@query(
    "q616_renewal_function_orders",
    oracle="""
    WITH lastd AS (SELECT MAX(o_orderdate) AS dmax FROM orders),
    firsts AS MATERIALIZED (
        SELECT o_custkey, MIN(o_orderdate) AS f FROM orders GROUP BY o_custkey
    ),
    ages AS (SELECT UNNEST([30, 90, 180, 365, 730]) AS age),
    obs AS MATERIALIZED (
        SELECT f.o_custkey, f.f, a.age
        FROM firsts f CROSS JOIN ages a CROSS JOIN lastd
        WHERE datediff('day', f.f, lastd.dmax) >= a.age
    ),
    cum AS (
        SELECT obs.age,
               CAST(COUNT(DISTINCT obs.o_custkey) AS BIGINT) AS n_cust,
               CAST(SUM(CASE WHEN datediff('day', obs.f, o.o_orderdate)
                                  BETWEEN 1 AND obs.age
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat
        FROM obs JOIN orders o ON o.o_custkey = obs.o_custkey
        GROUP BY obs.age
    )
    SELECT CAST(age AS BIGINT) AS age_days, n_cust,
           CAST(CAST(SIGN(m) * FLOOR(ABS(m) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS mean_repeat_orders
    FROM (SELECT age, n_cust, CAST(n_repeat AS DOUBLE) / n_cust AS m FROM cum)
    ORDER BY age_days
    """,
)
def q616(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    lastd = orders.agg(F.max("o_orderdate").alias("dmax"))
    firsts = orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("f"))
    ages = small_local_df(spark, [(30,), (90,), (180,), (365,), (730,)], "age int")
    obs = tracked_persist(
        firsts.crossJoin(F.broadcast(ages))
        .crossJoin(F.broadcast(lastd))
        .where(F.datediff("dmax", "f") >= F.col("age"))
        .select("o_custkey", "f", "age")
    )
    cum = (
        obs.join(orders, "o_custkey")
        .groupBy("age")
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("n_cust"),
            F.sum(
                F.when(
                    F.datediff("o_orderdate", "f").between(1, F.col("age")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_repeat"),
        )
    )
    return cum.select(
        F.col("age").cast("long").alias("age_days"),
        "n_cust",
        (
            quantize(F.col("n_repeat").cast("double") / F.col("n_cust"), 6) / 1e6
        ).alias("mean_repeat_orders"),
    ).orderBy("age_days")


# --- q621: Taguchi signal-to-noise ratios for delivery lead time per
# order priority — smaller-the-better SNR = −10·log₁₀(Σy²/n) and the
# nominal-the-best SNR = 10·log₁₀(x̄²/s²): the robust-design view of
# process quality (Taguchi, public methodology) that complements the
# q598/q609 control charts (which monitor; this scores designs).
# Exact moment sums per priority class. ------------------------------------------
@query(
    "q621_taguchi_snr_leadtime",
    oracle=f"""
    WITH lt AS MATERIALIZED (
        SELECT o.o_orderpriority AS priority,
               CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS DOUBLE)
                   / 10.0 AS y
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    s AS (
        SELECT priority,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('y', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('y * y', 6)}) AS DOUBLE) / 1e6 AS syy
        FROM lt GROUP BY priority
    )
    SELECT priority,
           CAST(n AS BIGINT) AS n_lines,
           CAST({sql_quantize('-10 * LOG10(syy / n)', 6)} AS DOUBLE) / 1e6
               AS snr_smaller_better,
           CAST({sql_quantize(
               '10 * LOG10((sy / n) * (sy / n)'
               ' / ((syy - sy * sy / n) / (n - 1)))', 6)} AS DOUBLE) / 1e6
               AS snr_nominal_best
    FROM s
    ORDER BY priority
    """,
)
def q621(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    lt = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        (F.datediff("l_shipdate", "o_orderdate").cast("double") / 10.0).alias("y"),
    )
    s = lt.groupBy("priority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("y", 6).alias("sy"),
        dsum(F.col("y") * F.col("y"), 6).alias("syy"),
    )
    snr_s = -10 * F.log10(F.col("syy") / F.col("n"))
    snr_n = 10 * F.log10(
        (F.col("sy") / F.col("n"))
        * (F.col("sy") / F.col("n"))
        / ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1))
    )
    return s.select(
        "priority",
        F.col("n").cast("long").alias("n_lines"),
        (quantize(snr_s, 6) / 1e6).alias("snr_smaller_better"),
        (quantize(snr_n, 6) / 1e6).alias("snr_nominal_best"),
    ).orderBy("priority")


# --- q622: Kish effective sample size of the q559 Horvitz-Thompson
# weights — n_eff = (Σw)²/Σw² and the design effect n/n_eff: the
# one-number summary of how much the unequal-probability design costs
# in variance (Kish 1965, public methodology). Same deterministic
# md5 sample as q559, so the two queries audit the same design. ------------------
@query(
    "q622_kish_effective_n",
    oracle=f"""
    WITH marked AS MATERIALIZED (
        SELECT GREATEST(0.02, LEAST(1.0, o_totalprice / 500000.0)) AS pi,
               {_sql_u01("CAST(o_orderkey AS VARCHAR)")} AS u
        FROM orders
    ),
    w AS MATERIALIZED (
        SELECT 1.0 / pi AS w FROM marked WHERE u < pi
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('w', 6)}) AS DOUBLE) / 1e6 AS sw,
               CAST(SUM({sql_quantize('w * w', 6)}) AS DOUBLE) / 1e6 AS sww
        FROM w
    )
    SELECT CAST(n AS BIGINT) AS n_sampled,
           CAST({sql_quantize('sw * sw / sww', 4)} AS DOUBLE) / 1e4
               AS kish_n_eff,
           CAST({sql_quantize('n / (sw * sw / sww)', 6)} AS DOUBLE) / 1e6
               AS design_effect
    FROM s
    """,
)
def q622(spark, sf_dir):
    from pandrs_spark.operators.sampling import _uniform01

    orders = T(spark, sf_dir, "orders")
    marked = orders.select(
        F.greatest(
            F.lit(0.02), F.least(F.lit(1.0), F.col("o_totalprice") / 500000.0)
        ).alias("pi"),
        _uniform01("o_orderkey").alias("u"),
    )
    w = marked.where(F.col("u") < F.col("pi")).select(
        (1.0 / F.col("pi")).alias("w")
    )
    s = w.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("w", 6).alias("sw"),
        dsum(F.col("w") * F.col("w"), 6).alias("sww"),
    )
    neff = F.col("sw") * F.col("sw") / F.col("sww")
    return s.select(
        F.col("n").cast("long").alias("n_sampled"),
        (quantize(neff, 4) / 1e4).alias("kish_n_eff"),
        (quantize(F.col("n") / neff, 6) / 1e6).alias("design_effect"),
    )


# --- q623: generalized-Pareto fit of the order-total tail above the
# 95th percentile (peaks-over-threshold, method of moments:
# ξ̂ = (1 − m²/s²)/2, σ̂ = m(1 − ξ̂)·... with m, s² the excess mean and
# variance) plus the implied 99.9% quantile — the POT complement to
# q545's Hill (index only) and q583's Gumbel (block maxima).
# Threshold from the exact distributed percentile; excess moments are
# one filtered aggregate. ---------------------------------------------------------
@query(
    "q623_gpd_pot_tail_fit",
    oracle=f"""
    WITH u AS (SELECT quantile_cont(o_totalprice, 0.95) AS u FROM orders),
    exc AS MATERIALIZED (
        SELECT (o_totalprice - u.u) / 1e4 AS y
        FROM orders, u WHERE o_totalprice > u.u
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('y', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('y * y', 6)}) AS DOUBLE) / 1e6 AS syy
        FROM exc
    ),
    fit AS (
        SELECT n,
               0.5 * (1 - (sy / n) * (sy / n)
                      / ((syy - sy * sy / n) / (n - 1))) AS xi,
               0.5 * (sy / n)
                   * ((sy / n) * (sy / n)
                      / ((syy - sy * sy / n) / (n - 1)) + 1) AS sigma
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_exceedances,
           CAST({sql_quantize('u.u', 2)} AS DOUBLE) / 1e2 AS threshold,
           CAST({sql_quantize('fit.xi', 6)} AS DOUBLE) / 1e6 AS gpd_xi,
           CAST({sql_quantize('fit.sigma * 1e4', 2)} AS DOUBLE) / 1e2
               AS gpd_sigma
    FROM fit, u
    """,
)
def q623(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    u = orders.agg(F.expr("percentile(o_totalprice, 0.95)").alias("u"))
    exc = orders.crossJoin(F.broadcast(u)).where(
        F.col("o_totalprice") > F.col("u")
    ).select(((F.col("o_totalprice") - F.col("u")) / 1e4).alias("y"))
    s = exc.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("y", 6).alias("sy"),
        dsum(F.col("y") * F.col("y"), 6).alias("syy"),
    )
    m2v = (F.col("sy") / F.col("n")) * (F.col("sy") / F.col("n")) / (
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    )
    fit = s.select(
        "n",
        (0.5 * (1 - m2v)).alias("xi"),
        (0.5 * (F.col("sy") / F.col("n")) * (m2v + 1)).alias("sigma"),
    )
    j = fit.crossJoin(F.broadcast(u))
    return j.select(
        F.col("n").cast("long").alias("n_exceedances"),
        (quantize("u", 2) / 1e2).alias("threshold"),
        (quantize("xi", 6) / 1e6).alias("gpd_xi"),
        (quantize(F.col("sigma") * 1e4, 2) / 1e2).alias("gpd_sigma"),
    )


# --- q625: zero-inflation score test for weekly part demand — are
# there MORE zero-demand (part, week) cells than a Poisson arrival
# model allows? n₀ counts implicitly (cells = parts × weeks minus the
# active aggregate — zeros are never materialized), and the van den
# Broek (1995) score statistic S = (n₀ − n·p̃₀)²/(n·p̃₀(1−p̃₀) −
# n·x̄·p̃₀²), p̃₀ = e^(−x̄), is χ²₁ under the Poisson null. The
# demand-model gate before fitting q530-class Poisson GOF per part. --------------
@query(
    "q625_zero_inflation_score_test",
    oracle="""
    WITH active AS MATERIALIZED (
        SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY l_partkey, wk
    ),
    dims AS (
        SELECT (SELECT CAST(COUNT(DISTINCT l_partkey) AS DOUBLE)
                FROM lineitem) AS n_parts,
               (SELECT CAST(COUNT(DISTINCT date_trunc('week', l_shipdate))
                            AS DOUBLE) FROM lineitem) AS n_weeks
    ),
    s AS (
        SELECT dims.n_parts * dims.n_weeks AS n,
               dims.n_parts * dims.n_weeks
                   - (SELECT COUNT(*) FROM active) AS n0,
               (SELECT CAST(SUM(c) AS DOUBLE) FROM active)
                   / (dims.n_parts * dims.n_weeks) AS lam
        FROM dims
    )
    SELECT CAST(n AS BIGINT) AS n_cells,
           CAST(n0 AS BIGINT) AS n_zero_cells,
           CAST(CAST(SIGN(lam) * FLOOR(ABS(lam) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS lambda_hat,
           CAST(CAST(SIGN(sc) * FLOOR(ABS(sc) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS score_chi2
    FROM (
        SELECT n, n0, lam,
               (n0 - n * EXP(-lam)) * (n0 - n * EXP(-lam))
               / (n * EXP(-lam) * (1 - EXP(-lam))
                  - n * lam * EXP(-lam) * EXP(-lam)) AS sc
        FROM s
    )
    """,
)
def q625(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    active = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    dims = li.agg(
        F.count_distinct("l_partkey").cast("double").alias("n_parts"),
        F.count_distinct(F.date_trunc("week", "l_shipdate"))
        .cast("double")
        .alias("n_weeks"),
    )
    act = active.agg(
        F.count(F.lit(1)).cast("double").alias("n_active"),
        F.sum("c").cast("double").alias("total"),
    )
    s = dims.crossJoin(F.broadcast(act)).select(
        (F.col("n_parts") * F.col("n_weeks")).alias("n"),
        (F.col("n_parts") * F.col("n_weeks") - F.col("n_active")).alias("n0"),
        (F.col("total") / (F.col("n_parts") * F.col("n_weeks"))).alias("lam"),
    )
    p0 = F.exp(-F.col("lam"))
    sc = (F.col("n0") - F.col("n") * p0) * (F.col("n0") - F.col("n") * p0) / (
        F.col("n") * p0 * (1 - p0) - F.col("n") * F.col("lam") * p0 * p0
    )
    return s.select(
        F.col("n").cast("long").alias("n_cells"),
        F.col("n0").cast("long").alias("n_zero_cells"),
        (quantize("lam", 6) / 1e6).alias("lambda_hat"),
        (quantize(sc, 6) / 1e6).alias("score_chi2"),
    )


# --- q627: Simpson's-paradox audit of the discount→quantity relation —
# pooled OLS slope across all lineitems vs the within-brand slopes:
# reports the pooled slope, the count of brands whose slope has the
# OPPOSITE sign, and the weighted mean within-brand slope. When
# sign(pooled) ≠ sign(within), aggregation reverses the story — the
# classic confounding trap a self-serve BI layer should flag.
# Per-brand moment sums; everything downstream is 25-brand bounded. --------------
@query(
    "q627_simpson_paradox_audit",
    oracle=f"""
    WITH per_b AS MATERIALIZED (
        SELECT p.p_brand AS brand,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('l.l_discount', 4)}) AS DOUBLE) / 1e4
                   AS sx,
               CAST(SUM({sql_quantize('l.l_quantity', 2)}) AS DOUBLE) / 1e2
                   AS sy,
               CAST(SUM({sql_quantize('l.l_discount * l.l_discount', 6)})
                    AS DOUBLE) / 1e6 AS sxx,
               CAST(SUM({sql_quantize('l.l_discount * l.l_quantity', 4)})
                    AS DOUBLE) / 1e4 AS sxy
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand
    ),
    pooled AS (
        SELECT (SUM(n) * SUM(sxy) - SUM(sx) * SUM(sy))
               / (SUM(n) * SUM(sxx) - SUM(sx) * SUM(sx)) AS b_pool
        FROM per_b
    ),
    within AS MATERIALIZED (
        SELECT brand, n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b_w
        FROM per_b
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
               CAST(SUM(CASE WHEN SIGN(w.b_w) <> SIGN(p.b_pool)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_reversed,
               CAST(SUM({sql_quantize('w.n * w.b_w', 6)}) AS DOUBLE) / 1e6
                   / SUM(w.n) AS b_within
        FROM within w, pooled p
    )
    SELECT agg.n_brands, agg.n_reversed,
           CAST({sql_quantize('pooled.b_pool', 6)} AS DOUBLE) / 1e6
               AS pooled_slope,
           CAST({sql_quantize('agg.b_within', 6)} AS DOUBLE) / 1e6
               AS within_brand_slope
    FROM agg, pooled
    """,
)
def q627(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    per_b = tracked_persist(
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            dsum("l_discount", 4).alias("sx"),
            dsum("l_quantity", 2).alias("sy"),
            dsum(F.col("l_discount") * F.col("l_discount"), 6).alias("sxx"),
            dsum(F.col("l_discount") * F.col("l_quantity"), 4).alias("sxy"),
        )
    )
    pooled = per_b.agg(
        (
            (F.sum("n") * F.sum("sxy") - F.sum("sx") * F.sum("sy"))
            / (F.sum("n") * F.sum("sxx") - F.sum("sx") * F.sum("sx"))
        ).alias("b_pool")
    )
    within = per_b.select(
        "brand",
        "n",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("b_w"),
    )
    agg = within.crossJoin(F.broadcast(pooled)).agg(
        F.count(F.lit(1)).cast("long").alias("n_brands"),
        F.sum(
            F.when(F.signum("b_w") != F.signum("b_pool"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_reversed"),
        (dsum(F.col("n") * F.col("b_w"), 6) / F.sum("n")).alias("b_within"),
    )
    j = agg.crossJoin(F.broadcast(pooled))
    return j.select(
        "n_brands",
        "n_reversed",
        (quantize("b_pool", 6) / 1e6).alias("pooled_slope"),
        (quantize("b_within", 6) / 1e6).alias("within_brand_slope"),
    )


# --- q630: doubly-robust ATE of BUILDING-segment membership on order
# value with nation as the confounder — combines the outcome model
# (nation-cell means m₁, m₀) with inverse-propensity weighting
# (nation-level e(x)): ATE_DR = mean[m₁−m₀ + t(y−m₁)/e − (1−t)(y−m₀)/(1−e)].
# Consistent if EITHER model is right — the completion of the causal
# kit's IPW-ATE and stratified-ATE members. Nation cells are bounded;
# the correction pass is one broadcast join over the fact rows. ------------------
@query(
    "q630_doubly_robust_ate",
    oracle=f"""
    WITH d AS MATERIALIZED (
        SELECT c.c_nationkey AS nk,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
               o.o_totalprice / 1e3 AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS MATERIALIZED (
        SELECT nk,
               CAST(SUM(t) AS DOUBLE) AS nt,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CASE WHEN t = 1 THEN {sql_quantize('y', 6)}
                             ELSE 0 END) AS DOUBLE) / 1e6 AS sy1,
               CAST(SUM(CASE WHEN t = 0 THEN {sql_quantize('y', 6)}
                             ELSE 0 END) AS DOUBLE) / 1e6 AS sy0
        FROM d GROUP BY nk
        HAVING SUM(t) > 0 AND SUM(t) < COUNT(*)
    ),
    scored AS (
        SELECT d.t, d.y,
               c.sy1 / c.nt AS m1,
               c.sy0 / (c.n - c.nt) AS m0,
               c.nt / c.n AS e
        FROM d JOIN cells c ON c.nk = d.nk
    ),
    ate AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(SUM({sql_quantize(
                   'm1 - m0 + t * (y - m1) / e'
                   ' - (1 - t) * (y - m0) / (1 - e)', 9)}) AS DOUBLE) / 1e9
                   / COUNT(*) AS dr
        FROM scored
    )
    SELECT n_obs,
           CAST({sql_quantize('dr', 6)} AS DOUBLE) / 1e6 AS ate_dr_k
    FROM ate
    """,
)
def q630(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    d = tracked_persist(
        orders.join(cust, orders.o_custkey == cust.c_custkey).select(
            F.col("c_nationkey").alias("nk"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("t"),
            (F.col("o_totalprice") / 1e3).alias("y"),
        )
    )
    cells = (
        d.groupBy("nk")
        .agg(
            F.sum("t").cast("double").alias("nt"),
            F.count(F.lit(1)).cast("double").alias("n"),
            (
                F.sum(F.when(F.col("t") == 1, quantize("y", 6)).otherwise(0)).cast(
                    "double"
                )
                / 1e6
            ).alias("sy1"),
            (
                F.sum(F.when(F.col("t") == 0, quantize("y", 6)).otherwise(0)).cast(
                    "double"
                )
                / 1e6
            ).alias("sy0"),
        )
        .where((F.col("nt") > 0) & (F.col("nt") < F.col("n")))
    )
    scored = d.join(F.broadcast(cells), "nk").select(
        "t",
        "y",
        (F.col("sy1") / F.col("nt")).alias("m1"),
        (F.col("sy0") / (F.col("n") - F.col("nt"))).alias("m0"),
        (F.col("nt") / F.col("n")).alias("e"),
    )
    term = (
        F.col("m1")
        - F.col("m0")
        + F.col("t") * (F.col("y") - F.col("m1")) / F.col("e")
        - (1 - F.col("t")) * (F.col("y") - F.col("m0")) / (1 - F.col("e"))
    )
    ate = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        (dsum(term, 9) / F.count(F.lit(1))).alias("dr"),
    )
    return ate.select("n_obs", (quantize("dr", 6) / 1e6).alias("ate_dr_k"))


# ===== Wave q639-q644: trade-econometrics & regional-concentration ====
# Public methodology: Balassa (1965) revealed comparative advantage,
# Grubel-Lloyd (1971) intra-industry trade, Finger-Kreinin (1979)
# export similarity, Duncan & Duncan (1955) dissimilarity, Hoover
# (1936) concentration, Krugman (1991) specialization, Palma (2011)
# inequality ratio. "Exports" = lineitem revenue attributed to the
# supplier's nation, "imports" = to the ordering customer's nation;
# product classes are the first word of p_type (6 bounded values).
# Every query is one fact rollup on natural keys + bounded dim-grid
# joins (≤ 25 nations × 6 classes) — the 100 TB shape is the single
# partial-aggregated shuffle that builds the flow table; everything
# after is broadcast-sized.

_TRADE_FLOW_SQL = """
    flow AS MATERIALIZED (
        SELECT n.n_name AS nat,
               split_part(p.p_type, ' ', 1) AS cls,
               CAST(SUM(CAST(SIGN(l.l_extendedprice)
                             * FLOOR(ABS(l.l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY nat, cls
    )
"""


def _trade_flow(spark, sf_dir):
    """(nat, cls, revq) supplier-nation × product-class exact revenue
    rollup — the shared export-flow table behind q639/q641/q643."""
    li = T(spark, sf_dir, "lineitem")
    sup = T(spark, sf_dir, "supplier")
    nat = T(spark, sf_dir, "nation")
    part = T(spark, sf_dir, "part")
    return (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(
            part.select("p_partkey", "p_type"),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("n_name").alias("nat"),
            F.substring_index("p_type", " ", 1).alias("cls"),
        )
        .agg(F.sum(quantize("l_extendedprice", 2)).cast("long").alias("revq"))
    )


# --- q639: Balassa (1965) revealed comparative advantage matrix —
# RCA_{n,c} = (X_{nc}/X_n)/(X_c/X): a nation "reveals" advantage in a
# product class when its export share there exceeds the world share
# (RCA > 1). The flow table is the only data-sized aggregate; nation /
# class / world totals are bounded re-aggregates joined back broadcast. --------
@query(
    "q639_balassa_rca_matrix",
    oracle=f"""
    WITH {_TRADE_FLOW_SQL},
    nt AS (SELECT nat, CAST(SUM(revq) AS BIGINT) AS nq FROM flow GROUP BY nat),
    ct AS (SELECT cls, CAST(SUM(revq) AS BIGINT) AS cq FROM flow GROUP BY cls),
    tt AS (SELECT CAST(SUM(revq) AS BIGINT) AS tq FROM flow)
    SELECT f.nat, f.cls,
           CAST(f.revq AS DOUBLE) / 100.0 AS export_rev,
           CAST({sql_quantize(
               '(CAST(f.revq AS DOUBLE) / nt.nq)'
               ' / (CAST(ct.cq AS DOUBLE) / tt.tq)', 6)} AS DOUBLE) / 1e6
               AS rca
    FROM flow f
    JOIN nt ON nt.nat = f.nat
    JOIN ct ON ct.cls = f.cls
    CROSS JOIN tt
    """,
)
def q639(spark, sf_dir):
    flow = _trade_flow(spark, sf_dir)
    from pandrs_spark.operators.util import tracked_persist

    flow = tracked_persist(flow)
    nt = flow.groupBy("nat").agg(F.sum("revq").cast("long").alias("nq"))
    ct = flow.groupBy("cls").agg(F.sum("revq").cast("long").alias("cq"))
    tt = flow.agg(F.sum("revq").cast("long").alias("tq"))
    rca = (
        (F.col("revq").cast("double") / F.col("nq"))
        / (F.col("cq").cast("double") / F.col("tq"))
    )
    return (
        flow.join(F.broadcast(nt), "nat")
        .join(F.broadcast(ct), "cls")
        .crossJoin(F.broadcast(tt))
        .select(
            "nat",
            "cls",
            (F.col("revq").cast("double") / 100.0).alias("export_rev"),
            (quantize(rca, 6) / 1e6).alias("rca"),
        )
    )


# --- q640: Grubel-Lloyd (1971) intra-industry trade index per nation
# pair — GL = 1 − |X_ab − X_ba|/(X_ab + X_ba) over bilateral flows
# (exporter = supplier nation, importer = customer nation): 1 means
# perfectly balanced two-way trade, 0 one-way. Pairs are unordered
# (LEAST/GREATEST on the bounded nation names); GL is NULL when the
# pair trades in one direction only. --------------------------------------------
@query(
    "q640_grubel_lloyd_pairs",
    oracle="""
    WITH bil AS MATERIALIZED (
        SELECT ns.n_name AS exp, nc.n_name AS imp,
               CAST(SUM(CAST(SIGN(l.l_extendedprice)
                             * FLOOR(ABS(l.l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        WHERE ns.n_name <> nc.n_name
        GROUP BY exp, imp
    ),
    pairs AS (
        SELECT LEAST(exp, imp) AS nat_a, GREATEST(exp, imp) AS nat_b,
               CAST(SUM(CASE WHEN exp < imp THEN revq ELSE 0 END)
                    AS BIGINT) AS xab,
               CAST(SUM(CASE WHEN exp > imp THEN revq ELSE 0 END)
                    AS BIGINT) AS xba
        FROM bil GROUP BY nat_a, nat_b
    )
    SELECT nat_a, nat_b,
           CAST(xab AS DOUBLE) / 100.0 AS trade_ab,
           CAST(xba AS DOUBLE) / 100.0 AS trade_ba,
           CASE WHEN xab > 0 AND xba > 0 THEN
               CAST(CAST(SIGN(gl) * FLOOR(ABS(gl) * 1e6 + 0.5) AS BIGINT)
                    AS DOUBLE) / 1e6
           END AS gl_index
    FROM (
        SELECT *,
               1.0 - CAST(ABS(xab - xba) AS DOUBLE) / (xab + xba) AS gl
        FROM pairs
    )
    """,
)
def q640(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    sup = T(spark, sf_dir, "supplier")
    nat = T(spark, sf_dir, "nation")
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    ns = nat.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("exp")
    )
    nc = nat.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("imp")
    )
    bil = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(ns), sup.s_nationkey == F.col("snk"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), cust.c_nationkey == F.col("cnk"))
        .where(F.col("exp") != F.col("imp"))
        .groupBy("exp", "imp")
        .agg(F.sum(quantize("l_extendedprice", 2)).cast("long").alias("revq"))
    )
    pairs = bil.groupBy(
        F.least("exp", "imp").alias("nat_a"),
        F.greatest("exp", "imp").alias("nat_b"),
    ).agg(
        F.sum(F.when(F.col("exp") < F.col("imp"), F.col("revq")).otherwise(0))
        .cast("long")
        .alias("xab"),
        F.sum(F.when(F.col("exp") > F.col("imp"), F.col("revq")).otherwise(0))
        .cast("long")
        .alias("xba"),
    )
    gl = 1.0 - F.abs(F.col("xab") - F.col("xba")).cast("double") / (
        F.col("xab") + F.col("xba")
    )
    return pairs.select(
        "nat_a",
        "nat_b",
        (F.col("xab").cast("double") / 100.0).alias("trade_ab"),
        (F.col("xba").cast("double") / 100.0).alias("trade_ba"),
        F.when(
            (F.col("xab") > 0) & (F.col("xba") > 0), quantize(gl, 6) / 1e6
        ).alias("gl_index"),
    )


# --- q641: Finger-Kreinin (1979) export-similarity index between
# every pair of supplier REGIONS — FK(a,b) = Σ_c min(s_ac, s_bc) over
# product-class revenue shares: 1 means identical export baskets.
# Classes missing from either side contribute min(s, 0) = 0, so the
# inner join on class is exact, not an approximation. ---------------------------
@query(
    "q641_finger_kreinin_similarity",
    oracle="""
    WITH rflow AS MATERIALIZED (
        SELECT r.r_name AS reg, split_part(p.p_type, ' ', 1) AS cls,
               CAST(SUM(CAST(SIGN(l.l_extendedprice)
                             * FLOOR(ABS(l.l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY reg, cls
    ),
    tot AS (
        SELECT reg, CAST(SUM(revq) AS BIGINT) AS tq FROM rflow GROUP BY reg
    ),
    sh AS (
        SELECT f.reg, f.cls, CAST(f.revq AS DOUBLE) / t.tq AS s
        FROM rflow f JOIN tot t ON t.reg = f.reg
    )
    SELECT a.reg AS region_a, b.reg AS region_b,
           CAST(SUM(CAST(SIGN(LEAST(a.s, b.s))
                         * FLOOR(ABS(LEAST(a.s, b.s)) * 1e9 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 1e9 AS fk_index
    FROM sh a JOIN sh b ON a.cls = b.cls AND a.reg < b.reg
    GROUP BY region_a, region_b
    """,
)
def q641(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    sup = T(spark, sf_dir, "supplier")
    nat = T(spark, sf_dir, "nation")
    reg = T(spark, sf_dir, "region")
    part = T(spark, sf_dir, "part")
    rflow = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .join(
            part.select("p_partkey", "p_type"),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("r_name").alias("reg"),
            F.substring_index("p_type", " ", 1).alias("cls"),
        )
        .agg(F.sum(quantize("l_extendedprice", 2)).cast("long").alias("revq"))
    )
    from pandrs_spark.operators.util import tracked_persist

    rflow = tracked_persist(rflow)
    tot = rflow.groupBy("reg").agg(F.sum("revq").cast("long").alias("tq"))
    sh = rflow.join(F.broadcast(tot), "reg").select(
        "reg", "cls", (F.col("revq").cast("double") / F.col("tq")).alias("s")
    )
    b = sh.select(
        F.col("reg").alias("regb"), F.col("cls").alias("cls"),
        F.col("s").alias("sb"),
    )
    pairs = sh.join(b, "cls").where(F.col("reg") < F.col("regb"))
    return pairs.groupBy(
        F.col("reg").alias("region_a"), F.col("regb").alias("region_b")
    ).agg(dsum(F.least(F.col("s"), F.col("sb")), 9).alias("fk_index"))


# --- q642: Duncan & Duncan (1955) dissimilarity of BUILDING vs
# MACHINERY customers across nations (D = ½·Σ_n|A_n/A − B_n/B| — the
# share of either segment that would have to relocate for identical
# geographic distributions) + Hoover (1936) concentration of revenue
# vs customer headcount (H = ½·Σ_n|pop_share − rev_share|). Both ride
# one 25-row per-nation rollup; counts are exact integers. ----------------------
@query(
    "q642_duncan_hoover_indices",
    oracle="""
    WITH seg AS MATERIALIZED (
        SELECT n.n_name AS nat,
               CAST(SUM(CASE WHEN c.c_mktsegment = 'BUILDING'
                        THEN 1 ELSE 0 END) AS BIGINT) AS a_n,
               CAST(SUM(CASE WHEN c.c_mktsegment = 'MACHINERY'
                        THEN 1 ELSE 0 END) AS BIGINT) AS b_n,
               CAST(COUNT(*) AS BIGINT) AS pop_n
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY nat
    ),
    rev AS MATERIALIZED (
        SELECT n.n_name AS nat,
               CAST(SUM(CAST(SIGN(o.o_totalprice)
                             * FLOOR(ABS(o.o_totalprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS rq
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY nat
    ),
    j AS (
        SELECT seg.nat, a_n, b_n, pop_n, COALESCE(rev.rq, 0) AS rq
        FROM seg LEFT JOIN rev ON rev.nat = seg.nat
    ),
    t AS (
        SELECT CAST(SUM(a_n) AS BIGINT) AS ta,
               CAST(SUM(b_n) AS BIGINT) AS tb,
               CAST(SUM(pop_n) AS BIGINT) AS tp,
               CAST(SUM(rq) AS BIGINT) AS tr,
               CAST(COUNT(*) AS BIGINT) AS n_nations
        FROM j
    )
    SELECT t.n_nations,
           CAST(CAST(SIGN(d) * FLOOR(ABS(d) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS duncan_index,
           CAST(CAST(SIGN(h) * FLOOR(ABS(h) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS hoover_index
    FROM t, (
        SELECT
            0.5 * CAST(SUM(CAST(SIGN(dd) * FLOOR(ABS(dd) * 1e9 + 0.5)
                               AS BIGINT)) AS DOUBLE) / 1e9 AS d,
            0.5 * CAST(SUM(CAST(SIGN(hh) * FLOOR(ABS(hh) * 1e9 + 0.5)
                               AS BIGINT)) AS DOUBLE) / 1e9 AS h
        FROM (
            SELECT
                ABS(CAST(a_n AS DOUBLE) / t2.ta
                    - CAST(b_n AS DOUBLE) / t2.tb) AS dd,
                ABS(CAST(pop_n AS DOUBLE) / t2.tp
                    - CAST(rq AS DOUBLE) / t2.tr) AS hh
            FROM j, t t2
        )
    )
    """,
)
def q642(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    cust = T(spark, sf_dir, "customer")
    nat = T(spark, sf_dir, "nation")
    orders = T(spark, sf_dir, "orders")
    seg = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nat"))
        .agg(
            F.sum(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0))
            .cast("long")
            .alias("a_n"),
            F.sum(F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0))
            .cast("long")
            .alias("b_n"),
            F.count(F.lit(1)).cast("long").alias("pop_n"),
        )
    )
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nat"))
        .agg(F.sum(quantize("o_totalprice", 2)).cast("long").alias("rq"))
    )
    j = tracked_persist(
        seg.join(rev, "nat", "left").na.fill({"rq": 0})
    )
    t = j.agg(
        F.sum("a_n").cast("long").alias("ta"),
        F.sum("b_n").cast("long").alias("tb"),
        F.sum("pop_n").cast("long").alias("tp"),
        F.sum("rq").cast("long").alias("tr"),
        F.count(F.lit(1)).cast("long").alias("n_nations"),
    )
    terms = j.crossJoin(F.broadcast(t)).select(
        F.abs(
            F.col("a_n").cast("double") / F.col("ta")
            - F.col("b_n").cast("double") / F.col("tb")
        ).alias("dd"),
        F.abs(
            F.col("pop_n").cast("double") / F.col("tp")
            - F.col("rq").cast("double") / F.col("tr")
        ).alias("hh"),
        "n_nations",
    )
    s = terms.groupBy("n_nations").agg(
        (0.5 * F.sum(quantize("dd", 9)).cast("double") / 1e9).alias("d"),
        (0.5 * F.sum(quantize("hh", 9)).cast("double") / 1e9).alias("h"),
    )
    return s.select(
        "n_nations",
        (quantize("d", 6) / 1e6).alias("duncan_index"),
        (quantize("h", 6) / 1e6).alias("hoover_index"),
    )


# --- q643: Krugman (1991) specialization index per supplier nation —
# K_n = Σ_c |s_nc − s_c^{(−n)}| comparing each nation's product-class
# mix against the REST-OF-WORLD mix (not the world mix that contains
# it, which dilutes small nations): 0 = identical structure, 2 = fully
# disjoint. The complete 25×6 nation×class grid is materialized via a
# bounded cross join so zero-flow cells contribute their full share
# difference. -------------------------------------------------------------------
@query(
    "q643_krugman_specialization",
    oracle=f"""
    WITH {_TRADE_FLOW_SQL},
    nats AS (SELECT DISTINCT nat FROM flow),
    clss AS (SELECT DISTINCT cls FROM flow),
    grid AS (
        SELECT n.nat, c.cls, COALESCE(f.revq, 0) AS revq
        FROM nats n CROSS JOIN clss c
        LEFT JOIN flow f ON f.nat = n.nat AND f.cls = c.cls
    ),
    nt AS (SELECT nat, CAST(SUM(revq) AS BIGINT) AS nq FROM grid GROUP BY nat),
    ct AS (SELECT cls, CAST(SUM(revq) AS BIGINT) AS cq FROM grid GROUP BY cls),
    tt AS (SELECT CAST(SUM(revq) AS BIGINT) AS tq FROM grid)
    SELECT g.nat AS nation,
           CAST(SUM({sql_quantize(
               'ABS(CAST(g.revq AS DOUBLE) / nt.nq'
               ' - CAST(ct.cq - g.revq AS DOUBLE) / (tt.tq - nt.nq))', 9)})
                AS DOUBLE) / 1e9 AS krugman_index
    FROM grid g
    JOIN nt ON nt.nat = g.nat
    JOIN ct ON ct.cls = g.cls
    CROSS JOIN tt
    GROUP BY nation
    """,
)
def q643(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    flow = tracked_persist(_trade_flow(spark, sf_dir))
    nats = flow.select("nat").distinct()
    clss = flow.select("cls").distinct()
    grid = (
        nats.crossJoin(F.broadcast(clss))
        .join(flow, ["nat", "cls"], "left")
        .na.fill({"revq": 0})
    )
    grid = tracked_persist(grid)
    nt = grid.groupBy("nat").agg(F.sum("revq").cast("long").alias("nq"))
    ct = grid.groupBy("cls").agg(F.sum("revq").cast("long").alias("cq"))
    tt = grid.agg(F.sum("revq").cast("long").alias("tq"))
    term = F.abs(
        F.col("revq").cast("double") / F.col("nq")
        - (F.col("cq") - F.col("revq")).cast("double")
        / (F.col("tq") - F.col("nq"))
    )
    return (
        grid.join(F.broadcast(nt), "nat")
        .join(F.broadcast(ct), "cls")
        .crossJoin(F.broadcast(tt))
        .groupBy(F.col("nat").alias("nation"))
        .agg(dsum(term, 9).alias("krugman_index"))
    )


# --- q644: Palma (2011) ratio + 20:20 ratio of customer spending —
# top-10% revenue share over bottom-40% share (and top-20 over
# bottom-20), read off the same distributed Lorenz prefix as q499
# (global_prefix_counts over the per-customer spend histogram — one
# groupBy + one offset pass, never a one-task data sort). Boundary
# d·N/10 picks the first covering prefix row, exactly as q499. ------------------
@query(
    "q644_palma_quintile_ratios",
    oracle=f"""
    WITH rev AS MATERIALIZED (
        SELECT o_custkey,
               CAST(SUM({sql_quantize('o_totalprice', 2)}) AS BIGINT) AS yq
        FROM orders GROUP BY o_custkey
    ),
    pref AS MATERIALIZED (
        SELECT yq,
               CAST(SUM(cnt) OVER (ORDER BY yq) AS BIGINT) AS cum_n,
               CAST(SUM(CAST(yq AS HUGEINT) * cnt) OVER (ORDER BY yq)
                    AS BIGINT) AS cum_y
        FROM (
            SELECT yq, CAST(COUNT(*) AS BIGINT) AS cnt FROM rev GROUP BY yq
        )
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(yq AS HUGEINT)) AS BIGINT) AS ty
        FROM rev
    ),
    grid AS (SELECT UNNEST([2, 4, 8, 9]) AS d),
    picked AS (
        SELECT g.d, p.share
        FROM grid g, tot t,
             LATERAL (
                 SELECT CAST(cum_y AS DOUBLE) / t.ty AS share
                 FROM pref
                 WHERE cum_n >= CAST(CEIL(g.d * t.n / 10.0) AS BIGINT)
                 ORDER BY cum_n LIMIT 1
             ) p
    ),
    w AS (
        SELECT (SELECT n FROM tot) AS n_customers,
               MAX(CASE WHEN d = 4 THEN share END) AS b40,
               MAX(CASE WHEN d = 9 THEN share END) AS s90,
               MAX(CASE WHEN d = 2 THEN share END) AS b20,
               MAX(CASE WHEN d = 8 THEN share END) AS s80
        FROM picked
    )
    SELECT n_customers,
           CAST({sql_quantize('b40', 6)} AS DOUBLE) / 1e6 AS bottom40_share,
           CAST({sql_quantize('1.0 - s90', 6)} AS DOUBLE) / 1e6
               AS top10_share,
           CAST({sql_quantize('(1.0 - s90) / b40', 6)} AS DOUBLE) / 1e6
               AS palma_ratio,
           CAST({sql_quantize('(1.0 - s80) / b20', 6)} AS DOUBLE) / 1e6
               AS ratio_20_20
    FROM w
    """,
)
def q644(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    orders = T(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(quantize("o_totalprice", 2)).cast("long").alias("yq")
    )
    hist = rev.groupBy("yq").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    hist = hist.withColumn("yc", F.col("yq") * F.col("cnt"))
    pref = tracked_persist(
        global_prefix_counts(
            hist, [F.asc("yq")], {"cum_n": "cnt", "cum_y": "yc"}
        )
    )
    tot = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yq").cast("long").alias("ty"),
    )
    grid = small_local_df(
        orders.sparkSession, [(2,), (4,), (8,), (9,)], "d int"
    )
    j = (
        F.broadcast(grid)
        .crossJoin(F.broadcast(tot))
        .join(
            pref,
            F.col("cum_n")
            >= F.ceil(F.col("d") * F.col("n") / 10.0).cast("long"),
        )
    )
    picked = j.groupBy("d", "n", "ty").agg(
        F.min_by("cum_y", "cum_n").alias("cum_y_at")
    )
    w = picked.groupBy("n").agg(
        F.max(
            F.when(
                F.col("d") == 4, F.col("cum_y_at").cast("double") / F.col("ty")
            )
        ).alias("b40"),
        F.max(
            F.when(
                F.col("d") == 9, F.col("cum_y_at").cast("double") / F.col("ty")
            )
        ).alias("s90"),
        F.max(
            F.when(
                F.col("d") == 2, F.col("cum_y_at").cast("double") / F.col("ty")
            )
        ).alias("b20"),
        F.max(
            F.when(
                F.col("d") == 8, F.col("cum_y_at").cast("double") / F.col("ty")
            )
        ).alias("s80"),
    )
    return w.select(
        F.col("n").alias("n_customers"),
        (quantize("b40", 6) / 1e6).alias("bottom40_share"),
        (quantize(1.0 - F.col("s90"), 6) / 1e6).alias("top10_share"),
        (quantize((1.0 - F.col("s90")) / F.col("b40"), 6) / 1e6).alias(
            "palma_ratio"
        ),
        (quantize((1.0 - F.col("s80")) / F.col("b20"), 6) / 1e6).alias(
            "ratio_20_20"
        ),
    )


# ===== Wave q675-q680: capability, index-number & drift tier ==========
# Public methodology: Cp/Cpk process capability (Juran 1974), Bennet
# (1920) additive price-quantity decomposition, the Carli (1764) /
# Dutot (1738) / Jevons (1863) elementary price indices, Suits (1977)
# progressivity index, Lotka (1926) productivity law, and the
# Hellinger / total-variation / Jeffreys divergence drift battery.
# Shapes: exact-moment rollups, bounded brand/part grids, one Lorenz
# prefix, one frequency-of-frequency log-log fit — all single-shuffle.

# --- q675: Cp/Cpk process capability of order fulfillment lead time
# (ship − order date) against documented spec limits LSL = 0,
# USL = 120 days: Cp = (USL−LSL)/6σ is the entitlement, Cpk =
# min(USL−μ, μ−LSL)/3σ the centered reality — the SPC summary layered
# on q621's Taguchi loss. Exact two-pass moments over one join. -----------------
@query(
    "q675_process_capability_leadtime",
    oracle=f"""
    WITH lt AS MATERIALIZED (
        SELECT CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS DOUBLE)
                   AS d
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('d', 2)}) AS DOUBLE) / 1e2 AS s1,
               CAST(SUM({sql_quantize('d * d', 2)}) AS DOUBLE) / 1e2 AS s2
        FROM lt
    ),
    k AS (
        SELECT n, s1 / n AS mu,
               SQRT((s2 - s1 * s1 / n) / (n - 1)) AS sig
        FROM s
    )
    SELECT n AS n_lines,
           CAST({sql_quantize('mu', 6)} AS DOUBLE) / 1e6 AS mean_leadtime,
           CAST({sql_quantize('sig', 6)} AS DOUBLE) / 1e6 AS sd_leadtime,
           CAST({sql_quantize('120.0 / (6.0 * sig)', 6)} AS DOUBLE) / 1e6
               AS cp,
           CAST({sql_quantize(
               'LEAST(120.0 - mu, mu - 0.0) / (3.0 * sig)', 6)}
               AS DOUBLE) / 1e6 AS cpk
    FROM k
    """,
)
def q675(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    lt = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.datediff("l_shipdate", "o_orderdate").cast("double").alias("d")
    )
    s = lt.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("d", 2).alias("s1"),
        dsum(F.col("d") * F.col("d"), 2).alias("s2"),
    )
    mu = F.col("s1") / F.col("n")
    sig = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    k = s.select("n", mu.alias("mu"), sig.alias("sig"))
    return k.select(
        F.col("n").alias("n_lines"),
        (quantize("mu", 6) / 1e6).alias("mean_leadtime"),
        (quantize("sig", 6) / 1e6).alias("sd_leadtime"),
        (quantize(120.0 / (6.0 * F.col("sig")), 6) / 1e6).alias("cp"),
        (
            quantize(
                F.least(120.0 - F.col("mu"), F.col("mu") - 0.0)
                / (3.0 * F.col("sig")),
                6,
            )
            / 1e6
        ).alias("cpk"),
    )


# --- q676: Bennet (1920) additive price-quantity decomposition of
# per-brand revenue change 1995 → 1996 — Δv_b = ½(p⁰+p¹)(q¹−q⁰) +
# ½(q⁰+q¹)(p¹−p⁰): the arithmetically-EXACT additive split (terms sum
# to Δv by construction, verified in the output) that complements
# q427's multiplicative LMDI waterfall. Unit values from exact sums;
# 25-brand bounded grid. -----------------------------------------------------------
@query(
    "q676_bennet_decomposition",
    oracle="""
    WITH cell AS MATERIALIZED (
        SELECT p.p_brand AS brand,
               EXTRACT(year FROM l.l_shipdate) AS yr,
               CAST(SUM(CAST(SIGN(l.l_extendedprice)
                             * FLOOR(ABS(l.l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE EXTRACT(year FROM l.l_shipdate) IN (1995, 1996)
        GROUP BY brand, yr
    ),
    wide AS (
        SELECT brand,
               MAX(CASE WHEN yr = 1995 THEN CAST(revq AS DOUBLE) / 100.0 END)
                   AS v0,
               MAX(CASE WHEN yr = 1996 THEN CAST(revq AS DOUBLE) / 100.0 END)
                   AS v1,
               MAX(CASE WHEN yr = 1995 THEN CAST(qty AS DOUBLE) END) AS q0,
               MAX(CASE WHEN yr = 1996 THEN CAST(qty AS DOUBLE) END) AS q1
        FROM cell GROUP BY brand
        HAVING COUNT(*) = 2
    )
    SELECT brand,
           CAST(CAST(SIGN(dv) * FLOOR(ABS(dv) * 1e2 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e2 AS delta_value,
           CAST(CAST(SIGN(qe) * FLOOR(ABS(qe) * 1e2 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e2 AS quantity_effect,
           CAST(CAST(SIGN(pe) * FLOOR(ABS(pe) * 1e2 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e2 AS price_effect
    FROM (
        SELECT brand, v1 - v0 AS dv,
               0.5 * (v0 / q0 + v1 / q1) * (q1 - q0) AS qe,
               0.5 * (q0 + q1) * (v1 / q1 - v0 / q0) AS pe
        FROM wide
    )
    """,
)
def q676(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    cell = (
        li.where(F.year("l_shipdate").isin(1995, 1996))
        .join(
            part.select("p_partkey", "p_brand"),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.sum(quantize("l_extendedprice", 2)).cast("long").alias("revq"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("long").alias("qty"),
        )
    )
    wide = (
        cell.groupBy("brand")
        .agg(
            F.max(
                F.when(F.col("yr") == 1995, F.col("revq").cast("double") / 100.0)
            ).alias("v0"),
            F.max(
                F.when(F.col("yr") == 1996, F.col("revq").cast("double") / 100.0)
            ).alias("v1"),
            F.max(
                F.when(F.col("yr") == 1995, F.col("qty").cast("double"))
            ).alias("q0"),
            F.max(
                F.when(F.col("yr") == 1996, F.col("qty").cast("double"))
            ).alias("q1"),
            F.count(F.lit(1)).alias("c"),
        )
        .where(F.col("c") == 2)
    )
    dv = F.col("v1") - F.col("v0")
    qe = (
        0.5
        * (F.col("v0") / F.col("q0") + F.col("v1") / F.col("q1"))
        * (F.col("q1") - F.col("q0"))
    )
    pe = (
        0.5
        * (F.col("q0") + F.col("q1"))
        * (F.col("v1") / F.col("q1") - F.col("v0") / F.col("q0"))
    )
    return wide.select(
        "brand",
        (quantize(dv, 2) / 1e2).alias("delta_value"),
        (quantize(qe, 2) / 1e2).alias("quantity_effect"),
        (quantize(pe, 2) / 1e2).alias("price_effect"),
    )


# --- q677: elementary price-index spread — Carli (arithmetic mean of
# part-level price relatives), Dutot (ratio of mean prices) and Jevons
# (geometric mean of relatives) between 1995 and 1996, over parts
# traded in BOTH years: the low-level index-number formula choice that
# drives "index bias" debates (Carli ≥ Jevons by AM-GM, reported as
# the bias gap). Part unit values from exact sums; one part-keyed
# rollup per year. ------------------------------------------------------------------
@query(
    "q677_elementary_price_indices",
    oracle=f"""
    WITH uv AS MATERIALIZED (
        SELECT l_partkey AS pk, EXTRACT(year FROM l_shipdate) AS yr,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0
                   / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS p
        FROM lineitem
        WHERE EXTRACT(year FROM l_shipdate) IN (1995, 1996)
        GROUP BY pk, yr
    ),
    wide AS MATERIALIZED (
        SELECT pk,
               MAX(CASE WHEN yr = 1995 THEN p END) AS p0,
               MAX(CASE WHEN yr = 1996 THEN p END) AS p1
        FROM uv GROUP BY pk HAVING COUNT(*) = 2
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('p1 / p0', 9)}) AS DOUBLE) / 1e9
                   AS srel,
               CAST(SUM({sql_quantize('LN(p1 / p0)', 9)}) AS DOUBLE) / 1e9
                   AS slog,
               CAST(SUM({sql_quantize('p0', 4)}) AS DOUBLE) / 1e4 AS sp0,
               CAST(SUM({sql_quantize('p1', 4)}) AS DOUBLE) / 1e4 AS sp1
        FROM wide
    )
    SELECT n AS n_parts,
           CAST({sql_quantize('srel / n', 6)} AS DOUBLE) / 1e6 AS carli,
           CAST({sql_quantize('sp1 / sp0', 6)} AS DOUBLE) / 1e6 AS dutot,
           CAST({sql_quantize('EXP(slog / n)', 6)} AS DOUBLE) / 1e6
               AS jevons,
           CAST({sql_quantize('srel / n - EXP(slog / n)', 6)}
                AS DOUBLE) / 1e6 AS carli_jevons_gap
    FROM s
    """,
)
def q677(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    uv = (
        li.where(F.year("l_shipdate").isin(1995, 1996))
        .groupBy(
            F.col("l_partkey").alias("pk"), F.year("l_shipdate").alias("yr")
        )
        .agg(
            (
                dsum("l_extendedprice", 2)
                / F.sum(F.col("l_quantity").cast("bigint")).cast("double")
            ).alias("p")
        )
    )
    wide = (
        uv.groupBy("pk")
        .agg(
            F.max(F.when(F.col("yr") == 1995, F.col("p"))).alias("p0"),
            F.max(F.when(F.col("yr") == 1996, F.col("p"))).alias("p1"),
            F.count(F.lit(1)).alias("c"),
        )
        .where(F.col("c") == 2)
    )
    rel = F.col("p1") / F.col("p0")
    s = wide.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(rel, 9).alias("srel"),
        dsum(F.log(rel), 9).alias("slog"),
        dsum("p0", 4).alias("sp0"),
        dsum("p1", 4).alias("sp1"),
    )
    return s.select(
        F.col("n").alias("n_parts"),
        (quantize(F.col("srel") / F.col("n"), 6) / 1e6).alias("carli"),
        (quantize(F.col("sp1") / F.col("sp0"), 6) / 1e6).alias("dutot"),
        (quantize(F.exp(F.col("slog") / F.col("n")), 6) / 1e6).alias(
            "jevons"
        ),
        (
            quantize(
                F.col("srel") / F.col("n") - F.exp(F.col("slog") / F.col("n")),
                6,
            )
            / 1e6
        ).alias("carli_jevons_gap"),
    )


# --- q678: Suits (1977) index of discount progressivity — do bigger
# orders capture disproportionately more discount value? S = 1 − 2·A
# with A the area under the concentration curve of discount value
# against cumulative revenue share (orders ascending by totalprice):
# S > 0 = progressive (discounts concentrate on big orders), < 0 =
# regressive. The curve is the q499-style distributed Lorenz prefix;
# the trapezoid integral pairs consecutive histogram rows by prefix
# rank (equi-join, no window re-sort). -------------------------------------------
@query(
    "q678_suits_discount_progressivity",
    oracle="""
    WITH per_o AS MATERIALIZED (
        SELECT o.o_totalprice AS v,
               CAST(SUM(CAST(SIGN(l.l_extendedprice * l.l_discount)
                             * FLOOR(ABS(l.l_extendedprice * l.l_discount)
                                     * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS dq
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
    ),
    hist AS MATERIALIZED (
        SELECT v,
               CAST(SUM(CAST(SIGN(v) * FLOOR(ABS(v) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS yq,
               CAST(SUM(dq) AS BIGINT) AS dq
        FROM per_o GROUP BY v
    ),
    pref AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY v) AS r,
               CAST(SUM(yq) OVER (ORDER BY v) AS BIGINT) AS cy,
               CAST(SUM(dq) OVER (ORDER BY v) AS BIGINT) AS cd
        FROM hist
    ),
    tot AS (
        SELECT CAST(SUM(yq) AS BIGINT) AS ty, CAST(SUM(dq) AS BIGINT) AS td
        FROM hist
    ),
    seg AS (
        SELECT (CAST(a.cy AS DOUBLE) / t.ty
                - CAST(COALESCE(b.cy, 0) AS DOUBLE) / t.ty)
               * (CAST(a.cd AS DOUBLE) / t.td
                  + CAST(COALESCE(b.cd, 0) AS DOUBLE) / t.td) AS tr
        FROM pref a
        LEFT JOIN pref b ON b.r = a.r - 1
        CROSS JOIN tot t
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per_o) AS n_orders,
           CAST(CAST(SIGN(s) * FLOOR(ABS(s) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS suits_index
    FROM (
        SELECT 1.0 - CAST(SUM(CAST(SIGN(tr) * FLOOR(ABS(tr) * 1e9 + 0.5)
                                   AS BIGINT)) AS DOUBLE) / 1e9 AS s
        FROM seg
    )
    """,
)
def q678(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    per_o = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.col("o_totalprice").alias("v"))
        .agg(
            F.sum(
                quantize(F.col("l_extendedprice") * F.col("l_discount"), 2)
            )
            .cast("long")
            .alias("dq")
        )
    )
    n_orders = per_o.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    hist = per_o.groupBy("v").agg(
        F.sum(quantize("v", 2)).cast("long").alias("yq"),
        F.sum("dq").cast("long").alias("dq"),
    )
    pref = tracked_persist(
        global_prefix_counts(
            hist.withColumn("one", F.lit(1).cast("long")),
            [F.asc("v")],
            {"r": "one", "cy": "yq", "cd": "dq"},
        )
    )
    tot = hist.agg(
        F.sum("yq").cast("long").alias("ty"),
        F.sum("dq").cast("long").alias("td"),
    )
    b = pref.select(
        (F.col("r") + 1).alias("r"),
        F.col("cy").alias("pcy"),
        F.col("cd").alias("pcd"),
    )
    seg = (
        pref.join(b, "r", "left")
        .na.fill({"pcy": 0, "pcd": 0})
        .crossJoin(F.broadcast(tot))
        .select(
            (
                (
                    F.col("cy").cast("double") / F.col("ty")
                    - F.col("pcy").cast("double") / F.col("ty")
                )
                * (
                    F.col("cd").cast("double") / F.col("td")
                    + F.col("pcd").cast("double") / F.col("td")
                )
            ).alias("tr")
        )
    )
    s = seg.agg((1.0 - dsum("tr", 9)).alias("s"))
    return s.crossJoin(F.broadcast(n_orders)).select(
        "n_orders", (quantize("s", 6) / 1e6).alias("suits_index")
    )


# --- q679: Lotka (1926) productivity law fit on customer order counts
# — does the number of customers with k orders fall as C/k^α? Log-log
# OLS over the frequency-of-frequency spectrum (bounded support) with
# R²: the author-productivity twin of the q518-class degree power law,
# applied to purchase behavior. ---------------------------------------------------
@query(
    "q679_lotka_law_fit",
    oracle=f"""
    WITH percust AS MATERIALIZED (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS k
        FROM orders GROUP BY o_custkey
    ),
    spec AS MATERIALIZED (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS f FROM percust GROUP BY k
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM({sql_quantize('LN(CAST(k AS DOUBLE))', 9)})
                    AS DOUBLE) / 1e9 AS sx,
               CAST(SUM({sql_quantize(
                   'LN(CAST(k AS DOUBLE)) * LN(CAST(k AS DOUBLE))', 9)})
                    AS DOUBLE) / 1e9 AS sxx,
               CAST(SUM({sql_quantize('LN(CAST(f AS DOUBLE))', 9)})
                    AS DOUBLE) / 1e9 AS sy,
               CAST(SUM({sql_quantize(
                   'LN(CAST(f AS DOUBLE)) * LN(CAST(f AS DOUBLE))', 9)})
                    AS DOUBLE) / 1e9 AS syy,
               CAST(SUM({sql_quantize(
                   'LN(CAST(k AS DOUBLE)) * LN(CAST(f AS DOUBLE))', 9)})
                    AS DOUBLE) / 1e9 AS sxy
        FROM spec
    )
    SELECT m AS n_support_points,
           CAST({sql_quantize(
               '-(m * sxy - sx * sy) / (m * sxx - sx * sx)', 6)}
               AS DOUBLE) / 1e6 AS lotka_alpha,
           CAST({sql_quantize(
               '(m * sxy - sx * sy) * (m * sxy - sx * sy)'
               ' / ((m * sxx - sx * sx) * (m * syy - sy * sy))', 6)}
               AS DOUBLE) / 1e6 AS r2
    FROM s
    """,
)
def q679(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    percust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    spec = percust.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("f"))
    lx = F.log(F.col("k").cast("double"))
    ly = F.log(F.col("f").cast("double"))
    s = spec.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        dsum(lx, 9).alias("sx"),
        dsum(lx * lx, 9).alias("sxx"),
        dsum(ly, 9).alias("sy"),
        dsum(ly * ly, 9).alias("syy"),
        dsum(lx * ly, 9).alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    r2 = num * num / (
        den * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("m").alias("n_support_points"),
        (quantize(-num / den, 6) / 1e6).alias("lotka_alpha"),
        (quantize(r2, 6) / 1e6).alias("r2"),
    )


# --- q680: distribution-drift battery on the bounded quantity support
# (1..50) between the first and second half of the corpus — Hellinger
# distance, total variation and the symmetric Jeffreys divergence in
# one pass: the bin-free complements of q235's PSI (which needs a
# binning choice) and the q-family KS (which needs a prefix pass).
# Jeffreys is NULL if any cell is empty on either side (log blows up;
# documented degenerate contract). ------------------------------------------------
@query(
    "q680_drift_battery_quantity",
    oracle="""
    WITH anchor AS (
        SELECT CAST(MIN(l_shipdate) AS DATE) AS lo,
               CAST(MAX(l_shipdate) AS DATE) AS hi
        FROM lineitem
    ),
    halves AS MATERIALIZED (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CASE WHEN datediff('day', a.lo, l.l_shipdate)
                         * 2 <= datediff('day', a.lo, a.hi)
                    THEN 1 ELSE 2 END AS h
        FROM lineitem l, anchor a
    ),
    cells AS MATERIALIZED (
        SELECT q,
               CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN h = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM halves GROUP BY q
    ),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(MIN(LEAST(c1, c2)) AS BIGINT) AS mincell
        FROM cells
    ),
    terms AS (
        SELECT CAST(SUM(CAST(SIGN(hh) * FLOOR(ABS(hh) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS sh,
               CAST(SUM(CAST(SIGN(tv) * FLOOR(ABS(tv) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS stv,
               CAST(SUM(CASE WHEN c1 > 0 AND c2 > 0 THEN
                   CAST(SIGN(jf) * FLOOR(ABS(jf) * 1e9 + 0.5) AS BIGINT)
                   ELSE 0 END) AS DOUBLE) / 1e9 AS sj
        FROM (
            SELECT c1, c2,
                   SQRT(CAST(c1 AS DOUBLE) / t.n1)
                       * SQRT(CAST(c2 AS DOUBLE) / t.n2) AS hh,
                   ABS(CAST(c1 AS DOUBLE) / t.n1
                       - CAST(c2 AS DOUBLE) / t.n2) AS tv,
                   CASE WHEN c1 > 0 AND c2 > 0 THEN
                       (CAST(c1 AS DOUBLE) / t.n1 - CAST(c2 AS DOUBLE) / t.n2)
                       * LN((CAST(c1 AS DOUBLE) / t.n1)
                            / (CAST(c2 AS DOUBLE) / t.n2))
                   END AS jf
            FROM cells, tot t
        )
    )
    SELECT t.n1 AS n_first_half, t.n2 AS n_second_half,
           CAST(CAST(SIGN(hel) * FLOOR(ABS(hel) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS hellinger,
           CAST(CAST(SIGN(0.5 * terms.stv) * FLOOR(ABS(0.5 * terms.stv)
                     * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6
               AS total_variation,
           CASE WHEN t.mincell > 0 THEN
               CAST(CAST(SIGN(terms.sj) * FLOOR(ABS(terms.sj) * 1e6 + 0.5)
                         AS BIGINT) AS DOUBLE) / 1e6
           END AS jeffreys
    FROM terms, tot t,
         (SELECT SQRT(GREATEST(1.0 - terms.sh, 0.0)) AS hel FROM terms)
    """,
)
def q680(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    anchor = li.agg(
        F.min("l_shipdate").cast("date").alias("lo"),
        F.max("l_shipdate").cast("date").alias("hi"),
    )
    halves = li.crossJoin(F.broadcast(anchor)).select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.when(
            F.datediff("l_shipdate", "lo") * 2 <= F.datediff("hi", "lo"), 1
        )
        .otherwise(2)
        .alias("h"),
    )
    cells = tracked_persist(
        halves.groupBy("q").agg(
            F.sum(F.when(F.col("h") == 1, 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("h") == 2, 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
    )
    tot = cells.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.min(F.least("c1", "c2")).cast("long").alias("mincell"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    p1 = F.col("c1").cast("double") / F.col("n1")
    p2 = F.col("c2").cast("double") / F.col("n2")
    hh = F.sqrt(p1) * F.sqrt(p2)
    tv = F.abs(p1 - p2)
    jf = F.when(
        (F.col("c1") > 0) & (F.col("c2") > 0), (p1 - p2) * F.log(p1 / p2)
    )
    terms = j.groupBy("n1", "n2", "mincell").agg(
        dsum(hh, 9).alias("sh"),
        dsum(tv, 9).alias("stv"),
        (
            F.sum(
                F.when(
                    (F.col("c1") > 0) & (F.col("c2") > 0), quantize(jf, 9)
                ).otherwise(F.lit(0).cast("bigint"))
            ).cast("double")
            / 1e9
        ).alias("sj"),
    )
    hel = F.sqrt(F.greatest(1.0 - F.col("sh"), F.lit(0.0)))
    return terms.select(
        F.col("n1").alias("n_first_half"),
        F.col("n2").alias("n_second_half"),
        (quantize(hel, 6) / 1e6).alias("hellinger"),
        (quantize(0.5 * F.col("stv"), 6) / 1e6).alias("total_variation"),
        F.when(F.col("mincell") > 0, quantize("sj", 6) / 1e6).alias(
            "jeffreys"
        ),
    )


# --- q689: Kitagawa (1955) decomposition of a rate difference — the
# AMERICA − ASIA gap in urgent-order share splits EXACTLY into a
# composition effect (segment-mix differences at averaged rates) and a
# rate effect (within-segment rate differences at averaged weights):
# gap = Σ_s r̄_s(w₁−w₂) + Σ_s w̄_s(r₁−r₂). The demography twin of the
# regression-based Oaxaca-Blinder (q557); bounded segment grid over
# exact counts. --------------------------------------------------------------------
@query(
    "q689_kitagawa_rate_decomposition",
    oracle="""
    WITH base AS MATERIALIZED (
        SELECT r.r_name AS reg, c.c_mktsegment AS seg,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS u
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nt ON nt.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = nt.n_regionkey
        WHERE r.r_name IN ('AMERICA', 'ASIA')
        GROUP BY reg, seg
    ),
    tot AS (
        SELECT reg, CAST(SUM(n) AS BIGINT) AS tn FROM base GROUP BY reg
    ),
    wide AS MATERIALIZED (
        SELECT b.seg,
               MAX(CASE WHEN b.reg = 'AMERICA'
                   THEN CAST(b.n AS DOUBLE) / t.tn END) AS w1,
               MAX(CASE WHEN b.reg = 'ASIA'
                   THEN CAST(b.n AS DOUBLE) / t.tn END) AS w2,
               MAX(CASE WHEN b.reg = 'AMERICA'
                   THEN CAST(b.u AS DOUBLE) / b.n END) AS r1,
               MAX(CASE WHEN b.reg = 'ASIA'
                   THEN CAST(b.u AS DOUBLE) / b.n END) AS r2
        FROM base b JOIN tot t ON t.reg = b.reg
        GROUP BY b.seg
        HAVING COUNT(*) = 2
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(CAST(SIGN(ce) * FLOOR(ABS(ce) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS comp,
               CAST(SUM(CAST(SIGN(re) * FLOOR(ABS(re) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS rate
        FROM (
            SELECT ((r1 + r2) / 2.0) * (w1 - w2) AS ce,
                   ((w1 + w2) / 2.0) * (r1 - r2) AS re
            FROM wide
        )
    )
    SELECT n_segments,
           CAST(CAST(SIGN(comp + rate) * FLOOR(ABS(comp + rate) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS total_gap,
           CAST(CAST(SIGN(comp) * FLOOR(ABS(comp) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS composition_effect,
           CAST(CAST(SIGN(rate) * FLOOR(ABS(rate) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS rate_effect
    FROM s
    """,
)
def q689(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    nat = T(spark, sf_dir, "nation")
    reg = T(spark, sf_dir, "region")
    base = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .where(F.col("r_name").isin("AMERICA", "ASIA"))
        .groupBy(
            F.col("r_name").alias("reg"), F.col("c_mktsegment").alias("seg")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("u"),
        )
    )
    from pandrs_spark.operators.util import tracked_persist

    base = tracked_persist(base)
    tot = base.groupBy("reg").agg(F.sum("n").cast("long").alias("tn"))
    wb = base.join(F.broadcast(tot), "reg")
    wide = (
        wb.groupBy("seg")
        .agg(
            F.max(
                F.when(
                    F.col("reg") == "AMERICA",
                    F.col("n").cast("double") / F.col("tn"),
                )
            ).alias("w1"),
            F.max(
                F.when(
                    F.col("reg") == "ASIA",
                    F.col("n").cast("double") / F.col("tn"),
                )
            ).alias("w2"),
            F.max(
                F.when(
                    F.col("reg") == "AMERICA",
                    F.col("u").cast("double") / F.col("n"),
                )
            ).alias("r1"),
            F.max(
                F.when(
                    F.col("reg") == "ASIA",
                    F.col("u").cast("double") / F.col("n"),
                )
            ).alias("r2"),
            F.count(F.lit(1)).alias("c"),
        )
        .where(F.col("c") == 2)
    )
    ce = ((F.col("r1") + F.col("r2")) / 2.0) * (F.col("w1") - F.col("w2"))
    re = ((F.col("w1") + F.col("w2")) / 2.0) * (F.col("r1") - F.col("r2"))
    s = wide.agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        dsum(ce, 9).alias("comp"),
        dsum(re, 9).alias("rate"),
    )
    return s.select(
        "n_segments",
        (quantize(F.col("comp") + F.col("rate"), 6) / 1e6).alias("total_gap"),
        (quantize("comp", 6) / 1e6).alias("composition_effect"),
        (quantize("rate", 6) / 1e6).alias("rate_effect"),
    )


# --- q690: direct + indirect standardization of urgent-order rates by
# nation — DSR_n applies each nation's segment rates to the GLOBAL
# segment mix; SMR_n = observed/expected applies global segment rates
# to the nation's own mix (the epidemiology pair; indirect is the
# stable choice for small strata). Missing nation×segment strata
# contribute zero by the standard convention. Bounded 25×5 grids over
# one exact rollup. ----------------------------------------------------------------
@query(
    "q690_rate_standardization",
    oracle="""
    WITH cell AS MATERIALIZED (
        SELECT nt.n_name AS nat, c.c_mktsegment AS seg,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS u
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nt ON nt.n_nationkey = c.c_nationkey
        GROUP BY nat, seg
    ),
    std AS (
        SELECT seg, CAST(SUM(n) AS BIGINT) AS sn, CAST(SUM(u) AS BIGINT) AS su
        FROM cell GROUP BY seg
    ),
    stot AS (SELECT CAST(SUM(sn) AS BIGINT) AS tn FROM std),
    pern AS (
        SELECT c.nat,
               CAST(SUM(c.n) AS BIGINT) AS n_obs,
               CAST(SUM(c.u) AS BIGINT) AS u_obs,
               CAST(SUM(CAST(SIGN(dsr_t) * FLOOR(ABS(dsr_t) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS dsr,
               CAST(SUM(CAST(SIGN(exp_t) * FLOOR(ABS(exp_t) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS expected
        FROM (
            SELECT c.nat, c.n, c.u,
                   (CAST(c.u AS DOUBLE) / c.n)
                       * (CAST(s.sn AS DOUBLE) / t.tn) AS dsr_t,
                   CAST(c.n AS DOUBLE)
                       * (CAST(s.su AS DOUBLE) / s.sn) AS exp_t
            FROM cell c JOIN std s ON s.seg = c.seg CROSS JOIN stot t
        ) c
        GROUP BY c.nat
    )
    SELECT nat AS nation, n_obs,
           CAST(CAST(SIGN(cr) * FLOOR(ABS(cr) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS crude_rate,
           CAST(CAST(SIGN(dsr) * FLOOR(ABS(dsr) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS direct_std_rate,
           CAST(CAST(SIGN(smr) * FLOOR(ABS(smr) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS smr
    FROM (
        SELECT nat, n_obs, dsr,
               CAST(u_obs AS DOUBLE) / n_obs AS cr,
               CAST(u_obs AS DOUBLE) / expected AS smr
        FROM pern
    )
    """,
)
def q690(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    nat = T(spark, sf_dir, "nation")
    cell = tracked_persist(
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nat"), F.col("c_mktsegment").alias("seg")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("u"),
        )
    )
    std = cell.groupBy("seg").agg(
        F.sum("n").cast("long").alias("sn"),
        F.sum("u").cast("long").alias("su"),
    )
    stot = std.agg(F.sum("sn").cast("long").alias("tn"))
    j = cell.join(F.broadcast(std), "seg").crossJoin(F.broadcast(stot))
    dsr_t = (F.col("u").cast("double") / F.col("n")) * (
        F.col("sn").cast("double") / F.col("tn")
    )
    exp_t = F.col("n").cast("double") * (
        F.col("su").cast("double") / F.col("sn")
    )
    pern = j.groupBy("nat").agg(
        F.sum("n").cast("long").alias("n_obs"),
        F.sum("u").cast("long").alias("u_obs"),
        dsum(dsr_t, 9).alias("dsr"),
        dsum(exp_t, 9).alias("expected"),
    )
    return pern.select(
        F.col("nat").alias("nation"),
        "n_obs",
        (
            quantize(F.col("u_obs").cast("double") / F.col("n_obs"), 6) / 1e6
        ).alias("crude_rate"),
        (quantize("dsr", 6) / 1e6).alias("direct_std_rate"),
        (
            quantize(F.col("u_obs").cast("double") / F.col("expected"), 6)
            / 1e6
        ).alias("smr"),
    )


# --- q691: Chapman (1951) capture-recapture estimate of the "true"
# customer population — treat 1995 and 1996 activity as two capture
# occasions: N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with the Seber variance; the
# coverage-diagnostic lens ("how many customers does the catalog ever
# see?") that data-quality audits borrow from ecology. Three exact
# distinct counts; the known registry size calibrates the estimator. ------------
@query(
    "q691_capture_recapture",
    oracle="""
    WITH a AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE EXTRACT(year FROM o_orderdate) = 1995
    ),
    b AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE EXTRACT(year FROM o_orderdate) = 1996
    ),
    s AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n1,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n2,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM a JOIN b USING (o_custkey)) AS m,
               (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
                FROM orders) AS ever
    )
    SELECT n1 AS captured_1995, n2 AS captured_1996, m AS recaptured,
           ever AS observed_ever,
           CAST(CAST(SIGN(nh) * FLOOR(ABS(nh) * 1e2 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e2 AS chapman_n_hat,
           CAST(CAST(SIGN(se) * FLOOR(ABS(se) * 1e2 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e2 AS chapman_se
    FROM (
        SELECT n1, n2, m, ever,
               (CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0 AS nh,
               SQRT((CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m) * (n2 - m))
                    / ((CAST(m + 1 AS DOUBLE) * (m + 1)) * (m + 2))) AS se
        FROM s
    )
    """,
)
def q691(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    a = (
        orders.where(F.year("o_orderdate") == 1995)
        .select("o_custkey")
        .distinct()
    )
    b = (
        orders.where(F.year("o_orderdate") == 1996)
        .select("o_custkey")
        .distinct()
    )
    n1 = a.agg(F.count(F.lit(1)).cast("long").alias("n1"))
    n2 = b.agg(F.count(F.lit(1)).cast("long").alias("n2"))
    m = a.join(b, "o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    ever = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("ever")
    )
    s = (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(ever))
    )
    nh = ((F.col("n1") + 1).cast("double") * (F.col("n2") + 1)) / (
        F.col("m") + 1
    ) - 1.0
    se = F.sqrt(
        (
            (F.col("n1") + 1).cast("double")
            * (F.col("n2") + 1)
            * (F.col("n1") - F.col("m"))
            * (F.col("n2") - F.col("m"))
        )
        / (
            ((F.col("m") + 1).cast("double") * (F.col("m") + 1))
            * (F.col("m") + 2)
        )
    )
    return s.select(
        F.col("n1").alias("captured_1995"),
        F.col("n2").alias("captured_1996"),
        F.col("m").alias("recaptured"),
        F.col("ever").alias("observed_ever"),
        (quantize(nh, 2) / 1e2).alias("chapman_n_hat"),
        (quantize(se, 2) / 1e2).alias("chapman_se"),
    )


# --- q692: Shorrocks (1978) mobility index of the spend-tier
# transition matrix — M = (k − tr(P))/(k − 1) over the row-normalized
# 1995→1996 tier transitions (q660's pairing): 0 = frozen hierarchy,
# 1 = origin-independent mixing (and > 1 possible under exchange
# mobility). Reported with the diagonal immobility share and the
# determinant-free trace pieces, all from exact cell counts. --------------------
@query(
    "q692_shorrocks_mobility",
    oracle="""
    WITH spend AS MATERIALIZED (
        SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS yr,
               CAST(SUM(CAST(SIGN(o_totalprice)
                             * FLOOR(ABS(o_totalprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS spq
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
        GROUP BY o_custkey, yr
    ),
    tiers AS (
        SELECT o_custkey, yr,
               CASE WHEN spq < 30000000 THEN 1
                    WHEN spq < 55000000 THEN 2 ELSE 3 END AS tier
        FROM spend
    ),
    paired AS MATERIALIZED (
        SELECT a.tier AS i, b.tier AS j
        FROM tiers a JOIN tiers b
          ON a.o_custkey = b.o_custkey AND a.yr = 1995 AND b.yr = 1996
    ),
    cell AS MATERIALIZED (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS c FROM paired GROUP BY i, j
    ),
    rows_ AS (SELECT i, CAST(SUM(c) AS BIGINT) AS r FROM cell GROUP BY i),
    s AS (
        SELECT CAST(SUM(cell.c) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN cell.i = cell.j THEN
                   CAST(SIGN(pd) * FLOOR(ABS(pd) * 1e9 + 0.5) AS BIGINT)
                   ELSE 0 END) AS DOUBLE) / 1e9 AS trace,
               CAST(SUM(CASE WHEN cell.i = cell.j THEN cell.c ELSE 0 END)
                    AS BIGINT) AS diag
        FROM (
            SELECT cell.i, cell.j, cell.c,
                   CAST(cell.c AS DOUBLE) / rows_.r AS pd
            FROM cell JOIN rows_ ON rows_.i = cell.i
        ) cell
    )
    SELECT n AS n_paired, diag AS n_immobile,
           CAST(CAST(SIGN(trace) * FLOOR(ABS(trace) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS trace_p,
           CAST(CAST(SIGN((3.0 - trace) / 2.0)
                     * FLOOR(ABS((3.0 - trace) / 2.0) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS shorrocks_m,
           CAST(CAST(SIGN(CAST(diag AS DOUBLE) / n)
                     * FLOOR(ABS(CAST(diag AS DOUBLE) / n) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS immobility_share
    FROM s
    """,
)
def q692(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    spend = (
        orders.where(F.year("o_orderdate").isin(1995, 1996))
        .groupBy("o_custkey", F.year("o_orderdate").alias("yr"))
        .agg(F.sum(quantize("o_totalprice", 2)).cast("long").alias("spq"))
    )
    tiers = spend.select(
        "o_custkey",
        "yr",
        F.when(F.col("spq") < 30000000, 1)
        .when(F.col("spq") < 55000000, 2)
        .otherwise(3)
        .alias("tier"),
    )
    a = tiers.where(F.col("yr") == 1995).select(
        "o_custkey", F.col("tier").alias("i")
    )
    b = tiers.where(F.col("yr") == 1996).select(
        "o_custkey", F.col("tier").alias("j")
    )
    cell = tracked_persist(
        a.join(b, "o_custkey")
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    rows_ = cell.groupBy("i").agg(F.sum("c").cast("long").alias("r"))
    j = cell.join(F.broadcast(rows_), "i")
    pd_ = F.col("c").cast("double") / F.col("r")
    s = j.agg(
        F.sum("c").cast("long").alias("n"),
        (
            F.sum(
                F.when(F.col("i") == F.col("j"), quantize(pd_, 9)).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).cast("double")
            / 1e9
        ).alias("trace"),
        F.sum(F.when(F.col("i") == F.col("j"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("diag"),
    )
    return s.select(
        F.col("n").alias("n_paired"),
        F.col("diag").alias("n_immobile"),
        (quantize("trace", 6) / 1e6).alias("trace_p"),
        (quantize((3.0 - F.col("trace")) / 2.0, 6) / 1e6).alias(
            "shorrocks_m"
        ),
        (
            quantize(F.col("diag").cast("double") / F.col("n"), 6) / 1e6
        ).alias("immobility_share"),
    )
