"""Statistics queries (SURVEY.md §2.12): describe, Welch t-test,
correlation/covariance matrix, chi-square independence + Cramér's V,
histograms, quantiles, mode/nunique, higher moments (skew/kurtosis).

Design for 100 TB: every test statistic is computed from *distributed
exact sufficient statistics* (decimal-quantized sums — see
functions/deterministic.py); only the final scalar formula runs on the
aggregated row. The reference computes these single-node
(src/stats/mod.rs, src/stats/hypothesis.rs); here the heavy pass is a
plain groupBy that scales linearly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandrs_spark.catalog import load_table as T, register_views
from pandrs_spark.functions.deterministic import CORR_FORMULA, dsum, sql_dsum, sql_quantize
from pandrs_spark.operators.util import small_local_df
from pandrs_spark.queries import query


# --- q56: describe() per group (§2.12 describe :157) ------------------------
@query(
    "q56_describe_acctbal",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(c_acctbal) AS n,
           ROUND({sql_dsum('c_acctbal')} / COUNT(c_acctbal), 6) AS mean,
           ROUND(SQRT(({sql_dsum('c_acctbal * c_acctbal', 4)}
                 - {sql_dsum('c_acctbal')} * {sql_dsum('c_acctbal')} / COUNT(c_acctbal))
                 / (COUNT(c_acctbal) - 1)), 6) AS std,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           ROUND(quantile_cont(c_acctbal, 0.5), 6) AS median
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q56(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    stats = cust.groupBy("c_mktsegment").agg(
        F.count("c_acctbal").alias("n"),
        dsum("c_acctbal").alias("sx"),
        dsum(F.col("c_acctbal") * F.col("c_acctbal"), 4).alias("sxx"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        F.percentile("c_acctbal", F.lit(0.5)).alias("med"),
    )
    return stats.select(
        "c_mktsegment",
        "n",
        F.round(F.expr("sx / n"), 6).alias("mean"),
        F.round(F.expr("SQRT((sxx - sx * sx / n) / (n - 1))"), 6).alias("std"),
        "min_bal",
        "max_bal",
        F.round("med", 6).alias("median"),
    ).orderBy("c_mktsegment")


# --- q57: Welch two-sample t-test from sufficient stats (§2.12 ttest :255) --
_WELCH_T = (
    "((sx1 / n1) - (sx2 / n2)) / "
    "SQRT(((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1 "
    "   + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2)"
)


@query(
    "q57_welch_ttest_segments",
    oracle=f"""
    WITH s1 AS (
        SELECT COUNT(c_acctbal) AS n1, {sql_dsum('c_acctbal')} AS sx1,
               {sql_dsum('c_acctbal * c_acctbal', 4)} AS sxx1
        FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    s2 AS (
        SELECT COUNT(c_acctbal) AS n2, {sql_dsum('c_acctbal')} AS sx2,
               {sql_dsum('c_acctbal * c_acctbal', 4)} AS sxx2
        FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ROUND((sx1 / n1) - (sx2 / n2), 6) AS mean_diff,
           ROUND({_WELCH_T}, 6) AS t_stat
    FROM s1, s2
    """,
)
def q57(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")

    def stats(seg, i):
        return (
            cust.filter(F.col("c_mktsegment") == seg)
            .agg(
                F.count("c_acctbal").alias(f"n{i}"),
                dsum("c_acctbal").alias(f"sx{i}"),
                dsum(F.col("c_acctbal") * F.col("c_acctbal"), 4).alias(f"sxx{i}"),
            )
        )

    joined = stats("BUILDING", 1).crossJoin(stats("MACHINERY", 2))
    return joined.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(F.expr("(sx1 / n1) - (sx2 / n2)"), 6).alias("mean_diff"),
        F.round(F.expr(_WELCH_T), 6).alias("t_stat"),
    )


# --- q58: pairwise correlation/covariance matrix (§2.12 :188,207) -----------
_PAIR_CORR = (
    "(n * sxy - sx * sy) / "
    "(SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))"
)
_PAIR_COV = "(sxy - sx * sy / n) / (n - 1)"


def _pair_sql(x: str, y: str, label: str, fx: float, fy: float) -> str:
    # columns normalize by fixed per-column divisors BEFORE the
    # quantized sums (price is 1e5-magnitude, so raw x*y at scale 4
    # overflowed int64 at sf0.1 — round 11's first full second-SF
    # gate); corr is invariant under the rescale, cov multiplies back
    # by fx*fy after the shared formula
    xs, ys = f"({x} / {fx!r})", f"({y} / {fy!r})"
    return f"""
    SELECT '{label}' AS pair,
           ROUND({_PAIR_CORR}, 6) AS corr,
           ROUND(({_PAIR_COV}) * {fx!r} * {fy!r}, 6) AS cov
    FROM (
        SELECT COUNT(*) AS n,
               {sql_dsum(xs, 6)} AS sx, {sql_dsum(ys, 6)} AS sy,
               {sql_dsum(f'{xs} * {xs}', 6)} AS sxx,
               {sql_dsum(f'{ys} * {ys}', 6)} AS syy,
               {sql_dsum(f'{xs} * {ys}', 6)} AS sxy
        FROM lineitem
    ) t
    """


@query(
    "q58_corr_cov_matrix",
    oracle=" UNION ALL ".join(
        [
            _pair_sql("l_quantity", "l_extendedprice", "qty_price", 1.0, 1e4),
            _pair_sql("l_quantity", "l_discount", "qty_disc", 1.0, 1.0),
            _pair_sql(
                "l_extendedprice", "l_discount", "price_disc", 1e4, 1.0
            ),
        ]
    )
    + " ORDER BY pair",
)
def q58(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")

    def pair(x, y, label, fx, fy):
        # per-column normalization before the quantized sums (price is
        # 1e5-magnitude: raw x*y at scale 4 overflowed int64 at sf0.1
        # — round 11's first full second-SF gate). corr is invariant
        # under the rescale; cov multiplies back by fx*fy after the
        # shared formula, so the output units are unchanged.
        cx, cy = F.col(x) / F.lit(fx), F.col(y) / F.lit(fy)
        st = li.agg(
            F.count(F.lit(1)).alias("n"),
            dsum(cx, 6).alias("sx"),
            dsum(cy, 6).alias("sy"),
            dsum(cx * cx, 6).alias("sxx"),
            dsum(cy * cy, 6).alias("syy"),
            dsum(cx * cy, 6).alias("sxy"),
        )
        return st.select(
            F.lit(label).alias("pair"),
            F.round(F.expr(_PAIR_CORR), 6).alias("corr"),
            F.round(F.expr(f"({_PAIR_COV}) * {fx!r} * {fy!r}"), 6).alias(
                "cov"
            ),
        )

    return (
        pair("l_quantity", "l_extendedprice", "qty_price", 1.0, 1e4)
        .unionByName(pair("l_quantity", "l_discount", "qty_disc", 1.0, 1.0))
        .unionByName(
            pair("l_extendedprice", "l_discount", "price_disc", 1e4, 1.0)
        )
        .orderBy("pair")
    )


# --- q59: chi-square independence + Cramér's V (§2.12 :464,488) -------------
@query(
    "q59_chi_square_flag_status",
    oracle="""
    WITH obs AS (
        SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS o
        FROM lineitem GROUP BY rf, ls
    ),
    tot AS (SELECT CAST(SUM(o) AS DOUBLE) AS n FROM obs),
    margins AS (
        SELECT o.rf, o.ls, o.o,
               SUM(o.o) OVER (PARTITION BY o.rf) AS row_tot,
               SUM(o.o) OVER (PARTITION BY o.ls) AS col_tot
        FROM obs o
    ),
    cells AS (
        SELECT rf, ls, o,
               CAST(row_tot AS DOUBLE) * col_tot / (SELECT n FROM tot) AS e
        FROM margins
    )
    SELECT ROUND(CAST(SUM(CAST(ROUND((o - e) * (o - e) / e, 6) AS DECIMAL(32, 6))) AS DOUBLE), 4) AS chi2,
           ROUND(SQRT(CAST(SUM(CAST(ROUND((o - e) * (o - e) / e, 6) AS DECIMAL(32, 6))) AS DOUBLE)
                 / ((SELECT n FROM tot) * LEAST(3 - 1, 2 - 1))), 6) AS cramers_v,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM cells
    """,
)
def q59(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql.types import DecimalType

    li = T(spark, sf_dir, "lineitem")
    obs = li.groupBy(
        F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")
    ).agg(F.count(F.lit(1)).alias("o"))
    obs = obs.withColumn("row_tot", F.sum("o").over(Window.partitionBy("rf")))
    obs = obs.withColumn("col_tot", F.sum("o").over(Window.partitionBy("ls")))
    obs = obs.withColumn("n", F.sum("o").over(Window.partitionBy()).cast("double"))
    cells = obs.withColumn(
        "e", F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    )
    contrib = F.round(
        (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"), 6
    ).cast(DecimalType(32, 6))
    return cells.groupBy().agg(
        F.round(F.sum(contrib).cast("double"), 4).alias("chi2"),
        F.round(
            F.sqrt(
                F.sum(contrib).cast("double")
                / (F.first("n") * F.least(F.lit(3 - 1), F.lit(2 - 1)))
            ),
            6,
        ).alias("cramers_v"),
        F.count(F.lit(1)).alias("n_cells"),
    )


# --- q60: histogram via fixed-width binning (§2.9 cut :2339) ----------------
@query(
    "q60_totalprice_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 25000) AS INTEGER) AS bin,
           COUNT(*) AS cnt,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS share
    FROM orders
    GROUP BY bin
    ORDER BY bin
    """,
)
def q60(spark, sf_dir):
    from pyspark.sql import Window

    orders = T(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 25000).cast("int").alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "share",
            F.round(F.col("cnt") * 1.0 / F.sum("cnt").over(Window.partitionBy()), 6),
        )
        .orderBy("bin")
    )


# --- q61: quartiles per group (exact interpolated percentile) ---------------
@query(
    "q61_quantity_quartiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS q50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q61(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("q25"),
            F.round(F.percentile("l_quantity", F.lit(0.50)), 6).alias("q50"),
            F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("q75"),
        )
        .orderBy("l_returnflag")
    )


# --- q62: mode / nunique (§2.4 value_counts/mode/nunique) -------------------
@query(
    "q62_mode_nunique",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag, l_quantity, COUNT(*) AS c
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    ranked AS (
        SELECT l_returnflag, l_quantity, c,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY c DESC, l_quantity) AS rn
        FROM counts
    )
    SELECT r.l_returnflag,
           r.l_quantity AS mode_qty,
           r.c AS mode_count,
           u.n_qty,
           u.n_parts
    FROM ranked r
    JOIN (
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_qty,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
        FROM lineitem GROUP BY l_returnflag
    ) u ON u.l_returnflag = r.l_returnflag
    WHERE r.rn = 1
    ORDER BY r.l_returnflag
    """,
)
def q62(spark, sf_dir):
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), "l_quantity")
    mode = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("c").alias("mode_count"),
        )
    )
    uniq = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_quantity").alias("n_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    return mode.join(uniq, "l_returnflag").orderBy("l_returnflag")


# --- q63: skewness/kurtosis from exact power sums (§2.4 skew/kurt) ----------
_SKEW = (
    "((sxxx / n) - 3 * (sx / n) * (sxx / n) + 2 * POWER(sx / n, 3)) / "
    "POWER((sxx / n) - POWER(sx / n, 2), 1.5)"
)
_KURT = (
    "((sxxxx / n) - 4 * (sx / n) * (sxxx / n) + 6 * POWER(sx / n, 2) * (sxx / n) "
    "- 3 * POWER(sx / n, 4)) / POWER((sxx / n) - POWER(sx / n, 2), 2) - 3"
)


@query(
    "q63_quantity_moments",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(l_quantity) AS n,
               {sql_dsum('l_quantity', 6)} AS sx,
               {sql_dsum('l_quantity * l_quantity', 6)} AS sxx,
               {sql_dsum('l_quantity * l_quantity * l_quantity', 6)} AS sxxx,
               {sql_dsum('l_quantity * l_quantity * l_quantity * l_quantity', 6)} AS sxxxx
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND(sx / n, 6) AS mean_qty,
           ROUND({_SKEW}, 6) AS skewness,
           ROUND({_KURT}, 6) AS excess_kurtosis
    FROM s
    ORDER BY l_returnflag
    """,
)
def q63(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    s = li.groupBy("l_returnflag").agg(
        F.count("l_quantity").alias("n"),
        dsum(q, 6).alias("sx"),
        dsum(q * q, 6).alias("sxx"),
        dsum(q * q * q, 6).alias("sxxx"),
        dsum(q * q * q * q, 6).alias("sxxxx"),
    )
    return s.select(
        "l_returnflag",
        F.round(F.expr("sx / n"), 6).alias("mean_qty"),
        F.round(F.expr(_SKEW), 6).alias("skewness"),
        F.round(F.expr(_KURT), 6).alias("excess_kurtosis"),
    ).orderBy("l_returnflag")


# --- q64: SQL entry point — identical SQL text on both engines (§3.3) -------
_SHARED_SQL = f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@query("q64_sql_passthrough", oracle=_SHARED_SQL)
def q64(spark, sf_dir):
    """spark.sql() over registered temp views — the same SQL string runs
    on Spark and on the DuckDB oracle (ANSI subset + deterministic
    decimal aggregation)."""
    register_views(spark, sf_dir)
    return spark.sql(_SHARED_SQL)


# --- q185: named SQL function registration (reference
# QueryContext::add_function, src/dataframe/query/evaluator.rs:146).
# A vectorized (pandas) UDF registered under a NAME and called inside a
# spark.sql string — the SQL text uses quantize100() where the DuckDB
# oracle inlines the identical formula, so the registered-function path
# itself is value-hashed. --------------------------------------------------
@query(
    "q185_registered_udf_revenue",
    oracle="""
    SELECT l_returnflag,
           (CAST(SUM(CAST(SIGN(l_extendedprice) *
                FLOOR(ABS(l_extendedprice) * 100.0 + 0.5) AS BIGINT))
             AS DOUBLE) / 100.0) AS sum_price,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q185(spark, sf_dir):
    from pandrs_spark.functions.registry import register_builtin_functions

    register_builtin_functions(spark)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(CAST(quantize100(l_extendedprice) AS BIGINT))
                    AS DOUBLE) / 100.0 AS sum_price,
               COUNT(*) AS n_items
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


# --- q104: correlation significance test (§2.12,
# src/stats/hypothesis.rs:556) -----------------------------------------------
# Pearson r from exact quantized sums, then t = r*sqrt((n-2)/(1-r^2)) —
# the full test reduces to one partial-aggregated pass over lineitem.
_CORR_R = (
    "(n * sxy - sx * sy) / "
    "(SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))"
)


@query(
    "q104_correlation_test",
    oracle=f"""
    WITH sums AS (
        SELECT COUNT(*) AS n,
               {sql_dsum('l_quantity')} AS sx,
               {sql_dsum('l_extendedprice')} AS sy,
               {sql_dsum('l_quantity * l_quantity', 4)} AS sxx,
               {sql_dsum('l_extendedprice * l_extendedprice', 0)} AS syy,
               {sql_dsum('l_quantity * l_extendedprice', 2)} AS sxy
        FROM lineitem
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND({_CORR_R}, 6) AS r,
           ROUND(({_CORR_R}) * SQRT((n - 2) / (1 - ({_CORR_R}) * ({_CORR_R}))), 6) AS t_stat
    FROM sums
    """,
)
def q104(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    sums = li.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("sx"),
        dsum("l_extendedprice").alias("sy"),
        dsum(F.col("l_quantity") * F.col("l_quantity"), 4).alias("sxx"),
        dsum(F.col("l_extendedprice") * F.col("l_extendedprice"), 0).alias("syy"),
        dsum(F.col("l_quantity") * F.col("l_extendedprice"), 2).alias("sxy"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.expr(_CORR_R), 6).alias("r"),
        F.round(
            F.expr(f"({_CORR_R}) * SQRT((n - 2) / (1 - ({_CORR_R}) * ({_CORR_R})))"),
            6,
        ).alias("t_stat"),
    )


# --- q126: robust dispersion tier (compat iqr :4269, cv :4273, sem :3618,
# mad :1617, harmonic_mean :4265). Medians/quartiles use exact linear-
# interpolation percentile (identical definition in Spark `percentile`
# and DuckDB `quantile_cont`); MAD is a two-pass median of absolute
# deviations from the group median; the harmonic mean sums reciprocals
# at scale 12 (values ≥ ~1e-4 ⇒ well inside the int64 envelope) --------------
@query(
    "q126_robust_dispersion",
    oracle=f"""
    WITH med AS (
        SELECT c_mktsegment,
               COUNT(c_acctbal) AS n,
               {sql_dsum('c_acctbal')} AS sx,
               {sql_dsum('c_acctbal * c_acctbal', 4)} AS sxx,
               quantile_cont(c_acctbal, 0.25) AS q25,
               quantile_cont(c_acctbal, 0.5) AS q50,
               quantile_cont(c_acctbal, 0.75) AS q75,
               COUNT(CASE WHEN c_acctbal > 0 THEN 1 END) AS n_pos,
               {sql_dsum('CASE WHEN c_acctbal > 0 THEN 1.0 / c_acctbal END', 12)} AS s_inv
        FROM customer GROUP BY c_mktsegment
    ),
    mad AS (
        SELECT c.c_mktsegment,
               quantile_cont(ABS(c.c_acctbal - m.q50), 0.5) AS mad
        FROM customer c JOIN med m USING (c_mktsegment)
        GROUP BY c.c_mktsegment
    )
    SELECT m.c_mktsegment,
           ROUND(m.q75 - m.q25, 6) AS iqr,
           ROUND(d.mad, 6) AS mad,
           ROUND(SQRT((m.sxx - m.sx * m.sx / m.n) / (m.n - 1)) / (m.sx / m.n), 6) AS cv,
           ROUND(SQRT((m.sxx - m.sx * m.sx / m.n) / (m.n - 1)) / SQRT(m.n), 6) AS sem,
           ROUND(m.n_pos / m.s_inv, 6) AS harmonic_mean
    FROM med m JOIN mad d USING (c_mktsegment)
    ORDER BY c_mktsegment
    """,
)
def q126(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    med = cust.groupBy("c_mktsegment").agg(
        F.count("c_acctbal").alias("n"),
        dsum("c_acctbal").alias("sx"),
        dsum(F.col("c_acctbal") * F.col("c_acctbal"), 4).alias("sxx"),
        F.expr("percentile(c_acctbal, 0.25)").alias("q25"),
        F.expr("percentile(c_acctbal, 0.5)").alias("q50"),
        F.expr("percentile(c_acctbal, 0.75)").alias("q75"),
        F.count(F.when(F.col("c_acctbal") > 0, 1)).alias("n_pos"),
        dsum(
            F.when(F.col("c_acctbal") > 0, 1.0 / F.col("c_acctbal")), 12
        ).alias("s_inv"),
    )
    mad = (
        cust.join(F.broadcast(med.select("c_mktsegment", "q50")), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.expr("percentile(abs(c_acctbal - q50), 0.5)").alias("mad")
        )
    )
    return (
        med.join(mad, "c_mktsegment")
        .selectExpr(
            "c_mktsegment",
            "ROUND(q75 - q25, 6) AS iqr",
            "ROUND(mad, 6) AS mad",
            "ROUND(SQRT((sxx - sx * sx / n) / (n - 1)) / (sx / n), 6) AS cv",
            "ROUND(SQRT((sxx - sx * sx / n) / (n - 1)) / SQRT(n), 6) AS sem",
            "ROUND(n_pos / s_inv, 6) AS harmonic_mean",
        )
        .orderBy("c_mktsegment")
    )


# --- q136: IQR-rule outlier detection (src/stats/mod.rs detect_outliers
# :721, IQR arm; the z-score arm is q45). Quartiles per priority class
# via exact interpolated percentile; the 1.5×IQR fences are broadcast
# back — two passes over the fact table, no sort of raw rows -----------------
@query(
    "q136_iqr_outliers",
    oracle="""
    WITH fences AS (
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.25) AS q1,
               quantile_cont(o_totalprice, 0.75) AS q3
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o.o_totalprice < f.q1 - 1.5 * (f.q3 - f.q1)
                           OR o.o_totalprice > f.q3 + 1.5 * (f.q3 - f.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(MAX(CASE WHEN o.o_totalprice > f.q3 + 1.5 * (f.q3 - f.q1)
                          THEN o.o_totalprice END), 2) AS max_outlier,
           ROUND(f.q3 + 1.5 * (f.q3 - f.q1), 6) AS upper_fence
    FROM orders o JOIN fences f USING (o_orderpriority)
    GROUP BY o.o_orderpriority, f.q1, f.q3
    ORDER BY o.o_orderpriority
    """,
)
def q136(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    fences = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        orders.join(F.broadcast(fences), "o_orderpriority")
        .groupBy("o_orderpriority", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                ((F.col("o_totalprice") < lo) | (F.col("o_totalprice") > hi)).cast(
                    "long"
                )
            ).alias("n_outliers"),
            F.round(
                F.max(F.when(F.col("o_totalprice") > hi, F.col("o_totalprice"))), 2
            ).alias("max_outlier"),
        )
        .select(
            "o_orderpriority",
            "n",
            "n_outliers",
            "max_outlier",
            F.round(hi, 6).alias("upper_fence"),
        )
        .orderBy("o_orderpriority")
    )


# --- q139: engine-reproducible sampling (src/stats/mod.rs sample :310).
# rand(seed) is engine-specific, so the sample predicate is an md5
# prefix on the key — identical rows selected on any engine, any
# partitioning, any cluster size; per-stratum rates concentrate around
# the nominal 1/16 -----------------------------------------------------------
@query(
    "q139_deterministic_sample",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2)
                              <= '0f' THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
           ROUND(SUM(CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2)
                               <= '0f' THEN 1 ELSE 0 END) / COUNT(*), 4)
               AS sample_rate
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q139(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    picked = (
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2) <= "0f"
    ).cast("long")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(picked).alias("n_sample"),
            F.round(F.sum(picked) / F.count(F.lit(1)), 4).alias("sample_rate"),
        )
        .orderBy("c_mktsegment")
    )


# --- q154: geometric + harmonic means per return flag (compat
# geometric_mean :4265, harmonic_mean :4273) — exp(mean(ln x)) /
# n/sum(1/x) over quantized sums, one grouped aggregation --------------------
@query(
    "q154_geometric_harmonic_means",
    oracle=f"""
    SELECT l_returnflag,
           ROUND(EXP({sql_dsum('LN(l_extendedprice)', 9)} / COUNT(*)), 4) AS geo_mean,
           ROUND(COUNT(*) / {sql_dsum('1.0 / l_extendedprice', 12)}, 4) AS harm_mean
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q154(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.exp(dsum(F.log("l_extendedprice"), 9) / n), 4).alias("geo_mean"),
            F.round(n / dsum(F.lit(1.0) / F.col("l_extendedprice"), 12), 4).alias("harm_mean"),
        )
        .orderBy("l_returnflag")
    )


# --- q157: stratified class-rebalancing sample (sampleBy semantics,
# engine-reproducible md5 buckets; reference sample :310 + the
# training-pipeline downsample/upweight primitive) ---------------------------
@query(
    "q157_stratified_rebalance",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_total,
           CAST(SUM(CASE
               WHEN l_returnflag = 'A'
                    AND substr(md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 4) <= '3332' THEN 1
               WHEN l_returnflag = 'N'
                    AND substr(md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 4) <= '0ccc' THEN 1
               WHEN l_returnflag = 'R'
                    AND substr(md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 4) <= '7fff' THEN 1
               ELSE 0 END) AS BIGINT) AS n_sample
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q157(spark, sf_dir):
    from pandrs_spark.operators.sampling import stratified_sample

    li = T(spark, sf_dir, "lineitem")
    picked = stratified_sample(
        li, "l_returnflag", {"A": 0.2, "N": 0.05, "R": 0.5},
        key_cols=["l_orderkey", "l_linenumber"],
    )
    totals = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_total"))
    sampled = picked.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_sample"))
    return (
        totals.join(sampled, "l_returnflag", "left")
        .select(
            "l_returnflag",
            "n_total",
            F.coalesce("n_sample", F.lit(0)).alias("n_sample"),
        )
        .orderBy("l_returnflag")
    )


# --- q166: Benford first-digit audit over order totals (data-quality
# forensics: fabricated numerics drift from log-uniform digits). First
# significant digit via decimal rendering (engine-stable, no log10
# boundary risk); chi-square vs the Benford expectation ----------------------
@query(
    "q166_benford_digit_audit",
    oracle="""
    WITH digits AS (
        SELECT CAST(regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]') AS INT) AS d
        FROM orders
    ),
    obs AS (SELECT d, COUNT(*) AS o FROM digits GROUP BY d),
    n_tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    filled AS (
        SELECT g.d,
               COALESCE(obs.o, 0) AS o,
               n_tot.n * LOG10(1.0 + 1.0 / g.d) AS e
        FROM generate_series(1, 9) AS g(d)
        LEFT JOIN obs ON obs.d = g.d
        CROSS JOIN n_tot
    )
    SELECT CAST(d AS INT) AS digit,
           CAST(o AS BIGINT) AS observed,
           ROUND(e, 4) AS expected,
           ROUND(SUM((o - e) * (o - e) / e) OVER (), 4) AS chi2
    FROM filled
    ORDER BY digit
    """,
)
def q166(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    digits = orders.select(
        F.regexp_extract(F.col("o_totalprice").cast("string"), "[1-9]", 0)
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("o"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    n = digits.count()
    full = (
        grid.join(obs.withColumnRenamed("d", "digit"), "digit", "left")
        .select(
            "digit",
            F.coalesce("o", F.lit(0)).alias("observed"),
            (F.lit(float(n)) * F.log10(1.0 + 1.0 / F.col("digit"))).alias("e"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy()
    return (
        full.select(
            "digit",
            "observed",
            F.round("e", 4).alias("expected"),
            F.round(
                F.sum(
                    (F.col("observed") - F.col("e"))
                    * (F.col("observed") - F.col("e"))
                    / F.col("e")
                ).over(w),
                4,
            ).alias("chi2"),
        )
        .orderBy("digit")
    )


# --- q182: sketch-based approximate quantiles with the accuracy bound
# INSIDE the gate. approx_percentile is Spark's KLL-style mergeable
# sketch — the only quantile that scales to 100 TB (exact percentile
# needs a global sort). The query computes both the sketch estimate and
# the exact per-group percentile, and emits booleans asserting the
# sketch landed within the rank-error tolerance; the oracle recomputes
# the group count and pins the bounds TRUE. -----------------------------------
@query(
    "q182_approx_quantile_accuracy",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS p50_within_tolerance,
           TRUE AS p95_within_tolerance
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q182(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    acc = 1000  # rank error <= 1/acc of the group size
    per = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"approx_percentile(o_totalprice, 0.5, {acc})").alias("ap50"),
        F.expr(f"approx_percentile(o_totalprice, 0.95, {acc})").alias("ap95"),
        F.expr("percentile(o_totalprice, 0.5)").alias("ex50"),
        F.expr("percentile(o_totalprice, 0.95)").alias("ex95"),
        # rank tolerance translated to value space: the sketch must land
        # within one percentile point of exact (10x looser than the
        # sketch's 1/acc guarantee, tight enough to catch a broken
        # sketch, and wide enough for interpolation effects on the
        # smallest SF's ~300-row groups)
        F.expr("percentile(o_totalprice, 0.49)").alias("lo50"),
        F.expr("percentile(o_totalprice, 0.51)").alias("hi50"),
        F.expr("percentile(o_totalprice, 0.94)").alias("lo95"),
        F.expr("percentile(o_totalprice, 0.96)").alias("hi95"),
    )
    return per.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n"),
        ((F.col("ap50") >= F.col("lo50")) & (F.col("ap50") <= F.col("hi50"))).alias(
            "p50_within_tolerance"
        ),
        ((F.col("ap95") >= F.col("lo95")) & (F.col("ap95") <= F.col("hi95"))).alias(
            "p95_within_tolerance"
        ),
    ).orderBy("o_orderpriority")


# --- q199: mergeable HLL sketch rollup — distinct customers per order
# year answered by UNIONING the 12 monthly sketches (one data pass;
# the quarter/year/all-time rollup pattern at 100 TB). The gate is an
# in-query accuracy certificate: the sketch estimate must land within
# 3% of the exact count, and the hashed output carries the exact count
# plus the boolean — same invariant-gating as q182.
# operators/sketches.py:hll_rollup. ---------------------------------------
@query(
    "q199_hll_distinct_rollup",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           CAST(COUNT(DISTINCT EXTRACT(month FROM o_orderdate)) AS BIGINT)
               AS n_fine_buckets,
           TRUE AS within_tolerance
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def q199(spark, sf_dir):
    from pandrs_spark.operators.sketches import hll_rollup

    orders = T(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
        "o_custkey",
    )
    approx = hll_rollup(
        orders, ["year", "month"], ["year"], "o_custkey", lg_k=14
    )
    exact = orders.groupBy("year").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return (
        approx.join(exact, "year")
        .select(
            "year",
            "exact_distinct",
            "n_fine_buckets",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                < 0.03
            ).alias("within_tolerance"),
        )
        .orderBy("year")
    )


# --- q212: count-min-sketch heavy hitters — a 4x1024 counter grid
# summarizes part frequencies in fixed memory; the top-10 parts by
# sketch estimate carry their exact counts and the CMS one-sided
# guarantee (est >= exact) through the hash gate. The md5-derived
# bucket hashing replays bit-for-bit in DuckDB, so the sketch itself
# is oracle-verified, not just the invariant.
# operators/sketches.py:cms_build/cms_estimate. ---------------------------
@query(
    "q212_cms_heavy_hitters",
    oracle="""
    WITH d AS (SELECT i FROM UNNEST(generate_series(0, 3)) AS t(i)),
    keys AS (SELECT CAST(l_partkey AS VARCHAR) AS k, COUNT(*) AS exact_count
             FROM lineitem GROUP BY 1),
    hashed AS (
        SELECT d.i,
               ((268435456 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 1, 1)) - 1) + 16777216 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 2, 1)) - 1) + 1048576 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 3, 1)) - 1) + 65536 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 4, 1)) - 1) + 4096 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 5, 1)) - 1) + 256 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 6, 1)) - 1) + 16 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 7, 1)) - 1) + 1 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 8, 1)) - 1)) % 1024) AS b,
               k, exact_count
        FROM keys, d
    ),
    sketch AS (
        SELECT i, ((268435456 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 1, 1)) - 1) + 16777216 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 2, 1)) - 1) + 1048576 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 3, 1)) - 1) + 65536 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 4, 1)) - 1) + 4096 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 5, 1)) - 1) + 256 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 6, 1)) - 1) + 16 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 7, 1)) - 1) + 1 * (strpos('0123456789abcdef', substr(substr(md5('cms|' || d.i || '|' || k), 1, 8), 8, 1)) - 1)) % 1024) AS b, COUNT(*) AS c
        FROM (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem), d
        GROUP BY 1, 2
    ),
    est AS (
        SELECT h.k, h.exact_count, MIN(COALESCE(s.c, 0)) AS est_count
        FROM hashed h LEFT JOIN sketch s ON h.i = s.i AND h.b = s.b
        GROUP BY h.k, h.exact_count
    )
    SELECT CAST(k AS BIGINT) AS l_partkey,
           CAST(est_count AS BIGINT) AS est_count,
           CAST(exact_count AS BIGINT) AS exact_count,
           est_count >= exact_count AS never_undercounts
    FROM est
    ORDER BY est_count DESC, l_partkey LIMIT 10
    """,
)
def q212(spark, sf_dir):
    from pandrs_spark.operators.sketches import cms_build, cms_estimate

    li = T(spark, sf_dir, "lineitem").select("l_partkey")
    sketch = cms_build(li, "l_partkey", depth=4, width=1024)
    est = cms_estimate(sketch, li, "l_partkey", depth=4, width=1024)
    exact = li.groupBy(F.col("l_partkey").cast("string").alias("l_partkey")).agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return (
        est.join(exact, "l_partkey")
        .select(
            F.col("l_partkey").cast("bigint").alias("l_partkey"),
            "est_count",
            "exact_count",
            (F.col("est_count") >= F.col("exact_count")).alias(
                "never_undercounts"
            ),
        )
        .orderBy(F.desc("est_count"), "l_partkey")
        .limit(10)
    )


# --- q225: grouped OLS — an independent simple regression per group
# (the "millions of models" pattern: one aggregate computes every
# group's sufficient statistics; the closed-form solve is a scalar
# projection — no per-group iteration, no Python). price ~ quantity
# per return flag. ------------------------------------------------------------
@query(
    "q225_grouped_ols",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               {sql_dsum("l_quantity", 4)} AS sx,
               {sql_dsum("l_extendedprice", 4)} AS sy,
               {sql_dsum("l_quantity * l_quantity", 4)} AS sxx,
               {sql_dsum("l_quantity * l_extendedprice", 4)} AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept
    FROM s ORDER BY l_returnflag
    """,
)
def q225(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity", 4).alias("sx"),
        dsum("l_extendedprice", 4).alias("sy"),
        dsum(F.col("l_quantity") * F.col("l_quantity"), 4).alias("sxx"),
        dsum(F.col("l_quantity") * F.col("l_extendedprice"), 4).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    ).orderBy("l_returnflag")


# --- q236: Gini coefficient + Lorenz deciles of customer spend —
# inequality audit over per-customer revenue. Needs a GLOBAL value
# rank; built on the partition-offset prefix-sum primitive (q216's)
# so neither the rank nor the cumulative share funnels into one task.
# Gini via the rank formula G = 2*Σ(i*x_i)/(n*Σx) - (n+1)/n on the
# exact quantized sums. ------------------------------------------------------
@query(
    "q236_gini_customer_spend",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey, {sql_dsum("o_totalprice", 2)} AS s
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT s, ROW_NUMBER() OVER (ORDER BY s, o_custkey) AS i
        FROM spend
    ),
    tot AS (
        SELECT COUNT(*) AS n, {sql_dsum("s", 2)} AS sx,
               {sql_dsum("i * s", 2)} AS six
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(2.0 * six / (n * sx) - (n + 1.0) / n, 6) AS gini
    FROM tot
    """,
)
def q236(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_sum

    orders = T(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        dsum("o_totalprice", 2).alias("s")
    )
    ranked = global_prefix_sum(
        spend, [F.asc("s"), F.asc("o_custkey")], F.lit(1.0), "i", scale=0
    )
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("s", 2).alias("sx"),
        dsum(F.col("i") * F.col("s"), 2).alias("six"),
    )
    return tot.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(
            2.0 * F.col("six") / (F.col("n") * F.col("sx"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


# --- q245: 2-D histogram (hexbin-style density grid) — joint
# quantity x discount distribution of lineitem on a fixed 10x11 grid;
# one groupBy over two binned dims (the scatter-at-scale primitive:
# ship bin counts, not points). --------------------------------------------
@query(
    "q245_hist2d_qty_discount",
    oracle="""
    SELECT LEAST(9, GREATEST(0, CAST(FLOOR(l_quantity / 5.0) AS INTEGER)))
               AS qty_bin,
           CAST(ROUND(l_discount * 100) AS INTEGER) AS disc_pct,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY qty_bin, disc_pct ORDER BY qty_bin, disc_pct
    """,
)
def q245(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    qty_bin = F.least(
        F.lit(9), F.greatest(F.lit(0), F.floor(F.col("l_quantity") / 5.0).cast("int"))
    )
    disc = F.round(F.col("l_discount") * 100).cast("int")
    return (
        li.groupBy(qty_bin.alias("qty_bin"), disc.alias("disc_pct"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("qty_bin", "disc_pct")
    )


# --- q252: sketch-based audience overlap — HLL inclusion-exclusion
# (|A∩B| ≈ |A| + |B| − |A∪B| with mergeable sketches) against the
# exact wedge-join overlap (q247's). At 100 TB the sketches replace
# the user-level self-join with kilobyte merges; the gate carries the
# exact intersection plus a certificate that the sketch estimate
# lands within 5 percentage points of it (relative to the union).
# -----------------------------------------------------------------------------
@query(
    "q252_hll_audience_overlap",
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS exact_common
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT i.type_a, i.type_b,
           CAST(i.exact_common AS BIGINT) AS exact_common,
           TRUE AS within_tolerance
    FROM inter i ORDER BY type_a, type_b
    """,
)
def q252(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("n_exact").alias("na"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("n_exact").alias("nb"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    est_union = F.hll_sketch_estimate(
        F.hll_union(F.col("sk_a"), F.col("sk_b"))
    )
    est_common = F.col("na") + F.col("nb") - est_union
    tu = ev.select("event_type", "user_id").distinct()
    xa = tu.select(F.col("event_type").alias("type_a"), "user_id")
    xb = tu.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        xa.join(xb, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_common"))
    )
    return (
        pairs.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "exact_common",
            (
                F.abs(est_common - F.col("exact_common"))
                / (F.col("na") + F.col("nb") - F.col("exact_common"))
                < 0.05
            ).alias("within_tolerance"),
        )
        .orderBy("type_a", "type_b")
    )


# --- q293: Spearman rank correlation between customer spend and
# account balance — Pearson over GLOBAL ranks, both rank passes built
# on the partition-offset prefix-sum primitive (no single-task rank
# funnel, same machinery as q236's Gini). Ties take row-number order
# with the customer key as the deterministic tie-break (documented
# variant; classic average-tie Spearman replaces the rank pass with a
# per-value mean rank rollup). Rank sums are exact BIGINTs, so the
# correlation is engine-exact via the shared formula. ------------------------
@query(
    "q293_spearman_spend_balance",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey, {sql_dsum("o_totalprice", 2)} AS s
        FROM orders GROUP BY o_custkey
    ),
    base AS (
        SELECT c.c_custkey, sp.s, c.c_acctbal
        FROM customer c JOIN spend sp ON c.c_custkey = sp.o_custkey
    ),
    ranked AS (
        SELECT c_custkey,
               CAST(ROW_NUMBER() OVER (ORDER BY s, c_custkey) AS BIGINT) AS rx,
               CAST(ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS ry
        FROM base
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
               CAST(SUM(rx * rx) AS BIGINT) AS sxx,
               CAST(SUM(ry * ry) AS BIGINT) AS syy,
               CAST(SUM(rx * ry) AS BIGINT) AS sxy
        FROM ranked
    )
    SELECT n AS n_customers,
           ROUND((1.0 * n * sxy - 1.0 * sx * sy)
                 / (SQRT(1.0 * n * sxx - 1.0 * sx * sx)
                    * SQRT(1.0 * n * syy - 1.0 * sy * sy)), 6) AS spearman_rho
    FROM tot
    """,
)
def q293(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_sum

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(dsum("o_totalprice", 2).alias("s"))
    base = cust.join(spend, cust.c_custkey == spend.o_custkey).select(
        "c_custkey", "s", "c_acctbal"
    )
    r1 = global_prefix_sum(
        base, [F.asc("s"), F.asc("c_custkey")], F.lit(1.0), "rx", scale=0
    ).withColumn("rx", F.col("rx").cast("long"))
    r2 = global_prefix_sum(
        r1, [F.asc("c_acctbal"), F.asc("c_custkey")], F.lit(1.0), "ry", scale=0
    ).withColumn("ry", F.col("ry").cast("long"))
    tot = r2.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    return tot.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(
            (1.0 * F.col("n") * F.col("sxy") - 1.0 * F.col("sx") * F.col("sy"))
            / (
                F.sqrt(
                    1.0 * F.col("n") * F.col("sxx")
                    - 1.0 * F.col("sx") * F.col("sx")
                )
                * F.sqrt(
                    1.0 * F.col("n") * F.col("syy")
                    - 1.0 * F.col("sy") * F.col("sy")
                )
            ),
            6,
        ).alias("spearman_rho"),
    )


# --- q344: two-proportion z-test + minimum detectable effect. Arms
# from the md5 coin on user_id (engine-reproducible, same split as
# q335); conversion = a purchase within 7 days after the user's first
# signup (a time-bound conversion — every user eventually purchases,
# so the raw any-purchase rate is degenerate). The z statistic,
# pooled SE, and the 80%-power/α=.05 MDE are closed-form doubles
# derived from four integers through formula strings shared verbatim
# with the oracle (z-quantiles inlined as literals), so the whole
# readout sits inside the hash gate. One per-user aggregate + one
# 2-row rollup. Reference: proportion-test surface of
# src/stats/inference/mod.rs.
_RT = "(CAST(xt AS DOUBLE) / nt)"
_RC = "(CAST(xc AS DOUBLE) / nc)"
_PZ = f"({_RT} - {_RC})"
_POOL = "(CAST(xt + xc AS DOUBLE) / (nt + nc))"
_INV = "(CAST(1 AS DOUBLE) / nt + CAST(1 AS DOUBLE) / nc)"
_SE = f"SQRT({_POOL} * (1 - {_POOL}) * {_INV})"
_MDE = (
    "((1.959963984540054 + 0.8416212335729143) * "
    f"SQRT({_RC} * (1 - {_RC}) * {_INV}))"
)


@query(
    "q344_two_proportion_ab_power",
    oracle=f"""
    WITH s0 AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
        FROM events GROUP BY user_id
    ),
    per_user AS (
        SELECT e.user_id,
               CASE WHEN substr(md5(CAST(e.user_id AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS arm,
               MAX(CASE WHEN e.event_type = 'purchase' AND e.ts > s.t0
                             AND e.ts <= s.t0 + INTERVAL 7 DAY
                        THEN 1 ELSE 0 END) AS conv
        FROM events e JOIN s0 s ON s.user_id = e.user_id
        WHERE s.t0 IS NOT NULL
        GROUP BY e.user_id
    ),
    counts AS (
        SELECT CAST(SUM(arm) AS BIGINT) AS nt,
               CAST(SUM(arm * conv) AS BIGINT) AS xt,
               CAST(SUM(1 - arm) AS BIGINT) AS nc,
               CAST(SUM((1 - arm) * conv) AS BIGINT) AS xc
        FROM per_user
    )
    SELECT nt AS n_treatment, xt AS conv_treatment,
           nc AS n_control, xc AS conv_control,
           ROUND((CAST(xt AS DOUBLE) / nt), 6) AS rate_treatment,
           ROUND((CAST(xc AS DOUBLE) / nc), 6) AS rate_control,
           ROUND({_PZ} / {_SE}, 6) AS z_stat,
           ROUND({_MDE}, 6) AS mde_abs
    FROM counts
    """,
)
def q344(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    s0 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0")
    ).filter(F.col("t0").isNotNull())
    per_user = ev.join(s0, "user_id").groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t0"))
                & (F.col("ts") <= F.col("t0") + F.expr("INTERVAL 7 DAY")),
                1,
            ).otherwise(0)
        ).alias("conv")
    ).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8", 1
        ).otherwise(0).alias("arm"),
        "conv",
    )
    counts = per_user.agg(
        F.sum("arm").cast("long").alias("nt"),
        F.sum(F.col("arm") * F.col("conv")).cast("long").alias("xt"),
        F.sum(1 - F.col("arm")).cast("long").alias("nc"),
        F.sum((1 - F.col("arm")) * F.col("conv")).cast("long").alias("xc"),
    )
    return counts.select(
        F.col("nt").alias("n_treatment"),
        F.col("xt").alias("conv_treatment"),
        F.col("nc").alias("n_control"),
        F.col("xc").alias("conv_control"),
        F.round(F.expr(_RT), 6).alias("rate_treatment"),
        F.round(F.expr(_RC), 6).alias("rate_control"),
        F.round(F.expr(f"{_PZ} / {_SE}"), 6).alias("z_stat"),
        F.round(F.expr(_MDE), 6).alias("mde_abs"),
    )


# --- q371: delete-one-supplier jackknife of the revenue-per-unit
# ratio. The ratio estimator R = Σ(price·(1−disc)) / Σ(qty) has no
# closed-form variance; the grouped jackknife is the survey-sampling
# answer, and its distributed shape is ONE partial-aggregated shuffle
# into per-supplier quantized sums followed by total-minus-group
# arithmetic on the 100-row group frame (operators/hypothesis.
# jackknife_ratio) — no per-replicate rescan at any scale. Scaled-
# BIGINT group sums make every replicate exact; the replicate moments
# fold through dsum. Reference: resampling surface of
# src/stats/mod.rs (bootstrap :328).
def _q371_oracle() -> str:
    qn = sql_quantize("l_extendedprice * (1 - l_discount)", 2)
    qd = sql_quantize("CAST(l_quantity AS DOUBLE)", 2)
    return f"""
    WITH grp AS (
        SELECT l_suppkey,
               CAST(SUM({qn}) AS BIGINT) AS gnum,
               CAST(SUM({qd}) AS BIGINT) AS gden
        FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (
        SELECT CAST(SUM(gnum) AS BIGINT) AS tnum,
               CAST(SUM(gden) AS BIGINT) AS tden,
               CAST(COUNT(*) AS BIGINT) AS g
        FROM grp
    ),
    loo AS (
        SELECT t.g, t.tnum, t.tden,
               CAST(t.tnum - grp.gnum AS DOUBLE)
                 / CAST(t.tden - grp.gden AS DOUBLE) AS r_i
        FROM grp CROSS JOIN tot t
    ),
    agg AS (
        SELECT g, tnum, tden,
               {sql_dsum('r_i', 6)} AS sr,
               {sql_dsum('r_i * r_i', 6)} AS srr
        FROM loo GROUP BY g, tnum, tden
    )
    SELECT ROUND(CAST(tnum AS DOUBLE) / CAST(tden AS DOUBLE), 6)
               AS estimate,
           ROUND(SQRT((g - 1.0) / g * (srr - sr * sr / g)), 6) AS jack_se,
           g AS n_groups
    FROM agg
    """


@query("q371_jackknife_revenue_per_unit", oracle=_q371_oracle())
def q371(spark, sf_dir):
    from pandrs_spark.operators.hypothesis import jackknife_ratio

    li = T(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("num"),
        F.col("l_quantity").cast("double").alias("den"),
    )
    return jackknife_ratio(li, "num", "den", "l_suppkey", scale=2)


# --- q374: Theil-T and Atkinson(ε=1) inequality of per-customer
# revenue — the decomposable complements to q236's Gini. Both indices
# are pure functions of three quantized sums (Σx, Σx·ln x, Σln x) over
# the per-customer revenue frame, so the whole measurement is two
# partial-aggregated shuffles (customer rollup, then scalar sums) at
# any scale — no sorting, unlike Gini. Formula trees are shared
# verbatim with the oracle. Reference: inequality/dispersion surface
# of src/stats/mod.rs (behavioral spec only).
_THEIL = "(sxlx / sx - LN(sx / n))"
_ATKINSON = "(1.0 - EXP(slx / n) / (sx / n))"


def _q374_oracle() -> str:
    return f"""
    WITH cust AS (
        SELECT o_custkey, {sql_dsum('o_totalprice', 2)} AS x
        FROM orders GROUP BY o_custkey
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum('x', 2)} AS sx,
               {sql_dsum('x * LN(x)', 2)} AS sxlx,
               {sql_dsum('LN(x)', 6)} AS slx
        FROM cust WHERE x > 0
    )
    SELECT n AS n_customers,
           ROUND(sx / n, 6) AS mean_revenue,
           ROUND({_THEIL}, 6) AS theil_t,
           ROUND({_ATKINSON}, 6) AS atkinson_1
    FROM agg
    """


@query("q374_revenue_inequality_indices", oracle=_q374_oracle())
def q374(spark, sf_dir):
    od = T(spark, sf_dir, "orders")
    cust = od.groupBy("o_custkey").agg(dsum("o_totalprice", 2).alias("x"))
    agg = cust.filter(F.col("x") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("x", 2).alias("sx"),
        dsum(F.col("x") * F.log("x"), 2).alias("sxlx"),
        dsum(F.log("x"), 6).alias("slx"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.round(F.expr("sx / n"), 6).alias("mean_revenue"),
        F.round(F.expr(_THEIL), 6).alias("theil_t"),
        F.round(F.expr(_ATKINSON), 6).alias("atkinson_1"),
    )


# --- q384: overdispersion diagnosis + negative-binomial
# method-of-moments fit of daily order counts — the count-model
# selection step (Poisson assumes var=mean; real arrival processes
# rarely comply). Everything is a function of (n, Σc, Σc²) over the
# bounded day spine, computed with exact integer sums — counts need no
# quantization at all. NB MoM: r = μ²/(σ²−μ), p = μ/σ². Reference:
# count-model surface of src/stats/mod.rs (behavioral spec only).
_DISP_MU = "(CAST(sc AS DOUBLE) / n)"
_DISP_VAR = "((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) / (n - 1))"


def _q384_oracle() -> str:
    return f"""
    WITH daily AS (
        SELECT o_orderdate AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY o_orderdate
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS sc,
               CAST(SUM(c * c) AS BIGINT) AS scc
        FROM daily
    )
    SELECT n AS n_days,
           ROUND({_DISP_MU}, 6) AS mean_daily,
           ROUND({_DISP_VAR}, 6) AS var_daily,
           ROUND({_DISP_VAR} / {_DISP_MU}, 6) AS dispersion_index,
           ROUND({_DISP_MU} * {_DISP_MU} / ({_DISP_VAR} - {_DISP_MU}), 6)
               AS nb_r,
           ROUND({_DISP_MU} / {_DISP_VAR}, 6) AS nb_p
    FROM agg
    """


@query("q384_overdispersion_nb_fit", oracle=_q384_oracle())
def q384(spark, sf_dir):
    od = T(spark, sf_dir, "orders")
    daily = od.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agg = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    return agg.select(
        F.col("n").alias("n_days"),
        F.round(F.expr(_DISP_MU), 6).alias("mean_daily"),
        F.round(F.expr(_DISP_VAR), 6).alias("var_daily"),
        F.round(F.expr(f"{_DISP_VAR} / {_DISP_MU}"), 6).alias(
            "dispersion_index"
        ),
        F.round(
            F.expr(f"{_DISP_MU} * {_DISP_MU} / ({_DISP_VAR} - {_DISP_MU})"),
            6,
        ).alias("nb_r"),
        F.round(F.expr(f"{_DISP_MU} / {_DISP_VAR}"), 6).alias("nb_p"),
    )


# --- q389: Neyman optimal stratified-sample allocation (§2.12 sampling
# design; composes the reference's stratified sampler src/ml/sampling
# with the textbook n_h ∝ N_h·S_h rule). Stratum weights come from
# exact quantized sums (c_acctbal has 2 decimals, so scale-2/scale-4
# sums are EXACT); the 1000-unit budget is split by pure integer
# largest-remainder arithmetic on the quantized weights (the q298
# idiom), so the allocation is partition-order invariant. The ranking
# window is bounded by the 25-nation stratum cardinality. ------------------
@query(
    "q389_neyman_allocation",
    oracle="""
    WITH agg AS (
        SELECT c_nationkey,
               COUNT(*) AS n_cust,
               CAST(SUM(CAST(SIGN(c_acctbal) * FLOOR(ABS(c_acctbal) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS qsx,
               CAST(SUM(CAST(SIGN(c_acctbal * c_acctbal) * FLOOR(ABS(c_acctbal * c_acctbal) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qsxx
        FROM customer GROUP BY 1
    ),
    w AS (
        SELECT c_nationkey, n_cust,
               SQRT(((CAST(qsxx AS DOUBLE) / 10000.0)
                     - (CAST(qsx AS DOUBLE) / 100.0) * (CAST(qsx AS DOUBLE) / 100.0) / n_cust)
                    / (n_cust - 1)) AS s_h
        FROM agg
    ),
    q AS (
        SELECT c_nationkey, n_cust, s_h,
               CAST(SIGN(n_cust * s_h) * FLOOR(ABS(n_cust * s_h) * 1000000.0 + 0.5) AS BIGINT) AS qw
        FROM w
    ),
    t AS (
        SELECT c_nationkey, n_cust, s_h, qw,
               CAST(SUM(qw) OVER () AS BIGINT) AS total_qw,
               CAST(SUM(n_cust) OVER () AS BIGINT) AS total_n
        FROM q
    ),
    alloc AS (
        SELECT c_nationkey, n_cust, s_h,
               (1000 * qw) // total_qw AS ney_base,
               (1000 * qw) % total_qw AS ney_rem,
               (1000 * n_cust) // total_n AS prop_base,
               (1000 * n_cust) % total_n AS prop_rem
        FROM t
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY ney_rem DESC, c_nationkey) AS ney_rank,
               ROW_NUMBER() OVER (ORDER BY prop_rem DESC, c_nationkey) AS prop_rank,
               CAST(1000 - SUM(ney_base) OVER () AS BIGINT) AS ney_extra,
               CAST(1000 - SUM(prop_base) OVER () AS BIGINT) AS prop_extra
        FROM alloc
    )
    SELECT c_nationkey AS nationkey,
           CAST(n_cust AS BIGINT) AS n_cust,
           CAST(SIGN(s_h) * FLOOR(ABS(s_h) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS s_acctbal,
           CAST(ney_base + CASE WHEN ney_rank <= ney_extra THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_neyman,
           CAST(prop_base + CASE WHEN prop_rank <= prop_extra THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_proportional
    FROM ranked
    ORDER BY nationkey
    """,
)
def q389(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize

    cust = T(spark, sf_dir, "customer")
    x = F.col("c_acctbal").cast("double")
    agg = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(quantize(x, 2)).alias("qsx"),
        F.sum(quantize(x * x, 4)).alias("qsxx"),
    )
    w = agg.withColumn(
        "s_h",
        F.sqrt(
            (
                F.col("qsxx").cast("double") / 1e4
                - (F.col("qsx").cast("double") / 1e2)
                * (F.col("qsx").cast("double") / 1e2)
                / F.col("n_cust")
            )
            / (F.col("n_cust") - 1)
        ),
    ).withColumn("qw", quantize(F.col("n_cust") * F.col("s_h"), 6))
    w_all = Window.partitionBy()
    t = w.withColumn("total_qw", F.sum("qw").over(w_all)).withColumn(
        "total_n", F.sum("n_cust").over(w_all)
    )
    alloc = t.select(
        "c_nationkey",
        "n_cust",
        "s_h",
        F.expr("(1000 * qw) div total_qw").alias("ney_base"),
        F.expr("(1000 * qw) % total_qw").alias("ney_rem"),
        F.expr("(1000 * n_cust) div total_n").alias("prop_base"),
        F.expr("(1000 * n_cust) % total_n").alias("prop_rem"),
    )
    ranked = (
        alloc.withColumn(
            "ney_rank",
            F.row_number().over(Window.orderBy(F.desc("ney_rem"), "c_nationkey")),
        )
        .withColumn(
            "prop_rank",
            F.row_number().over(Window.orderBy(F.desc("prop_rem"), "c_nationkey")),
        )
        .withColumn("ney_extra", F.lit(1000) - F.sum("ney_base").over(w_all))
        .withColumn("prop_extra", F.lit(1000) - F.sum("prop_base").over(w_all))
    )
    return ranked.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("n_cust").cast("long").alias("n_cust"),
        (quantize("s_h", 6) / 1e6).alias("s_acctbal"),
        (
            F.col("ney_base")
            + F.when(F.col("ney_rank") <= F.col("ney_extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_neyman"),
        (
            F.col("prop_base")
            + F.when(F.col("prop_rank") <= F.col("prop_extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_proportional"),
    ).orderBy("nationkey")


# --- q391: approx-quantile sketch ERROR CERTIFICATE (§2.4 quantile
# family; reference computes exact quantiles in memory,
# src/stats/mod.rs — at 100 TB the production path is a mergeable
# sketch, so what must be verified is the sketch's rank-error bound).
# Spark's percentile_approx (Greenwald-Khanna, accuracy A=10000
# ⇒ rank error ≤ n/A) is checked IN-GATE against exact type-1
# quantiles computed from the distinct-value histogram with
# global_prefix_counts (no partitionless window): the sketch value at
# level p must lie between the exact order statistics at ranks
# k_p ∓ (n//A + 1). The oracle pins the invariant (within_bound=TRUE)
# and independently recomputes the exact quantiles — the
# MLlib-tier "invariant-pinned oracle" pattern, because GK internals
# are not SQL-reachable. All rank arithmetic is integer-exact.
# ---------------------------------------------------------------------------
@query(
    "q391_quantile_sketch_certificate",
    oracle="""
    WITH hist AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v, COUNT(*) AS c
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
    cumh AS (
        SELECT v, c, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum
        FROM hist
    ),
    ranks AS (
        SELECT g.i, w.which,
               CASE w.which
                   WHEN 'exact' THEN (g.i * t.n + 9) // 10
                   WHEN 'lo' THEN GREATEST(
                       (g.i * t.n + 9) // 10 - (t.n // 10000 + 1), 1)
                   ELSE LEAST(
                       (g.i * t.n + 9) // 10 + (t.n // 10000 + 1), t.n)
               END AS k
        FROM generate_series(1, 9) g(i), tot t,
             (VALUES ('exact'), ('lo'), ('hi')) w(which)
    ),
    matched AS (
        SELECT r.i, r.which, MIN(h.v) AS qv
        FROM ranks r JOIN cumh h
          ON h.cum - h.c < r.k AND r.k <= h.cum
        GROUP BY r.i, r.which
    )
    SELECT i / 10.0 AS level,
           MIN(CASE WHEN which = 'exact' THEN qv END) AS exact_q,
           TRUE AS within_bound
    FROM matched
    GROUP BY i
    ORDER BY level
    """,
)
def q391(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_counts

    orders = T(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("v")
    )
    hist = orders.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    cumh = global_prefix_counts(hist, [F.col("v")], {"cum": "c"})
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    levels = spark.range(1, 10).select(F.col("id").cast("int").alias("i"))
    k = F.expr("(i * n + 9) div 10")
    t = F.expr("n div 10000 + 1")
    ranks = (
        levels.crossJoin(F.broadcast(tot))
        .select(
            "i",
            F.explode(
                F.array(
                    F.struct(F.lit("exact").alias("which"), k.alias("k")),
                    F.struct(
                        F.lit("lo").alias("which"),
                        F.greatest(k - t, F.lit(1).cast("long")).alias("k"),
                    ),
                    F.struct(
                        F.lit("hi").alias("which"),
                        F.least(k + t, F.col("n")).alias("k"),
                    ),
                )
            ).alias("wk"),
        )
        .select("i", F.col("wk.which").alias("which"), F.col("wk.k").alias("k"))
    )
    matched = (
        cumh.join(
            F.broadcast(ranks),
            (F.col("cum") - F.col("c") < F.col("k")) & (F.col("k") <= F.col("cum")),
        )
        .groupBy("i")
        .agg(
            F.min(F.when(F.col("which") == "exact", F.col("v"))).alias("exact_q"),
            F.min(F.when(F.col("which") == "lo", F.col("v"))).alias("lo_v"),
            F.min(F.when(F.col("which") == "hi", F.col("v"))).alias("hi_v"),
        )
    )
    approx = (
        T(spark, sf_dir, "orders")
        .agg(
            F.percentile_approx(
                F.col("o_totalprice").cast("double"),
                F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
                F.lit(10000),
            ).alias("apx")
        )
        .select(F.posexplode("apx").alias("pos", "approx_v"))
        .select((F.col("pos") + 1).alias("i"), "approx_v")
    )
    out = matched.join(F.broadcast(approx), "i").select(
        (F.col("i") / 10.0).alias("level"),
        "exact_q",
        (
            (F.col("approx_v") >= F.col("lo_v"))
            & (F.col("approx_v") <= F.col("hi_v"))
        ).alias("within_bound"),
    )
    return out.orderBy("level")


# --- q398: post-stratification estimator (survey-sampling tier beside
# q389 Neyman). A deterministic md5-split "sample" (25% of customers)
# estimates mean account balance two ways: the naive sample mean, and
# the post-stratified mean Σ (N_h/N)·x̄_h with POPULATION stratum
# weights from the full table — the standard correction when the
# sample's stratum mix drifts from the population's. All moments from
# quantized exact sums; the stratum fold is a 5-segment aggregate. ----------
@query(
    "q398_poststratified_mean",
    oracle=f"""
    WITH pop AS (
        SELECT c_mktsegment AS seg, COUNT(*) AS n_pop
        FROM customer GROUP BY 1
    ),
    samp AS (
        SELECT c_mktsegment AS seg, COUNT(*) AS n_samp,
               {sql_dsum('c_acctbal')} AS s_bal
        FROM customer
        WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) < '4'
        GROUP BY 1
    ),
    strata AS (
        SELECT p.seg, p.n_pop, s.n_samp,
               CAST(p.n_pop AS DOUBLE) * (s.s_bal / s.n_samp) AS contrib
        FROM pop p JOIN samp s ON p.seg = s.seg
    ),
    tot AS (
        SELECT CAST(SUM(n_pop) AS BIGINT) AS n_pop_total,
               CAST(SUM(n_samp) AS BIGINT) AS n_samp_total,
               CAST(SUM({sql_quantize('contrib', 2)}) AS BIGINT) / 100.0
                   AS contrib_total
        FROM strata
    ),
    naive AS (
        SELECT {sql_dsum('c_acctbal')} / COUNT(*) AS naive_mean
        FROM customer
        WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) < '4'
    )
    SELECT t.n_pop_total AS n_pop, t.n_samp_total AS n_sample,
           {sql_quantize('n.naive_mean', 6)} / 1000000.0 AS naive_mean,
           {sql_quantize('t.contrib_total / t.n_pop_total', 6)} / 1000000.0
               AS poststrat_mean
    FROM tot t, naive n
    """,
)
def q398(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    cust = T(spark, sf_dir, "customer")
    in_sample = F.expr("substr(md5(cast(c_custkey as string)), 1, 1) < '4'")
    pop = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).alias("n_pop")
    )
    samp = (
        cust.filter(in_sample)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n_samp"),
            dsum("c_acctbal").alias("s_bal"),
        )
    )
    strata = pop.join(samp, "seg").withColumn(
        "contrib",
        F.col("n_pop").cast("double") * (F.col("s_bal") / F.col("n_samp")),
    )
    tot = strata.agg(
        F.sum("n_pop").cast("long").alias("n_pop_total"),
        F.sum("n_samp").cast("long").alias("n_samp_total"),
        dsum("contrib", 2).alias("contrib_total"),
    )
    naive = cust.filter(in_sample).agg(
        (dsum("c_acctbal") / F.count(F.lit(1))).alias("naive_mean")
    )
    return tot.crossJoin(F.broadcast(naive)).select(
        F.col("n_pop_total").alias("n_pop"),
        F.col("n_samp_total").alias("n_sample"),
        (quantize("naive_mean", 6) / 1e6).alias("naive_mean"),
        (quantize(F.col("contrib_total") / F.col("n_pop_total"), 6) / 1e6).alias(
            "poststrat_mean"
        ),
    )


# --- q401: Wasserstein-1 (earth-mover) distribution drift between two
# customer segments' account-balance distributions — the
# magnitude-aware complement to PSI (q235) and KS (q72):
# W1 = ∫|F_A − F_B| dv over the merged value axis. Scale shape: one
# distinct-value histogram shuffle, then cumulatives via
# global_prefix_counts (the distributed-ECDF primitive — NO
# partitionless window) with the "next value" fetched by an EQUI-JOIN
# on the exact global row number instead of a lead(). The last value's
# interval is dropped exactly (both CDFs are 1 there). ----------------------
@query(
    "q401_wasserstein_segment_drift",
    oracle="""
    WITH sub AS (
        SELECT CAST(c_acctbal AS DOUBLE) AS v,
               CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS a,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS b
        FROM customer
        WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    ),
    hist AS (
        SELECT v, CAST(SUM(a) AS BIGINT) AS ca, CAST(SUM(b) AS BIGINT) AS cb
        FROM sub GROUP BY v
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
               CAST(COUNT(*) AS BIGINT) AS n_values
        FROM hist
    ),
    cum AS (
        SELECT v,
               CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
               CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
               LEAD(v) OVER (ORDER BY v) AS v_next
        FROM hist
        WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ),
    terms AS (
        SELECT ABS(CAST(cum_a AS DOUBLE) / t.na
                   - CAST(cum_b AS DOUBLE) / t.nb) * (v_next - v) AS term
        FROM cum, tot t WHERE v_next IS NOT NULL
    )
    SELECT t.na AS n_a, t.nb AS n_b, t.n_values,
           CAST(SIGN(w.s) * FLOOR(ABS(w.s) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS w1_distance
    FROM tot t, (
        SELECT CAST(SUM(CAST(SIGN(term) * FLOOR(ABS(term) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS s
        FROM terms
    ) w
    """,
)
def q401(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.windows import global_prefix_counts

    cust = T(spark, sf_dir, "customer")
    sub = cust.filter(
        F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
    ).select(
        F.col("c_acctbal").cast("double").alias("v"),
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1).otherwise(0).alias("a"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("b"),
    )
    hist = (
        sub.groupBy("v")
        .agg(
            F.sum("a").cast("long").alias("ca"),
            F.sum("b").cast("long").alias("cb"),
        )
        .withColumn("__one__", F.lit(1))
    )
    cum = global_prefix_counts(
        hist, [F.col("v")], {"cum_a": "ca", "cum_b": "cb", "rn": "__one__"}
    )
    tot = hist.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
    )
    nxt = cum.select((F.col("rn") - 1).alias("rn"), F.col("v").alias("v_next"))
    pairs = cum.join(nxt, "rn").crossJoin(F.broadcast(tot))
    term = (
        F.abs(
            F.col("cum_a").cast("double") / F.col("na")
            - F.col("cum_b").cast("double") / F.col("nb")
        )
        * (F.col("v_next") - F.col("v"))
    )
    w1 = pairs.agg(dsum(term, 9).alias("s"))
    return tot.crossJoin(F.broadcast(w1)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "n_values",
        (quantize("s", 6) / 1e6).alias("w1_distance"),
    )


# --- q413: quantile normalization across groups (the batch-effect
# correction from genomics, applied to segment balance distributions):
# each value is replaced by the POOLED distribution's order statistic
# at its within-group quantile — after which every group has the same
# marginal distribution. Scale shape: within-group ranks are windows
# PARTITIONED by segment; the pooled k-th order statistics come from
# global_row_number (partition-offset scheme, no partitionless
# window); the rank→position lookup is a plain EQUI-join on
# k = ceil(r·N/n_g), integer-exact. Output: per-segment moments before
# and after (the after-means converge — that's the point). ------------------
@query(
    "q413_quantile_normalization",
    oracle="""
    WITH vals AS (
        SELECT c_mktsegment AS seg, CAST(c_acctbal AS DOUBLE) AS v
        FROM customer
    ),
    ranked AS (
        SELECT seg, v,
               ROW_NUMBER() OVER (PARTITION BY seg ORDER BY v, v) AS r,
               COUNT(*) OVER (PARTITION BY seg) AS ng
        FROM vals
    ),
    pooled AS (
        SELECT v AS pv,
               ROW_NUMBER() OVER (ORDER BY v) AS pos
        FROM vals
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
    mapped AS (
        SELECT rk.seg, rk.v, p.pv
        FROM ranked rk, tot t
        JOIN pooled p
          ON p.pos = (rk.r * t.n + rk.ng - 1) // rk.ng
    )
    SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(SIGN(v) * FLOOR(ABS(v) * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) / 100.0 / COUNT(*) AS mean_raw,
           CAST(SUM(CAST(SIGN(pv) * FLOOR(ABS(pv) * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) / 100.0 / COUNT(*) AS mean_normalized
    FROM mapped
    GROUP BY seg ORDER BY seg
    """,
)
def q413(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.operators.windows import global_row_number

    cust = T(spark, sf_dir, "customer")
    vals = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").cast("double").alias("v"),
    )
    # NOT Window.partitionBy(seg): five segments = five tasks for the
    # whole table at scale. Segments are contiguous under the global
    # (seg, v) order, so the within-segment rank is the global row
    # number minus a broadcast per-segment offset (count of rows in
    # earlier segments).
    gnum = global_row_number(vals, [F.col("seg"), F.col("v")], "grn")
    seg_counts = vals.groupBy("seg").agg(F.count(F.lit(1)).alias("ng"))
    w_off = Window.orderBy("seg").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # 5 fixed segments — the offset table itself is bounded
    seg_off = seg_counts.select(
        "seg",
        "ng",
        F.coalesce(F.sum("ng").over(w_off), F.lit(0)).alias("off"),
    )
    ranked = gnum.join(F.broadcast(seg_off), "seg").select(
        "seg", "v", (F.col("grn") - F.col("off")).alias("r"), "ng"
    )
    pooled = global_row_number(vals.select(F.col("v").alias("pv")), [F.col("pv")], "pos")
    tot = vals.agg(F.count(F.lit(1)).cast("long").alias("n"))
    mapped = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("k", F.expr("(r * n + ng - 1) div ng"))
        .join(pooled, F.col("k") == F.col("pos"))
    )
    return (
        mapped.groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (dsum("v", 2) / F.count(F.lit(1))).alias("mean_raw"),
            (dsum("pv", 2) / F.count(F.lit(1))).alias("mean_normalized"),
        )
        .orderBy("seg")
    )


# --- q417: Kendall's tau-b between monthly revenue and order count —
# completing the correlation triad (Pearson q58, Spearman q293). All
# concordant/discordant/tie counts come from ONE bounded self-join
# over the ~80-month series (calendar-bounded — the pair count is
# months², never data-sized; the data-sized work is the monthly
# aggregate). Integer-exact until the final ratio. ----------------------------
@query(
    "q417_kendall_tau_monthly",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               CAST(SUM(CAST(SIGN(o_totalprice)
                             * FLOOR(ABS(o_totalprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT a.revq AS xa, a.n_orders AS ya, b.revq AS xb, b.n_orders AS yb
        FROM monthly a JOIN monthly b ON a.month < b.month
    ),
    counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) < 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS disc,
               CAST(SUM(CASE WHEN xa = xb AND ya <> yb THEN 1 ELSE 0 END)
                    AS BIGINT) AS tx,
               CAST(SUM(CASE WHEN ya = yb AND xa <> xb THEN 1 ELSE 0 END)
                    AS BIGINT) AS ty
        FROM pairs
    )
    SELECT n_pairs, conc, disc,
           CAST(SIGN((conc - disc)
                     / SQRT(CAST(n_pairs - tx AS DOUBLE) * (n_pairs - ty)))
                * FLOOR(ABS((conc - disc)
                            / SQRT(CAST(n_pairs - tx AS DOUBLE) * (n_pairs - ty)))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS tau_b
    FROM counts
    """,
)
def q417(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(quantize("o_totalprice", 2)).alias("revq"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    a = monthly.select(
        F.col("month").alias("ma"),
        F.col("revq").alias("xa"),
        F.col("n_orders").alias("ya"),
    )
    b = monthly.select(
        F.col("month").alias("mb"),
        F.col("revq").alias("xb"),
        F.col("n_orders").alias("yb"),
    )
    pairs = a.join(F.broadcast(b), F.col("ma") < F.col("mb"))
    s = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    counts = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(s > 0, 1).otherwise(0)).cast("long").alias("conc"),
        F.sum(F.when(s < 0, 1).otherwise(0)).cast("long").alias("disc"),
        F.sum(
            F.when(
                (F.col("xa") == F.col("xb")) & (F.col("ya") != F.col("yb")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("tx"),
        F.sum(
            F.when(
                (F.col("ya") == F.col("yb")) & (F.col("xa") != F.col("xb")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("ty"),
    )
    tau = (F.col("conc") - F.col("disc")) / F.sqrt(
        (F.col("n_pairs") - F.col("tx")).cast("double")
        * (F.col("n_pairs") - F.col("ty"))
    )
    return counts.select(
        "n_pairs", "conc", "disc", (quantize(tau, 6) / 1e6).alias("tau_b")
    )


# --- q470: Spearman PARTIAL rank correlation — does spend correlate
# with balance after controlling for order count?
# ρ_xy·z = (ρxy − ρxz·ρyz)/√((1−ρxz²)(1−ρyz²)) over three exact rank
# vectors, each from one global_prefix_sum pass (q293's machinery,
# threefold). All rank sums are exact BIGINTs; only the final formula
# is double. -------------------------------------------------------------------
@query(
    "q470_spearman_partial_corr",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(SIGN(o_totalprice) * FLOOR(ABS(o_totalprice)
                             * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS s,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM orders GROUP BY o_custkey
    ),
    base AS (
        SELECT c.c_custkey, sp.s, c.c_acctbal AS b, sp.k
        FROM customer c JOIN spend sp ON c.c_custkey = sp.o_custkey
    ),
    ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY s, c_custkey) AS BIGINT) AS rx,
               CAST(ROW_NUMBER() OVER (ORDER BY b, c_custkey) AS BIGINT) AS ry,
               CAST(ROW_NUMBER() OVER (ORDER BY k, c_custkey) AS BIGINT) AS rz
        FROM base
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
               CAST(SUM(rz) AS BIGINT) AS sz,
               CAST(SUM(rx * rx) AS BIGINT) AS sxx,
               CAST(SUM(ry * ry) AS BIGINT) AS syy,
               CAST(SUM(rz * rz) AS BIGINT) AS szz,
               CAST(SUM(rx * ry) AS BIGINT) AS sxy,
               CAST(SUM(rx * rz) AS BIGINT) AS sxz,
               CAST(SUM(ry * rz) AS BIGINT) AS syz
        FROM ranked
    ),
    rhos AS (
        SELECT n,
               (1.0 * n * sxy - 1.0 * sx * sy)
                   / (SQRT(1.0 * n * sxx - 1.0 * sx * sx)
                      * SQRT(1.0 * n * syy - 1.0 * sy * sy)) AS rxy,
               (1.0 * n * sxz - 1.0 * sx * sz)
                   / (SQRT(1.0 * n * sxx - 1.0 * sx * sx)
                      * SQRT(1.0 * n * szz - 1.0 * sz * sz)) AS rxz,
               (1.0 * n * syz - 1.0 * sy * sz)
                   / (SQRT(1.0 * n * syy - 1.0 * sy * sy)
                      * SQRT(1.0 * n * szz - 1.0 * sz * sz)) AS ryz
        FROM tot
    )
    SELECT n AS n_customers,
           CAST(SIGN(rxy) * FLOOR(ABS(rxy) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS rho_xy,
           CAST(SIGN(rxz) * FLOOR(ABS(rxz) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS rho_xz,
           CAST(SIGN(ryz) * FLOOR(ABS(ryz) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS rho_yz,
           CAST(SIGN((rxy - rxz * ryz) / SQRT((1 - rxz * rxz) * (1 - ryz * ryz)))
                * FLOOR(ABS((rxy - rxz * ryz)
                            / SQRT((1 - rxz * rxz) * (1 - ryz * ryz)))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
               AS rho_xy_given_z
    FROM rhos
    """,
)
def q470(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.windows import global_prefix_sum

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        dsum("o_totalprice", 2).alias("s"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    base = cust.join(spend, cust.c_custkey == spend.o_custkey).select(
        "c_custkey", "s", F.col("c_acctbal").alias("b"), "k"
    )
    r = global_prefix_sum(
        base, [F.asc("s"), F.asc("c_custkey")], F.lit(1.0), "rx", scale=0
    ).withColumn("rx", F.col("rx").cast("long"))
    r = global_prefix_sum(
        r, [F.asc("b"), F.asc("c_custkey")], F.lit(1.0), "ry", scale=0
    ).withColumn("ry", F.col("ry").cast("long"))
    r = global_prefix_sum(
        r, [F.asc("k"), F.asc("c_custkey")], F.lit(1.0), "rz", scale=0
    ).withColumn("rz", F.col("rz").cast("long"))
    tot = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum("rz").alias("sz"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rz") * F.col("rz")).alias("szz"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rz")).alias("sxz"),
        F.sum(F.col("ry") * F.col("rz")).alias("syz"),
    )

    def rho(sab, sa, sb, saa, sbb):
        return (
            1.0 * F.col("n") * F.col(sab) - 1.0 * F.col(sa) * F.col(sb)
        ) / (
            F.sqrt(1.0 * F.col("n") * F.col(saa) - 1.0 * F.col(sa) * F.col(sa))
            * F.sqrt(1.0 * F.col("n") * F.col(sbb) - 1.0 * F.col(sb) * F.col(sb))
        )

    rhos = tot.select(
        "n",
        rho("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        rho("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        rho("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    partial = (F.col("rxy") - F.col("rxz") * F.col("ryz")) / F.sqrt(
        (1 - F.col("rxz") * F.col("rxz")) * (1 - F.col("ryz") * F.col("ryz"))
    )
    return rhos.select(
        F.col("n").alias("n_customers"),
        (quantize("rxy", 6) / 1e6).alias("rho_xy"),
        (quantize("rxz", 6) / 1e6).alias("rho_xz"),
        (quantize("ryz", 6) / 1e6).alias("rho_yz"),
        (quantize(partial, 6) / 1e6).alias("rho_xy_given_z"),
    )


# --- q479: index of dispersion (variance-to-mean ratio) of per-
# customer order counts by market segment — the quick Poissonness
# check run before committing to a Poisson GLM (q445): D = s²/x̄ per
# segment with (n−1)·D ~ χ²(n−1) under H0. Exact integer count sums
# throughout. --------------------------------------------------------------------
@query(
    "q479_order_count_dispersion",
    oracle="""
    WITH per_c AS (
        SELECT c.c_mktsegment AS seg, c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS k
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY seg, c.c_custkey
    ),
    agg AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS sk,
               CAST(SUM(k * k) AS BIGINT) AS skk
        FROM per_c GROUP BY seg
    )
    SELECT seg, n,
           CAST(SIGN(CAST(sk AS DOUBLE) / n)
                * FLOOR(ABS(CAST(sk AS DOUBLE) / n) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS mean_orders,
           CAST(SIGN(((skk - CAST(sk AS DOUBLE) * sk / n) / (n - 1))
                     / (CAST(sk AS DOUBLE) / n))
                * FLOOR(ABS(((skk - CAST(sk AS DOUBLE) * sk / n) / (n - 1))
                            / (CAST(sk AS DOUBLE) / n)) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS dispersion_index
    FROM agg
    ORDER BY seg
    """,
)
def q479(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    per_c = cust.join(orders, cust.c_custkey == orders.o_custkey).groupBy(
        F.col("c_mktsegment").alias("seg"), "c_custkey"
    ).agg(F.count("o_orderkey").cast("long").alias("k"))
    agg = per_c.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("sk"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("skk"),
    )
    mean = F.col("sk").cast("double") / F.col("n")
    vars = (F.col("skk") - F.col("sk").cast("double") * F.col("sk") / F.col("n")) / (
        F.col("n") - 1
    )
    return agg.select(
        "seg",
        "n",
        (quantize(mean, 6) / 1e6).alias("mean_orders"),
        (quantize(vars / mean, 6) / 1e6).alias("dispersion_index"),
    ).orderBy("seg")


# --- q480: standardized effect sizes (Cohen's d, Hedges' g, Glass's Δ)
# between two segments' balances — the practical complement to q57's
# Welch t (significance says "nonzero", effect size says "how big"):
# pooled-SD d, small-sample-corrected g (Hedges' exact-ish
# J = 1 − 3/(4df − 1)), control-SD Δ. All from exact sums. ---------------------
@query(
    "q480_effect_sizes_segments",
    oracle="""
    WITH g AS (
        SELECT c_mktsegment AS seg, c_acctbal AS x FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    agg AS (
        SELECT seg, COUNT(*) AS n,
               CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sx,
               CAST(SUM(CAST(SIGN(x * x) * FLOOR(ABS(x * x) * 1.0 + 0.5) AS BIGINT)) AS DOUBLE) AS sxx
        FROM g GROUP BY seg
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN seg = 'BUILDING' THEN n END) AS n1,
            MAX(CASE WHEN seg = 'BUILDING' THEN sx END) AS sx1,
            MAX(CASE WHEN seg = 'BUILDING' THEN sxx END) AS sxx1,
            MAX(CASE WHEN seg = 'MACHINERY' THEN n END) AS n2,
            MAX(CASE WHEN seg = 'MACHINERY' THEN sx END) AS sx2,
            MAX(CASE WHEN seg = 'MACHINERY' THEN sxx END) AS sxx2
        FROM agg
    ),
    stat AS (
        SELECT n1, n2,
               sx1 / n1 - sx2 / n2 AS diff,
               SQRT((sxx1 - sx1 * sx1 / n1 + sxx2 - sx2 * sx2 / n2)
                    / (n1 + n2 - 2)) AS sp,
               SQRT((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) AS s2
        FROM wide
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(SIGN(diff / sp) * FLOOR(ABS(diff / sp) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS cohens_d,
           CAST(SIGN((diff / sp) * (1 - 3.0 / (4 * (n1 + n2 - 2) - 1)))
                * FLOOR(ABS((diff / sp) * (1 - 3.0 / (4 * (n1 + n2 - 2) - 1)))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS hedges_g,
           CAST(SIGN(diff / s2) * FLOOR(ABS(diff / s2) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS glass_delta
    FROM stat
    """,
)
def q480(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    cust = T(spark, sf_dir, "customer")
    g = cust.filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    ).select(F.col("c_mktsegment").alias("seg"), F.col("c_acctbal").alias("x"))
    agg = g.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x", 2).alias("sx"),
        F.sum(quantize(F.col("x") * F.col("x"), 0)).cast("double").alias("sxx"),
    )
    wide = agg.agg(
        F.max(F.when(F.col("seg") == "BUILDING", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("seg") == "BUILDING", F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("seg") == "BUILDING", F.col("sxx"))).alias("sxx1"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("sx"))).alias("sx2"),
        F.max(F.when(F.col("seg") == "MACHINERY", F.col("sxx"))).alias("sxx2"),
    )
    diff = F.col("sx1") / F.col("n1") - F.col("sx2") / F.col("n2")
    sp = F.sqrt(
        (
            F.col("sxx1")
            - F.col("sx1") * F.col("sx1") / F.col("n1")
            + F.col("sxx2")
            - F.col("sx2") * F.col("sx2") / F.col("n2")
        )
        / (F.col("n1") + F.col("n2") - 2)
    )
    s2 = F.sqrt(
        (F.col("sxx2") - F.col("sx2") * F.col("sx2") / F.col("n2"))
        / (F.col("n2") - 1)
    )
    j_corr = 1 - 3.0 / (4 * (F.col("n1") + F.col("n2") - 2) - 1)
    return wide.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        (quantize(diff / sp, 6) / 1e6).alias("cohens_d"),
        (quantize((diff / sp) * j_corr, 6) / 1e6).alias("hedges_g"),
        (quantize(diff / s2, 6) / 1e6).alias("glass_delta"),
    )


# --- q487: Jarque-Bera normality test of order totals — skewness and
# excess kurtosis from exact CENTRAL moments (two passes: exact mean
# first, then quantized Σ(x−x̄)^{2,3,4} with x scaled to millions so
# the fourth power stays inside the int64 quantization envelope), then
# JB = n/6·(S² + K²/4). The moments-based normality complement to the
# EDF family (KS q57, CvM q458); one partial-aggregated pass per
# moment set — the 100 TB shape. ------------------------------------------------
@query(
    "q487_jarque_bera_order_totals",
    oracle=f"""
    WITH x AS (
        SELECT CAST(o_totalprice AS DOUBLE) / 1e6 AS v FROM orders
    ),
    m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM({sql_quantize('v', 9)}) AS DOUBLE) / 1e9 AS s
        FROM x
    ),
    cm AS (
        SELECT (SELECT n FROM m) AS n,
               CAST(SUM({sql_quantize('(v - (SELECT s / n FROM m)) '
                                      '* (v - (SELECT s / n FROM m))', 9)})
                    AS DOUBLE) / 1e9 AS m2,
               CAST(SUM({sql_quantize('(v - (SELECT s / n FROM m)) '
                                      '* (v - (SELECT s / n FROM m)) '
                                      '* (v - (SELECT s / n FROM m))', 9)})
                    AS DOUBLE) / 1e9 AS m3,
               CAST(SUM({sql_quantize('(v - (SELECT s / n FROM m)) '
                                      '* (v - (SELECT s / n FROM m)) '
                                      '* (v - (SELECT s / n FROM m)) '
                                      '* (v - (SELECT s / n FROM m))', 9)})
                    AS DOUBLE) / 1e9 AS m4
        FROM x
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST({sql_quantize(
               '(m3 / n) / POW(m2 / n, 1.5)', 6)} AS DOUBLE) / 1e6 AS skewness,
           CAST({sql_quantize(
               '(m4 / n) / ((m2 / n) * (m2 / n)) - 3', 6)} AS DOUBLE) / 1e6
               AS excess_kurtosis,
           CAST({sql_quantize(
               'n / 6.0 * (((m3 / n) / POW(m2 / n, 1.5)) '
               '* ((m3 / n) / POW(m2 / n, 1.5)) '
               '+ ((m4 / n) / ((m2 / n) * (m2 / n)) - 3) '
               '* ((m4 / n) / ((m2 / n) * (m2 / n)) - 3) / 4.0)', 6)}
               AS DOUBLE) / 1e6 AS jb_stat
    FROM cm
    """,
)
def q487(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    x = T(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("double") / 1e6).alias("v")
    )
    m = x.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("v", 9).alias("s"),
    )
    dev = F.col("v") - F.col("s") / F.col("n")
    cm = (
        x.crossJoin(F.broadcast(m))
        .agg(
            F.first("n").alias("n"),
            dsum(dev * dev, 9).alias("m2"),
            dsum(dev * dev * dev, 9).alias("m3"),
            dsum(dev * dev * dev * dev, 9).alias("m4"),
        )
    )
    skew = (F.col("m3") / F.col("n")) / F.pow(F.col("m2") / F.col("n"), 1.5)
    kurt = (F.col("m4") / F.col("n")) / (
        (F.col("m2") / F.col("n")) * (F.col("m2") / F.col("n"))
    ) - 3
    jb = F.col("n") / 6.0 * (skew * skew + kurt * kurt / 4.0)
    return cm.select(
        F.col("n").cast("long").alias("n_orders"),
        (quantize(skew, 6) / 1e6).alias("skewness"),
        (quantize(kurt, 6) / 1e6).alias("excess_kurtosis"),
        (quantize(jb, 6) / 1e6).alias("jb_stat"),
    )


# --- q490: two-sample Anderson-Darling A² (Scholz-Stephens k=2,
# right-continuous/discrete form) of line revenue between return
# flags R and N — the EDF-family member that weights the TAILS where
# KS (q57-class) weights the middle and CvM (q458) weights uniformly:
#
#   A² = (1/N) Σ_j c_j · Σ_i (N·M_ij − n_i·B_j)² / (n_i·B_j·(N−B_j))
#
# over pooled distinct values j with B_j < N (c_j = pooled count at j,
# M_ij / B_j = per-sample / pooled cumulative counts). Same scale
# shape as ks_2samp: one distinct-value histogram shuffle + one
# distributed prefix pass; the statistic is exact-integer sums until
# the final division. ----------------------------------------------------------
@query(
    "q490_anderson_darling_2samp",
    oracle="""
    WITH two AS (
        SELECT CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) AS v,
               l_returnflag AS g
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    hist AS MATERIALIZED (
        SELECT v,
               CAST(SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM two GROUP BY v
    ),
    cdf AS MATERIALIZED (
        SELECT c1, c2,
               SUM(c1) OVER (ORDER BY v) AS m1,
               SUM(c2) OVER (ORDER BY v) AS m2
        FROM hist
    ),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2
        FROM hist
    ),
    terms AS (
        SELECT c.c1 + c.c2 AS cj, c.m1, c.m2, c.m1 + c.m2 AS bj,
               t.n1, t.n2, t.n1 + t.n2 AS nn
        FROM cdf c, tot t
        WHERE c.m1 + c.m2 < t.n1 + t.n2
    )
    SELECT (SELECT n1 FROM tot) AS n1,
           (SELECT n2 FROM tot) AS n2,
           CAST(CAST(SIGN(s) * FLOOR(ABS(s) * 1000000.0 + 0.5) AS BIGINT)
                AS DOUBLE) / 1000000.0 AS ad_stat
    FROM (
        -- per-term quantization at 1e-9 mirrors the Spark side's exact
        -- long sum (order-safe on both engines)
        SELECT CAST(SUM(CAST(SIGN(term) * FLOOR(ABS(term) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS s
        FROM (
            SELECT CAST(cj AS DOUBLE) / nn * (
                       CAST((nn * m1 - n1 * bj) * (nn * m1 - n1 * bj)
                            AS DOUBLE) / (n1 * bj * (nn - bj))
                       + CAST((nn * m2 - n2 * bj) * (nn * m2 - n2 * bj)
                              AS DOUBLE) / (n2 * bj * (nn - bj))
                   ) AS term
            FROM terms
        )
    )
    """,
)
def q490(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.windows import global_prefix_counts

    li = T(spark, sf_dir, "lineitem")
    two = li.filter(F.col("l_returnflag").isin(["R", "N"])).select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("double")
        .alias("v"),
        F.col("l_returnflag").alias("g"),
    )
    hist = two.groupBy("v").agg(
        F.sum(F.when(F.col("g") == "R", 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("g") == "N", 1).otherwise(0)).cast("long").alias("c2"),
    )
    cdf = global_prefix_counts(
        hist, [F.asc("v")], {"m1": "c1", "m2": "c2"}
    ).select("c1", "c2", "m1", "m2")
    tot = hist.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    j = cdf.crossJoin(F.broadcast(tot))
    nn = F.col("n1") + F.col("n2")
    bj = F.col("m1") + F.col("m2")
    cj = F.col("c1") + F.col("c2")
    term = (
        cj.cast("double")
        / nn
        * (
            ((nn * F.col("m1") - F.col("n1") * bj) ** 2).cast("double")
            / (F.col("n1") * bj * (nn - bj))
            + ((nn * F.col("m2") - F.col("n2") * bj) ** 2).cast("double")
            / (F.col("n2") * bj * (nn - bj))
        )
    )
    out = (
        j.filter(bj < nn)
        .agg(F.sum(quantize(term, 9)).alias("sq"))
        .crossJoin(F.broadcast(tot))
    )
    return out.select(
        "n1",
        "n2",
        (quantize(F.col("sq").cast("double") / 1e9, 6) / 1e6).alias("ad_stat"),
    )


# --- q491: Fleiss' kappa inter-rater agreement (Fleiss 1971) across
# three DETERMINISTIC length-annotators of the documents table (char-,
# token- and sentence-based tercile rules with fixed literal cutoffs —
# heuristics that mostly agree but not always, exactly the multi-
# annotator agreement shape an LLM labeling pipeline audits):
#   P̄  = mean over items of (Σ_c n_ic² − r) / (r(r−1)),  r = 3 raters
#   P̄e = Σ_c p_c²,  κ = (P̄ − P̄e)/(1 − P̄e)
# One map over documents produces the per-item category counts; every
# sum is exact integer until the final formula. ---------------------------------
@query(
    "q491_fleiss_kappa_annotators",
    oracle="""
    WITH rated AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN n_chars < 300 THEN 0
                    WHEN n_chars < 600 THEN 1 ELSE 2 END AS r1,
               CASE WHEN len(string_split_regex(text, '\\s+')) < 50 THEN 0
                    WHEN len(string_split_regex(text, '\\s+')) < 100 THEN 1
                    ELSE 2 END AS r2,
               CASE WHEN len(regexp_extract_all(text, '\\.')) < 4 THEN 0
                    WHEN len(regexp_extract_all(text, '\\.')) < 8 THEN 1
                    ELSE 2 END AS r3
        FROM documents
    ),
    cells AS MATERIALIZED (
        SELECT doc_id,
               CAST((CASE WHEN r1 = 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN r2 = 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN r3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST((CASE WHEN r1 = 1 THEN 1 ELSE 0 END)
                  + (CASE WHEN r2 = 1 THEN 1 ELSE 0 END)
                  + (CASE WHEN r3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST((CASE WHEN r1 = 2 THEN 1 ELSE 0 END)
                  + (CASE WHEN r2 = 2 THEN 1 ELSE 0 END)
                  + (CASE WHEN r3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM rated
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n0 * n0 + n1 * n1 + n2 * n2 - 3) AS BIGINT) AS sp,
               CAST(SUM(n0) AS BIGINT) AS t0,
               CAST(SUM(n1) AS BIGINT) AS t1,
               CAST(SUM(n2) AS BIGINT) AS t2
        FROM cells
    )
    SELECT n AS n_docs,
           CAST(CAST(SIGN(pbar) * FLOOR(ABS(pbar) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS p_bar,
           CAST(CAST(SIGN(pe) * FLOOR(ABS(pe) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS p_e,
           CAST(CAST(SIGN((pbar - pe) / (1 - pe))
                     * FLOOR(ABS((pbar - pe) / (1 - pe)) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS kappa
    FROM (
        SELECT n,
               CAST(sp AS DOUBLE) / (n * 6) AS pbar,
               (CAST(t0 AS DOUBLE) / (3 * n)) * (CAST(t0 AS DOUBLE) / (3 * n))
               + (CAST(t1 AS DOUBLE) / (3 * n)) * (CAST(t1 AS DOUBLE) / (3 * n))
               + (CAST(t2 AS DOUBLE) / (3 * n)) * (CAST(t2 AS DOUBLE) / (3 * n))
                   AS pe
        FROM sums
    )
    """,
)
def q491(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    docs = T(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), r"\s+"))
    sents = F.regexp_count(F.col("text"), F.lit(r"\."))
    rated = docs.select(
        F.when(F.col("n_chars") < 300, 0)
        .when(F.col("n_chars") < 600, 1)
        .otherwise(2)
        .alias("r1"),
        F.when(toks < 50, 0).when(toks < 100, 1).otherwise(2).alias("r2"),
        F.when(sents < 4, 0).when(sents < 8, 1).otherwise(2).alias("r3"),
    )
    cats = [0, 1, 2]
    cells = rated.select(
        *[
            sum(
                F.when(F.col(f"r{r}") == c, 1).otherwise(0) for r in (1, 2, 3)
            )
            .cast("long")
            .alias(f"n{c}")
            for c in cats
        ]
    )
    sums = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.col("n0") * F.col("n0")
            + F.col("n1") * F.col("n1")
            + F.col("n2") * F.col("n2")
            - 3
        )
        .cast("long")
        .alias("sp"),
        F.sum("n0").cast("long").alias("t0"),
        F.sum("n1").cast("long").alias("t1"),
        F.sum("n2").cast("long").alias("t2"),
    )
    pbar = F.col("sp").cast("double") / (F.col("n") * 6)
    pe = sum(
        (F.col(f"t{c}").cast("double") / (3 * F.col("n"))) ** 2 for c in cats
    )
    kappa = (pbar - pe) / (1 - pe)
    return sums.select(
        F.col("n").alias("n_docs"),
        (quantize(pbar, 6) / 1e6).alias("p_bar"),
        (quantize(pe, 6) / 1e6).alias("p_e"),
        (quantize(kappa, 6) / 1e6).alias("kappa"),
    )


# --- q492: Cronbach's alpha internal-consistency of a four-item
# document quality "scale" (char length /100, token count, mean word
# length, punctuation count — items that should co-vary if "document
# size/density" is one latent construct):
#   α = k/(k−1) · (1 − Σ_i var_i / var_total)
# with sample variances from ONE pass of exact quantized sums per item
# plus the row-sum (the classic psychometrics statistic, here as a
# data-quality audit over the corpus). -----------------------------------------
@query(
    "q492_cronbach_alpha_quality_items",
    oracle="""
    WITH items AS MATERIALIZED (
        SELECT CAST(n_chars AS DOUBLE) / 100.0 AS i1,
               CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS i2,
               CAST(n_chars AS DOUBLE)
                   / len(string_split_regex(text, '\\s+')) AS i3,
               CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS i4
        FROM documents
    ),
    w AS MATERIALIZED (
        SELECT i1, i2, i3, i4, i1 + i2 + i3 + i4 AS tot FROM items
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(SIGN(i1) * FLOOR(ABS(i1) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS s1,
               CAST(SUM(CAST(SIGN(i1*i1) * FLOOR(ABS(i1*i1) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS ss1,
               CAST(SUM(CAST(SIGN(i2) * FLOOR(ABS(i2) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS s2,
               CAST(SUM(CAST(SIGN(i2*i2) * FLOOR(ABS(i2*i2) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS ss2,
               CAST(SUM(CAST(SIGN(i3) * FLOOR(ABS(i3) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS s3,
               CAST(SUM(CAST(SIGN(i3*i3) * FLOOR(ABS(i3*i3) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS ss3,
               CAST(SUM(CAST(SIGN(i4) * FLOOR(ABS(i4) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS s4,
               CAST(SUM(CAST(SIGN(i4*i4) * FLOOR(ABS(i4*i4) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS ss4,
               CAST(SUM(CAST(SIGN(tot) * FLOOR(ABS(tot) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS st,
               CAST(SUM(CAST(SIGN(tot*tot) * FLOOR(ABS(tot*tot) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS sst
        FROM w
    )
    SELECT n AS n_docs,
           CAST(CAST(SIGN(a) * FLOOR(ABS(a) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS cronbach_alpha
    FROM (
        SELECT n,
               (4.0 / 3.0) * (1 - (
                   (ss1 - s1 * s1 / n) + (ss2 - s2 * s2 / n)
                   + (ss3 - s3 * s3 / n) + (ss4 - s4 * s4 / n)
               ) / (sst - st * st / n)) AS a
        FROM sums
    )
    """,
)
def q492(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    docs = T(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), r"\s+")).cast("double")
    items = docs.select(
        (F.col("n_chars").cast("double") / 100.0).alias("i1"),
        toks.alias("i2"),
        (F.col("n_chars").cast("double") / toks).alias("i3"),
        F.regexp_count(F.col("text"), F.lit(r"[.,;:!?]"))
        .cast("double")
        .alias("i4"),
    )
    w = items.withColumn(
        "tot", F.col("i1") + F.col("i2") + F.col("i3") + F.col("i4")
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for c in ("i1", "i2", "i3", "i4", "tot"):
        tag = "t" if c == "tot" else c[1]
        aggs.append(dsum(c, 6).alias(f"s{tag}"))
        aggs.append(dsum(F.col(c) * F.col(c), 4).alias(f"ss{tag}"))
    sums = w.agg(*aggs)
    item_var = sum(
        F.col(f"ss{i}") - F.col(f"s{i}") * F.col(f"s{i}") / F.col("n")
        for i in ("1", "2", "3", "4")
    )
    tot_var = F.col("sst") - F.col("st") * F.col("st") / F.col("n")
    alpha = (4.0 / 3.0) * (1 - item_var / tot_var)
    return sums.select(
        F.col("n").alias("n_docs"),
        (quantize(alpha, 6) / 1e6).alias("cronbach_alpha"),
    )


# --- q493: odds ratio & risk ratio with Wald log-scale CIs — the
# epidemiology 2×2 kit over behavioral exposure: do ABOVE-MEDIAN
# clickers (exposure) purchase above the median rate (outcome)?
# (Every sf user both clicks and purchases at least once, so the
# binary any-click/any-purchase table is degenerate; the median split
# is the non-degenerate formulation and both engines interpolate the
# same exact-integer median.)
#   OR = (a·d)/(b·c),  ln-CI ± 1.96·√(1/a+1/b+1/c+1/d)
#   RR = [a/(a+b)] / [c/(c+d)],  ln-CI ± 1.96·√(b/(a(a+b)) + d/(c(c+d)))
# One distinct-user flag pass → four exact cells → closed formulas
# (completes the 2×2 family: chi-square q59, McNemar q433-class,
# two-proportion power q344). ---------------------------------------------------
@query(
    "q493_odds_risk_ratio_2x2",
    oracle="""
    WITH counts AS MATERIALIZED (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS clicks,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS buys
        FROM events GROUP BY user_id
    ),
    med AS (
        SELECT quantile_cont(CAST(clicks AS DOUBLE), 0.5) AS mc,
               quantile_cont(CAST(buys AS DOUBLE), 0.5) AS mb
        FROM counts
    ),
    per_user AS MATERIALIZED (
        SELECT CASE WHEN clicks > (SELECT mc FROM med) THEN 1 ELSE 0 END AS e,
               CASE WHEN buys > (SELECT mb FROM med) THEN 1 ELSE 0 END AS o
        FROM counts
    ),
    cells AS (
        SELECT CAST(SUM(e * o) AS BIGINT) AS a,
               CAST(SUM(e * (1 - o)) AS BIGINT) AS b,
               CAST(SUM((1 - e) * o) AS BIGINT) AS c,
               CAST(SUM((1 - e) * (1 - o)) AS BIGINT) AS d
        FROM per_user
    )
    SELECT a, b, c, d,
           CAST(CAST(SIGN(orr) * FLOOR(ABS(orr) * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6 AS odds_ratio,
           CAST(CAST(SIGN(lo_or) * FLOOR(ABS(lo_or) * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6 AS or_ci_lo,
           CAST(CAST(SIGN(hi_or) * FLOOR(ABS(hi_or) * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6 AS or_ci_hi,
           CAST(CAST(SIGN(rr) * FLOOR(ABS(rr) * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6 AS risk_ratio,
           CAST(CAST(SIGN(lo_rr) * FLOOR(ABS(lo_rr) * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6 AS rr_ci_lo,
           CAST(CAST(SIGN(hi_rr) * FLOOR(ABS(hi_rr) * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6 AS rr_ci_hi
    FROM (
        SELECT a, b, c, d,
               CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c) AS orr,
               EXP(LN(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                   - 1.96 * SQRT(1.0/a + 1.0/b + 1.0/c + 1.0/d)) AS lo_or,
               EXP(LN(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                   + 1.96 * SQRT(1.0/a + 1.0/b + 1.0/c + 1.0/d)) AS hi_or,
               (CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)) AS rr,
               EXP(LN((CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)))
                   - 1.96 * SQRT(CAST(b AS DOUBLE)/(a*(a+b)) + CAST(d AS DOUBLE)/(c*(c+d)))) AS lo_rr,
               EXP(LN((CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)))
                   + 1.96 * SQRT(CAST(b AS DOUBLE)/(a*(a+b)) + CAST(d AS DOUBLE)/(c*(c+d)))) AS hi_rr
        FROM cells
    )
    """,
)
def q493(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    ev = T(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("clicks"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("buys"),
    )
    med = counts.agg(
        F.expr("percentile(CAST(clicks AS DOUBLE), 0.5)").alias("mc"),
        F.expr("percentile(CAST(buys AS DOUBLE), 0.5)").alias("mb"),
    )
    per_user = counts.crossJoin(F.broadcast(med)).select(
        F.when(F.col("clicks") > F.col("mc"), 1).otherwise(0).alias("e"),
        F.when(F.col("buys") > F.col("mb"), 1).otherwise(0).alias("o"),
    )
    cells = per_user.agg(
        F.sum(F.col("e") * F.col("o")).cast("long").alias("a"),
        F.sum(F.col("e") * (1 - F.col("o"))).cast("long").alias("b"),
        F.sum((1 - F.col("e")) * F.col("o")).cast("long").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("o"))).cast("long").alias("d"),
    )
    a, b, c, d = (F.col(x).cast("double") for x in "abcd")
    orr = a * d / (b * c)
    se_or = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    rr = (a / (a + b)) / (c / (c + d))
    se_rr = F.sqrt(b / (a * (a + b)) + d / (c * (c + d)))
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        (quantize(orr, 6) / 1e6).alias("odds_ratio"),
        (quantize(F.exp(F.log(orr) - 1.96 * se_or), 6) / 1e6).alias("or_ci_lo"),
        (quantize(F.exp(F.log(orr) + 1.96 * se_or), 6) / 1e6).alias("or_ci_hi"),
        (quantize(rr, 6) / 1e6).alias("risk_ratio"),
        (quantize(F.exp(F.log(rr) - 1.96 * se_rr), 6) / 1e6).alias("rr_ci_lo"),
        (quantize(F.exp(F.log(rr) + 1.96 * se_rr), 6) / 1e6).alias("rr_ci_hi"),
    )


# --- q494: Kendall's W coefficient of concordance — do three "judges"
# (revenue, total quantity, distinct-order count) agree on how they
# rank the ~25 part brands?  W = 12·S / (m²(n³−n)) with S the sum of
# squared deviations of per-brand rank sums from their mean — the
# multi-ranking agreement statistic that generalizes q417's pairwise
# Kendall tau. Ranks ride deterministic total orders (metric, brand)
# over the BOUNDED brand rollup; everything after the rollup is exact
# integer arithmetic. -----------------------------------------------------------
@query(
    "q494_kendalls_w_brand_judges",
    oracle="""
    WITH per_brand AS MATERIALIZED (
        SELECT p.p_brand AS brand,
               CAST(SUM(CAST(SIGN(l.l_extendedprice)
                             * FLOOR(ABS(l.l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS rev_q,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
               CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand
    ),
    ranked AS MATERIALIZED (
        SELECT brand,
               ROW_NUMBER() OVER (ORDER BY rev_q, brand) AS r1,
               ROW_NUMBER() OVER (ORDER BY qty, brand) AS r2,
               ROW_NUMBER() OVER (ORDER BY n_orders, brand) AS r3
        FROM per_brand
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS srr,
               CAST(SUM(r1 + r2 + r3) AS BIGINT) AS sr
        FROM ranked
    )
    SELECT n AS n_brands,
           CAST(CAST(SIGN(w) * FLOOR(ABS(w) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS kendalls_w
    FROM (
        SELECT n,
               12.0 * (srr - CAST(sr AS DOUBLE) * sr / n)
                   / (9.0 * (CAST(n AS DOUBLE) * n * n - n)) AS w
        FROM sums
    )
    """,
)
def q494(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize

    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    per_brand = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(quantize("l_extendedprice", 2)).cast("long").alias("rev_q"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        )
    )
    ranked = per_brand.select(
        "brand",
        F.row_number().over(Window.orderBy("rev_q", "brand")).alias("r1"),
        F.row_number().over(Window.orderBy("qty", "brand")).alias("r2"),
        F.row_number().over(Window.orderBy("n_orders", "brand")).alias("r3"),
    )
    rsum = F.col("r1") + F.col("r2") + F.col("r3")
    sums = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(rsum * rsum).cast("long").alias("srr"),
        F.sum(rsum).cast("long").alias("sr"),
    )
    w = (
        12.0
        * (F.col("srr") - F.col("sr").cast("double") * F.col("sr") / F.col("n"))
        / (9.0 * (F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")))
    )
    return sums.select(
        F.col("n").alias("n_brands"),
        (quantize(w, 6) / 1e6).alias("kendalls_w"),
    )


# --- q495: Conover squared-ranks test for equality of VARIANCES
# between two return flags — the rank-based dispersion complement to
# Levene (q58-class): rank |x − x̄_g| over the pooled sample (midranks
# for ties), T = Σ_{g1} R², studentized
#   z = (T − n1·R̄²) / √( n1·n2/(N(N−1)) · (ΣR⁴ − N·(R̄²)²) ).
# Reuses the distinct-value rank histogram — one groupBy shuffle, a
# prefix pass, never a data-sized sort. Midranks are exact multiples
# of 0.5, so R² and R⁴ terms quantize exactly at scale 4. ----------------------
@query(
    "q495_conover_squared_ranks",
    oracle="""
    WITH grp_means AS MATERIALIZED (
        SELECT l_returnflag AS g,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS mu
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
        GROUP BY g
    ),
    dev AS MATERIALIZED (
        SELECT l.l_returnflag AS g,
               ABS(CAST(l.l_extendedprice AS DOUBLE) - m.mu) AS v
        FROM lineitem l JOIN grp_means m ON m.g = l.l_returnflag
        WHERE l.l_returnflag IN ('R', 'N')
    ),
    hist AS MATERIALIZED (
        SELECT v,
               CAST(SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM dev GROUP BY v
    ),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2
        FROM hist
    ),
    ranked AS MATERIALIZED (
        -- ranks normalized by N: z is invariant and u^4 terms stay
        -- inside the quantization envelope at any scale
        SELECT c1, c2, c1 + c2 AS cnt,
               (SUM(c1 + c2) OVER (ORDER BY v) - (c1 + c2 - 1) / 2.0)
                   / (SELECT n1 + n2 FROM tot) AS u
        FROM hist
    ),
    sums AS (
        SELECT (SELECT n1 FROM tot) AS n1,
               (SELECT n2 FROM tot) AS n2,
               CAST(SUM(CAST(SIGN(c1 * u * u)
                             * FLOOR(ABS(c1 * u * u) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS t1,
               CAST(SUM(CAST(SIGN(cnt * u * u)
                             * FLOOR(ABS(cnt * u * u) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS sr2,
               CAST(SUM(CAST(SIGN(cnt * u * u * u * u)
                             * FLOOR(ABS(cnt * u * u * u * u) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS sr4
        FROM ranked
    )
    SELECT n1, n2,
           CAST(CAST(SIGN(z) * FLOOR(ABS(z) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS conover_z
    FROM (
        SELECT n1, n2,
               (t1 - n1 * sr2 / (n1 + n2))
               / SQRT(CAST(n1 AS DOUBLE) * n2 / ((n1 + n2) * (n1 + n2 - 1.0))
                      * (sr4 - (n1 + n2) * (sr2 / (n1 + n2)) * (sr2 / (n1 + n2))))
                   AS z
        FROM sums
    )
    """,
)
def q495(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin(["R", "N"])
    )
    grp_means = li.groupBy(F.col("l_returnflag").alias("g")).agg(
        (dsum("l_extendedprice", 2) / F.count(F.lit(1))).alias("mu")
    )
    dev = li.join(
        F.broadcast(grp_means), li.l_returnflag == grp_means.g
    ).select(
        "g",
        F.abs(F.col("l_extendedprice").cast("double") - F.col("mu")).alias("v"),
    )
    hist = tracked_persist(
        dev.groupBy("v").agg(
            F.sum(F.when(F.col("g") == "R", 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("g") == "N", 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
    )
    tot = hist.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    hist2 = hist.withColumn("cnt", F.col("c1") + F.col("c2"))
    ranked = global_prefix_counts(hist2, [F.asc("v")], {"cumt": "cnt"})
    ranked = ranked.crossJoin(F.broadcast(tot)).select(
        "c1",
        "c2",
        "cnt",
        (
            (F.col("cumt") - (F.col("cnt") - 1) / 2.0)
            / (F.col("n1") + F.col("n2"))
        ).alias("u"),
    )
    u2 = F.col("u") * F.col("u")
    sums = ranked.agg(
        dsum(F.col("c1") * u2, 9).alias("t1"),
        dsum(F.col("cnt") * u2, 9).alias("sr2"),
        dsum(F.col("cnt") * u2 * u2, 9).alias("sr4"),
    ).crossJoin(F.broadcast(tot))
    nn = F.col("n1") + F.col("n2")
    rbar2 = F.col("sr2") / nn
    z = (F.col("t1") - F.col("n1") * rbar2) / F.sqrt(
        F.col("n1").cast("double")
        * F.col("n2")
        / (nn * (nn - 1.0))
        * (F.col("sr4") - nn * rbar2 * rbar2)
    )
    return sums.select(
        "n1", "n2", (quantize(z, 6) / 1e6).alias("conover_z")
    )


# --- q522: chi-square STANDARDIZED residual cells for priority ×
# market segment — q59's omnibus test says "the table deviates"; this
# says WHERE: r_ij = (O−E)/√(E(1−p_i)(1−q_j)) per cell, the mosaic-plot
# numbers an analyst actually reads (|r| > 2 ≈ significant cell). One
# exact-count aggregate over the bounded 5×5 table. ------------------------------
@query(
    "q522_chisq_standardized_residuals",
    oracle="""
    WITH cells AS MATERIALIZED (
        SELECT o.o_orderpriority AS priority, c.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS o_cnt
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY priority, segment
    ),
    rows_ AS MATERIALIZED (
        SELECT priority, CAST(SUM(o_cnt) AS BIGINT) AS rn
        FROM cells GROUP BY priority
    ),
    cols_ AS MATERIALIZED (
        SELECT segment, CAST(SUM(o_cnt) AS BIGINT) AS cn
        FROM cells GROUP BY segment
    ),
    tot AS (SELECT CAST(SUM(o_cnt) AS BIGINT) AS n FROM cells)
    SELECT c.priority, c.segment, c.o_cnt,
           CAST(CAST(SIGN(e) * FLOOR(ABS(e) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS expected,
           CAST(CAST(SIGN(r) * FLOOR(ABS(r) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS std_residual
    FROM (
        SELECT c.priority, c.segment, c.o_cnt,
               CAST(r.rn AS DOUBLE) * co.cn / t.n AS e,
               (c.o_cnt - CAST(r.rn AS DOUBLE) * co.cn / t.n)
                   / SQRT(CAST(r.rn AS DOUBLE) * co.cn / t.n
                          * (1 - CAST(r.rn AS DOUBLE) / t.n)
                          * (1 - CAST(co.cn AS DOUBLE) / t.n)) AS r
        FROM cells c
        JOIN rows_ r ON r.priority = c.priority
        JOIN cols_ co ON co.segment = c.segment, tot t
    ) c
    ORDER BY priority, segment
    """,
)
def q522(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o_cnt"))
    )
    rows_ = cells.groupBy("priority").agg(
        F.sum("o_cnt").cast("long").alias("rn")
    )
    cols_ = cells.groupBy("segment").agg(
        F.sum("o_cnt").cast("long").alias("cn")
    )
    tot = cells.agg(F.sum("o_cnt").cast("long").alias("n"))
    j = (
        cells.join(F.broadcast(rows_), "priority")
        .join(F.broadcast(cols_), "segment")
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("rn").cast("double") * F.col("cn") / F.col("n")
    r = (F.col("o_cnt") - e) / F.sqrt(
        e
        * (1 - F.col("rn").cast("double") / F.col("n"))
        * (1 - F.col("cn").cast("double") / F.col("n"))
    )
    return j.select(
        "priority",
        "segment",
        "o_cnt",
        (quantize(e, 6) / 1e6).alias("expected"),
        (quantize(r, 6) / 1e6).alias("std_residual"),
    ).orderBy("priority", "segment")


# --- q523: per-source embedding centroid silhouette — treat each
# document source as a cluster in embedding space (via the doc_id ↔
# vec_id alignment): silhouette-lite per source =
# (nearest-other-centroid distance − mean intra distance) / max(·,·),
# all against CENTROIDS (the classic O(n·k) simplification that keeps
# the statistic out of O(n²)). One pass builds the k centroids, one
# map computes per-vector distances, the k×k centroid matrix is
# bounded by the source count. ---------------------------------------------------
@query(
    "q523_source_centroid_silhouette",
    oracle="""
    WITH v AS MATERIALIZED (
        SELECT d.source, e.vec_id,
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ),
    cent2 AS MATERIALIZED (
        SELECT source, i,
               CAST(SUM(CAST(SIGN(emb[i]) * FLOOR(ABS(emb[i]) * 1e6 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS ci
        FROM v, UNNEST(generate_series(1, 64)) AS t(i)
        GROUP BY source, i
    ),
    intra AS MATERIALIZED (
        SELECT x.source,
               CAST(COUNT(DISTINCT x.vec_id) AS BIGINT) AS n_vecs,
               CAST(SUM(CAST(SIGN(dd) * FLOOR(ABS(dd) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS sum_d2
        FROM (
            SELECT v.source, v.vec_id,
                   CAST(SUM(CAST(SIGN((v.emb[c.i] - c.ci) * (v.emb[c.i] - c.ci))
                                 * FLOOR(ABS((v.emb[c.i] - c.ci)
                                             * (v.emb[c.i] - c.ci)) * 1e9 + 0.5)
                                 AS BIGINT)) AS DOUBLE) / 1e9 AS dd
            FROM v JOIN cent2 c ON c.source = v.source
            GROUP BY v.source, v.vec_id
        ) x
        GROUP BY x.source
    ),
    cdist AS MATERIALIZED (
        SELECT a.source AS sa, b.source AS sb,
               CAST(SUM(CAST(SIGN((a.ci - b.ci) * (a.ci - b.ci))
                             * FLOOR(ABS((a.ci - b.ci) * (a.ci - b.ci))
                                     * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1e9 AS d2
        FROM cent2 a JOIN cent2 b ON b.i = a.i AND b.source <> a.source
        GROUP BY sa, sb
    ),
    nearest AS MATERIALIZED (
        SELECT sa AS source, MIN(d2) AS near_d2 FROM cdist GROUP BY sa
    )
    SELECT i.source, i.n_vecs,
           CAST(CAST(SIGN(a_) * FLOOR(ABS(a_) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS mean_intra_d2,
           CAST(CAST(SIGN(b_) * FLOOR(ABS(b_) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS nearest_centroid_d2,
           CAST(CAST(SIGN((b_ - a_) / GREATEST(a_, b_))
                     * FLOOR(ABS((b_ - a_) / GREATEST(a_, b_)) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS silhouette
    FROM (
        SELECT i.source, i.n_vecs,
               i.sum_d2 / i.n_vecs AS a_,
               n.near_d2 AS b_
        FROM intra i JOIN nearest n ON n.source = i.source
    ) i
    ORDER BY source
    """,
)
def q523(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    emb = T(spark, sf_dir, "embeddings")
    docs = T(spark, sf_dir, "documents")
    v = (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .select(
            "source",
            "vec_id",
            F.expr(
                "transform(embedding, x -> CAST(x AS DOUBLE))"
            ).alias("emb"),
        )
    )
    # long form: one row per (vector, dim)
    vl = v.select(
        "source",
        "vec_id",
        F.posexplode("emb").alias("i0", "x"),
    ).select("source", "vec_id", (F.col("i0") + 1).alias("i"), "x")
    cent = vl.groupBy("source", "i").agg((dsum("x", 6) / F.count(F.lit(1))).alias("ci"))
    per_vec = (
        vl.join(cent, ["source", "i"])
        .groupBy("source", "vec_id")
        .agg(
            dsum((F.col("x") - F.col("ci")) * (F.col("x") - F.col("ci")), 9).alias("dd")
        )
    )
    intra = per_vec.groupBy("source").agg(
        F.countDistinct("vec_id").cast("long").alias("n_vecs"),
        dsum("dd", 9).alias("sum_d2"),
    )
    ca = cent.select(
        F.col("source").alias("sa"), "i", F.col("ci").alias("cia")
    )
    cb = cent.select(
        F.col("source").alias("sb"), "i", F.col("ci").alias("cib")
    )
    cdist = (
        ca.join(cb, "i")
        .filter(F.col("sa") != F.col("sb"))
        .groupBy("sa", "sb")
        .agg(
            dsum(
                (F.col("cia") - F.col("cib")) * (F.col("cia") - F.col("cib")), 9
            ).alias("d2")
        )
    )
    nearest = cdist.groupBy(F.col("sa").alias("source")).agg(
        F.min("d2").alias("near_d2")
    )
    j = intra.join(nearest, "source")
    a_ = F.col("sum_d2") / F.col("n_vecs")
    b_ = F.col("near_d2")
    return j.select(
        "source",
        "n_vecs",
        (quantize(a_, 6) / 1e6).alias("mean_intra_d2"),
        (quantize(b_, 6) / 1e6).alias("nearest_centroid_d2"),
        (quantize((b_ - a_) / F.greatest(a_, b_), 6) / 1e6).alias("silhouette"),
    ).orderBy("source")


# --- q525: Benford SECOND-digit conformity audit of order totals —
# the forensic follow-up to q166/q370's first-digit tests (fabricators
# who know Benford's first-digit law rarely fake the second):
# P(d2 = d) = Σ_{k=1..9} log10(1 + 1/(10k + d)), chi-square against
# the bounded 10-cell histogram. -------------------------------------------------
@query(
    "q525_benford_second_digit",
    oracle="""
    WITH digits AS MATERIALIZED (
        SELECT CAST(substr(CAST(CAST(o_totalprice * 100 AS BIGINT) AS VARCHAR),
                    2, 1) AS INTEGER) AS d2
        FROM orders
        WHERE length(CAST(CAST(o_totalprice * 100 AS BIGINT) AS VARCHAR)) >= 2
    ),
    hist AS MATERIALIZED (
        SELECT d2, CAST(COUNT(*) AS BIGINT) AS o FROM digits GROUP BY d2
    ),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM hist),
    expect AS MATERIALIZED (
        SELECT d,
               LOG10(1.0 + 1.0/(10.0 + d)) + LOG10(1.0 + 1.0/(20.0 + d))
             + LOG10(1.0 + 1.0/(30.0 + d)) + LOG10(1.0 + 1.0/(40.0 + d))
             + LOG10(1.0 + 1.0/(50.0 + d)) + LOG10(1.0 + 1.0/(60.0 + d))
             + LOG10(1.0 + 1.0/(70.0 + d)) + LOG10(1.0 + 1.0/(80.0 + d))
             + LOG10(1.0 + 1.0/(90.0 + d)) AS p
        FROM (SELECT UNNEST(generate_series(0, 9)) AS d)
    )
    SELECT CAST(e.d AS BIGINT) AS digit,
           COALESCE(h.o, 0) AS observed,
           CAST(CAST(SIGN(t.n * e.p) * FLOOR(ABS(t.n * e.p) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS expected,
           CAST(CAST(SIGN(chi) * FLOOR(ABS(chi) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS cell_chi2
    FROM expect e
    LEFT JOIN hist h ON h.d2 = e.d, tot t,
    LATERAL (
        SELECT (COALESCE(h.o, 0) - t.n * e.p) * (COALESCE(h.o, 0) - t.n * e.p)
               / (t.n * e.p) AS chi
    ) c
    ORDER BY digit
    """,
)
def q525(spark, sf_dir):
    import math

    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice") * 100).cast("long").cast("string")
    digits = orders.filter(F.length(cents) >= 2).select(
        F.substring(cents, 2, 1).cast("int").alias("d2")
    )
    hist = digits.groupBy("d2").agg(F.count(F.lit(1)).cast("long").alias("o"))
    tot = hist.agg(F.sum("o").cast("long").alias("n"))
    expect = small_local_df(
        spark,
        [
            (
                d,
                sum(math.log10(1.0 + 1.0 / (10.0 * k + d)) for k in range(1, 10)),
            )
            for d in range(10)
        ],
        "d int, p double",
    )
    j = (
        F.broadcast(expect)
        .join(hist, expect.d == hist.d2, "left")
        .crossJoin(F.broadcast(tot))
    )
    obs = F.coalesce("o", F.lit(0))
    e = F.col("n") * F.col("p")
    chi = (obs - e) * (obs - e) / e
    return j.select(
        F.col("d").cast("long").alias("digit"),
        obs.cast("long").alias("observed"),
        (quantize(e, 6) / 1e6).alias("expected"),
        (quantize(chi, 6) / 1e6).alias("cell_chi2"),
    ).orderBy("digit")


# --- q526: Goodman-Kruskal gamma for ORDINAL association between
# order priority (1-URGENT…5-LOW) and customer balance quartile —
# γ = (C − D)/(C + D) over concordant/discordant pairs, computed from
# the bounded 5×4 contingency table (pair counts are products of cell
# counts — never a row-pair join): the ordinal complement of q59's
# nominal chi-square. ------------------------------------------------------------
@query(
    "q526_goodman_kruskal_gamma",
    oracle="""
    WITH med AS (
        SELECT quantile_cont(CAST(c_acctbal AS DOUBLE),
                             [0.25, 0.5, 0.75]) AS qs
        FROM customer
    ),
    cells AS MATERIALIZED (
        SELECT CAST(substr(o.o_orderpriority, 1, 1) AS INTEGER) AS pr,
               CASE WHEN c.c_acctbal <= (SELECT qs[1] FROM med) THEN 1
                    WHEN c.c_acctbal <= (SELECT qs[2] FROM med) THEN 2
                    WHEN c.c_acctbal <= (SELECT qs[3] FROM med) THEN 3
                    ELSE 4 END AS bq,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY pr, bq
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN b.pr > a.pr AND b.bq > a.bq
                             THEN a.n * b.n ELSE 0 END) AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN b.pr > a.pr AND b.bq < a.bq
                             THEN a.n * b.n ELSE 0 END) AS BIGINT) AS disc
        FROM cells a JOIN cells b ON TRUE
    )
    SELECT conc AS concordant, disc AS discordant,
           CAST(CAST(SIGN(g) * FLOOR(ABS(g) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS gamma
    FROM (
        SELECT conc, disc,
               CAST(conc - disc AS DOUBLE) / (conc + disc) AS g
        FROM pairs
    )
    """,
)
def q526(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    med = cust.agg(
        F.expr(
            "percentile(CAST(c_acctbal AS DOUBLE), array(0.25, 0.5, 0.75))"
        ).alias("qs")
    )
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .crossJoin(F.broadcast(med))
        .select(
            F.substring("o_orderpriority", 1, 1).cast("int").alias("pr"),
            F.when(F.col("c_acctbal") <= F.col("qs")[0], 1)
            .when(F.col("c_acctbal") <= F.col("qs")[1], 2)
            .when(F.col("c_acctbal") <= F.col("qs")[2], 3)
            .otherwise(4)
            .alias("bq"),
        )
        .groupBy("pr", "bq")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    a = cells.select(
        F.col("pr").alias("pa"), F.col("bq").alias("qa"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col("pr").alias("pb"), F.col("bq").alias("qb"), F.col("n").alias("nb")
    )
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("pb") > F.col("pa")) & (F.col("qb") > F.col("qa")),
                F.col("na") * F.col("nb"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("concordant"),
        F.sum(
            F.when(
                (F.col("pb") > F.col("pa")) & (F.col("qb") < F.col("qa")),
                F.col("na") * F.col("nb"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("discordant"),
    )
    g = (F.col("concordant") - F.col("discordant")).cast("double") / (
        F.col("concordant") + F.col("discordant")
    )
    return pairs.select(
        "concordant", "discordant", (quantize(g, 6) / 1e6).alias("gamma")
    )


# --- q527: robust spread ladder per market segment — quartile
# coefficient of dispersion (Q3−Q1)/(Q3+Q1), midhinge (Q1+Q3)/2 and
# IQR of per-customer revenue: the outlier-immune spread summary that
# complements the CV (which one whale customer wrecks). --------------------------
@query(
    "q527_quartile_dispersion",
    oracle="""
    WITH rev AS MATERIALIZED (
        SELECT c.c_mktsegment AS segment,
               CAST(SUM(CAST(SIGN(o.o_totalprice)
                             * FLOOR(ABS(o.o_totalprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY segment, o.o_custkey
    ),
    qs AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               quantile_cont(y, 0.25) AS q1,
               quantile_cont(y, 0.75) AS q3
        FROM rev GROUP BY segment
    )
    SELECT segment, n_customers,
           CAST(CAST(SIGN(q3 - q1) * FLOOR(ABS(q3 - q1) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS iqr,
           CAST(CAST(SIGN((q1 + q3) / 2) * FLOOR(ABS((q1 + q3) / 2) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS midhinge,
           CAST(CAST(SIGN((q3 - q1) / (q3 + q1))
                     * FLOOR(ABS((q3 - q1) / (q3 + q1)) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS qcd
    FROM qs
    ORDER BY segment
    """,
)
def q527(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(dsum("o_totalprice", 2).alias("y"))
    )
    qs = rev.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.expr("percentile(y, 0.25)").alias("q1"),
        F.expr("percentile(y, 0.75)").alias("q3"),
    )
    return qs.select(
        "segment",
        "n_customers",
        (quantize(F.col("q3") - F.col("q1"), 6) / 1e6).alias("iqr"),
        (quantize((F.col("q1") + F.col("q3")) / 2, 6) / 1e6).alias("midhinge"),
        (
            quantize(
                (F.col("q3") - F.col("q1")) / (F.col("q3") + F.col("q1")), 6
            )
            / 1e6
        ).alias("qcd"),
    ).orderBy("segment")


# Shared normal-CDF approximation (Abramowitz-Stegun 7.1.26, |err| <
# 1.5e-7): neither engine ships erf, so BOTH evaluate this exact
# double-arithmetic tree — bit-identical by construction.
_AS_ERF_SQL = (
    "(1.0 - (((((1.061405429 * (1.0/(1.0 + 0.3275911 * ({z}))) - 1.453152027)"
    " * (1.0/(1.0 + 0.3275911 * ({z}))) + 1.421413741)"
    " * (1.0/(1.0 + 0.3275911 * ({z}))) - 0.284496736)"
    " * (1.0/(1.0 + 0.3275911 * ({z}))) + 0.254829592)"
    " * (1.0/(1.0 + 0.3275911 * ({z}))) * EXP(-(({z}) * ({z})))))"
)


def _norm_cdf_sql(x: str, mu: str, sd: str) -> str:
    """Φ((x−μ)/σ) via A&S erf with the sign handled by symmetry."""
    z = f"ABS(({x}) - ({mu})) / (({sd}) * 1.4142135623730951)"
    erf = _AS_ERF_SQL.format(z=z)
    return (
        f"(CASE WHEN ({x}) >= ({mu}) THEN 0.5 * (1.0 + {erf})"
        f" ELSE 0.5 * (1.0 - {erf}) END)"
    )


def _norm_cdf_col(x, mu, sd):
    """Spark twin of :func:`_norm_cdf_sql` — the same A&S tree."""
    z = F.abs(x - mu) / (sd * 1.4142135623730951)
    t = 1.0 / (1.0 + 0.3275911 * z)
    poly = (
        (((1.061405429 * t - 1.453152027) * t + 1.421413741) * t - 0.284496736)
        * t
        + 0.254829592
    ) * t
    erf = 1.0 - poly * F.exp(-(z * z))
    return F.when(x >= mu, 0.5 * (1.0 + erf)).otherwise(0.5 * (1.0 - erf))


# --- q537: Lilliefors-style KS distance of monthly revenue against
# the FITTED normal (μ̂, σ̂ from the same data — the composite-null
# version of a one-sample KS): D = max over the empirical support of
# max(|F̂(x)−Φ|, |F̂(x⁻)−Φ|), with Φ evaluated through the shared
# Abramowitz-Stegun erf tree (no engine ships erf; both run the same
# double arithmetic). EDF from global_prefix_counts — one shuffle. --------------
@query(
    "q537_lilliefors_normality",
    oracle=f"""
    WITH monthly AS MATERIALIZED (
        SELECT date_trunc('month', l_shipdate) AS mth,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / 1e6 AS y
        FROM lineitem GROUP BY mth
    ),
    m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(SIGN(y) * FLOOR(ABS(y) * 1e6 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e6 AS s,
               CAST(SUM(CAST(SIGN(y*y) * FLOOR(ABS(y*y) * 1e6 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e6 AS ss
        FROM monthly
    ),
    fit AS (
        SELECT n, s / n AS mu,
               SQRT((ss - s * s / n) / (n - 1)) AS sd
        FROM m
    ),
    edf AS MATERIALIZED (
        SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY y, mth) AS DOUBLE) AS r
        FROM monthly
    ),
    dist AS (
        SELECT MAX(GREATEST(
                   ABS(e.r / f.n - {_norm_cdf_sql('e.y', 'f.mu', 'f.sd')}),
                   ABS((e.r - 1) / f.n - {_norm_cdf_sql('e.y', 'f.mu', 'f.sd')})
               )) AS d
        FROM edf e, fit f
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM fit) AS n_months,
           CAST({sql_quantize('(SELECT mu FROM fit)', 6)} AS DOUBLE) / 1e6 AS mu_hat,
           CAST({sql_quantize('(SELECT sd FROM fit)', 6)} AS DOUBLE) / 1e6 AS sd_hat,
           CAST({sql_quantize('d', 6)} AS DOUBLE) / 1e6 AS lilliefors_d
    FROM dist
    """,
)
def q537(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    li = T(spark, sf_dir, "lineitem")
    monthly = li.groupBy(F.date_trunc("month", "l_shipdate").alias("mth")).agg(
        (dsum("l_extendedprice", 2) / 1e6).alias("y")
    )
    m = monthly.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("y", 6).alias("s"),
        dsum(F.col("y") * F.col("y"), 6).alias("ss"),
    )
    fit = m.select(
        "n",
        (F.col("s") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    from pyspark.sql import Window as W2

    edf = monthly.select(
        "y", F.row_number().over(W2.orderBy("y", "mth")).cast("double").alias("r")
    )
    j = edf.crossJoin(F.broadcast(fit))
    phi = _norm_cdf_col(F.col("y"), F.col("mu"), F.col("sd"))
    dist = j.agg(
        F.max(
            F.greatest(
                F.abs(F.col("r") / F.col("n") - phi),
                F.abs((F.col("r") - 1) / F.col("n") - phi),
            )
        ).alias("d")
    )
    return (
        fit.crossJoin(F.broadcast(dist))
        .select(
            F.col("n").cast("long").alias("n_months"),
            (quantize("mu", 6) / 1e6).alias("mu_hat"),
            (quantize("sd", 6) / 1e6).alias("sd_hat"),
            (quantize("d", 6) / 1e6).alias("lilliefors_d"),
        )
    )


# --- q540: Welch's heteroscedastic one-way ANOVA of order totals
# across market segments — the unequal-variance form (q482's classic
# ANOVA assumes homoscedasticity; q58-class Levene says that's wrong
# here): W = Σw_i(x̄_i−x̃)²/(k−1) / (1 + 2(k−2)/(k²−1)·Σh_i), with
# w_i = n_i/s_i², x̃ the w-weighted grand mean, h_i = (1−w_i/Σw)²/(n_i−1).
# One exact per-segment moment aggregate + closed formula. ----------------------
@query(
    "q540_welch_anova_segments",
    oracle="""
    WITH per_g AS MATERIALIZED (
        SELECT c.c_mktsegment AS seg,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(SIGN(o.o_totalprice)
                             * FLOOR(ABS(o.o_totalprice) * 100.0 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0 / 1e3 AS s,
               CAST(SUM(CAST(SIGN(o.o_totalprice * o.o_totalprice)
                             * FLOOR(ABS(o.o_totalprice * o.o_totalprice)
                                     / 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
                   * 1e4 / 1e6 AS ss
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY seg
    ),
    wg AS MATERIALIZED (
        SELECT seg, n,
               s / n AS m,
               n / (((ss - s * s / n) / (n - 1))) AS w
        FROM per_g
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(w) AS sw,
               SUM(w * m) / SUM(w) AS xt
        FROM wg
    ),
    parts AS (
        SELECT t.k,
               SUM(g.w * (g.m - t.xt) * (g.m - t.xt)) / (t.k - 1) AS num,
               SUM((1 - g.w / t.sw) * (1 - g.w / t.sw) / (g.n - 1)) AS h
        FROM wg g, tot t
        GROUP BY t.k, t.sw, t.xt
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(CAST(SIGN(wf) * FLOOR(ABS(wf) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS welch_f
    FROM (
        SELECT k,
               num / (1 + (2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1)) * h)
                   AS wf
        FROM parts
    )
    """,
)
def q540(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    # totalprice in thousands: squares stay inside the int64 envelope
    # with a 1e-4 downscale quantization on the square term
    per_g = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (dsum("o_totalprice", 2) / 1e3).alias("s"),
            (
                F.sum(
                    quantize(F.col("o_totalprice") * F.col("o_totalprice"), -4)
                ).cast("double")
                * 1e4
                / 1e6
            ).alias("ss"),
        )
    )
    wg = per_g.select(
        "seg",
        "n",
        (F.col("s") / F.col("n")).alias("m"),
        (
            F.col("n")
            / ((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1))
        ).alias("w"),
    )
    tot = wg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("w").alias("sw"),
        (F.sum(F.col("w") * F.col("m")) / F.sum("w")).alias("xt"),
    )
    j = wg.crossJoin(F.broadcast(tot))
    parts = j.groupBy("k", "sw", "xt").agg(
        (
            F.sum(F.col("w") * (F.col("m") - F.col("xt")) ** 2)
            / (F.col("k") - 1)
        ).alias("num"),
        F.sum(
            (1 - F.col("w") / F.col("sw")) ** 2 / (F.col("n") - 1)
        ).alias("h"),
    )
    wf = F.col("num") / (
        1
        + (2.0 * (F.col("k") - 2) / (F.col("k").cast("double") * F.col("k") - 1))
        * F.col("h")
    )
    return parts.select(
        F.col("k").alias("k_groups"),
        (quantize(wf, 6) / 1e6).alias("welch_f"),
    )


# --- q545: Hill estimator of the upper-tail index of order totals —
# the canonical "how heavy is the revenue tail" statistic (Hill 1975):
# with x_(1) ≥ … ≥ x_(k) the top-k order statistics and x_(k+1) the
# threshold, 1/α̂ = (1/k)·Σ ln(x_(i)/x_(k+1)). Top-(k+1) is a
# TakeOrdered (no full sort); boundary ties contribute ln(1)=0, so the
# statistic is tie-invariant by construction and needs no row_number.
# k is fixed (200), never data-sized. -----------------------------------------
@query(
    "q545_hill_tail_index",
    oracle=f"""
    WITH top AS MATERIALIZED (
        SELECT o_totalprice AS x FROM orders
        ORDER BY o_totalprice DESC LIMIT 201
    ),
    th AS (SELECT MIN(x) AS thr FROM top),
    s AS (
        SELECT CAST(SUM({sql_quantize('LN(top.x / th.thr)', 9)}) AS DOUBLE)
                   / 1e9 / 200.0 AS ainv
        FROM top, th
    )
    SELECT CAST(200 AS BIGINT) AS k_tail,
           CAST({sql_quantize('th.thr', 2)} AS DOUBLE) / 1e2 AS threshold,
           CAST({sql_quantize('1.0 / s.ainv', 6)} AS DOUBLE) / 1e6
               AS hill_alpha
    FROM th, s
    """,
)
def q545(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    top = tracked_persist(
        orders.select(F.col("o_totalprice").alias("x"))
        .orderBy(F.col("x").desc())
        .limit(201)
    )
    th = top.agg(F.min("x").alias("thr"))
    s = (
        top.crossJoin(F.broadcast(th))
        .agg(
            (dsum(F.log(F.col("x") / F.col("thr")), 9) / 200.0).alias("ainv"),
            F.first("thr").alias("thr"),
        )
    )
    return s.select(
        F.lit(200).cast("long").alias("k_tail"),
        (quantize("thr", 2) / 1e2).alias("threshold"),
        (quantize(1.0 / F.col("ainv"), 6) / 1e6).alias("hill_alpha"),
    )


# --- q546: Jensen-Shannon divergence between the returned ('R') and
# never-returned ('N') quantity distributions — the symmetric,
# bounded-in-[0, ln 2] alternative to a raw KL for distribution drift
# (same family as q235's PSI but metric-grade). Bins are the ~50
# distinct integer quantities (fixed domain, never data-sized); each
# bin term is quantized to 1e-12 before the integer sum so the 50-term
# reduction is order-independent. ----------------------------------------------
@query(
    "q546_jensen_shannon_quantity",
    oracle=f"""
    WITH cells AS MATERIALIZED (
        SELECT l_quantity AS qty,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS cr,
               CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS cn
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
        GROUP BY qty
    ),
    tot AS (SELECT SUM(cr) AS tr, SUM(cn) AS tn FROM cells),
    terms AS (
        SELECT cr / tr AS p, cn / tn AS q,
               (cr / tr + cn / tn) / 2.0 AS m
        FROM cells, tot
    ),
    js AS (
        SELECT CAST(SUM({sql_quantize(
                   "CASE WHEN p > 0 THEN 0.5 * p * LN(p / m) ELSE 0 END"
                   " + CASE WHEN q > 0 THEN 0.5 * q * LN(q / m) ELSE 0 END",
                   12)}) AS DOUBLE) / 1e12 AS v,
               CAST(COUNT(*) AS BIGINT) AS n_bins
        FROM terms
    )
    SELECT n_bins,
           CAST({sql_quantize('js.v', 8)} AS DOUBLE) / 1e8 AS js_nats
    FROM js
    """,
)
def q546(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    li = T(spark, sf_dir, "lineitem")
    cells = (
        li.where(F.col("l_returnflag").isin("R", "N"))
        .groupBy(F.col("l_quantity").alias("qty"))
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("double")
            .alias("cr"),
            F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
            .cast("double")
            .alias("cn"),
        )
    )
    tot = cells.agg(F.sum("cr").alias("tr"), F.sum("cn").alias("tn"))
    terms = cells.crossJoin(F.broadcast(tot)).select(
        (F.col("cr") / F.col("tr")).alias("p"),
        (F.col("cn") / F.col("tn")).alias("q"),
        ((F.col("cr") / F.col("tr") + F.col("cn") / F.col("tn")) / 2.0).alias("m"),
    )
    term = F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / F.col("m"))).otherwise(
        0.0
    ) + F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / F.col("m"))).otherwise(0.0)
    js = terms.agg(
        dsum(term, 12).alias("v"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    return js.select("n_bins", (quantize("v", 8) / 1e8).alias("js_nats"))


# --- q547: Bartlett's test of equal order-total variances across the
# five order priorities — the parametric scale-homogeneity gate that
# pairs with q540's Welch ANOVA (use Welch when Bartlett rejects):
# T = ((N−k)·ln s_p² − Σ(n_i−1)·ln s_i²) / c with
# c = 1 + (Σ1/(n_i−1) − 1/(N−k)) / (3(k−1)). Per-group exact moment
# sums; the 5 per-group log terms are quantized before the final sum. ----------
@query(
    "q547_bartlett_priority_variances",
    oracle=f"""
    WITH per_g AS MATERIALIZED (
        SELECT o_orderpriority AS g,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('o_totalprice', 2)}) AS DOUBLE)
                   / 1e2 / 1e3 AS s,
               CAST(SUM({sql_quantize('o_totalprice * o_totalprice', -4)})
                    AS DOUBLE) * 1e4 / 1e6 AS ss
        FROM orders GROUP BY g
    ),
    v AS MATERIALIZED (
        SELECT g, n, (ss - s * s / n) / (n - 1) AS s2 FROM per_g
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM({sql_quantize('(n - 1) * LN(s2)', 9)}) AS DOUBLE)
                   / 1e9 AS sl,
               CAST(SUM({sql_quantize('(n - 1) * s2', 6)}) AS DOUBLE)
                   / 1e6 AS sv,
               SUM(1.0 / (n - 1)) AS sinv
        FROM v
    )
    SELECT k AS k_groups, nn AS n_total,
           CAST({sql_quantize(
               '((nn - k) * LN(sv / (nn - k)) - sl)'
               ' / (1 + (sinv - 1.0 / (nn - k)) / (3.0 * (k - 1)))', 6)}
               AS DOUBLE) / 1e6 AS bartlett_t
    FROM agg
    """,
)
def q547(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    per_g = orders.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (dsum("o_totalprice", 2) / 1e3).alias("s"),
        (
            F.sum(quantize(F.col("o_totalprice") * F.col("o_totalprice"), -4)).cast(
                "double"
            )
            * 1e4
            / 1e6
        ).alias("ss"),
    )
    v = per_g.select(
        "g",
        "n",
        ((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)).alias(
            "s2"
        ),
    )
    agg = v.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        dsum((F.col("n") - 1) * F.log("s2"), 9).alias("sl"),
        dsum((F.col("n") - 1) * F.col("s2"), 6).alias("sv"),
        F.sum(1.0 / (F.col("n") - 1)).alias("sinv"),
    )
    t = ((F.col("nn") - F.col("k")) * F.log(F.col("sv") / (F.col("nn") - F.col("k"))) - F.col("sl")) / (
        1
        + (F.col("sinv") - 1.0 / (F.col("nn") - F.col("k")))
        / (3.0 * (F.col("k") - 1))
    )
    return agg.select(
        F.col("k").alias("k_groups"),
        F.col("nn").alias("n_total"),
        (quantize(t, 6) / 1e6).alias("bartlett_t"),
    )


# --- q548: Tukey HSD pairwise comparisons of mean order totals across
# market segments — the post-hoc companion to q482/q540's ANOVA:
# q_ij = |x̄_i − x̄_j| / sqrt(MSE/2 · (1/n_i + 1/n_j)) with MSE the
# pooled within-group variance. The pair table is the 5-segment rollup
# joined with itself (10 rows, fixed by the segment domain) against a
# broadcast scalar MSE carry. --------------------------------------------------
@query(
    "q548_tukey_hsd_segments",
    oracle=f"""
    WITH per_g AS MATERIALIZED (
        SELECT c.c_mktsegment AS seg,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('o.o_totalprice', 2)}) AS DOUBLE)
                   / 1e2 / 1e3 AS s,
               CAST(SUM({sql_quantize('o.o_totalprice * o.o_totalprice', -4)})
                    AS DOUBLE) * 1e4 / 1e6 AS ss
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY seg
    ),
    v AS MATERIALIZED (
        SELECT seg, n, s / n AS m,
               (ss - s * s / n) / (n - 1) AS s2
        FROM per_g
    ),
    mse AS (
        SELECT CAST(SUM({sql_quantize('(n - 1) * s2', 6)}) AS DOUBLE) / 1e6
                   / (SUM(n) - COUNT(*)) AS mse
        FROM v
    )
    SELECT a.seg AS seg_a, b.seg AS seg_b,
           CAST({sql_quantize('a.m - b.m', 6)} AS DOUBLE) / 1e6 AS mean_diff,
           CAST({sql_quantize(
               'ABS(a.m - b.m) / SQRT(mse.mse / 2.0 * (1.0 / a.n + 1.0 / b.n))',
               6)} AS DOUBLE) / 1e6 AS q_stat
    FROM v a JOIN v b ON a.seg < b.seg, mse
    ORDER BY seg_a, seg_b
    """,
)
def q548(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    per_g = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (dsum("o_totalprice", 2) / 1e3).alias("s"),
            (
                F.sum(
                    quantize(F.col("o_totalprice") * F.col("o_totalprice"), -4)
                ).cast("double")
                * 1e4
                / 1e6
            ).alias("ss"),
        )
    )
    v = tracked_persist(
        per_g.select(
            "seg",
            "n",
            (F.col("s") / F.col("n")).alias("m"),
            (
                (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("s2"),
        )
    )
    mse = v.agg(
        (
            dsum((F.col("n") - 1) * F.col("s2"), 6) / (F.sum("n") - F.count(F.lit(1)))
        ).alias("mse")
    )
    a = v.select(
        F.col("seg").alias("seg_a"), F.col("n").alias("na"), F.col("m").alias("ma")
    )
    b = v.select(
        F.col("seg").alias("seg_b"), F.col("n").alias("nb"), F.col("m").alias("mb")
    )
    # count fence: the 5-segment domain claim is ENFORCED, not assumed —
    # assert_bounded raises UnboundedBuildError if mktsegment ever grows
    # past 5 values instead of silently truncating the pair grid
    # (census sees the keyed_agg build; the fence backs the claim)
    from pandrs_spark.operators.util import assert_bounded

    pairs = a.join(
        F.broadcast(assert_bounded(b, 5, "q548 segment grid")),
        F.col("seg_a") < F.col("seg_b"),
    ).crossJoin(F.broadcast(mse))
    qs = F.abs(F.col("ma") - F.col("mb")) / F.sqrt(
        F.col("mse") / 2.0 * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return pairs.select(
        "seg_a",
        "seg_b",
        (quantize(F.col("ma") - F.col("mb"), 6) / 1e6).alias("mean_diff"),
        (quantize(qs, 6) / 1e6).alias("q_stat"),
    ).orderBy("seg_a", "seg_b")


# --- q564: Fano factor / overdispersion test of daily order arrivals —
# F = s²/x̄ over the daily-count series with the index-of-dispersion
# statistic D = (n−1)·F (χ²_{n−1} under Poisson). Counts are integers,
# so every moment is an exact BIGINT sum — zero quantization anywhere.
# The companion to q530's Poisson GOF (bin-shape) and q518's
# memorylessness (gap-shape): this one tests the arrival-rate mixing. ----------
@query(
    "q564_fano_overdispersion",
    oracle="""
    WITH daily AS MATERIALIZED (
        SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY d
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS sc,
               CAST(SUM(c * c) AS BIGINT) AS scc
        FROM daily
    )
    SELECT n AS n_days,
           CAST(CAST(SIGN(f) * FLOOR(ABS(f) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS fano,
           CAST(CAST(SIGN(d) * FLOOR(ABS(d) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS dispersion_chi2
    FROM (
        SELECT n,
               ((scc - CAST(sc AS DOUBLE) * sc / n) / (n - 1))
                   / (CAST(sc AS DOUBLE) / n) AS f,
               (n - 1) * (((scc - CAST(sc AS DOUBLE) * sc / n) / (n - 1))
                          / (CAST(sc AS DOUBLE) / n)) AS d
        FROM s
    )
    """,
)
def q564(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    out = s.selectExpr(
        "n",
        "((scc - CAST(sc AS DOUBLE) * sc / n) / (n - 1))"
        " / (CAST(sc AS DOUBLE) / n) AS f",
        "(n - 1) * (((scc - CAST(sc AS DOUBLE) * sc / n) / (n - 1))"
        " / (CAST(sc AS DOUBLE) / n)) AS d",
    )
    return out.select(
        F.col("n").alias("n_days"),
        (quantize("f", 6) / 1e6).alias("fano"),
        (quantize("d", 6) / 1e6).alias("dispersion_chi2"),
    )


# --- q573: Mantel-Haenszel pooled odds ratio + Cochran-Mantel-Haenszel
# chi-square across nation strata — does the BUILDING-segment ∼
# high-value-order association survive controlling for nation? The
# stratified 2×2 pool that q493's single-table odds ratio cannot see:
# OR_MH = Σ(a_i d_i/n_i)/Σ(b_i c_i/n_i);
# CMH = (|Σa_i − ΣE_i| − ½)² / ΣV_i with hypergeometric cell moments.
# Strata are the bounded 25-nation rollup; cells come from one fact
# aggregate. ----------------------------------------------------------------------
@query(
    "q573_mantel_haenszel_strata",
    oracle=f"""
    WITH cells AS MATERIALIZED (
        SELECT c.c_nationkey AS nk,
               CAST(SUM(CASE WHEN c.c_mktsegment = 'BUILDING'
                              AND o.o_totalprice > 150000 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS a,
               CAST(SUM(CASE WHEN c.c_mktsegment = 'BUILDING'
                              AND o.o_totalprice <= 150000 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS b,
               CAST(SUM(CASE WHEN c.c_mktsegment <> 'BUILDING'
                              AND o.o_totalprice > 150000 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS c,
               CAST(SUM(CASE WHEN c.c_mktsegment <> 'BUILDING'
                              AND o.o_totalprice <= 150000 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS d
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY nk
    ),
    terms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
               CAST(SUM({sql_quantize('a * d / (a + b + c + d)', 9)})
                    AS DOUBLE) / 1e9 AS sad,
               CAST(SUM({sql_quantize('b * c / (a + b + c + d)', 9)})
                    AS DOUBLE) / 1e9 AS sbc,
               CAST(SUM(a) AS DOUBLE) AS sa,
               CAST(SUM({sql_quantize(
                   '(a + b) * (a + c) / (a + b + c + d)', 9)}) AS DOUBLE)
                   / 1e9 AS se,
               CAST(SUM({sql_quantize(
                   '(a + b) * (c + d) * (a + c) * (b + d)'
                   ' / ((a + b + c + d) * (a + b + c + d)'
                   '    * (a + b + c + d - 1))', 9)}) AS DOUBLE) / 1e9 AS sv
        FROM cells
    )
    SELECT k_strata,
           CAST({sql_quantize('sad / sbc', 6)} AS DOUBLE) / 1e6 AS or_mh,
           CAST({sql_quantize(
               '(ABS(sa - se) - 0.5) * (ABS(sa - se) - 0.5) / sv', 6)}
               AS DOUBLE) / 1e6 AS cmh_chi2
    FROM terms
    """,
)
def q573(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    hi = F.col("o_totalprice") > 150000
    bld = F.col("c_mktsegment") == "BUILDING"
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.when(bld & hi, 1).otherwise(0)).cast("double").alias("a"),
            F.sum(F.when(bld & ~hi, 1).otherwise(0)).cast("double").alias("b"),
            F.sum(F.when(~bld & hi, 1).otherwise(0)).cast("double").alias("c"),
            F.sum(F.when(~bld & ~hi, 1).otherwise(0)).cast("double").alias("d"),
        )
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k_strata"),
        dsum(F.col("a") * F.col("d") / n, 9).alias("sad"),
        dsum(F.col("b") * F.col("c") / n, 9).alias("sbc"),
        F.sum("a").cast("double").alias("sa"),
        dsum((F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) / n, 9).alias("se"),
        dsum(
            (F.col("a") + F.col("b"))
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (n * n * (n - 1)),
            9,
        ).alias("sv"),
    )
    return terms.select(
        "k_strata",
        (quantize(F.col("sad") / F.col("sbc"), 6) / 1e6).alias("or_mh"),
        (
            quantize(
                (F.abs(F.col("sa") - F.col("se")) - 0.5)
                * (F.abs(F.col("sa") - F.col("se")) - 0.5)
                / F.col("sv"),
                6,
            )
            / 1e6
        ).alias("cmh_chi2"),
    )


# --- q574: linearly-weighted Cohen's kappa between two ordinal
# "raters" of the same order — urgency rank (from o_orderpriority) and
# observed fulfilment speed quintile (from min ship lead time) — the
# ordinal-agreement upgrade of q434's unweighted kappa: disagreements
# κ_w = 1 − Σw_ij O_ij / Σw_ij E_ij with w_ij = |i−j|/(k−1). The 5×5
# cell table comes from one fact aggregate; marginals are bounded. --------------
@query(
    "q574_weighted_kappa_urgency_speed",
    oracle=f"""
    WITH lead AS MATERIALIZED (
        SELECT o.o_orderkey,
               CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS r1,
               MIN(datediff('day', o.o_orderdate, l.l_shipdate)) AS lt
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, r1
    ),
    bucketed AS MATERIALIZED (
        SELECT r1,
               CASE WHEN lt <= 18 THEN 1 WHEN lt <= 38 THEN 2
                    WHEN lt <= 58 THEN 3 WHEN lt <= 78 THEN 4
                    ELSE 5 END AS r2
        FROM lead
    ),
    cells AS MATERIALIZED (
        SELECT r1, r2, CAST(COUNT(*) AS DOUBLE) AS o FROM bucketed
        GROUP BY r1, r2
    ),
    m1 AS (SELECT r1, SUM(o) AS p FROM cells GROUP BY r1),
    m2 AS (SELECT r2, SUM(o) AS q FROM cells GROUP BY r2),
    tot AS (SELECT SUM(o) AS n FROM cells),
    num AS (
        SELECT CAST(SUM({sql_quantize('ABS(r1 - r2) / 4.0 * o', 6)})
                    AS DOUBLE) / 1e6 AS wo
        FROM cells
    ),
    den AS (
        SELECT CAST(SUM({sql_quantize(
                   'ABS(m1.r1 - m2.r2) / 4.0 * (m1.p * m2.q / tot.n)', 6)})
                    AS DOUBLE) / 1e6 AS we
        FROM m1 CROSS JOIN m2 CROSS JOIN tot
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_orders,
           CAST({sql_quantize('1 - num.wo / den.we', 6)} AS DOUBLE) / 1e6
               AS weighted_kappa
    FROM num, den
    """,
)
def q574(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    lead = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.substring("o_orderpriority", 1, 1).cast("long").alias("r1"),
        )
        .agg(F.min(F.datediff("l_shipdate", "o_orderdate")).alias("lt"))
    )
    bucketed = lead.select(
        "r1",
        F.when(F.col("lt") <= 18, 1)
        .when(F.col("lt") <= 38, 2)
        .when(F.col("lt") <= 58, 3)
        .when(F.col("lt") <= 78, 4)
        .otherwise(5)
        .alias("r2"),
    )
    cells = tracked_persist(
        bucketed.groupBy("r1", "r2").agg(
            F.count(F.lit(1)).cast("double").alias("o")
        )
    )
    m1 = cells.groupBy("r1").agg(F.sum("o").alias("p"))
    m2 = cells.groupBy("r2").agg(F.sum("o").alias("q"))
    tot = cells.agg(F.sum("o").alias("n"))
    num = cells.agg(
        dsum(F.abs(F.col("r1") - F.col("r2")) / 4.0 * F.col("o"), 6).alias("wo")
    )
    den = (
        m1.crossJoin(F.broadcast(m2))
        .crossJoin(F.broadcast(tot))
        .agg(
            dsum(
                F.abs(F.col("r1") - F.col("r2"))
                / 4.0
                * (F.col("p") * F.col("q") / F.col("n")),
                6,
            ).alias("we")
        )
    )
    j = num.crossJoin(F.broadcast(den)).crossJoin(F.broadcast(tot))
    return j.select(
        F.col("n").cast("long").alias("n_orders"),
        (quantize(1 - F.col("wo") / F.col("we"), 6) / 1e6).alias("weighted_kappa"),
    )


# --- q575: Somers' D (ordinal, asymmetric: speed-quintile as response,
# urgency rank as predictor) — D_yx = (C − D)/(C + D + T_y) from the
# bounded 5×5 cell table: concordant/discordant/tied pair counts are
# exact integer sums over cell pairs (≤625 combinations, never
# data-sized). Completes the ordinal-association family around q526's
# gamma (which drops all ties). --------------------------------------------------
@query(
    "q575_somers_d_urgency_speed",
    oracle="""
    WITH lead AS MATERIALIZED (
        SELECT o.o_orderkey,
               CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS r1,
               MIN(datediff('day', o.o_orderdate, l.l_shipdate)) AS lt
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, r1
    ),
    cells AS MATERIALIZED (
        SELECT r1, CASE WHEN lt <= 18 THEN 1 WHEN lt <= 38 THEN 2
                        WHEN lt <= 58 THEN 3 WHEN lt <= 78 THEN 4
                        ELSE 5 END AS r2,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lead GROUP BY r1, r2
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN (b.r1 > a.r1 AND b.r2 > a.r2)
                               OR (b.r1 < a.r1 AND b.r2 < a.r2)
                             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS cc,
               CAST(SUM(CASE WHEN (b.r1 > a.r1 AND b.r2 < a.r2)
                               OR (b.r1 < a.r1 AND b.r2 > a.r2)
                             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS dd,
               CAST(SUM(CASE WHEN b.r1 <> a.r1 AND b.r2 = a.r2
                             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS ty
        FROM cells a CROSS JOIN cells b
    )
    SELECT CAST(cc / 2 AS BIGINT) AS concordant,
           CAST(dd / 2 AS BIGINT) AS discordant,
           CAST(ty / 2 AS BIGINT) AS tied_y,
           CAST(CAST(SIGN(d) * FLOOR(ABS(d) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS somers_d
    FROM (
        SELECT cc, dd, ty,
               (CAST(cc AS DOUBLE) - dd) / (cc + dd + ty) AS d
        FROM pairs
    )
    """,
)
def q575(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    lead = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.substring("o_orderpriority", 1, 1).cast("long").alias("r1"),
        )
        .agg(F.min(F.datediff("l_shipdate", "o_orderdate")).alias("lt"))
    )
    cells = tracked_persist(
        lead.select(
            "r1",
            F.when(F.col("lt") <= 18, 1)
            .when(F.col("lt") <= 38, 2)
            .when(F.col("lt") <= 58, 3)
            .when(F.col("lt") <= 78, 4)
            .otherwise(5)
            .alias("r2"),
        )
        .groupBy("r1", "r2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    b = cells.select(
        F.col("r1").alias("s1"), F.col("r2").alias("s2"), F.col("c").alias("cb")
    )
    conc = ((F.col("s1") > F.col("r1")) & (F.col("s2") > F.col("r2"))) | (
        (F.col("s1") < F.col("r1")) & (F.col("s2") < F.col("r2"))
    )
    disc = ((F.col("s1") > F.col("r1")) & (F.col("s2") < F.col("r2"))) | (
        (F.col("s1") < F.col("r1")) & (F.col("s2") > F.col("r2"))
    )
    tie_y = (F.col("s1") != F.col("r1")) & (F.col("s2") == F.col("r2"))
    # count fence: the 5x5 rating grid is ENFORCED — assert_bounded
    # raises if the rating domain ever exceeds 25 cells instead of
    # silently dropping concordant/discordant mass
    from pandrs_spark.operators.util import assert_bounded

    pairs = cells.crossJoin(F.broadcast(assert_bounded(b, 25, "q575 rating grid"))).agg(
        F.sum(F.when(conc, F.col("c") * F.col("cb")).otherwise(0))
        .cast("long")
        .alias("cc"),
        F.sum(F.when(disc, F.col("c") * F.col("cb")).otherwise(0))
        .cast("long")
        .alias("dd"),
        F.sum(F.when(tie_y, F.col("c") * F.col("cb")).otherwise(0))
        .cast("long")
        .alias("ty"),
    )
    return pairs.select(
        (F.col("cc") / 2).cast("long").alias("concordant"),
        (F.col("dd") / 2).cast("long").alias("discordant"),
        (F.col("ty") / 2).cast("long").alias("tied_y"),
        (
            quantize(
                (F.col("cc").cast("double") - F.col("dd"))
                / (F.col("cc") + F.col("dd") + F.col("ty")),
                6,
            )
            / 1e6
        ).alias("somers_d"),
    )


# --- q586: Friedman average ranks + Nemenyi critical-difference
# post-hoc across market segments — rank the 5 segments within every
# month by order revenue (a within-block rank: partitioned window,
# never a global sort), average the ranks, and flag segment pairs
# whose |ΔR̄| exceeds CD = q*·√(k(k+1)/(12n)) with q* = 2.728 the
# k=5, α=0.05 studentized-range constant (Demšar 2006 table, public).
# The post-hoc companion to the §2.12 Friedman test. ----------------------------
@query(
    "q586_friedman_nemenyi_segments",
    oracle=f"""
    WITH cells AS MATERIALIZED (
        SELECT date_trunc('month', o.o_orderdate) AS mth,
               c.c_mktsegment AS seg,
               CAST(SUM({sql_quantize('o.o_totalprice', 2)}) AS DOUBLE)
                   / 1e2 / 1e6 AS rev
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY mth, seg
    ),
    ranked AS MATERIALIZED (
        SELECT mth, seg,
               ROW_NUMBER() OVER (PARTITION BY mth
                                  ORDER BY rev DESC, seg ASC) AS rk
        FROM cells
    ),
    avg_r AS MATERIALIZED (
        SELECT seg, CAST(SUM(rk) AS DOUBLE) / COUNT(*) AS rbar,
               CAST(COUNT(*) AS BIGINT) AS n_blocks
        FROM ranked GROUP BY seg
    ),
    k AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k,
                 MAX(n_blocks) AS n FROM avg_r),
    cd AS (
        SELECT 2.728 * SQRT(k.k * (k.k + 1) / (12.0 * k.n)) AS cd FROM k
    ),
    sig AS (
        SELECT CAST(SUM(CASE WHEN ABS(a.rbar - b.rbar) > cd.cd
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_sig_pairs
        FROM avg_r a JOIN avg_r b ON a.seg < b.seg CROSS JOIN cd
    )
    SELECT a.seg, a.n_blocks,
           CAST(CAST(SIGN(a.rbar) * FLOOR(ABS(a.rbar) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS avg_rank,
           CAST(CAST(SIGN(cd.cd) * FLOOR(ABS(cd.cd) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS nemenyi_cd,
           sig.n_sig_pairs
    FROM avg_r a, cd, sig
    ORDER BY a.seg
    """,
)
def q586(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist
    from pyspark.sql import Window

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("mth"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg((dsum("o_totalprice", 2) / 1e6).alias("rev"))
    )
    w_m = Window.partitionBy("mth").orderBy(F.col("rev").desc(), F.col("seg").asc())
    ranked = cells.select("mth", "seg", F.row_number().over(w_m).alias("rk"))
    avg_r = tracked_persist(
        ranked.groupBy("seg").agg(
            (F.sum("rk").cast("double") / F.count(F.lit(1))).alias("rbar"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
        )
    )
    k = avg_r.agg(
        F.count(F.lit(1)).cast("double").alias("k"), F.max("n_blocks").alias("n")
    )
    cd = k.select(
        (2.728 * F.sqrt(F.col("k") * (F.col("k") + 1) / (12.0 * F.col("n")))).alias(
            "cd"
        )
    )
    b = avg_r.select(F.col("seg").alias("seg_b"), F.col("rbar").alias("rbar_b"))
    sig = (
        avg_r.join(F.broadcast(b), F.col("seg") < F.col("seg_b"))
        .crossJoin(F.broadcast(cd))
        .agg(
            F.sum(
                F.when(F.abs(F.col("rbar") - F.col("rbar_b")) > F.col("cd"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_sig_pairs")
        )
    )
    j = avg_r.crossJoin(F.broadcast(cd)).crossJoin(F.broadcast(sig))
    return j.select(
        "seg",
        "n_blocks",
        (quantize("rbar", 6) / 1e6).alias("avg_rank"),
        (quantize("cd", 6) / 1e6).alias("nemenyi_cd"),
        "n_sig_pairs",
    ).orderBy("seg")


# --- q589: intraclass correlation ICC(1,1) of part retail prices
# within brands — one-way random-effects ANOVA moments with the
# unbalanced-design group size k₀ = (N − Σn_i²/N)/(k−1):
# ICC = (MSB − MSW)/(MSB + (k₀−1)·MSW). "How much of price variance is
# brand identity" — the reliability view that complements q492's
# Cronbach (items) and q547's Bartlett (variances). -----------------------------
@query(
    "q589_icc_brand_prices",
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
    agg AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k,
               SUM(n) AS nn,
               CAST(SUM({sql_quantize('s', 6)}) AS DOUBLE) / 1e6 AS st,
               CAST(SUM({sql_quantize('ss', 6)}) AS DOUBLE) / 1e6 AS sst,
               CAST(SUM({sql_quantize('s * s / n', 9)}) AS DOUBLE) / 1e9
                   AS sgg,
               SUM(n * n) AS snn
        FROM per_b
    ),
    ms AS (
        SELECT k, nn,
               (sgg - st * st / nn) / (k - 1) AS msb,
               (sst - sgg) / (nn - k) AS msw,
               (nn - snn / nn) / (k - 1) AS k0
        FROM agg
    )
    SELECT CAST(k AS BIGINT) AS k_brands,
           CAST(nn AS BIGINT) AS n_parts,
           CAST({sql_quantize(
               '(msb - msw) / (msb + (k0 - 1) * msw)', 6)} AS DOUBLE) / 1e6
               AS icc_1_1
    FROM ms
    """,
)
def q589(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

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
    agg = per_b.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").alias("nn"),
        dsum("s", 6).alias("st"),
        dsum("ss", 6).alias("sst"),
        dsum(F.col("s") * F.col("s") / F.col("n"), 9).alias("sgg"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )
    ms = agg.selectExpr(
        "k",
        "nn",
        "(sgg - st * st / nn) / (k - 1) AS msb",
        "(sst - sgg) / (nn - k) AS msw",
        "(nn - snn / nn) / (k - 1) AS k0",
    )
    return ms.select(
        F.col("k").cast("long").alias("k_brands"),
        F.col("nn").cast("long").alias("n_parts"),
        (
            quantize(
                (F.col("msb") - F.col("msw"))
                / (F.col("msb") + (F.col("k0") - 1) * F.col("msw")),
                6,
            )
            / 1e6
        ).alias("icc_1_1"),
    )


# --- q597: two-sample Poisson rate test — did the urgent-order
# arrival RATE change between the first and second halves of the
# calendar? λ̂_i = x_i/T_i with exposure in days;
# z = (λ̂₁ − λ̂₂)/√(λ̂₁/T₁ + λ̂₂/T₂) (normal approximation to the
# E-test, public methodology). Counting + exposures are exact
# integers; one scalar formula at the end. ---------------------------------------
@query(
    "q597_poisson_rate_two_period",
    oracle="""
    WITH span AS (
        SELECT MIN(o_orderdate) AS d0,
               CAST(FLOOR(datediff('day', MIN(o_orderdate),
                                   MAX(o_orderdate)) / 2.0) AS BIGINT)
                   AS mid_days,
               CAST(datediff('day', MIN(o_orderdate), MAX(o_orderdate))
                    AS BIGINT) AS total_days
        FROM orders
    ),
    cnt AS (
        SELECT CAST(SUM(CASE WHEN datediff('day', span.d0, o.o_orderdate)
                                  <= span.mid_days
                              AND o.o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x1,
               CAST(SUM(CASE WHEN datediff('day', span.d0, o.o_orderdate)
                                  > span.mid_days
                              AND o.o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x2,
               MAX(span.mid_days) + 1 AS t1,
               MAX(span.total_days) - MAX(span.mid_days) AS t2
        FROM orders o CROSS JOIN span
    )
    SELECT x1 AS n_urgent_p1, x2 AS n_urgent_p2,
           CAST(t1 AS BIGINT) AS days_p1, CAST(t2 AS BIGINT) AS days_p2,
           CAST(CAST(SIGN(z) * FLOOR(ABS(z) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS rate_z
    FROM (
        SELECT x1, x2, t1, t2,
               (CAST(x1 AS DOUBLE) / t1 - CAST(x2 AS DOUBLE) / t2)
               / SQRT(CAST(x1 AS DOUBLE) / t1 / t1
                      + CAST(x2 AS DOUBLE) / t2 / t2) AS z
        FROM cnt
    )
    """,
)
def q597(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    span = orders.agg(
        F.min("o_orderdate").alias("d0"),
        F.floor(F.datediff(F.max("o_orderdate"), F.min("o_orderdate")) / 2.0)
        .cast("long")
        .alias("mid_days"),
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
        .cast("long")
        .alias("total_days"),
    )
    j = orders.crossJoin(F.broadcast(span))
    dd = F.datediff("o_orderdate", "d0")
    urg = F.col("o_orderpriority") == "1-URGENT"
    cnt = j.agg(
        F.sum(F.when((dd <= F.col("mid_days")) & urg, 1).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when((dd > F.col("mid_days")) & urg, 1).otherwise(0))
        .cast("long")
        .alias("x2"),
        (F.max("mid_days") + 1).alias("t1"),
        (F.max("total_days") - F.max("mid_days")).alias("t2"),
    )
    z = (F.col("x1").cast("double") / F.col("t1") - F.col("x2").cast("double") / F.col("t2")) / F.sqrt(
        F.col("x1").cast("double") / F.col("t1") / F.col("t1")
        + F.col("x2").cast("double") / F.col("t2") / F.col("t2")
    )
    return cnt.select(
        F.col("x1").alias("n_urgent_p1"),
        F.col("x2").alias("n_urgent_p2"),
        F.col("t1").cast("long").alias("days_p1"),
        F.col("t2").cast("long").alias("days_p2"),
        (quantize(z, 6) / 1e6).alias("rate_z"),
    )


# --- q618: delta-method confidence interval for revenue-per-order by
# segment — the ratio-of-means estimator r = x̄/ȳ (customer revenue
# over customer order count) with Var(r) ≈ (σ_x² − 2rσ_xy + r²σ_y²)
# / (n·ȳ²): the metric-engineering standard for per-unit KPIs where
# the naive per-row ratio is biased. Per-segment exact moment sums;
# 95% normal CI. ------------------------------------------------------------------
@query(
    "q618_delta_method_ratio_ci",
    oracle=f"""
    WITH per_c AS MATERIALIZED (
        SELECT c.c_mktsegment AS seg, o.o_custkey,
               CAST(SUM({sql_quantize('o.o_totalprice', 2)}) AS DOUBLE)
                   / 1e2 / 1e3 AS x,
               CAST(COUNT(*) AS DOUBLE) AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY seg, o.o_custkey
    ),
    s AS (
        SELECT seg,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('x', 6)}) AS DOUBLE) / 1e6 AS sx,
               CAST(SUM({sql_quantize('y', 2)}) AS DOUBLE) / 1e2 AS sy,
               CAST(SUM({sql_quantize('x * x', 6)}) AS DOUBLE) / 1e6 AS sxx,
               CAST(SUM({sql_quantize('y * y', 2)}) AS DOUBLE) / 1e2 AS syy,
               CAST(SUM({sql_quantize('x * y', 6)}) AS DOUBLE) / 1e6 AS sxy
        FROM per_c GROUP BY seg
    ),
    d AS (
        SELECT seg, n,
               (sx / n) / (sy / n) AS r,
               ((sxx - sx * sx / n) / (n - 1)
                - 2 * ((sx / n) / (sy / n))
                    * ((sxy - sx * sy / n) / (n - 1))
                + ((sx / n) / (sy / n)) * ((sx / n) / (sy / n))
                    * ((syy - sy * sy / n) / (n - 1)))
               / (n * (sy / n) * (sy / n)) AS v
        FROM s
    )
    SELECT seg, CAST(n AS BIGINT) AS n_customers,
           CAST({sql_quantize('r', 6)} AS DOUBLE) / 1e6 AS rev_per_order_k,
           CAST({sql_quantize('SQRT(v)', 6)} AS DOUBLE) / 1e6 AS se_delta,
           CAST({sql_quantize('r - 1.96 * SQRT(v)', 6)} AS DOUBLE) / 1e6
               AS ci_low,
           CAST({sql_quantize('r + 1.96 * SQRT(v)', 6)} AS DOUBLE) / 1e6
               AS ci_high
    FROM d
    ORDER BY seg
    """,
)
def q618(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    per_c = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(
            (dsum("o_totalprice", 2) / 1e3).alias("x"),
            F.count(F.lit(1)).cast("double").alias("y"),
        )
    )
    s = per_c.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x", 6).alias("sx"),
        dsum("y", 2).alias("sy"),
        dsum(F.col("x") * F.col("x"), 6).alias("sxx"),
        dsum(F.col("y") * F.col("y"), 2).alias("syy"),
        dsum(F.col("x") * F.col("y"), 6).alias("sxy"),
    )
    r = (F.col("sx") / F.col("n")) / (F.col("sy") / F.col("n"))
    v = (
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
        - 2 * r * ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1))
        + r * r * ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1))
    ) / (F.col("n") * (F.col("sy") / F.col("n")) * (F.col("sy") / F.col("n")))
    return s.select(
        "seg",
        F.col("n").cast("long").alias("n_customers"),
        (quantize(r, 6) / 1e6).alias("rev_per_order_k"),
        (quantize(F.sqrt(v), 6) / 1e6).alias("se_delta"),
        (quantize(r - 1.96 * F.sqrt(v), 6) / 1e6).alias("ci_low"),
        (quantize(r + 1.96 * F.sqrt(v), 6) / 1e6).alias("ci_high"),
    ).orderBy("seg")


# --- q619: winsorized Pearson correlation of customer balance vs
# lifetime spend — clamp both variables at their exact 5th/95th
# percentiles first, then correlate: the robust-correlation
# complement to the §2.12 Spearman (rank) and q-corr (raw). Clamping
# uses the exact distributed percentile; sums re-quantize after the
# clamp so both engines fold identically. ----------------------------------------
@query(
    "q619_winsorized_correlation",
    oracle=f"""
    WITH per_c AS MATERIALIZED (
        SELECT c.c_acctbal AS bal,
               CAST(SUM({sql_quantize('o.o_totalprice', 2)}) AS DOUBLE)
                   / 1e2 / 1e3 AS sp
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ),
    cuts AS (
        SELECT quantile_cont(bal, 0.05) AS bl, quantile_cont(bal, 0.95) AS bh,
               quantile_cont(sp, 0.05) AS sl, quantile_cont(sp, 0.95) AS sh
        FROM per_c
    ),
    w AS MATERIALIZED (
        SELECT GREATEST(cuts.bl, LEAST(cuts.bh, bal)) / 1e3 AS x,
               GREATEST(cuts.sl, LEAST(cuts.sh, sp)) AS y
        FROM per_c, cuts
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('x', 6)}) AS DOUBLE) / 1e6 AS sx,
               CAST(SUM({sql_quantize('y', 6)}) AS DOUBLE) / 1e6 AS sy,
               CAST(SUM({sql_quantize('x * x', 6)}) AS DOUBLE) / 1e6 AS sxx,
               CAST(SUM({sql_quantize('y * y', 6)}) AS DOUBLE) / 1e6 AS syy,
               CAST(SUM({sql_quantize('x * y', 6)}) AS DOUBLE) / 1e6 AS sxy
        FROM w
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST({sql_quantize(
               CORR_FORMULA.format(n='n', sx='sx', sy='sy', sxx='sxx',
                                   syy='syy', sxy='sxy'), 6)} AS DOUBLE)
               / 1e6 AS winsorized_corr
    FROM s
    """,
)
def q619(spark, sf_dir):
    from pandrs_spark.functions.deterministic import CORR_FORMULA as CF
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    per_c = tracked_persist(
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", F.col("c_acctbal").alias("bal"))
        .agg((dsum("o_totalprice", 2) / 1e3).alias("sp"))
    )
    cuts = per_c.agg(
        F.expr("percentile(bal, 0.05)").alias("bl"),
        F.expr("percentile(bal, 0.95)").alias("bh"),
        F.expr("percentile(sp, 0.05)").alias("sl"),
        F.expr("percentile(sp, 0.95)").alias("sh"),
    )
    w = per_c.crossJoin(F.broadcast(cuts)).select(
        (F.greatest("bl", F.least("bh", F.col("bal"))) / 1e3).alias("x"),
        F.greatest("sl", F.least("sh", F.col("sp"))).alias("y"),
    )
    s = w.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x", 6).alias("sx"),
        dsum("y", 6).alias("sy"),
        dsum(F.col("x") * F.col("x"), 6).alias("sxx"),
        dsum(F.col("y") * F.col("y"), 6).alias("syy"),
        dsum(F.col("x") * F.col("y"), 6).alias("sxy"),
    )
    out = s.selectExpr(
        "CAST(n AS BIGINT) AS n_customers",
        CF.format(n="n", sx="sx", sy="sy", sxx="sxx", syy="syy", sxy="sxy")
        + " AS r",
    )
    return out.select(
        "n_customers", (quantize("r", 6) / 1e6).alias("winsorized_corr")
    )


# --- q688: Goodman-Kruskal lambda (1954) — the proportional-
# reduction-in-error association between nation and market segment:
# λ(seg|nation) = (Σ_n max_s f_ns − max_s f_s)/(N − max_s f_s), its
# reverse, and the symmetric average: "how much better do you guess a
# customer's segment once you know their nation?" — the PRE complement
# of the chi-square family (q58) and GK gamma (q-family). All counts
# exact integers over the bounded 25×5 grid. -------------------------------------
@query(
    "q688_goodman_kruskal_lambda",
    oracle="""
    WITH cell AS MATERIALIZED (
        SELECT c.c_nationkey AS n, c.c_mktsegment AS s,
               CAST(COUNT(*) AS BIGINT) AS f
        FROM customer c GROUP BY n, s
    ),
    rowmax AS (
        SELECT CAST(SUM(mx) AS BIGINT) AS srm FROM (
            SELECT n, MAX(f) AS mx FROM cell GROUP BY n
        )
    ),
    colmax AS (
        SELECT CAST(SUM(mx) AS BIGINT) AS scm FROM (
            SELECT s, MAX(f) AS mx FROM cell GROUP BY s
        )
    ),
    marg AS (
        SELECT CAST(SUM(f) AS BIGINT) AS total,
               CAST(MAX(fs) AS BIGINT) AS maxs,
               CAST(MAX(fn) AS BIGINT) AS maxn
        FROM (
            SELECT SUM(f) OVER (PARTITION BY s) AS fs,
                   SUM(f) OVER (PARTITION BY n) AS fn, f
            FROM cell
        )
    )
    SELECT marg.total AS n_customers,
           CAST(CAST(SIGN(l1) * FLOOR(ABS(l1) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS lambda_seg_given_nation,
           CAST(CAST(SIGN(l2) * FLOOR(ABS(l2) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS lambda_nation_given_seg,
           CAST(CAST(SIGN((l1 + l2) / 2.0)
                     * FLOOR(ABS((l1 + l2) / 2.0) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS lambda_symmetric
    FROM (
        SELECT marg.total,
               CAST(rowmax.srm - marg.maxs AS DOUBLE)
                   / (marg.total - marg.maxs) AS l1,
               CAST(colmax.scm - marg.maxn AS DOUBLE)
                   / (marg.total - marg.maxn) AS l2
        FROM rowmax, colmax, marg
    ), marg
    """,
)
def q688(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    cust = T(spark, sf_dir, "customer")
    cell = tracked_persist(
        cust.groupBy(
            F.col("c_nationkey").alias("n"), F.col("c_mktsegment").alias("s")
        ).agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    rowmax = (
        cell.groupBy("n")
        .agg(F.max("f").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("srm"))
    )
    colmax = (
        cell.groupBy("s")
        .agg(F.max("f").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("scm"))
    )
    rown = cell.groupBy("n").agg(F.sum("f").alias("fn"))
    cols = cell.groupBy("s").agg(F.sum("f").alias("fs"))
    marg = (
        cell.agg(F.sum("f").cast("long").alias("total"))
        .crossJoin(
            F.broadcast(cols.agg(F.max("fs").cast("long").alias("maxs")))
        )
        .crossJoin(
            F.broadcast(rown.agg(F.max("fn").cast("long").alias("maxn")))
        )
    )
    j = marg.crossJoin(F.broadcast(rowmax)).crossJoin(F.broadcast(colmax))
    l1 = (F.col("srm") - F.col("maxs")).cast("double") / (
        F.col("total") - F.col("maxs")
    )
    l2 = (F.col("scm") - F.col("maxn")).cast("double") / (
        F.col("total") - F.col("maxn")
    )
    return j.select(
        F.col("total").alias("n_customers"),
        (quantize(l1, 6) / 1e6).alias("lambda_seg_given_nation"),
        (quantize(l2, 6) / 1e6).alias("lambda_nation_given_seg"),
        (quantize((l1 + l2) / 2.0, 6) / 1e6).alias("lambda_symmetric"),
    )


# --- q707: zero-inflation & negative-binomial dispersion diagnostics
# of per-customer 1995 order counts — over the FULL customer registry
# (non-orderers count as structural zeros): variance-to-mean ratio,
# the Poisson-expected zero share e^{−λ̂} vs observed, the Puig-Valero
# zero-inflation index 1 + ln(p̂₀)/λ̂, and the method-of-moments NB
# size r̂ = μ²/(s²−μ) (NULL when the data are UNDER-dispersed and NB
# is inadmissible). ----------------------------------------------------------------
@query(
    "q707_zero_inflation_nb",
    oracle="""
    WITH k AS MATERIALIZED (
        SELECT c.c_custkey,
               CAST(COALESCE(o.k, 0) AS BIGINT) AS k
        FROM customer c
        LEFT JOIN (
            SELECT o_custkey, COUNT(*) AS k FROM orders
            WHERE EXTRACT(year FROM o_orderdate) = 1995
            GROUP BY o_custkey
        ) o ON o.o_custkey = c.c_custkey
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS s1,
               CAST(SUM(k * k) AS BIGINT) AS s2,
               CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS z
        FROM k
    )
    SELECT n AS n_customers, z AS n_zeros,
           CAST(CAST(SIGN(mu) * FLOOR(ABS(mu) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS mean_orders,
           CAST(CAST(SIGN(vmr) * FLOOR(ABS(vmr) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS var_mean_ratio,
           CAST(CAST(SIGN(EXP(-mu)) * FLOOR(ABS(EXP(-mu)) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS poisson_zero_share,
           CASE WHEN z > 0 THEN
               CAST(CAST(SIGN(zi) * FLOOR(ABS(zi) * 1e6 + 0.5) AS BIGINT)
                    AS DOUBLE) / 1e6
           END AS zero_inflation_index,
           CASE WHEN v > mu THEN
               CAST(CAST(SIGN(mu * mu / (v - mu))
                         * FLOOR(ABS(mu * mu / (v - mu)) * 1e6 + 0.5)
                         AS BIGINT) AS DOUBLE) / 1e6
           END AS nb_size_mom
    FROM (
        SELECT n, z,
               CAST(s1 AS DOUBLE) / n AS mu,
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)
                   AS v,
               ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
                   / (CAST(s1 AS DOUBLE) / n) AS vmr,
               1.0 + LN(CAST(z AS DOUBLE) / n) / (CAST(s1 AS DOUBLE) / n)
                   AS zi
        FROM s
    )
    """,
)
def q707(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    ok = (
        orders.where(F.year("o_orderdate") == 1995)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    k = cust.join(
        ok, cust.c_custkey == ok.o_custkey, "left"
    ).select(F.coalesce(F.col("k"), F.lit(0)).cast("long").alias("k"))
    s = k.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("s1"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("s2"),
        F.sum(F.when(F.col("k") == 0, 1).otherwise(0)).cast("long").alias("z"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    v = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / (F.col("n") - 1)
    zi = 1.0 + F.log(F.col("z").cast("double") / F.col("n")) / mu
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("z").alias("n_zeros"),
        (quantize(mu, 6) / 1e6).alias("mean_orders"),
        (quantize(v / mu, 6) / 1e6).alias("var_mean_ratio"),
        (quantize(F.exp(-mu), 6) / 1e6).alias("poisson_zero_share"),
        F.when(F.col("z") > 0, quantize(zi, 6) / 1e6).alias(
            "zero_inflation_index"
        ),
        F.when(v > mu, quantize(mu * mu / (v - mu), 6) / 1e6).alias(
            "nb_size_mom"
        ),
    )


# --- q723: Kuiper V test for day-of-week uniformity of order dates —
# the CIRCULAR Kolmogorov-Smirnov (Kuiper 1960, public): V = D+ + D−
# is invariant to where the week "starts", which plain KS is not, so
# it is the right uniformity test for cyclic supports (day-of-week,
# hour-of-day, month-of-year). Discrete 7-point support: the whole
# test folds to one groupBy(dow) + 7-row ECDF algebra; the standard
# V* = V·(sqrt(n) + 0.155 + 0.24/sqrt(n)) normalization is reported
# for the asymptotic band. Map-side combine, bounded rollup — flat at
# any SF. -----------------------------------------------------------------------
@query(
    "q723_kuiper_dow_uniformity",
    oracle=f"""
    WITH c AS (
        SELECT dayofweek(o_orderdate) AS dow,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY dow
    ),
    e AS (
        SELECT dow, cnt,
               CAST(SUM(cnt) OVER (ORDER BY dow) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER () AS BIGINT) AS n,
               ROW_NUMBER() OVER (ORDER BY dow) AS k
        FROM c
    ),
    d AS (
        SELECT MAX(cum * 1.0 / n - k / 7.0) AS dplus,
               MAX(k / 7.0 - (cum - cnt) * 1.0 / n) AS dminus,
               MAX(n) AS n
        FROM e
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST({sql_quantize('dplus', 6)} AS DOUBLE) / 1e6 AS d_plus,
           CAST({sql_quantize('dminus', 6)} AS DOUBLE) / 1e6 AS d_minus,
           CAST({sql_quantize('dplus + dminus', 6)} AS DOUBLE) / 1e6
               AS v_stat,
           CAST({sql_quantize(
               '(dplus + dminus) * (SQRT(n) + 0.155 + 0.24 / SQRT(n))', 6)}
               AS DOUBLE) / 1e6 AS v_star
    FROM d
    """,
)
def q723(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    c = orders.groupBy(F.dayofweek("o_orderdate").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w_cum = Window.orderBy("dow").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    e = c.select(
        "cnt",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
        F.row_number().over(Window.orderBy("dow")).alias("k"),
    )
    d = e.agg(
        F.max(F.col("cum") * 1.0 / F.col("n") - F.col("k") / 7.0).alias("dplus"),
        F.max(
            F.col("k") / 7.0 - (F.col("cum") - F.col("cnt")) * 1.0 / F.col("n")
        ).alias("dminus"),
        F.max("n").cast("long").alias("n"),
    )
    v = F.col("dplus") + F.col("dminus")
    return d.select(
        F.col("n").alias("n_orders"),
        (quantize("dplus", 6) / 1e6).alias("d_plus"),
        (quantize("dminus", 6) / 1e6).alias("d_minus"),
        (quantize(v, 6) / 1e6).alias("v_stat"),
        (
            quantize(v * (F.sqrt(F.col("n")) + 0.155 + 0.24 / F.sqrt(F.col("n"))), 6)
            / 1e6
        ).alias("v_star"),
    )
