"""Hypothesis-test query batch (SURVEY.md §2.12, nonparametric tier).

Reference: /root/reference src/stats/nonparametric.rs (Mann-Whitney :14,
Kruskal-Wallis :201, KS :375) and src/stats/mod.rs (anova :354). Every
test reduces 100 TB of rows to a distinct-value histogram (one shuffle,
partial-aggregated) before any ordered pass — see
operators/hypothesis.py. Both engines evaluate the same statistic
formula over the same exact sums, so values hash-match.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pandrs_spark.operators.util import tracked_persist

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import davg, dsum, sql_davg, sql_dsum
from pandrs_spark.operators.hypothesis import (
    anova_oneway,
    kruskal_wallis,
    ks_2samp,
    mann_whitney_u,
)
from pandrs_spark.queries import query

# Shared oracle scaffolding: rank histogram over customer balances for a
# pair (or all) of market segments.
_HIST = """
per_vg AS (
    SELECT c_acctbal AS value, c_mktsegment AS grp, COUNT(*) AS cnt_g
    FROM two GROUP BY value, grp
),
per_v AS (SELECT value, SUM(cnt_g) AS cnt FROM per_vg GROUP BY value),
ranked AS (
    SELECT value, cnt, SUM(cnt) OVER (ORDER BY value) AS cum FROM per_v
),
hist AS (
    SELECT g.value, g.grp, g.cnt_g, r.cnt,
           CAST(r.cum - (r.cnt - 1) / 2.0 AS DECIMAL(32, 1)) AS avg_rank
    FROM per_vg g JOIN ranked r USING (value)
),
ties AS (SELECT SUM(cnt * cnt * cnt - cnt) AS ties FROM per_v)
"""


# --- q71: Mann-Whitney U (nonparametric.rs:14) ------------------------------
@query(
    "q71_mann_whitney_segments",
    oracle=f"""
    WITH two AS (
        SELECT c_acctbal, c_mktsegment FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    {_HIST},
    stats AS (
        SELECT
            CAST(SUM(CASE WHEN grp = 'BUILDING' THEN cnt_g ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN grp = 'MACHINERY' THEN cnt_g ELSE 0 END) AS BIGINT) AS n2,
            CAST(SUM(CASE WHEN grp = 'BUILDING' THEN avg_rank * cnt_g
                          ELSE CAST(0 AS DECIMAL(32, 1)) END) AS DOUBLE) AS r1
        FROM hist
    )
    SELECT n1, n2,
           r1 - n1 * (n1 + 1) / 2 AS u1,
           n1 * n2 - (r1 - n1 * (n1 + 1) / 2) AS u2,
           ROUND((r1 - n1 * (n1 + 1) / 2 - n1 * n2 / 2) /
                 SQRT(n1 * n2 / 12.0 *
                      ((n1 + n2 + 1) - ties / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))),
                 6) AS z
    FROM stats, ties
    """,
)
def q71(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    res = mann_whitney_u(cust, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY")
    return res.select("n1", "n2", "u1", "u2", F.round("z", 6).alias("z"))


# --- q72: two-sample Kolmogorov-Smirnov (nonparametric.rs:375) --------------
@query(
    "q72_ks_two_sample",
    oracle="""
    WITH two AS (
        SELECT c_acctbal, c_mktsegment FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    per_v AS (
        SELECT c_acctbal AS value,
               SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS c2
        FROM two GROUP BY value
    ),
    cdf AS (
        SELECT SUM(c1) OVER (ORDER BY value) AS cum1,
               SUM(c2) OVER (ORDER BY value) AS cum2
        FROM per_v
    ),
    totals AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM per_v)
    SELECT ROUND(MAX(ABS(cum1 / n1 - cum2 / n2)), 6) AS ks_d FROM cdf, totals
    """,
)
def q72(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    res = ks_2samp(cust, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY")
    return res.select(F.round("ks_d", 6).alias("ks_d"))


# --- q73: Kruskal-Wallis across all segments (nonparametric.rs:201) ---------
@query(
    "q73_kruskal_wallis_segments",
    oracle=f"""
    WITH two AS (SELECT c_acctbal, c_mktsegment FROM customer),
    {_HIST},
    per_g AS (
        SELECT grp, SUM(cnt_g) AS n_g,
               CAST(SUM(avg_rank * cnt_g) AS DOUBLE) AS r_g
        FROM hist GROUP BY grp
    ),
    gstats AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n, COUNT(*) AS k,
               SUM(r_g * r_g / n_g) AS rr
        FROM per_g
    )
    SELECT n, k,
           ROUND((12.0 / (n * (n + 1.0)) * rr - 3.0 * (n + 1)) /
                 (1.0 - ties / (CAST(n AS DOUBLE) * n * n - n)), 6) AS h
    FROM gstats, ties
    """,
)
def q73(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    res = kruskal_wallis(cust, "c_acctbal", "c_mktsegment")
    return res.select("n", "k", F.round("h", 6).alias("h"))


# --- q74: one-way ANOVA F (src/stats/mod.rs:354) ----------------------------
@query(
    "q74_anova_oneway_segments",
    oracle="""
    WITH per_g AS (
        SELECT c_mktsegment,
               COUNT(c_acctbal) AS n_g,
               CAST(SUM(CAST(ROUND(c_acctbal, 2) AS DECIMAL(32, 2))) AS DOUBLE) AS s_g,
               CAST(SUM(CAST(ROUND(c_acctbal * c_acctbal, 4) AS DECIMAL(32, 4))) AS DOUBLE) AS ss_g
        FROM customer GROUP BY c_mktsegment
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n, COUNT(*) AS k,
               SUM(s_g) AS s, SUM(ss_g) AS ss,
               SUM(s_g * s_g / n_g) AS sgg
        FROM per_g
    )
    SELECT n, k,
           ROUND(((sgg - s * s / n) / (k - 1)) / ((ss - sgg) / (n - k)), 6) AS f_stat
    FROM tot
    """,
)
def q74(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    res = anova_oneway(cust, "c_acctbal", "c_mktsegment")
    return res.select("n", "k", F.round("f_stat", 6).alias("f_stat"))


# --- q94: bootstrap CI of the mean with a shared LCG (§2.12,
# src/stats/mod.rs:328, nonparametric.rs:570) --------------------------------
# Randomness is the usual blocker for cross-engine bootstrap parity;
# both engines draw identical resamples from an explicit Lehmer LCG
# (idx = 48271*s mod (2^31-1) mod n, s = replicate*n + draw + 1) —
# integer arithmetic, bit-identical anywhere. 50 replicates of n draws
# materialize as one generated table joined to row-numbered data: two
# shuffles total, no driver loop.
_B = 50


@query(
    "q94_bootstrap_ci_mean",
    oracle=f"""
    WITH data AS (
        SELECT c_acctbal, ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS rn,
               COUNT(*) OVER () AS n
        FROM customer
    ),
    draws AS (
        SELECT k.k, ((48271 * (k.k * d.n + t.t + 1)) % 2147483647) % d.n AS rn
        FROM (SELECT UNNEST(generate_series(0, {_B - 1})) AS k) k
        CROSS JOIN (SELECT DISTINCT n FROM data) d
        CROSS JOIN (SELECT UNNEST(generate_series(0, (SELECT MAX(n) FROM data) - 1)) AS t) t
    ),
    rep_means AS (
        SELECT k, {sql_davg('c_acctbal')} AS m
        FROM draws JOIN data USING (rn)
        GROUP BY k
    ),
    ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS r FROM rep_means
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS b,
           ROUND(AVG(m), 6) AS boot_mean,
           ROUND(MIN(CASE WHEN r = 3 THEN m END), 6) AS ci_lo,
           ROUND(MIN(CASE WHEN r = {_B - 2} THEN m END), 6) AS ci_hi
    FROM ranked
    """,
)
def q94(spark, sf_dir):
    from pyspark.sql import Window

    cust = T(spark, sf_dir, "customer")
    w = Window.orderBy("c_custkey")
    data = tracked_persist(
        cust.select("c_acctbal", (F.row_number().over(w) - 1).alias("rn"))
    )
    n = data.count()
    draws = (
        spark.range(_B)
        .withColumnRenamed("id", "k")
        .select(
            "k", F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("t")
        )
        .select(
            "k",
            (
                (F.lit(48271) * (F.col("k") * n + F.col("t") + 1))
                % 2147483647
                % n
            ).alias("rn"),
        )
    )
    rep_means = (
        draws.join(data, "rn")
        .groupBy("k")
        .agg(davg("c_acctbal").alias("m"))
    )
    ranked = rep_means.select(
        "m", F.row_number().over(Window.orderBy("m")).alias("r")
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("b"),
        F.round(F.avg("m"), 6).alias("boot_mean"),
        F.round(F.min(F.when(F.col("r") == 3, F.col("m"))), 6).alias("ci_lo"),
        F.round(F.min(F.when(F.col("r") == _B - 2, F.col("m"))), 6).alias("ci_hi"),
    )


# --- q95: Wilcoxon signed-rank on paired yearly spend (§2.12,
# nonparametric.rs:108) ------------------------------------------------------
# Pairs: customers' average order value in 1996 vs 1997 (both present).
# W+ = sum of midranks of |diff| where diff > 0; z uses the normal
# approximation. Midranks come from the distinct-|diff| histogram, same
# scale shape as operators/hypothesis.rank_histogram.
@query(
    "q95_wilcoxon_signed_rank",
    oracle=f"""
    WITH yearly AS (
        SELECT o_custkey, year(o_orderdate) AS yr, {sql_davg('o_totalprice')} AS av
        FROM orders
        WHERE year(o_orderdate) IN (1996, 1997)
        GROUP BY o_custkey, yr
    ),
    pairs AS (
        SELECT a.o_custkey, ROUND(b.av - a.av, 2) AS d
        FROM yearly a JOIN yearly b
          ON a.o_custkey = b.o_custkey AND a.yr = 1996 AND b.yr = 1997
        WHERE ROUND(b.av - a.av, 2) <> 0
    ),
    per_v AS (
        SELECT ABS(d) AS ad, COUNT(*) AS cnt,
               SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS cnt_pos
        FROM pairs GROUP BY ad
    ),
    ranked AS (
        SELECT ad, cnt, cnt_pos,
               CAST(SUM(cnt) OVER (ORDER BY ad) - (cnt - 1) / 2.0 AS DECIMAL(32, 1)) AS avg_rank
        FROM per_v
    ),
    agg AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(avg_rank * cnt_pos) AS DOUBLE) AS w_plus
        FROM ranked
    )
    SELECT n, w_plus,
           ROUND((w_plus - n * (n + 1) / 4.0) /
                 SQRT(n * (n + 1.0) * (2 * n + 1) / 24.0), 6) AS z
    FROM agg
    """,
)
def q95(spark, sf_dir):
    from pyspark.sql.types import DecimalType

    orders = T(spark, sf_dir, "orders")
    yearly = (
        orders.filter(F.year("o_orderdate").isin([1996, 1997]))
        .groupBy("o_custkey", F.year("o_orderdate").alias("yr"))
        .agg(davg("o_totalprice").alias("av"))
    )
    a = yearly.filter("yr = 1996").select("o_custkey", F.col("av").alias("av96"))
    b = yearly.filter("yr = 1997").select("o_custkey", F.col("av").alias("av97"))
    pairs = (
        a.join(b, "o_custkey")
        .select(F.round(F.col("av97") - F.col("av96"), 2).alias("d"))
        .filter("d <> 0")
    )
    per_v = pairs.groupBy(F.abs("d").alias("ad")).agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("cnt_pos"),
    )
    from pandrs_spark.operators.windows import global_prefix_counts

    ranked = global_prefix_counts(
        per_v, [F.asc("ad")], {"__cum__": "cnt"}
    ).withColumn(
        "avg_rank",
        (F.col("__cum__") - (F.col("cnt") - 1) / 2.0).cast(DecimalType(32, 1)),
    )
    agg = ranked.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("avg_rank") * F.col("cnt_pos")).cast("double").alias("w_plus"),
    )
    return agg.selectExpr(
        "n",
        "w_plus",
        """ROUND((w_plus - n * (n + 1) / 4.0) /
           SQRT(n * (n + 1.0) * (2 * n + 1) / 24.0), 6) AS z""",
    )


# --- q96: permutation test for mean difference (§2.12,
# nonparametric.rs:625) ------------------------------------------------------
# Label shuffles come from the same Lehmer LCG as q94: replicate k ranks
# rows by the LCG key and hands the first n1 ranks the 'BUILDING' label.
# The p-value is the fraction of permuted mean-differences at least as
# extreme as the observed one — every step exact-sum deterministic.
_P = 40


@query(
    "q96_permutation_test",
    oracle=f"""
    WITH two AS (
        SELECT c_acctbal, c_mktsegment,
               ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS rn
        FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    sizes AS (
        SELECT CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM two
    ),
    observed AS (
        SELECT {sql_davg("CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END")}
             - {sql_davg("CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal END")} AS d_obs
        FROM two
    ),
    keyed AS (
        SELECT k.k, t.rn, t.c_acctbal,
               ROW_NUMBER() OVER (
                   PARTITION BY k.k
                   ORDER BY (48271 * (k.k * s.n + t.rn + 1)) % 2147483647, t.rn
               ) AS pr
        FROM (SELECT UNNEST(generate_series(0, {_P - 1})) AS k) k
        CROSS JOIN two t CROSS JOIN sizes s
    ),
    perm_stats AS (
        SELECT k,
               {sql_davg("CASE WHEN pr <= (SELECT n1 FROM sizes) THEN c_acctbal END")}
             - {sql_davg("CASE WHEN pr > (SELECT n1 FROM sizes) THEN c_acctbal END")} AS d
        FROM keyed GROUP BY k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_perms,
           ROUND((SELECT d_obs FROM observed), 6) AS d_obs,
           ROUND(AVG(CASE WHEN ABS(d) >= ABS((SELECT d_obs FROM observed)) THEN 1.0 ELSE 0.0 END), 6) AS p_value
    FROM perm_stats
    """,
)
def q96(spark, sf_dir, sample_frac: float | None = None):
    """Permutation test for mean difference.

    Scale note: the permutation replicates the frame ×{_P} (bounded and
    fine at gate SF). At 100 TB you permute a deterministic STRATIFIED
    SAMPLE instead — the permutation null only needs enough rows for a
    stable tail estimate, not the full population. Pass ``sample_frac``
    to do exactly that: each segment is thinned by content hash
    (operators/sampling.deterministic_sample, engine-portable), so the
    ×{_P} blow-up applies to n·frac rows. Default None keeps the
    full-frame behavior the oracle mirrors.
    """
    from pyspark.sql import Window

    cust = T(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin(["BUILDING", "MACHINERY"])
    )
    if sample_frac is not None:
        from pandrs_spark.operators.sampling import stratified_sample

        cust = stratified_sample(
            cust,
            "c_mktsegment",
            {"BUILDING": sample_frac, "MACHINERY": sample_frac},
            ["c_custkey"],
        )
    # Row indices 0..n−1 for the permutation come from the distributed
    # global row number (range-sort + partition offsets) — the old
    # partitionless Window.orderBy funneled every row into one task.
    from pandrs_spark.operators.windows import global_row_number

    two = (
        global_row_number(cust, [F.asc("c_custkey")], "__rn1__")
        .select(
            "c_acctbal",
            "c_mktsegment",
            (F.col("__rn1__") - 1).alias("rn"),
        )
    )
    two = tracked_persist(two)
    n = two.count()
    n1 = two.filter("c_mktsegment = 'BUILDING'").count()
    observed = two.agg(
        (
            davg(F.when(F.col("c_mktsegment") == "BUILDING", F.col("c_acctbal")))
            - davg(F.when(F.col("c_mktsegment") == "MACHINERY", F.col("c_acctbal")))
        ).alias("d_obs")
    )
    keyed = (
        spark.range(_P)
        .withColumnRenamed("id", "k")
        .crossJoin(two)
        .withColumn(
            "pr",
            F.row_number().over(
                Window.partitionBy("k").orderBy(
                    (F.lit(48271) * (F.col("k") * n + F.col("rn") + 1))
                    % 2147483647,
                    "rn",
                )
            ),
        )
    )
    perm_stats = keyed.groupBy("k").agg(
        (
            davg(F.when(F.col("pr") <= n1, F.col("c_acctbal")))
            - davg(F.when(F.col("pr") > n1, F.col("c_acctbal")))
        ).alias("d")
    )
    return perm_stats.crossJoin(F.broadcast(observed)).agg(
        F.count(F.lit(1)).alias("n_perms"),
        F.round(F.min("d_obs"), 6).alias("d_obs"),
        F.round(
            F.avg(
                F.when(F.abs("d") >= F.abs(F.col("d_obs")), 1.0).otherwise(0.0)
            ),
            6,
        ).alias("p_value"),
    )


# --- q101: multiple-testing p-value corrections (hypothesis.rs:787) ---------
# All pairwise Welch tests across the 5 market segments (10 pairs) from
# distributed sufficient stats; p-values via the logistic approximation
# of the normal CDF p = 2/(1+exp(1.702*|t|)) (identical IEEE ops on both
# engines), then Bonferroni / Holm step-down / Benjamini-Hochberg
# step-up as window expressions over the tiny per-pair frame. The 100 TB
# path: one partial-aggregated shuffle for the stats; corrections run
# over #tests rows, not data rows.
_WELCH_PAIR_T = (
    "((sx1 / n1) - (sx2 / n2)) / "
    "SQRT(((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1 "
    "   + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2)"
)
_P_APPROX = "2.0 / (1.0 + EXP(1.702 * ABS(t_stat)))"


@query(
    "q101_pvalue_corrections",
    oracle=f"""
    WITH seg AS (
        SELECT c_mktsegment AS seg, COUNT(c_acctbal) AS n,
               {{sx}} AS sx, {{sxx}} AS sxx
        FROM customer GROUP BY c_mktsegment
    ),
    pairs AS (
        SELECT a.seg || '|' || b.seg AS pair,
               a.n AS n1, a.sx AS sx1, a.sxx AS sxx1,
               b.n AS n2, b.sx AS sx2, b.sxx AS sxx2
        FROM seg a JOIN seg b ON a.seg < b.seg
    ),
    tested AS (
        SELECT pair, {_WELCH_PAIR_T} AS t_stat FROM pairs
    ),
    pvals AS (
        SELECT pair, t_stat, {_P_APPROX} AS p,
               COUNT(*) OVER () AS m,
               ROW_NUMBER() OVER (ORDER BY {_P_APPROX}, pair) AS r
        FROM tested
    )
    SELECT pair, ROUND(t_stat, 6) AS t_stat, ROUND(p, 6) AS p_raw,
           ROUND(LEAST(1.0, m * p), 6) AS p_bonferroni,
           ROUND(LEAST(1.0, MAX((m - r + 1) * p) OVER (
               ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS p_holm,
           ROUND(LEAST(1.0, MIN(m * p / r) OVER (
               ORDER BY r ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6) AS p_bh
    FROM pvals
    ORDER BY pair
    """.format(sx=sql_dsum("c_acctbal"), sxx=sql_dsum("c_acctbal * c_acctbal", 4)),
)
def q101(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    seg = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("c_acctbal").alias("n"),
        dsum("c_acctbal").alias("sx"),
        dsum(F.col("c_acctbal") * F.col("c_acctbal"), 4).alias("sxx"),
    )
    a, b = seg.alias("a"), seg.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.seg") < F.col("b.seg")).select(
        F.concat_ws("|", "a.seg", "b.seg").alias("pair"),
        F.col("a.n").alias("n1"), F.col("a.sx").alias("sx1"), F.col("a.sxx").alias("sxx1"),
        F.col("b.n").alias("n2"), F.col("b.sx").alias("sx2"), F.col("b.sxx").alias("sxx2"),
    )
    tested = pairs.select("pair", F.expr(_WELCH_PAIR_T).alias("t_stat"))
    w_all = Window.partitionBy()
    pvals = tested.select(
        "pair",
        "t_stat",
        F.expr(_P_APPROX).alias("p"),
        F.count(F.lit(1)).over(w_all).alias("m"),
        F.row_number().over(Window.orderBy(F.expr(_P_APPROX), F.col("pair"))).alias("r"),
    )
    w_holm = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    w_bh = Window.orderBy("r").rowsBetween(0, Window.unboundedFollowing)
    return pvals.select(
        "pair",
        F.round("t_stat", 6).alias("t_stat"),
        F.round("p", 6).alias("p_raw"),
        F.round(F.least(F.lit(1.0), F.col("m") * F.col("p")), 6).alias("p_bonferroni"),
        F.round(
            F.least(
                F.lit(1.0),
                F.max((F.col("m") - F.col("r") + 1) * F.col("p")).over(w_holm),
            ),
            6,
        ).alias("p_holm"),
        F.round(
            F.least(
                F.lit(1.0),
                F.min(F.col("m") * F.col("p") / F.col("r")).over(w_bh),
            ),
            6,
        ).alias("p_bh"),
    ).orderBy("pair")


# --- q102: normalized mutual information (stats/mod.rs:533) -----------------
# NMI(l_returnflag, l_linestatus) from exact joint/marginal counts:
# I = sum p_ij*ln(p_ij/(p_i*p_j)); NMI = I/sqrt(H_x*H_y). One shuffle
# for the joint histogram; entropies are sums over the (tiny) category
# cardinalities, never over rows.
@query(
    "q102_mutual_info",
    oracle="""
    WITH joint AS (
        SELECT l_returnflag AS x, l_linestatus AS y, COUNT(*) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM joint),
    mx AS (SELECT x, CAST(SUM(c) AS DOUBLE) AS cx FROM joint GROUP BY x),
    my AS (SELECT y, CAST(SUM(c) AS DOUBLE) AS cy FROM joint GROUP BY y),
    mi AS (
        SELECT SUM((c / t) * LN(c * t / (cx * cy))) AS mi
        FROM joint JOIN mx USING (x) JOIN my USING (y), tot
    ),
    hx AS (SELECT -SUM((cx / t) * LN(cx / t)) AS hx FROM mx, tot),
    hy AS (SELECT -SUM((cy / t) * LN(cy / t)) AS hy FROM my, tot)
    SELECT ROUND(mi, 6) AS mutual_info,
           ROUND(hx, 6) AS h_x, ROUND(hy, 6) AS h_y,
           ROUND(mi / SQRT(hx * hy), 6) AS nmi
    FROM mi, hx, hy
    """,
)
def q102(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    joint = li.groupBy(
        F.col("l_returnflag").alias("x"), F.col("l_linestatus").alias("y")
    ).agg(F.count(F.lit(1)).alias("c"))
    mx = joint.groupBy("x").agg(F.sum("c").cast("double").alias("cx"))
    my = joint.groupBy("y").agg(F.sum("c").cast("double").alias("cy"))
    tot = joint.agg(F.sum("c").cast("double").alias("t"))
    mi = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("c") / F.col("t"))
                * F.log(F.col("c") * F.col("t") / (F.col("cx") * F.col("cy")))
            ).alias("mi")
        )
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("cx") / F.col("t")) * F.log(F.col("cx") / F.col("t")))).alias("hx")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("cy") / F.col("t")) * F.log(F.col("cy") / F.col("t")))).alias("hy")
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.round("mi", 6).alias("mutual_info"),
            F.round("hx", 6).alias("h_x"),
            F.round("hy", 6).alias("h_y"),
            F.round(F.col("mi") / F.sqrt(F.col("hx") * F.col("hy")), 6).alias("nmi"),
        )
    )


# --- q110: Friedman test (nonparametric.rs:294) -----------------------------
# Blocks = order months, treatments = the 5 order priorities, response =
# deterministic mean order price per (block, treatment). Ranks within
# each complete block use the average-rank convention; the statistic is
# Q = 12/(nk(k+1)) * sum_j R_j^2 - 3n(k+1). Everything after the
# (partial-aggregated) block/treatment means is O(blocks*k).
@query(
    "q110_friedman_test",
    oracle=f"""
    WITH cells AS (
        SELECT date_trunc('month', o_orderdate) AS block,
               o_orderpriority AS treatment,
               {sql_davg('o_totalprice')} AS v
        FROM orders
        GROUP BY block, treatment
    ),
    complete AS (
        SELECT block FROM cells GROUP BY block HAVING COUNT(*) = 5
    ),
    ranked AS (
        SELECT c.block, c.treatment,
               RANK() OVER (PARTITION BY c.block ORDER BY c.v)
                   + (COUNT(*) OVER (PARTITION BY c.block, c.v) - 1) / 2.0 AS r
        FROM cells c JOIN complete USING (block)
    ),
    rsums AS (
        SELECT treatment, CAST(SUM(r) AS DOUBLE) AS rj,
               COUNT(*) AS n
        FROM ranked GROUP BY treatment
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_blocks,
           CAST(COUNT(*) AS BIGINT) AS k_treatments,
           ROUND(12.0 / (MAX(n) * COUNT(*) * (COUNT(*) + 1)) * SUM(rj * rj)
                 - 3 * MAX(n) * (COUNT(*) + 1), 6) AS friedman_stat
    FROM rsums
    """,
)
def q110(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("block"),
        F.col("o_orderpriority").alias("treatment"),
    ).agg(davg("o_totalprice").alias("v"))
    complete = cells.groupBy("block").agg(F.count(F.lit(1)).alias("kk")).filter(
        F.col("kk") == 5
    ).select("block")
    w_rank = Window.partitionBy("block").orderBy("v")
    w_tie = Window.partitionBy("block", "v")
    ranked = cells.join(complete, "block").select(
        "treatment",
        (
            F.rank().over(w_rank)
            + (F.count(F.lit(1)).over(w_tie) - 1) / 2.0
        ).alias("r"),
    )
    rsums = ranked.groupBy("treatment").agg(
        F.sum("r").cast("double").alias("rj"), F.count(F.lit(1)).alias("n")
    )
    return rsums.agg(
        F.max("n").cast("long").alias("n_blocks"),
        F.count(F.lit(1)).cast("long").alias("k_treatments"),
        F.round(
            12.0
            / (F.max("n") * F.count(F.lit(1)) * (F.count(F.lit(1)) + 1))
            * F.sum(F.col("rj") * F.col("rj"))
            - 3 * F.max("n") * (F.count(F.lit(1)) + 1),
            6,
        ).alias("friedman_stat"),
    )


# --- q111: Shapiro-Francia normality W' (hypothesis.rs:693's
# Shapiro-Wilk, in its large-n Shapiro-Francia form) -------------------------
# W' = corr(x_(i), m_i)^2 between the order statistics and the expected
# normal quantiles m_i = probit((i - 0.375)/(n + 0.25)) (Blom scores).
# probit uses Acklam's rational approximation — pure arithmetic, so both
# engines evaluate bit-identical scores. The ordered pass runs over the
# distinct-value histogram; tied values expand to their individual ranks
# via sequence/unnest (O(n) rows, no per-row Python).
def _probit_sql(p: str) -> str:
    """Acklam's inverse normal CDF as a portable SQL expression."""
    a = "(((((-3.969683028665376e+01*r+2.209460984245205e+02)*r-2.759285104469687e+02)*r+1.383577518672690e+02)*r-3.066479806614716e+01)*r+2.506628277459239e+00)"
    b = "((((( -5.447609879822406e+01*r+1.615858368580409e+02)*r-1.556989798598866e+02)*r+6.680131188771972e+01)*r-1.328068155288572e+01)*r+1.0)"
    c = "(((((-7.784894002430293e-03*q-3.223964580411365e-01)*q-2.400758277161838e+00)*q-2.549732539343734e+00)*q+4.374664141464968e+00)*q+2.938163982698783e+00)"
    d = "((((7.784695709041462e-03*q+3.224671290700398e-01)*q+2.445134137142996e+00)*q+3.754408661907416e+00)*q+1.0)"
    lo, hi = "0.02425", "0.97575"
    return f"""CASE
        WHEN ({p}) < {lo} THEN
            (SELECT {c} / {d} FROM (SELECT SQRT(-2.0 * LN(({p}))) AS q) _t1)
        WHEN ({p}) > {hi} THEN
            (SELECT -({c}) / {d} FROM (SELECT SQRT(-2.0 * LN(1.0 - ({p}))) AS q) _t2)
        ELSE
            (SELECT ({a} * q) / {b}
             FROM (SELECT ({p}) - 0.5 AS q, (({p}) - 0.5) * (({p}) - 0.5) AS r) _t3)
    END"""


_SF_CORR = (
    "(n * sxy - sx * sy) / "
    "(SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))"
)


@query(
    "q111_shapiro_francia",
    oracle=f"""
    WITH per_v AS (
        SELECT c_acctbal AS v, COUNT(*) AS cnt FROM customer GROUP BY v
    ),
    ranked AS (
        SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS cum,
               SUM(cnt) OVER () AS n
        FROM per_v
    ),
    expanded AS (
        SELECT v, n,
               UNNEST(generate_series(CAST(cum - cnt + 1 AS BIGINT),
                                      CAST(cum AS BIGINT))) AS i
        FROM ranked
    ),
    scored AS (
        SELECT v, {_probit_sql('(i - 0.375) / (n + 0.25)')} AS m
        FROM expanded
    ),
    sums AS (
        SELECT COUNT(*) AS n, SUM(v) AS sx, SUM(m) AS sy,
               SUM(v * v) AS sxx, SUM(m * m) AS syy, SUM(v * m) AS sxy
        FROM scored
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(({_SF_CORR}) * ({_SF_CORR}), 6) AS w_stat
    FROM sums
    """,
)
def q111(spark, sf_dir):
    from pandrs_spark.operators.windows import global_prefix_counts

    cust = T(spark, sf_dir, "customer")
    per_v = cust.groupBy(F.col("c_acctbal").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = per_v.agg(F.sum("cnt").alias("n"))
    ranked = (
        global_prefix_counts(per_v, [F.asc("v")], {"cum": "cnt"})
        .crossJoin(F.broadcast(total))
        .select("v", "cnt", "cum", "n")
    )
    expanded = ranked.select(
        "v", "n", F.explode(F.sequence(F.col("cum") - F.col("cnt") + 1, F.col("cum"))).alias("i")
    )
    # Spark has no scalar subquery-in-expression; inline q/r via nested CASE
    p = "((i - 0.375) / (n + 0.25))"
    a_num = "(((((-3.969683028665376e+01*r+2.209460984245205e+02)*r-2.759285104469687e+02)*r+1.383577518672690e+02)*r-3.066479806614716e+01)*r+2.506628277459239e+00)"
    b_den = "((((( -5.447609879822406e+01*r+1.615858368580409e+02)*r-1.556989798598866e+02)*r+6.680131188771972e+01)*r-1.328068155288572e+01)*r+1.0)"
    c_num = "(((((-7.784894002430293e-03*q-3.223964580411365e-01)*q-2.400758277161838e+00)*q-2.549732539343734e+00)*q+4.374664141464968e+00)*q+2.938163982698783e+00)"
    d_den = "((((7.784695709041462e-03*q+3.224671290700398e-01)*q+2.445134137142996e+00)*q+3.754408661907416e+00)*q+1.0)"
    lo_q = f"SQRT(-2.0 * LN({p}))"
    hi_q = f"SQRT(-2.0 * LN(1.0 - {p}))"
    mid_q = f"({p} - 0.5)"
    mid_r = f"({mid_q} * {mid_q})"
    probit = f"""CASE
        WHEN {p} < 0.02425 THEN {c_num.replace('q', f'({lo_q})')} / {d_den.replace('q', f'({lo_q})')}
        WHEN {p} > 0.97575 THEN -({c_num.replace('q', f'({hi_q})')}) / {d_den.replace('q', f'({hi_q})')}
        ELSE ({a_num.replace('r', mid_r)} * {mid_q}) / {b_den.replace('r', mid_r)}
    END"""
    scored = expanded.select("v", F.expr(probit).alias("m"))
    sums = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sx"),
        F.sum("m").alias("sy"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
        F.sum(F.col("m") * F.col("m")).alias("syy"),
        F.sum(F.col("v") * F.col("m")).alias("sxy"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.expr(f"({_SF_CORR}) * ({_SF_CORR})"), 6).alias("w_stat"),
    )


# --- q124: one-sample t-test of acctbal mean vs 4500 (hypothesis.rs:143) ----
from pandrs_spark.operators.hypothesis import ONE_SAMPLE_T, one_sample_ttest, paired_ttest  # noqa: E402

_T1 = ONE_SAMPLE_T.format(mu0="4500.0")


@query(
    "q124_one_sample_ttest",
    oracle=f"""
    WITH stats AS (
        SELECT COUNT(c_acctbal) AS n, {sql_dsum('c_acctbal')} AS sx,
               {sql_dsum('c_acctbal * c_acctbal', 4)} AS sxx
        FROM customer
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(sx / n, 6) AS mean,
           ROUND({_T1}, 6) AS t_stat
    FROM stats
    """,
)
def q124(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    out = one_sample_ttest(cust, "c_acctbal", 4500.0)
    return out.select(
        "n", F.round("mean", 6).alias("mean"), F.round("t_stat", 6).alias("t_stat")
    )


# --- q125: paired t-test, discount of line 1 vs line 2 within an order
# (hypothesis.rs:309) — the pairing unit is the order itself ------------------
_T0 = ONE_SAMPLE_T.format(mu0="0.0")


@query(
    "q125_paired_ttest",
    oracle=f"""
    WITH pairs AS (
        SELECT a.l_discount - b.l_discount AS d
        FROM lineitem a JOIN lineitem b
          ON b.l_orderkey = a.l_orderkey
         AND a.l_linenumber = 1 AND b.l_linenumber = 2
    ),
    stats AS (
        SELECT COUNT(d) AS n, {sql_dsum('d')} AS sx,
               {sql_dsum('d * d', 4)} AS sxx
        FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(sx / n, 6) AS mean_diff,
           ROUND({_T0}, 6) AS t_stat
    FROM stats
    """,
)
def q125(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey", F.col("l_discount").alias("d1")
    )
    l2 = li.filter(F.col("l_linenumber") == 2).select(
        "l_orderkey", F.col("l_discount").alias("d2")
    )
    pairs = l1.join(l2, "l_orderkey")
    out = paired_ttest(pairs, "d1", "d2")
    return out.select(
        "n",
        F.round("mean_diff", 6).alias("mean_diff"),
        F.round("t_stat", 6).alias("t_stat"),
    )


# --- q165: Levene/Brown-Forsythe variance homogeneity across market
# segments (robust complement to q74 ANOVA): W = ANOVA F over
# |x - group median| ----------------------------------------------------------
@query(
    "q165_levene_variance_homogeneity",
    oracle="""
    WITH meds AS (
        SELECT c_mktsegment, MEDIAN(c_acctbal) AS med
        FROM customer GROUP BY c_mktsegment
    ),
    z AS (
        SELECT c.c_mktsegment, ABS(c.c_acctbal - m.med) AS z
        FROM customer c JOIN meds m ON m.c_mktsegment = c.c_mktsegment
    ),
    per_g AS (
        SELECT c_mktsegment,
               COUNT(z) AS n_g,
               CAST(SUM(CAST(ROUND(z, 2) AS DECIMAL(32, 2))) AS DOUBLE) AS s_g,
               CAST(SUM(CAST(ROUND(z * z, 4) AS DECIMAL(32, 4))) AS DOUBLE) AS ss_g
        FROM z GROUP BY c_mktsegment
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n, COUNT(*) AS k,
               SUM(s_g) AS s, SUM(ss_g) AS ss,
               SUM(s_g * s_g / n_g) AS sgg
        FROM per_g
    )
    SELECT n, k,
           ROUND(((sgg - s * s / n) / (k - 1)) / ((ss - sgg) / (n - k)), 6) AS w_stat
    FROM tot
    """,
)
def q165(spark, sf_dir):
    from pandrs_spark.operators.hypothesis import levene_test

    cust = T(spark, sf_dir, "customer")
    res = levene_test(cust, "c_acctbal", "c_mktsegment")
    return res.select("n", "k", F.round("w_stat", 6).alias("w_stat"))


# --- q433: McNemar's paired-binary test — did the 1996→1997 customer
# activity flip rate exceed chance? Per customer the paired outcome is
# (ordered in 1996, ordered in 1997); only discordant cells inform the
# continuity-corrected statistic. One groupBy + one scalar aggregate
# of exact counts (operators/hypothesis.py:mcnemar_test). -------------------
@query(
    "q433_mcnemar_activity_flip",
    oracle="""
    WITH peryear AS (
        SELECT o_custkey,
               MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
                        THEN 1 ELSE 0 END) AS x,
               MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
                        THEN 1 ELSE 0 END) AS y
        FROM orders GROUP BY o_custkey
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM peryear
    )
    SELECT n_pairs, b, c,
           CASE WHEN b + c > 0
                THEN CAST((ABS(b - c) - 1) * (ABS(b - c) - 1) AS DOUBLE)
                     / (b + c)
           END AS chi2
    FROM agg
    """,
)
def q433(spark, sf_dir):
    from pandrs_spark.operators.hypothesis import mcnemar_test

    orders = T(spark, sf_dir, "orders")
    peryear = orders.groupBy("o_custkey").agg(
        F.max(
            F.when(F.year("o_orderdate") == 1996, 1).otherwise(0)
        ).alias("x"),
        F.max(
            F.when(F.year("o_orderdate") == 1997, 1).otherwise(0)
        ).alias("y"),
    )
    return mcnemar_test(peryear, "x", "y")


# --- q434: Cohen's kappa agreement between two deterministic document
# "raters" (long-by-chars vs long-by-tokens) — the inter-annotator
# agreement primitive of labeling pipelines. Exact 2×2 cell counts,
# then the kappa double formula (operators/hypothesis.py:cohens_kappa).
# -----------------------------------------------------------------------------
@query(
    "q434_cohens_kappa_raters",
    oracle="""
    WITH rated AS (
        SELECT CASE WHEN n_chars > 350 THEN 1 ELSE 0 END AS r1,
               CASE WHEN len(string_split_regex(lower(text), '\\s+')) > 60
                    THEN 1 ELSE 0 END AS r2
        FROM documents
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN r1 = 0 AND r2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
               CAST(SUM(CASE WHEN r1 = 0 AND r2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
               CAST(SUM(CASE WHEN r1 = 1 AND r2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
               CAST(SUM(CASE WHEN r1 = 1 AND r2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
        FROM rated
    ),
    stat AS (
        SELECT n, n00, n01, n10, n11,
               (n00 + n11) / CAST(n AS DOUBLE) AS po,
               ((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
               + ((n00 + n01) / CAST(n AS DOUBLE)) * ((n00 + n10) / CAST(n AS DOUBLE))
                   AS pe
        FROM agg
    )
    SELECT n, n00, n01, n10, n11,
           CAST(SIGN(po) * FLOOR(ABS(po) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS po,
           CAST(SIGN(pe) * FLOOR(ABS(pe) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS pe,
           CASE WHEN pe <> 1.0 THEN
               CAST(SIGN((po - pe) / (1.0 - pe))
                    * FLOOR(ABS((po - pe) / (1.0 - pe)) * 1000000.0 + 0.5)
                    AS BIGINT) / 1000000.0
           END AS kappa
    FROM stat
    """,
)
def q434(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.hypothesis import cohens_kappa
    from pandrs_spark.operators.text import tokens

    docs = T(spark, sf_dir, "documents")
    rated = docs.select(
        F.when(F.col("n_chars") > 350, 1).otherwise(0).alias("r1"),
        F.when(F.size(tokens(F.col("text"))) > 60, 1).otherwise(0).alias("r2"),
    )
    out = cohens_kappa(rated, "r1", "r2")
    return out.select(
        "n",
        "n00",
        "n01",
        "n10",
        "n11",
        (quantize("po", 6) / 1e6).alias("po"),
        (quantize("pe", 6) / 1e6).alias("pe"),
        (quantize("kappa", 6) / 1e6).alias("kappa"),
    )


# --- q435: Cochran-Armitage trend test — does the late-shipment rate
# trend monotonically with order priority (ordered scores 1..5)?
# One join + one groupBy(score) of exact counts, then the trend Z
# formula (operators/hypothesis.py:cochran_armitage_trend). ------------------
@query(
    "q435_cochran_armitage_late_trend",
    oracle="""
    WITH flags AS (
        SELECT CAST(substr(o.o_orderpriority, 1, 1) AS INTEGER) AS t,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                    THEN 1 ELSE 0 END AS late
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    per_g AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(SUM(late) AS BIGINT) AS r_g
        FROM flags GROUP BY t
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(r_g) AS BIGINT) AS r,
               CAST(SUM(t * n_g) AS DOUBLE) AS tn,
               CAST(SUM(t * t * n_g) AS DOUBLE) AS ttn,
               CAST(SUM(t * r_g) AS DOUBLE) AS tr
        FROM per_g
    )
    SELECT n, k,
           CASE WHEN (CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n)
                     * (ttn - tn * tn / n) > 0
                THEN CAST(SIGN((tr - tn * (CAST(r AS DOUBLE) / n))
                          / SQRT((CAST(r AS DOUBLE) / n)
                                 * (1.0 - CAST(r AS DOUBLE) / n)
                                 * (ttn - tn * tn / n)))
                     * FLOOR(ABS((tr - tn * (CAST(r AS DOUBLE) / n))
                          / SQRT((CAST(r AS DOUBLE) / n)
                                 * (1.0 - CAST(r AS DOUBLE) / n)
                                 * (ttn - tn * tn / n))) * 1000000.0 + 0.5)
                     AS BIGINT) / 1000000.0
           END AS z_trend
    FROM tot
    """,
)
def q435(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.hypothesis import cochran_armitage_trend

    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    flags = li.join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("t"),
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
            1,
        )
        .otherwise(0)
        .alias("late"),
    )
    out = cochran_armitage_trend(flags, "late", "t")
    return out.select(
        "n", "k", (quantize("z_trend", 6) / 1e6).alias("z_trend")
    )


# --- q436: Mood's median test — do market segments share a location?
# Counts above/below the POOLED exact median per segment, then the
# k×2 chi-square (operators/hypothesis.py:mood_median_test). Pooled
# median = one exact percentile aggregate; the table is exact counts.
# -----------------------------------------------------------------------------
@query(
    "q436_mood_median_segments",
    oracle="""
    WITH med AS (SELECT MEDIAN(c_acctbal) AS med FROM customer),
    flagged AS (
        SELECT c.c_mktsegment AS grp,
               CASE WHEN c.c_acctbal > m.med THEN 1 ELSE 0 END AS above
        FROM customer c, med m
    ),
    per_g AS (
        SELECT grp, CAST(SUM(above) AS BIGINT) AS n_above,
               CAST(SUM(1 - above) AS BIGINT) AS n_below
        FROM flagged GROUP BY grp
    ),
    tot AS (
        SELECT CAST(SUM(n_above) AS DOUBLE) AS ta,
               CAST(SUM(n_above + n_below) AS DOUBLE) AS tn
        FROM per_g
    ),
    cells AS (
        SELECT g.grp, g.n_above, g.n_below,
               (g.n_above + g.n_below) * t.ta / t.tn AS e_above,
               POWER(g.n_above - (g.n_above + g.n_below) * t.ta / t.tn, 2)
                   / ((g.n_above + g.n_below) * t.ta / t.tn)
               + POWER(g.n_below - (g.n_above + g.n_below) * (t.tn - t.ta) / t.tn, 2)
                   / ((g.n_above + g.n_below) * (t.tn - t.ta) / t.tn) AS cell_chi2
        FROM per_g g, tot t
    )
    SELECT grp,
           n_above,
           n_below,
           CAST(SIGN(e_above) * FLOOR(ABS(e_above) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS e_above,
           (SELECT CAST(SIGN(CAST(SUM(CAST(SIGN(cell_chi2)
                                 * FLOOR(ABS(cell_chi2) * 1e9 + 0.5) AS BIGINT))
                                 AS DOUBLE) / 1e9)
                        * FLOOR(ABS(CAST(SUM(CAST(SIGN(cell_chi2)
                                 * FLOOR(ABS(cell_chi2) * 1e9 + 0.5) AS BIGINT))
                                 AS DOUBLE) / 1e9) * 1000000.0 + 0.5) AS BIGINT)
                   / 1000000.0
            FROM cells) AS chi2
    FROM cells
    ORDER BY grp
    """,
)
def q436(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.hypothesis import mood_median_test

    cust = T(spark, sf_dir, "customer")
    out = mood_median_test(cust, "c_acctbal", "c_mktsegment")
    return out.select(
        "grp",
        "n_above",
        "n_below",
        (quantize("e_above", 6) / 1e6).alias("e_above"),
        (quantize("chi2", 6) / 1e6).alias("chi2"),
    ).orderBy("grp")


# --- q437: two-sample Cramér-von-Mises criterion between customer
# segments — the integrated-EDF complement to q72's KS max. Same scale
# shape: one distinct-value histogram shuffle + one distributed prefix
# sum (operators/hypothesis.py:cramer_von_mises_2samp). ----------------------
@query(
    "q437_cramer_von_mises_segments",
    oracle="""
    WITH two AS (
        SELECT c_acctbal, c_mktsegment FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    per_v AS (
        SELECT c_acctbal AS value,
               SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS c2
        FROM two GROUP BY value
    ),
    cdf AS (
        SELECT c1, c2,
               SUM(c1) OVER (ORDER BY value) AS cum1,
               SUM(c2) OVER (ORDER BY value) AS cum2
        FROM per_v
    ),
    totals AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        FROM per_v
    ),
    t AS (
        SELECT t.n1, t.n2,
               CAST(SUM(CAST(SIGN((c.c1 + c.c2)
                                  * (c.cum1 / t.n1 - c.cum2 / t.n2)
                                  * (c.cum1 / t.n1 - c.cum2 / t.n2))
                             * FLOOR(ABS((c.c1 + c.c2)
                                  * (c.cum1 / t.n1 - c.cum2 / t.n2)
                                  * (c.cum1 / t.n1 - c.cum2 / t.n2)) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS t_sum
        FROM cdf c, totals t
        GROUP BY t.n1, t.n2
    )
    SELECT n1, n2,
           CAST(SIGN(CAST(n1 AS DOUBLE) * n2 / ((n1 + n2) * (n1 + n2)) * t_sum)
                * FLOOR(ABS(CAST(n1 AS DOUBLE) * n2 / ((n1 + n2) * (n1 + n2))
                            * t_sum) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS cvm
    FROM t
    """,
)
def q437(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.hypothesis import cramer_von_mises_2samp

    cust = T(spark, sf_dir, "customer")
    out = cramer_von_mises_2samp(
        cust, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )
    return out.select("n1", "n2", (quantize("cvm", 6) / 1e6).alias("cvm"))


# --- q458: Brunner-Munzel generalized Wilcoxon between customer
# segments — the Behrens-Fisher-robust replacement for q71's
# Mann-Whitney (scipy.stats.brunnermunzel statistic form). One
# distinct-value histogram + one prefix pass; squared-deviation sums
# quantized (operators/hypothesis.py:brunner_munzel). ------------------------
@query(
    "q458_brunner_munzel_segments",
    oracle="""
    WITH two AS (
        SELECT c_acctbal, c_mktsegment FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    per_v AS (
        SELECT c_acctbal AS value,
               SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS c2
        FROM two GROUP BY value
    ),
    cdf AS (
        SELECT c1, c2,
               SUM(c1) OVER (ORDER BY value) AS cum1,
               SUM(c2) OVER (ORDER BY value) AS cum2
        FROM per_v
    ),
    stats AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(CAST(SIGN(c1 * ((cum1 + cum2) - (c1 + c2 - 1) / 2.0))
                    * FLOOR(ABS(c1 * ((cum1 + cum2) - (c1 + c2 - 1) / 2.0))
                            * 10.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10.0 AS sr1,
               CAST(SUM(CAST(SIGN(c2 * ((cum1 + cum2) - (c1 + c2 - 1) / 2.0))
                    * FLOOR(ABS(c2 * ((cum1 + cum2) - (c1 + c2 - 1) / 2.0))
                            * 10.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10.0 AS sr2
        FROM cdf
    ),
    var_ AS (
        SELECT s.n1, s.n2, s.sr1, s.sr2,
               CAST(SUM(CAST(SIGN(c.c1 * POWER(((c.cum1 + c.cum2) - (c.c1 + c.c2 - 1) / 2.0)
                        - (c.cum1 - (c.c1 - 1) / 2.0)
                        - s.sr1 / s.n1 + (s.n1 + 1) / 2.0, 2))
                    * FLOOR(ABS(c.c1 * POWER(((c.cum1 + c.cum2) - (c.c1 + c.c2 - 1) / 2.0)
                        - (c.cum1 - (c.c1 - 1) / 2.0)
                        - s.sr1 / s.n1 + (s.n1 + 1) / 2.0, 2)) * 1e6 + 0.5)
                    AS BIGINT)) AS DOUBLE) / 1e6 AS ss1,
               CAST(SUM(CAST(SIGN(c.c2 * POWER(((c.cum1 + c.cum2) - (c.c1 + c.c2 - 1) / 2.0)
                        - (c.cum2 - (c.c2 - 1) / 2.0)
                        - s.sr2 / s.n2 + (s.n2 + 1) / 2.0, 2))
                    * FLOOR(ABS(c.c2 * POWER(((c.cum1 + c.cum2) - (c.c1 + c.c2 - 1) / 2.0)
                        - (c.cum2 - (c.c2 - 1) / 2.0)
                        - s.sr2 / s.n2 + (s.n2 + 1) / 2.0, 2)) * 1e6 + 0.5)
                    AS BIGINT)) AS DOUBLE) / 1e6 AS ss2
        FROM cdf c, stats s
        GROUP BY s.n1, s.n2, s.sr1, s.sr2
    )
    SELECT n1, n2,
           CAST(SIGN((sr2 / n2 - (n2 + 1) / 2.0) / n1)
                * FLOOR(ABS((sr2 / n2 - (n2 + 1) / 2.0) / n1)
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS p_hat,
           CAST(SIGN(n1 * CAST(n2 AS DOUBLE) * (sr2 / n2 - sr1 / n1)
                     / ((n1 + n2)
                        * SQRT(n1 * (ss1 / (n1 - 1)) + n2 * (ss2 / (n2 - 1)))))
                * FLOOR(ABS(n1 * CAST(n2 AS DOUBLE) * (sr2 / n2 - sr1 / n1)
                     / ((n1 + n2)
                        * SQRT(n1 * (ss1 / (n1 - 1)) + n2 * (ss2 / (n2 - 1)))))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS w_stat
    FROM var_
    """,
)
def q458(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.hypothesis import brunner_munzel

    cust = T(spark, sf_dir, "customer")
    out = brunner_munzel(
        cust, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )
    return out.select(
        "n1",
        "n2",
        (quantize("p_hat", 6) / 1e6).alias("p_hat"),
        (quantize("w_stat", 6) / 1e6).alias("w_stat"),
    )


def _q466_pair_terms_sql() -> str:
    """Σ_{i<j} [c_i·(n_j − cum_j) + ½·c_i·c_j] at each distinct value,
    unrolled over the 10 ordered priority pairs (scale-1 quantized:
    terms are exact multiples of 0.5)."""
    terms = []
    for i in range(1, 6):
        for jj in range(i + 1, 6):
            terms.append(
                f"(c{i} * (n{jj} - cum{jj}) + 0.5 * c{i} * c{jj})"
            )
    expr = " + ".join(terms)
    return (
        f"CAST(SUM(CAST(SIGN({expr}) * FLOOR(ABS({expr}) * 10.0 + 0.5) "
        f"AS BIGINT)) AS DOUBLE) / 10.0"
    )


# --- q466: Jonckheere-Terpstra ordered-alternative test — does
# lineitem discount shift monotonically across the FIVE ordered order
# priorities? The rank-based ordered-trend test (complement to q435's
# binary Cochran-Armitage): JT = Σ_{i<j} U_ij from ONE distinct-value
# histogram with all five groups' prefix sums in ONE distributed pass;
# z against the tie-uncorrected null moments (documented). ---------------------
@query(
    "q466_jonckheere_terpstra_discount",
    oracle=f"""
    WITH flags AS (
        SELECT CAST(substr(o.o_orderpriority, 1, 1) AS INTEGER) AS t,
               l.l_discount AS v
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    per_v AS (
        SELECT v,
               SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN t = 2 THEN 1 ELSE 0 END) AS c2,
               SUM(CASE WHEN t = 3 THEN 1 ELSE 0 END) AS c3,
               SUM(CASE WHEN t = 4 THEN 1 ELSE 0 END) AS c4,
               SUM(CASE WHEN t = 5 THEN 1 ELSE 0 END) AS c5
        FROM flags GROUP BY v
    ),
    cdf AS (
        SELECT c1, c2, c3, c4, c5,
               SUM(c1) OVER (ORDER BY v) AS cum1,
               SUM(c2) OVER (ORDER BY v) AS cum2,
               SUM(c3) OVER (ORDER BY v) AS cum3,
               SUM(c4) OVER (ORDER BY v) AS cum4,
               SUM(c5) OVER (ORDER BY v) AS cum5
        FROM per_v
    ),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c3) AS BIGINT) AS n3, CAST(SUM(c4) AS BIGINT) AS n4,
               CAST(SUM(c5) AS BIGINT) AS n5
        FROM per_v
    ),
    jt AS (
        SELECT t.n1, t.n2, t.n3, t.n4, t.n5,
               {_q466_pair_terms_sql()} AS jt_stat
        FROM cdf c, tot t
        GROUP BY t.n1, t.n2, t.n3, t.n4, t.n5
    )
    SELECT CAST(n1 + n2 + n3 + n4 + n5 AS BIGINT) AS n,
           CAST(SIGN(jt_stat) * FLOOR(ABS(jt_stat) * 10.0 + 0.5) AS BIGINT)
               / 10.0 AS jt_stat,
           CAST(SIGN((jt_stat - (POWER(n1 + n2 + n3 + n4 + n5, 2)
                      - (n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5)) / 4.0)
                / SQRT((POWER(CAST(n1 + n2 + n3 + n4 + n5 AS DOUBLE), 2)
                        * (2 * (n1 + n2 + n3 + n4 + n5) + 3)
                        - (n1*n1*(2*n1+3) + n2*n2*(2*n2+3) + n3*n3*(2*n3+3)
                           + n4*n4*(2*n4+3) + n5*n5*(2*n5+3))) / 72.0))
                * FLOOR(ABS((jt_stat - (POWER(n1 + n2 + n3 + n4 + n5, 2)
                      - (n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5)) / 4.0)
                / SQRT((POWER(CAST(n1 + n2 + n3 + n4 + n5 AS DOUBLE), 2)
                        * (2 * (n1 + n2 + n3 + n4 + n5) + 3)
                        - (n1*n1*(2*n1+3) + n2*n2*(2*n2+3) + n3*n3*(2*n3+3)
                           + n4*n4*(2*n4+3) + n5*n5*(2*n5+3))) / 72.0))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS z_jt
    FROM jt
    """,
)
def q466(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.windows import global_prefix_counts

    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    flags = li.join(
        orders.select("o_orderkey", "o_orderpriority"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("t"),
        F.col("l_discount").alias("v"),
    )
    per_v = flags.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("t") == i, 1).otherwise(0)).alias(f"c{i}")
            for i in range(1, 6)
        ]
    )
    cdf = global_prefix_counts(
        per_v,
        [F.asc("v")],
        {f"cum{i}": f"c{i}" for i in range(1, 6)},
    )
    tot = per_v.agg(
        *[F.sum(f"c{i}").cast("long").alias(f"n{i}") for i in range(1, 6)]
    )
    pair_sum = None
    for i in range(1, 6):
        for jj in range(i + 1, 6):
            term = F.col(f"c{i}") * (
                F.col(f"n{jj}") - F.col(f"cum{jj}")
            ) + 0.5 * F.col(f"c{i}") * F.col(f"c{jj}")
            pair_sum = term if pair_sum is None else pair_sum + term
    jt = (
        cdf.crossJoin(F.broadcast(tot))
        .groupBy(*[f"n{i}" for i in range(1, 6)])
        .agg(dsum(pair_sum, 1).alias("jt_stat"))
    )
    n = sum(F.col(f"n{i}") for i in range(1, 6))
    sq = sum(F.col(f"n{i}") * F.col(f"n{i}") for i in range(1, 6))
    cube = sum(
        F.col(f"n{i}") * F.col(f"n{i}") * (2 * F.col(f"n{i}") + 3)
        for i in range(1, 6)
    )
    mu = (n * n - sq) / 4.0
    var = (
        F.pow(n.cast("double"), F.lit(2.0)) * (2 * n + 3) - cube
    ) / 72.0
    return jt.select(
        n.cast("long").alias("n"),
        (quantize("jt_stat", 1) / 10.0).alias("jt_stat"),
        (quantize((F.col("jt_stat") - mu) / F.sqrt(var), 6) / 1e6).alias(
            "z_jt"
        ),
    )


def _q476_group_sql(g: str, cg: str, cum: str) -> str:
    """Per-group Yuen pieces from the shared histogram CTE: n, k
    (20% trim), interior winsorized sums, and the trim-boundary
    values, all from cum counts."""
    return f"""
    st_{g} AS (
        SELECT CAST(SUM({cg}) AS BIGINT) AS n,
               CAST(FLOOR(0.2 * SUM({cg})) AS BIGINT) AS k
        FROM hist
    ),
    pieces_{g} AS (
        SELECT s.n, s.k,
               CAST(SUM(CAST(SIGN(h.value * GREATEST(0,
                        LEAST(h.{cum}, s.n - s.k)
                        - GREATEST(h.{cum} - h.{cg}, s.k)))
                    * FLOOR(ABS(h.value * GREATEST(0,
                        LEAST(h.{cum}, s.n - s.k)
                        - GREATEST(h.{cum} - h.{cg}, s.k))) * 100.0 + 0.5)
                    AS BIGINT)) AS DOUBLE) / 100.0 AS int_sum,
               CAST(SUM(CAST(SIGN(h.value * h.value * GREATEST(0,
                        LEAST(h.{cum}, s.n - s.k)
                        - GREATEST(h.{cum} - h.{cg}, s.k)))
                    * FLOOR(ABS(h.value * h.value * GREATEST(0,
                        LEAST(h.{cum}, s.n - s.k)
                        - GREATEST(h.{cum} - h.{cg}, s.k))) + 0.5)
                    AS BIGINT)) AS DOUBLE) AS int_ss,
               MIN(CASE WHEN h.{cum} >= s.k + 1 THEN h.value END) AS x_low,
               MIN(CASE WHEN h.{cum} >= s.n - s.k THEN h.value END) AS x_high
        FROM hist h, st_{g} s
        GROUP BY s.n, s.k
    )"""


# --- q476: Yuen's trimmed-mean t-test (20% trim) between customer
# segments — the robust Welch replacement when tails are heavy (Yuen
# 1974): trimmed means compare, winsorized variances scale. Everything
# derives from ONE distinct-value histogram + one prefix pass: the
# interior/winsorized masses are clamped-rank count expressions, the
# trim boundaries conditional MINs — no per-row trimming pass, no
# low-cardinality window over raw facts. ---------------------------------------
@query(
    "q476_yuen_trimmed_ttest",
    oracle=f"""
    WITH two AS (
        SELECT c_acctbal, c_mktsegment FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    per_v AS (
        SELECT c_acctbal AS value,
               SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS c2
        FROM two GROUP BY value
    ),
    hist AS (
        SELECT value, c1, c2,
               SUM(c1) OVER (ORDER BY value) AS cum1,
               SUM(c2) OVER (ORDER BY value) AS cum2
        FROM per_v
    ),
    {_q476_group_sql('a', 'c1', 'cum1').lstrip()},
    {_q476_group_sql('b', 'c2', 'cum2').lstrip()},
    yuen AS (
        SELECT a.n AS n1, b.n AS n2,
               a.n - 2 * a.k AS h1, b.n - 2 * b.k AS h2,
               a.int_sum / (a.n - 2 * a.k) AS tm1,
               b.int_sum / (b.n - 2 * b.k) AS tm2,
               ((a.int_ss + a.k * (a.x_low * a.x_low + a.x_high * a.x_high))
                - a.n * POWER((a.int_sum + a.k * (a.x_low + a.x_high)) / a.n, 2))
                   / (a.n - 1) AS swv1,
               ((b.int_ss + b.k * (b.x_low * b.x_low + b.x_high * b.x_high))
                - b.n * POWER((b.int_sum + b.k * (b.x_low + b.x_high)) / b.n, 2))
                   / (b.n - 1) AS swv2
        FROM pieces_a a, pieces_b b
    )
    SELECT n1, n2, CAST(h1 AS BIGINT) AS h1, CAST(h2 AS BIGINT) AS h2,
           CAST(SIGN(tm1) * FLOOR(ABS(tm1) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS trimmed_mean_1,
           CAST(SIGN(tm2) * FLOOR(ABS(tm2) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS trimmed_mean_2,
           CAST(SIGN((tm1 - tm2) / SQRT((n1 - 1) * swv1 / (h1 * (h1 - 1))
                                        + (n2 - 1) * swv2 / (h2 * (h2 - 1))))
                * FLOOR(ABS((tm1 - tm2)
                        / SQRT((n1 - 1) * swv1 / (h1 * (h1 - 1))
                               + (n2 - 1) * swv2 / (h2 * (h2 - 1))))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS t_yuen
    FROM yuen
    """,
)
def q476(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    cust = T(spark, sf_dir, "customer")
    two = cust.filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    per_v = two.groupBy(F.col("c_acctbal").alias("value")).agg(
        F.sum(
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)
        ).alias("c1"),
        F.sum(
            F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0)
        ).alias("c2"),
    )
    hist = tracked_persist(
        global_prefix_counts(
            per_v, [F.asc("value")], {"cum1": "c1", "cum2": "c2"}
        )
    )

    def pieces(cg, cum):
        st = hist.agg(
            F.sum(cg).cast("long").alias("n"),
            F.floor(0.2 * F.sum(cg)).cast("long").alias("k"),
        )
        j = hist.crossJoin(F.broadcast(st))
        interior = F.greatest(
            F.lit(0).cast("long"),
            F.least(F.col(cum), F.col("n") - F.col("k"))
            - F.greatest(F.col(cum) - F.col(cg), F.col("k")),
        )
        return j.groupBy("n", "k").agg(
            dsum(F.col("value") * interior, 2).alias("int_sum"),
            F.sum(
                quantize(F.col("value") * F.col("value") * interior, 0)
            )
            .cast("double")
            .alias("int_ss"),
            F.min(
                F.when(F.col(cum) >= F.col("k") + 1, F.col("value"))
            ).alias("x_low"),
            F.min(
                F.when(F.col(cum) >= F.col("n") - F.col("k"), F.col("value"))
            ).alias("x_high"),
        )

    a = pieces("c1", "cum1").select(
        F.col("n").alias("n1"), F.col("k").alias("k1"),
        F.col("int_sum").alias("is1"), F.col("int_ss").alias("iss1"),
        F.col("x_low").alias("xl1"), F.col("x_high").alias("xh1"),
    )
    b = pieces("c2", "cum2").select(
        F.col("n").alias("n2"), F.col("k").alias("k2"),
        F.col("int_sum").alias("is2"), F.col("int_ss").alias("iss2"),
        F.col("x_low").alias("xl2"), F.col("x_high").alias("xh2"),
    )
    y = F.broadcast(a).crossJoin(F.broadcast(b))
    h1 = F.col("n1") - 2 * F.col("k1")
    h2 = F.col("n2") - 2 * F.col("k2")
    tm1 = F.col("is1") / h1
    tm2 = F.col("is2") / h2
    wmean1 = (F.col("is1") + F.col("k1") * (F.col("xl1") + F.col("xh1"))) / F.col("n1")
    wmean2 = (F.col("is2") + F.col("k2") * (F.col("xl2") + F.col("xh2"))) / F.col("n2")
    swv1 = (
        (F.col("iss1") + F.col("k1") * (F.col("xl1") * F.col("xl1") + F.col("xh1") * F.col("xh1")))
        - F.col("n1") * F.pow(wmean1, F.lit(2.0))
    ) / (F.col("n1") - 1)
    swv2 = (
        (F.col("iss2") + F.col("k2") * (F.col("xl2") * F.col("xl2") + F.col("xh2") * F.col("xh2")))
        - F.col("n2") * F.pow(wmean2, F.lit(2.0))
    ) / (F.col("n2") - 1)
    t = (tm1 - tm2) / F.sqrt(
        (F.col("n1") - 1) * swv1 / (h1 * (h1 - 1))
        + (F.col("n2") - 1) * swv2 / (h2 * (h2 - 1))
    )
    return y.select(
        "n1",
        "n2",
        h1.cast("long").alias("h1"),
        h2.cast("long").alias("h2"),
        (quantize(tm1, 6) / 1e6).alias("trimmed_mean_1"),
        (quantize(tm2, 6) / 1e6).alias("trimmed_mean_2"),
        (quantize(t, 6) / 1e6).alias("t_yuen"),
    )


# --- q554: Ansari-Bradley scale test — are BUILDING and MACHINERY
# order totals equally dispersed around their (assumed common) center?
# The rank-based complement to q58-class Levene: scores count in from
# both ends of the pooled ordering, tied blocks take block-average
# scores, and the entire score fold is BIGINT-exact over the
# distinct-value histogram (operators/hypothesis.py:ansari_bradley_test;
# one groupBy shuffle + one histogram-sized ordered pass). ---------------------
@query(
    "q554_ansari_bradley_scale",
    oracle="""
    WITH two AS MATERIALIZED (
        SELECT o.o_totalprice AS value, c.c_mktsegment AS grp
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    per_v AS MATERIALIZED (
        SELECT value,
               SUM(CASE WHEN grp = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN grp = 'MACHINERY' THEN 1 ELSE 0 END) AS c2,
               COUNT(*) AS cnt
        FROM two GROUP BY value
    ),
    cdf AS MATERIALIZED (
        SELECT c1, cnt, SUM(cnt) OVER (ORDER BY value) AS cum FROM per_v
    ),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(cnt) AS BIGINT) AS nn
        FROM per_v
    ),
    blocks AS MATERIALIZED (
        SELECT c1, cnt, n1, n2, nn,
               (CASE WHEN cum <= CAST(FLOOR((nn + 1) / 2.0) AS BIGINT)
                     THEN CAST(cum * (cum + 1) / 2 AS BIGINT)
                     ELSE CAST(FLOOR((nn + 1) / 2.0) AS BIGINT)
                          * (CAST(FLOOR((nn + 1) / 2.0) AS BIGINT) + 1)
                          + (cum - CAST(FLOOR((nn + 1) / 2.0) AS BIGINT))
                            * (nn + 1)
                          - CAST(cum * (cum + 1) / 2 AS BIGINT) END)
             - (CASE WHEN cum - cnt <= CAST(FLOOR((nn + 1) / 2.0) AS BIGINT)
                     THEN CAST((cum - cnt) * (cum - cnt + 1) / 2 AS BIGINT)
                     ELSE CAST(FLOOR((nn + 1) / 2.0) AS BIGINT)
                          * (CAST(FLOOR((nn + 1) / 2.0) AS BIGINT) + 1)
                          + ((cum - cnt) - CAST(FLOOR((nn + 1) / 2.0) AS BIGINT))
                            * (nn + 1)
                          - CAST((cum - cnt) * (cum - cnt + 1) / 2 AS BIGINT)
                END) AS s_sum
        FROM cdf, tot
    ),
    agg AS (
        SELECT n1, n2, nn,
               CAST(SUM(CAST(SIGN(c1 * s_sum / (cnt * CAST(nn AS DOUBLE)))
                             * FLOOR(ABS(c1 * s_sum / (cnt * CAST(nn AS DOUBLE)))
                                     * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1e12 AS t1,
               CAST(SUM(CAST(SIGN(s_sum * CAST(s_sum AS DOUBLE)
                                  / (cnt * CAST(nn AS DOUBLE) * nn))
                             * FLOOR(ABS(s_sum * CAST(s_sum AS DOUBLE)
                                         / (cnt * CAST(nn AS DOUBLE) * nn))
                                     * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1e12 AS ss2,
               CAST(SUM(s_sum) AS DOUBLE) / nn / nn AS sbar
        FROM blocks
        GROUP BY n1, n2, nn
    )
    SELECT n1, n2,
           CAST(CAST(SIGN(t1) * FLOOR(ABS(t1) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS ab_t_norm,
           CAST(CAST(SIGN(z) * FLOOR(ABS(z) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS z_ab
    FROM (
        SELECT n1, n2, t1,
               (t1 - n1 * sbar) /
               SQRT(n1 * n2 * (nn * ss2 - sbar * nn * sbar * nn)
                    / (CAST(nn AS DOUBLE) * nn * (nn - 1))) AS z
        FROM agg
    )
    """,
)
def q554(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.hypothesis import ansari_bradley_test

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    df = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("o_totalprice").alias("v"), F.col("c_mktsegment").alias("seg")
    )
    out = ansari_bradley_test(df, "v", "seg", "BUILDING", "MACHINERY")
    return out.select(
        "n1",
        "n2",
        (quantize("ab_t_norm", 6) / 1e6).alias("ab_t_norm"),
        (quantize("z", 6) / 1e6).alias("z_ab"),
    )


# --- q565: Cucconi joint location-scale test — did FURNITURE and
# HOUSEHOLD order totals shift in EITHER center or spread? The omnibus
# rank test built from standardized squared ranks (U) and squared
# contrary ranks (V): C = (U² + V² − 2ρUV)/(2(1−ρ²))
# (operators/hypothesis.py:cucconi_test; midrank ties, prefix-sum
# ranks, N²-normalized sums — one groupBy + one histogram pass). ----------------
@query(
    "q565_cucconi_location_scale",
    oracle="""
    WITH two AS MATERIALIZED (
        SELECT o.o_totalprice AS value, c.c_mktsegment AS grp
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('FURNITURE', 'HOUSEHOLD')
    ),
    per_v AS MATERIALIZED (
        SELECT value,
               SUM(CASE WHEN grp = 'FURNITURE' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN grp = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS c2,
               COUNT(*) AS cnt
        FROM two GROUP BY value
    ),
    cdf AS MATERIALIZED (
        SELECT c2, cnt, SUM(cnt) OVER (ORDER BY value) AS cum FROM per_v
    ),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(cnt) AS BIGINT) AS nn
        FROM per_v
    ),
    sums AS (
        SELECT n1, n2, nn,
               CAST(SUM(CAST(SIGN(c2 * ((cum - (cnt - 1) / 2.0) / nn)
                                      * ((cum - (cnt - 1) / 2.0) / nn))
                             * FLOOR(ABS(c2 * ((cum - (cnt - 1) / 2.0) / nn)
                                            * ((cum - (cnt - 1) / 2.0) / nn))
                                     * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1e12 AS sr2,
               CAST(SUM(CAST(SIGN(c2 * ((nn + 1.0) / nn
                                         - (cum - (cnt - 1) / 2.0) / nn)
                                      * ((nn + 1.0) / nn
                                         - (cum - (cnt - 1) / 2.0) / nn))
                             * FLOOR(ABS(c2 * ((nn + 1.0) / nn
                                               - (cum - (cnt - 1) / 2.0) / nn)
                                            * ((nn + 1.0) / nn
                                               - (cum - (cnt - 1) / 2.0) / nn))
                                     * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1e12 AS ss2
        FROM cdf, tot
        GROUP BY n1, n2, nn
    ),
    uv AS (
        SELECT n1, n2, nn,
               (6.0 * CAST(nn AS DOUBLE) * nn * sr2
                - CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1)) /
               SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 1) * (2 * nn + 1)
                    * (8 * nn + 11) / 5.0) AS u,
               (6.0 * CAST(nn AS DOUBLE) * nn * ss2
                - CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1)) /
               SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 1) * (2 * nn + 1)
                    * (8 * nn + 11) / 5.0) AS v
        FROM sums
    )
    SELECT n1, n2,
           CAST(CAST(SIGN(u) * FLOOR(ABS(u) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS u,
           CAST(CAST(SIGN(v) * FLOOR(ABS(v) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS v,
           CAST(CAST(SIGN(cst) * FLOOR(ABS(cst) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS cucconi_c
    FROM (
        SELECT n1, n2, u, v,
               (u * u + v * v
                - 2 * (2.0 * (CAST(nn AS DOUBLE) * nn - 4)
                       / (CAST(2 * nn + 1 AS DOUBLE) * (8 * nn + 11)) - 1)
                    * u * v) /
               (2 * (1 - (2.0 * (CAST(nn AS DOUBLE) * nn - 4)
                          / (CAST(2 * nn + 1 AS DOUBLE) * (8 * nn + 11)) - 1)
                       * (2.0 * (CAST(nn AS DOUBLE) * nn - 4)
                          / (CAST(2 * nn + 1 AS DOUBLE) * (8 * nn + 11)) - 1)))
                   AS cst
        FROM uv
    )
    """,
)
def q565(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.hypothesis import cucconi_test

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    df = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("o_totalprice").alias("val"), F.col("c_mktsegment").alias("seg")
    )
    out = cucconi_test(df, "val", "seg", "FURNITURE", "HOUSEHOLD")
    return out.select(
        "n1",
        "n2",
        (quantize("u", 6) / 1e6).alias("u"),
        (quantize("v", 6) / 1e6).alias("v"),
        (quantize("c", 6) / 1e6).alias("cucconi_c"),
    )


# ===== Wave q657-q662: nonparametric & categorical tests tier II ======
# Public methodology: Cliff (1993) delta / Vargha-Delaney (2000) A,
# Siegel-Tukey (1960), Page (1963) trend test, Stuart (1955) -
# Maxwell (1970) marginal homogeneity, Cochran (1950) Q,
# Krippendorff (1970) alpha. Every statistic reduces to exact integer
# pair/rank counts (distinct-value histograms + distributed prefix
# sums, or bounded contingency grids) — no data-sized sort except the
# one range-sorted global_row_number that Siegel-Tukey's definition
# genuinely requires.

# --- q657: Cliff's delta + Vargha-Delaney A between URGENT and LOW
# order totals — the ordinal effect sizes behind Mann-Whitney:
# δ = (#(x>y) − #(x<y))/(n1·n2), A = (#(x>y) + ½·#(x=y))/(n1·n2).
# All pair counts come EXACTLY (integer arithmetic, no quantization
# anywhere until the final ratio) from one distinct-value histogram +
# one prefix pass: #(x>y) = Σ_v c1(v)·cum2(v⁻). ---------------------------------
@query(
    "q657_cliffs_delta_vargha_delaney",
    oracle="""
    WITH two AS (
        SELECT o_totalprice AS v,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    per_v AS (
        SELECT v,
               CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM two GROUP BY v
    ),
    cdf AS (
        SELECT c1, c2,
               CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS cum2
        FROM per_v
    ),
    s AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c1 * (cum2 - c2)) AS BIGINT) AS gt,
               CAST(SUM(c1 * c2) AS BIGINT) AS eq
        FROM cdf
    )
    SELECT n1, n2, gt AS gt_pairs, eq AS eq_pairs,
           CAST(CAST(SIGN(d) * FLOOR(ABS(d) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS cliffs_delta,
           CAST(CAST(SIGN(a) * FLOOR(ABS(a) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS vd_a
    FROM (
        SELECT n1, n2, gt, eq,
               (CAST(gt AS DOUBLE)
                - (CAST(n1 AS DOUBLE) * n2 - gt - eq))
                   / (CAST(n1 AS DOUBLE) * n2) AS d,
               (CAST(gt AS DOUBLE) + 0.5 * eq)
                   / (CAST(n1 AS DOUBLE) * n2) AS a
        FROM s
    )
    """,
)
def q657(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.windows import global_prefix_counts

    orders = T(spark, sf_dir, "orders")
    two = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(2)
        .alias("g"),
    )
    per_v = two.groupBy("v").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("long").alias("c2"),
    )
    cdf = global_prefix_counts(per_v, [F.asc("v")], {"cum2": "c2"})
    s = cdf.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * (F.col("cum2") - F.col("c2")))
        .cast("long")
        .alias("gt"),
        F.sum(F.col("c1") * F.col("c2")).cast("long").alias("eq"),
    )
    n1n2 = F.col("n1").cast("double") * F.col("n2")
    lt = n1n2 - F.col("gt") - F.col("eq")
    d = (F.col("gt").cast("double") - lt) / n1n2
    a = (F.col("gt").cast("double") + 0.5 * F.col("eq")) / n1n2
    return s.select(
        "n1",
        "n2",
        F.col("gt").alias("gt_pairs"),
        F.col("eq").alias("eq_pairs"),
        (quantize(d, 6) / 1e6).alias("cliffs_delta"),
        (quantize(a, 6) / 1e6).alias("vd_a"),
    )


# --- q658: Siegel-Tukey (1960) scale test of account balances,
# AUTOMOBILE vs HOUSEHOLD customers — rank the POOLED sample from
# alternating extremes (1 to the min; 2,3 to the two maxes; 4,5 to the
# next two mins; …) so a dispersion difference becomes a location
# difference of ranks, then Wilcoxon: z = (W₁−μ)/σ. The alternating
# rank is a CLOSED FORM of the global ascending position i (ties
# broken by custkey, documented): low side r = 2i−1 (i odd) / 2i
# (even); high side j = n+1−i: r = 2j (j odd) / 2j−1 (even). One
# distributed global_row_number is the only data-sized ordering. ----------------
@query(
    "q658_siegel_tukey_scale",
    oracle="""
    WITH two AS (
        SELECT c_acctbal AS v, c_custkey AS k,
               CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 2 END AS g
        FROM customer
        WHERE c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')
    ),
    pos AS (
        SELECT g, CAST(ROW_NUMBER() OVER (ORDER BY v, k) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM two
    ),
    ranked AS (
        SELECT g, n,
               CASE WHEN i <= (n + 1) / 2 THEN
                   CASE WHEN i % 2 = 1 THEN 2 * i - 1 ELSE 2 * i END
               ELSE
                   CASE WHEN (n + 1 - i) % 2 = 1 THEN 2 * (n + 1 - i)
                        ELSE 2 * (n + 1 - i) - 1 END
               END AS r
        FROM pos
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN g = 1 THEN r ELSE 0 END) AS BIGINT) AS w1
        FROM ranked
    )
    SELECT n1, n2, w1 AS rank_sum_1,
           CAST(CAST(SIGN(z) * FLOOR(ABS(z) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS st_z
    FROM (
        SELECT n1, n2, w1,
               (w1 - n1 * (CAST(n1 AS DOUBLE) + n2 + 1) / 2.0)
               / SQRT(CAST(n1 AS DOUBLE) * n2
                      * (CAST(n1 AS DOUBLE) + n2 + 1) / 12.0) AS z
        FROM s
    )
    """,
)
def q658(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.windows import global_row_number

    cust = T(spark, sf_dir, "customer")
    two = cust.where(
        F.col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD")
    ).select(
        F.col("c_acctbal").alias("v"),
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1)
        .otherwise(2)
        .alias("g"),
    )
    pos = global_row_number(two, [F.asc("v"), F.asc("k")], "i")
    nn = pos.agg(F.count(F.lit(1)).cast("long").alias("n"))
    pos = pos.crossJoin(F.broadcast(nn))
    i, n = F.col("i"), F.col("n")
    j = n + 1 - i
    r = F.when(
        i <= (n + 1) / 2,
        F.when(i % 2 == 1, 2 * i - 1).otherwise(2 * i),
    ).otherwise(F.when(j % 2 == 1, 2 * j).otherwise(2 * j - 1))
    ranked = pos.select("g", r.alias("r"))
    s = ranked.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("g") == 1, F.col("r")).otherwise(0))
        .cast("long")
        .alias("w1"),
    )
    n1d = F.col("n1").cast("double")
    z = (F.col("w1") - F.col("n1") * (n1d + F.col("n2") + 1) / 2.0) / F.sqrt(
        n1d * F.col("n2") * (n1d + F.col("n2") + 1) / 12.0
    )
    return s.select(
        "n1",
        "n2",
        F.col("w1").alias("rank_sum_1"),
        (quantize(z, 6) / 1e6).alias("st_z"),
    )


# --- q659: Page (1963) trend test for ordered alternatives — is there
# a monotone QUARTER effect on revenue across year blocks? Rank the
# four quarters within each complete year (ties by quarter index,
# documented), L = Σ_years Σ_q q·r_yq, z against μ = b·k(k+1)²/4,
# σ² = b·k²(k+1)(k²−1)/144. The ordered-treatment sharpening of the
# Friedman test (q*-family); blocks and treatments are both
# calendar-bounded. ---------------------------------------------------------------
@query(
    "q659_page_trend_test",
    oracle="""
    WITH qrev AS MATERIALIZED (
        SELECT EXTRACT(year FROM l_shipdate) AS yr,
               EXTRACT(quarter FROM l_shipdate) AS q,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq
        FROM lineitem GROUP BY yr, q
    ),
    full_years AS (
        SELECT yr FROM qrev GROUP BY yr HAVING COUNT(*) = 4
    ),
    ranked AS (
        SELECT q.yr, q.q,
               CAST(ROW_NUMBER() OVER (PARTITION BY q.yr
                                       ORDER BY q.revq, q.q) AS BIGINT) AS r
        FROM qrev q JOIN full_years f ON f.yr = q.yr
    ),
    s AS (
        SELECT CAST(COUNT(DISTINCT yr) AS BIGINT) AS b,
               CAST(SUM(q * r) AS BIGINT) AS l
        FROM ranked
    )
    SELECT b AS n_years, l AS page_l,
           CAST(CAST(SIGN(z) * FLOOR(ABS(z) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS page_z
    FROM (
        SELECT b, l,
               (l - b * 4.0 * 25.0 / 4.0)
               / SQRT(b * 16.0 * 5.0 * 15.0 / 144.0) AS z
        FROM s
    )
    """,
)
def q659(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    li = T(spark, sf_dir, "lineitem")
    qrev = li.groupBy(
        F.year("l_shipdate").alias("yr"),
        F.quarter("l_shipdate").alias("q"),
    ).agg(F.sum(quantize("l_extendedprice", 2)).cast("long").alias("revq"))
    full_years = qrev.groupBy("yr").agg(F.count(F.lit(1)).alias("c")).where(
        F.col("c") == 4
    )
    ranked = qrev.join(F.broadcast(full_years.select("yr")), "yr").select(
        "yr",
        "q",
        F.row_number()
        .over(Window.partitionBy("yr").orderBy("revq", "q"))
        .cast("long")
        .alias("r"),
    )
    s = ranked.agg(
        F.countDistinct("yr").cast("long").alias("b"),
        F.sum(F.col("q") * F.col("r")).cast("long").alias("l"),
    )
    z = (F.col("l") - F.col("b") * 4.0 * 25.0 / 4.0) / F.sqrt(
        F.col("b") * 16.0 * 5.0 * 15.0 / 144.0
    )
    return s.select(
        F.col("b").alias("n_years"),
        F.col("l").alias("page_l"),
        (quantize(z, 6) / 1e6).alias("page_z"),
    )


# --- q660: Stuart-Maxwell marginal-homogeneity test — did the
# low/mid/high spend-tier DISTRIBUTION of repeat customers shift
# between 1995 and 1996 (beyond individual churn)? 3×3 paired table
# over fixed tier cutoffs (300k/550k, the sf-stable terciles); χ² =
# (d₁²s₂₂ + d₂²s₁₁ − 2d₁d₂s₁₂)/(s₁₁s₂₂ − s₁₂²) with d_i = n_i· − n_·i,
# s_ii = n_i· + n_·i − 2n_ii, s₁₂ = −(n₁₂+n₂₁) — the closed 2×2
# inverse, NULL on a singular covariance (degenerate table),
# McNemar's k×k generalization (q433's binary case). ---------------------------
@query(
    "q660_stuart_maxwell_tiers",
    oracle="""
    WITH spend AS MATERIALIZED (
        SELECT o_custkey,
               EXTRACT(year FROM o_orderdate) AS yr,
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
    paired AS (
        SELECT a.tier AS ta, b.tier AS tb
        FROM tiers a JOIN tiers b
          ON a.o_custkey = b.o_custkey AND a.yr = 1995 AND b.yr = 1996
    ),
    cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN ta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
               CAST(SUM(CASE WHEN ta = 2 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
               CAST(SUM(CASE WHEN tb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN tb = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
               CAST(SUM(CASE WHEN ta = 1 AND tb = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n11,
               CAST(SUM(CASE WHEN ta = 2 AND tb = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n22,
               CAST(SUM(CASE WHEN ta = 1 AND tb = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n12,
               CAST(SUM(CASE WHEN ta = 2 AND tb = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n21
        FROM paired
    )
    SELECT n AS n_paired,
           r1 - c1 AS d1, r2 - c2 AS d2,
           CASE WHEN (r1 + c1 - 2 * n11) * (r2 + c2 - 2 * n22)
                     - (n12 + n21) * (n12 + n21) > 0 THEN
               CAST(CAST(SIGN(chi2) * FLOOR(ABS(chi2) * 1e6 + 0.5)
                         AS BIGINT) AS DOUBLE) / 1e6
           END AS sm_chi2
    FROM (
        SELECT *,
               (CAST(r1 - c1 AS DOUBLE) * (r1 - c1) * (r2 + c2 - 2 * n22)
                + CAST(r2 - c2 AS DOUBLE) * (r2 - c2) * (r1 + c1 - 2 * n11)
                - 2.0 * (r1 - c1) * (r2 - c2) * (n12 + n21))
               / (CAST(r1 + c1 - 2 * n11 AS DOUBLE) * (r2 + c2 - 2 * n22)
                  - CAST(n12 + n21 AS DOUBLE) * (n12 + n21)) AS chi2
        FROM cells
    )
    """,
)
def q660(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

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
        "o_custkey", F.col("tier").alias("ta")
    )
    b = tiers.where(F.col("yr") == 1996).select(
        "o_custkey", F.col("tier").alias("tb")
    )
    paired = a.join(b, "o_custkey")
    c = paired.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("ta") == 1, 1).otherwise(0)).cast("long").alias("r1"),
        F.sum(F.when(F.col("ta") == 2, 1).otherwise(0)).cast("long").alias("r2"),
        F.sum(F.when(F.col("tb") == 1, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("tb") == 2, 1).otherwise(0)).cast("long").alias("c2"),
        F.sum(F.when((F.col("ta") == 1) & (F.col("tb") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("ta") == 2) & (F.col("tb") == 2), 1).otherwise(0))
        .cast("long")
        .alias("n22"),
        F.sum(F.when((F.col("ta") == 1) & (F.col("tb") == 2), 1).otherwise(0))
        .cast("long")
        .alias("n12"),
        F.sum(F.when((F.col("ta") == 2) & (F.col("tb") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n21"),
    )
    d1 = F.col("r1") - F.col("c1")
    d2 = F.col("r2") - F.col("c2")
    s11 = F.col("r1") + F.col("c1") - 2 * F.col("n11")
    s22 = F.col("r2") + F.col("c2") - 2 * F.col("n22")
    s12 = F.col("n12") + F.col("n21")
    det = s11.cast("double") * s22 - s12.cast("double") * s12
    chi2 = (
        d1.cast("double") * d1 * s22
        + d2.cast("double") * d2 * s11
        - 2.0 * d1 * d2 * s12
    ) / det
    return c.select(
        F.col("n").alias("n_paired"),
        d1.alias("d1"),
        d2.alias("d2"),
        F.when(det > 0, quantize(chi2, 6) / 1e6).alias("sm_chi2"),
    )


# --- q661: Cochran (1950) Q test — is customer ACTIVITY (ordered at
# least once) homogeneous across 1995/1996/1997, within the panel of
# customers active in any of the three? Q = k(k−1)·(ΣC_j² − T²/k) /
# (kT − ΣR_i²): the k-treatment generalization of McNemar (q433),
# Friedman's binary twin. Exact integer sums over the 0/1 panel built
# by one year-pivot rollup. --------------------------------------------------------
@query(
    "q661_cochran_q_activity",
    oracle="""
    WITH panel AS MATERIALIZED (
        SELECT o_custkey,
               MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1995
                   THEN 1 ELSE 0 END) AS y1,
               MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
                   THEN 1 ELSE 0 END) AS y2,
               MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
                   THEN 1 ELSE 0 END) AS y3
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996, 1997)
        GROUP BY o_custkey
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y1) AS BIGINT) AS c1,
               CAST(SUM(y2) AS BIGINT) AS c2,
               CAST(SUM(y3) AS BIGINT) AS c3,
               CAST(SUM(y1 + y2 + y3) AS BIGINT) AS t,
               CAST(SUM((y1 + y2 + y3) * (y1 + y2 + y3)) AS BIGINT) AS sr2
        FROM panel
    )
    SELECT n AS n_customers, c1 AS active_1995, c2 AS active_1996,
           c3 AS active_1997,
           CASE WHEN 3 * t - sr2 > 0 THEN
               CAST(CAST(SIGN(q) * FLOOR(ABS(q) * 1e6 + 0.5) AS BIGINT)
                    AS DOUBLE) / 1e6
           END AS cochran_q
    FROM (
        SELECT *,
               3.0 * 2.0 * (CAST(c1 AS DOUBLE) * c1 + CAST(c2 AS DOUBLE) * c2
                            + CAST(c3 AS DOUBLE) * c3
                            - CAST(t AS DOUBLE) * t / 3.0)
               / (3.0 * t - sr2) AS q
        FROM s
    )
    """,
)
def q661(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    panel = (
        orders.where(F.year("o_orderdate").isin(1995, 1996, 1997))
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.year("o_orderdate") == 1995, 1).otherwise(0)
            ).alias("y1"),
            F.max(
                F.when(F.year("o_orderdate") == 1996, 1).otherwise(0)
            ).alias("y2"),
            F.max(
                F.when(F.year("o_orderdate") == 1997, 1).otherwise(0)
            ).alias("y3"),
        )
    )
    rsum = F.col("y1") + F.col("y2") + F.col("y3")
    s = panel.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y1").cast("long").alias("c1"),
        F.sum("y2").cast("long").alias("c2"),
        F.sum("y3").cast("long").alias("c3"),
        F.sum(rsum).cast("long").alias("t"),
        F.sum(rsum * rsum).cast("long").alias("sr2"),
    )
    qstat = (
        3.0
        * 2.0
        * (
            F.col("c1").cast("double") * F.col("c1")
            + F.col("c2").cast("double") * F.col("c2")
            + F.col("c3").cast("double") * F.col("c3")
            - F.col("t").cast("double") * F.col("t") / 3.0
        )
        / (3.0 * F.col("t") - F.col("sr2"))
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("c1").alias("active_1995"),
        F.col("c2").alias("active_1996"),
        F.col("c3").alias("active_1997"),
        F.when(
            3 * F.col("t") - F.col("sr2") > 0, quantize(qstat, 6) / 1e6
        ).alias("cochran_q"),
    )


# --- q662: Krippendorff (1970) alpha, nominal level — inter-"rater"
# reliability of return flags WITHIN orders (each lineitem "rates" its
# order R/A/N): α = 1 − D_o/D_e with the observed disagreement from
# per-unit coincidence pairs Σ_u n_uc·n_uk/(m_u−1) and the expected
# one from pooled marginals. Units with m_u = 1 drop by definition.
# One per-(order, flag) rollup → one per-order pivot → exact-sum
# formula; the 3×3 coincidence grid is carried as its 3 distinct
# off-diagonal sums. -------------------------------------------------------------
@query(
    "q662_krippendorff_alpha_flags",
    oracle="""
    WITH counts AS MATERIALIZED (
        SELECT l_orderkey,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nr,
               CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nn,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM lineitem GROUP BY l_orderkey
    ),
    multi AS (SELECT * FROM counts WHERE m >= 2),
    s AS (
        SELECT CAST(SUM(m) AS BIGINT) AS n,
               CAST(SUM(nr) AS BIGINT) AS tr,
               CAST(SUM(na) AS BIGINT) AS ta,
               CAST(SUM(nn) AS BIGINT) AS tn,
               CAST(SUM(CAST(SIGN(o) * FLOOR(ABS(o) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS dis
        FROM (
            SELECT m, nr, na, nn,
                   2.0 * (CAST(nr AS DOUBLE) * na + CAST(nr AS DOUBLE) * nn
                          + CAST(na AS DOUBLE) * nn) / (m - 1) AS o
            FROM multi
        )
    )
    SELECT CAST((SELECT COUNT(*) FROM multi) AS BIGINT) AS n_units,
           n AS n_ratings,
           CAST(CAST(SIGN(a) * FLOOR(ABS(a) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS kripp_alpha
    FROM (
        SELECT n,
               1.0 - (dis / n)
               / ((2.0 * (CAST(tr AS DOUBLE) * ta + CAST(tr AS DOUBLE) * tn
                          + CAST(ta AS DOUBLE) * tn))
                  / (CAST(n AS DOUBLE) * (n - 1))) AS a
        FROM s
    )
    """,
)
def q662(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    li = T(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_orderkey").agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("nr"),
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
        .cast("long")
        .alias("nn"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    multi = counts.where(F.col("m") >= 2)
    o = (
        2.0
        * (
            F.col("nr").cast("double") * F.col("na")
            + F.col("nr").cast("double") * F.col("nn")
            + F.col("na").cast("double") * F.col("nn")
        )
        / (F.col("m") - 1)
    )
    s = multi.agg(
        F.count(F.lit(1)).cast("long").alias("units"),
        F.sum("m").cast("long").alias("n"),
        F.sum("nr").cast("long").alias("tr"),
        F.sum("na").cast("long").alias("ta"),
        F.sum("nn").cast("long").alias("tn"),
        dsum(o, 9).alias("dis"),
    )
    de = (
        2.0
        * (
            F.col("tr").cast("double") * F.col("ta")
            + F.col("tr").cast("double") * F.col("tn")
            + F.col("ta").cast("double") * F.col("tn")
        )
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    alpha = 1.0 - (F.col("dis") / F.col("n")) / de
    return s.select(
        F.col("units").alias("n_units"),
        F.col("n").alias("n_ratings"),
        (quantize(alpha, 6) / 1e6).alias("kripp_alpha"),
    )


# --- q699: two-sample energy distance (Székely & Rizzo 2004) between
# FURNITURE and AUTOMOBILE account balances — in 1-D the energy
# distance reduces EXACTLY to D² = 2·∫(F−G)² dx, so one distinct-value
# histogram + one prefix pass + one rank-adjacent join (for the Δx
# segment widths) computes it with no pairwise |X−Y| explosion; the
# test statistic is T = n₁n₂/(n₁+n₂)·D². -----------------------------------------
@query(
    "q699_energy_distance_segments",
    oracle="""
    WITH two AS (
        SELECT c_acctbal AS v,
               CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 2 END AS g
        FROM customer
        WHERE c_mktsegment IN ('FURNITURE', 'AUTOMOBILE')
    ),
    per_v AS (
        SELECT v,
               CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM two GROUP BY v
    ),
    pref AS MATERIALIZED (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r,
               CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS cum1,
               CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS cum2
        FROM per_v
    ),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        FROM per_v
    ),
    seg AS (
        SELECT (CAST(a.cum1 AS DOUBLE) / t.n1
                - CAST(a.cum2 AS DOUBLE) / t.n2)
               * (CAST(a.cum1 AS DOUBLE) / t.n1
                  - CAST(a.cum2 AS DOUBLE) / t.n2)
               * (b.v - a.v) AS term
        FROM pref a JOIN pref b ON b.r = a.r + 1 CROSS JOIN tot t
    ),
    s AS (
        SELECT CAST(SUM(CAST(SIGN(term) * FLOOR(ABS(term) * 1e6 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e6 AS integ
        FROM seg
    )
    SELECT t.n1, t.n2,
           CAST(CAST(SIGN(d2) * FLOOR(ABS(d2) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS energy_d2,
           CAST(CAST(SIGN(st) * FLOOR(ABS(st) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS energy_stat
    FROM tot t, s,
         (SELECT 2.0 * s.integ AS d2,
                 (CAST(t.n1 AS DOUBLE) * t.n2 / (t.n1 + t.n2))
                     * 2.0 * s.integ AS st
          FROM s, tot t)
    """,
)
def q699(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.windows import global_prefix_counts

    cust = T(spark, sf_dir, "customer")
    two = cust.where(
        F.col("c_mktsegment").isin("FURNITURE", "AUTOMOBILE")
    ).select(
        F.col("c_acctbal").alias("v"),
        F.when(F.col("c_mktsegment") == "FURNITURE", 1)
        .otherwise(2)
        .alias("g"),
    )
    per_v = two.groupBy("v").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("long").alias("c2"),
    ).withColumn("one", F.lit(1).cast("long"))
    pref = tracked_persist(
        global_prefix_counts(
            per_v, [F.asc("v")], {"r": "one", "cum1": "c1", "cum2": "c2"}
        )
    )
    tot = per_v.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    nxt = pref.select((F.col("r") - 1).alias("r"), F.col("v").alias("vn"))
    seg = (
        pref.join(nxt, "r")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                (
                    F.col("cum1").cast("double") / F.col("n1")
                    - F.col("cum2").cast("double") / F.col("n2")
                )
                * (
                    F.col("cum1").cast("double") / F.col("n1")
                    - F.col("cum2").cast("double") / F.col("n2")
                )
                * (F.col("vn") - F.col("v"))
            ).alias("term")
        )
    )
    s = seg.agg(dsum("term", 6).alias("integ"))
    j = s.crossJoin(F.broadcast(tot))
    d2 = 2.0 * F.col("integ")
    st = (
        F.col("n1").cast("double") * F.col("n2") / (F.col("n1") + F.col("n2"))
    ) * d2
    return j.select(
        "n1",
        "n2",
        (quantize(d2, 6) / 1e6).alias("energy_d2"),
        (quantize(st, 6) / 1e6).alias("energy_stat"),
    )


# --- q700: Quade (1979) test on the year × quarter revenue layout —
# the block-weighted Friedman variant: blocks (years) are weighted by
# the RANK of their within-block range, so high-signal years count
# more; F = (b−1)·B/(A−B) with S_bq = Q_b·(r_bq − (k+1)/2). Sharpens
# q659's Page test when block scales differ. All frames are the
# bounded 7×4 calendar grid. TIE CONVENTION (deviates from Quade 1979
# mid-ranks, same as q658): within-block and block-range ranks use
# row_number with a deterministic (value, quarter/year) tie-break
# rather than average ranks — impl and oracle share the convention, so
# the gate pins it; quarterly revenue sums are continuous enough that
# exact ties have measure ~0, and a mid-rank variant would only shift
# the F statistic, not the ranking semantics. ----------------------------------
@query(
    "q700_quade_test_quarters",
    oracle="""
    WITH qrev AS MATERIALIZED (
        SELECT EXTRACT(year FROM l_shipdate) AS yr,
               EXTRACT(quarter FROM l_shipdate) AS q,
               CAST(SUM(CAST(SIGN(l_extendedprice)
                             * FLOOR(ABS(l_extendedprice) * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revq
        FROM lineitem GROUP BY yr, q
    ),
    full_years AS (
        SELECT yr FROM qrev GROUP BY yr HAVING COUNT(*) = 4
    ),
    ranked AS MATERIALIZED (
        SELECT q.yr, q.q,
               CAST(ROW_NUMBER() OVER (PARTITION BY q.yr
                                       ORDER BY q.revq, q.q) AS BIGINT) AS r
        FROM qrev q JOIN full_years f ON f.yr = q.yr
    ),
    ranges AS MATERIALIZED (
        SELECT q.yr, MAX(q.revq) - MIN(q.revq) AS rng
        FROM qrev q JOIN full_years f ON f.yr = q.yr
        GROUP BY q.yr
    ),
    qb AS MATERIALIZED (
        SELECT yr, CAST(ROW_NUMBER() OVER (ORDER BY rng, yr) AS BIGINT) AS qw
        FROM ranges
    ),
    sbq AS MATERIALIZED (
        SELECT r.yr, r.q,
               CAST(qb.qw AS DOUBLE) * (r.r - 2.5) AS s
        FROM ranked r JOIN qb ON qb.yr = r.yr
    ),
    agg_ AS (
        SELECT CAST(COUNT(DISTINCT yr) AS BIGINT) AS b,
               CAST(SUM(CAST(SIGN(s * s) * FLOOR(ABS(s * s) * 1e2 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e2 AS a
        FROM sbq
    ),
    persq AS (
        SELECT q, CAST(SUM(CAST(SIGN(s) * FLOOR(ABS(s) * 1e2 + 0.5)
                               AS BIGINT)) AS DOUBLE) / 1e2 AS sq
        FROM sbq GROUP BY q
    ),
    bsum AS (
        SELECT CAST(SUM(CAST(SIGN(sq * sq) * FLOOR(ABS(sq * sq) * 1e2 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e2 AS bb
        FROM persq
    )
    SELECT agg_.b AS n_years,
           CAST(CAST(SIGN(bn) * FLOOR(ABS(bn) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS quade_b,
           CASE WHEN agg_.a > bn THEN
               CAST(CAST(SIGN((agg_.b - 1) * bn / (agg_.a - bn))
                         * FLOOR(ABS((agg_.b - 1) * bn / (agg_.a - bn))
                                 * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6
           END AS quade_f
    FROM agg_, (SELECT bb / (SELECT b FROM agg_) AS bn FROM bsum)
    """,
)
def q700(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem")
    qrev = li.groupBy(
        F.year("l_shipdate").alias("yr"), F.quarter("l_shipdate").alias("q")
    ).agg(F.sum(quantize("l_extendedprice", 2)).cast("long").alias("revq"))
    full_years = (
        qrev.groupBy("yr")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") == 4)
        .select("yr")
    )
    qf = tracked_persist(qrev.join(F.broadcast(full_years), "yr"))
    ranked = qf.select(
        "yr",
        "q",
        F.row_number()
        .over(Window.partitionBy("yr").orderBy("revq", "q"))
        .cast("long")
        .alias("r"),
    )
    ranges = qf.groupBy("yr").agg(
        (F.max("revq") - F.min("revq")).alias("rng")
    )
    qb = ranges.select(
        "yr",
        F.row_number()
        .over(Window.orderBy("rng", "yr"))
        .cast("long")
        .alias("qw"),
    )
    sbq = tracked_persist(
        ranked.join(F.broadcast(qb), "yr").select(
            "yr",
            "q",
            (F.col("qw").cast("double") * (F.col("r") - 2.5)).alias("s"),
        )
    )
    agg_ = sbq.agg(
        F.countDistinct("yr").cast("long").alias("b"),
        dsum(F.col("s") * F.col("s"), 2).alias("a"),
    )
    persq = sbq.groupBy("q").agg(dsum("s", 2).alias("sq"))
    bsum = persq.agg(dsum(F.col("sq") * F.col("sq"), 2).alias("bb"))
    j = agg_.crossJoin(F.broadcast(bsum))
    bn = F.col("bb") / F.col("b")
    fstat = (F.col("b") - 1) * bn / (F.col("a") - bn)
    return j.select(
        F.col("b").alias("n_years"),
        (quantize(bn, 6) / 1e6).alias("quade_b"),
        F.when(F.col("a") > bn, quantize(fstat, 6) / 1e6).alias("quade_f"),
    )


# --- q701: D'Agostino-Pearson K² omnibus normality test of account
# balances — the scipy.stats.normaltest twin: skewness via the
# D'Agostino (1970) Z₁ transformation, kurtosis via Anscombe-Glynn
# (1983) Z₂, K² = Z₁² + Z₂² ~ χ²(2). The entire transformation tree is
# closed-form double arithmetic SHARED VERBATIM between engines on top
# of the q487-style exact central moments. ----------------------------------------
@query(
    "q701_dagostino_k2",
    oracle="""
    WITH x AS (SELECT CAST(c_acctbal AS DOUBLE) / 1e4 AS v FROM customer),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(SIGN(v) * FLOOR(ABS(v) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS s1
        FROM x
    ),
    cm AS (
        SELECT (SELECT n FROM m) AS n,
               CAST(SUM(CAST(SIGN((v - (SELECT s1 / n FROM m))
                                  * (v - (SELECT s1 / n FROM m)))
                             * FLOOR(ABS((v - (SELECT s1 / n FROM m))
                                         * (v - (SELECT s1 / n FROM m)))
                                     * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS m2,
               CAST(SUM(CAST(SIGN((v - (SELECT s1 / n FROM m))
                                  * (v - (SELECT s1 / n FROM m))
                                  * (v - (SELECT s1 / n FROM m)))
                             * FLOOR(ABS((v - (SELECT s1 / n FROM m))
                                         * (v - (SELECT s1 / n FROM m))
                                         * (v - (SELECT s1 / n FROM m)))
                                     * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS m3,
               CAST(SUM(CAST(SIGN((v - (SELECT s1 / n FROM m))
                                  * (v - (SELECT s1 / n FROM m))
                                  * (v - (SELECT s1 / n FROM m))
                                  * (v - (SELECT s1 / n FROM m)))
                             * FLOOR(ABS((v - (SELECT s1 / n FROM m))
                                         * (v - (SELECT s1 / n FROM m))
                                         * (v - (SELECT s1 / n FROM m))
                                         * (v - (SELECT s1 / n FROM m)))
                                     * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS m4
        FROM x
    ),
    g AS (
        SELECT n,
               (m3 / n) / POW(m2 / n, 1.5) AS g1,
               (m4 / n) / ((m2 / n) * (m2 / n)) AS b2
        FROM cm
    ),
    z1 AS (
        SELECT n, g1, b2,
               g1 * SQRT((CAST(n AS DOUBLE) + 1) * (n + 3)
                         / (6.0 * (n - 2))) AS y,
               3.0 * (CAST(n AS DOUBLE) * n + 27 * n - 70) * (n + 1) * (n + 3)
                   / ((CAST(n AS DOUBLE) - 2) * (n + 5) * (n + 7) * (n + 9))
                   AS beta2
        FROM g
    ),
    z1b AS (
        SELECT n, g1, b2, y,
               SQRT(2.0 * (beta2 - 1)) - 1.0 AS w2
        FROM z1
    ),
    z1c AS (
        SELECT n, g1, b2,
               (1.0 / SQRT(LN(SQRT(w2))))
               * LN(y / SQRT(2.0 / (w2 - 1))
                    + SQRT((y / SQRT(2.0 / (w2 - 1)))
                           * (y / SQRT(2.0 / (w2 - 1))) + 1.0)) AS zg1
        FROM z1b
    ),
    z2a AS (
        SELECT n, g1, b2, zg1,
               3.0 * (CAST(n AS DOUBLE) - 1) / (n + 1) AS eb2,
               24.0 * n * (CAST(n AS DOUBLE) - 2) * (n - 3)
                   / ((CAST(n AS DOUBLE) + 1) * (n + 1) * (n + 3) * (n + 5))
                   AS vb2,
               (6.0 * (CAST(n AS DOUBLE) * n - 5 * n + 2) / ((n + 7) * (n + 9)))
                   * SQRT(6.0 * (CAST(n AS DOUBLE) + 3) * (n + 5)
                          / (CAST(n AS DOUBLE) * (n - 2) * (n - 3))) AS sb1
        FROM z1c
    ),
    z2b AS (
        SELECT n, g1, b2, zg1,
               (b2 - eb2) / SQRT(vb2) AS xx,
               6.0 + (8.0 / sb1) * (2.0 / sb1
                   + SQRT(1.0 + 4.0 / (sb1 * sb1))) AS aa
        FROM z2a
    ),
    z2c AS (
        SELECT n, g1, b2, zg1,
               ((1.0 - 2.0 / (9.0 * aa))
                - POW((1.0 - 2.0 / aa)
                      / (1.0 + xx * SQRT(2.0 / (aa - 4.0))), 1.0 / 3.0))
               / SQRT(2.0 / (9.0 * aa)) AS zb2
        FROM z2b
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(CAST(SIGN(zg1) * FLOOR(ABS(zg1) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS z_skew,
           CAST(CAST(SIGN(zb2) * FLOOR(ABS(zb2) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS z_kurt,
           CAST(CAST(SIGN(zg1 * zg1 + zb2 * zb2)
                     * FLOOR(ABS(zg1 * zg1 + zb2 * zb2) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS k2_stat
    FROM z2c
    """,
)
def q701(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    cust = T(spark, sf_dir, "customer")
    x = cust.select((F.col("c_acctbal").cast("double") / 1e4).alias("v"))
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("v", 9).alias("s1"),
    )
    dev = F.col("v") - F.col("s1") / F.col("n")
    cm = x.crossJoin(F.broadcast(m)).agg(
        F.first("n").alias("n"),
        dsum(dev * dev, 9).alias("m2"),
        dsum(dev * dev * dev, 9).alias("m3"),
        dsum(dev * dev * dev * dev, 9).alias("m4"),
    )
    n = F.col("n")
    nd = n.cast("double")
    g1 = (F.col("m3") / n) / F.pow(F.col("m2") / n, 1.5)
    b2 = (F.col("m4") / n) / ((F.col("m2") / n) * (F.col("m2") / n))
    g = cm.select(n.alias("n"), g1.alias("g1"), b2.alias("b2"))
    nd = F.col("n").cast("double")
    y = F.col("g1") * F.sqrt(
        (nd + 1) * (F.col("n") + 3) / (6.0 * (F.col("n") - 2))
    )
    beta2 = (
        3.0
        * (nd * F.col("n") + 27 * F.col("n") - 70)
        * (F.col("n") + 1)
        * (F.col("n") + 3)
        / (
            (nd - 2)
            * (F.col("n") + 5)
            * (F.col("n") + 7)
            * (F.col("n") + 9)
        )
    )
    z1 = g.select("n", "g1", "b2", y.alias("y"), beta2.alias("beta2"))
    z1b = z1.select(
        "n", "g1", "b2", "y",
        (F.sqrt(2.0 * (F.col("beta2") - 1)) - 1.0).alias("w2"),
    )
    ya = F.col("y") / F.sqrt(2.0 / (F.col("w2") - 1))
    zg1 = (1.0 / F.sqrt(F.log(F.sqrt(F.col("w2"))))) * F.log(
        ya + F.sqrt(ya * ya + 1.0)
    )
    z1c = z1b.select("n", "g1", "b2", zg1.alias("zg1"))
    nd = F.col("n").cast("double")
    eb2 = 3.0 * (nd - 1) / (F.col("n") + 1)
    vb2 = (
        24.0
        * F.col("n")
        * (nd - 2)
        * (F.col("n") - 3)
        / (
            (nd + 1)
            * (F.col("n") + 1)
            * (F.col("n") + 3)
            * (F.col("n") + 5)
        )
    )
    sb1 = (
        6.0
        * (nd * F.col("n") - 5 * F.col("n") + 2)
        / ((F.col("n") + 7) * (F.col("n") + 9))
    ) * F.sqrt(
        6.0
        * (nd + 3)
        * (F.col("n") + 5)
        / (nd * (F.col("n") - 2) * (F.col("n") - 3))
    )
    z2a = z1c.select(
        "n", "g1", "b2", "zg1",
        eb2.alias("eb2"), vb2.alias("vb2"), sb1.alias("sb1"),
    )
    xx = (F.col("b2") - F.col("eb2")) / F.sqrt(F.col("vb2"))
    aa = 6.0 + (8.0 / F.col("sb1")) * (
        2.0 / F.col("sb1")
        + F.sqrt(1.0 + 4.0 / (F.col("sb1") * F.col("sb1")))
    )
    z2b = z2a.select("n", "g1", "b2", "zg1", xx.alias("xx"), aa.alias("aa"))
    zb2 = (
        (1.0 - 2.0 / (9.0 * F.col("aa")))
        - F.pow(
            (1.0 - 2.0 / F.col("aa"))
            / (1.0 + F.col("xx") * F.sqrt(2.0 / (F.col("aa") - 4.0))),
            1.0 / 3.0,
        )
    ) / F.sqrt(2.0 / (9.0 * F.col("aa")))
    z2c = z2b.select("n", "zg1", zb2.alias("zb2"))
    return z2c.select(
        F.col("n").alias("n_customers"),
        (quantize("zg1", 6) / 1e6).alias("z_skew"),
        (quantize("zb2", 6) / 1e6).alias("z_kurt"),
        (
            quantize(
                F.col("zg1") * F.col("zg1") + F.col("zb2") * F.col("zb2"), 6
            )
            / 1e6
        ).alias("k2_stat"),
    )
