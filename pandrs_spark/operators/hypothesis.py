"""Nonparametric & parametric hypothesis tests (SURVEY.md §2.12).

Reference: /root/reference src/stats/nonparametric.rs (Mann-Whitney
:14, Kruskal-Wallis :201, KS two-sample :375), src/stats/mod.rs (anova
:354), src/stats/hypothesis.rs. The reference ranks arrays in process
memory; at scale that's the wrong shape. Every test here is computed
from a **distinct-value histogram**: group by value, count per class,
then one ordered pass over the histogram (≤ metric cardinality rows,
not data rows) yields rank sums / CDFs. The heavy lifting — collapsing
100 TB of rows into the histogram — is a single partial-aggregated
shuffle; the test statistic itself is a handful of exact sums.

Determinism: average ranks are exact multiples of 0.5 → summed as
DECIMAL(32,1); counts/tie terms are BIGINT; the final statistic is a
fixed double-arithmetic formula over those exact inputs, shared verbatim
with the DuckDB oracle (functions/deterministic.py pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pandrs_spark.operators.util import tracked_persist
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from pandrs_spark.functions.deterministic import dsum

__all__ = [
    "rank_histogram",
    "gesd_outlier_peel",
    "msprt_two_proportion",
    "ipf_rake",
    "lmdi_contribution",
    "mcnemar_test",
    "cohens_kappa",
    "cochran_armitage_trend",
    "mood_median_test",
    "cramer_von_mises_2samp",
    "brunner_munzel",
    "ansari_bradley_test",
    "cucconi_test",
    "mann_whitney_u",
    "ks_2samp",
    "kruskal_wallis",
    "anova_oneway",
    "levene_test",
    "one_sample_ttest",
    "paired_ttest",
    "jackknife_ratio",
]

# t = (x̄ − μ0) / (s/√n), evaluated from exact sums (n, sx, sxx) so the
# double-arithmetic tree is shared verbatim with the oracle SQL.
ONE_SAMPLE_T = (
    "(sx / n - {mu0}) / "
    "SQRT(((sxx - sx * sx / n) / (n - 1)) / n)"
)

_DEC1 = DecimalType(32, 1)


def rank_histogram(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Distinct-value histogram with average ranks.

    Output: (value, grp, cnt_g, cnt, avg_rank) — ``avg_rank`` is the
    pandas/scipy midrank shared by all rows with that value. The ordered
    cumulative runs over distinct values only.
    """
    from pandrs_spark.operators.windows import global_prefix_counts

    per_vg = df.groupBy(
        F.col(value_col).alias("value"), F.col(group_col).alias("grp")
    ).agg(F.count("*").alias("cnt_g"))
    per_v = per_vg.groupBy("value").agg(F.sum("cnt_g").alias("cnt"))
    # Distinct-value cardinality approaches the row count for
    # continuous measures, so the cumulative runs on the distributed
    # partition-offset prefix sum, never a partitionless window.
    ranked = global_prefix_counts(per_v, [F.asc("value")], {"cum": "cnt"})
    ranked = ranked.withColumn(
        "avg_rank", (F.col("cum") - (F.col("cnt") - 1) / 2.0).cast(_DEC1)
    )
    return per_vg.join(ranked, "value")


def _tie_term() -> F.Column:
    """Σ (t³ − t) over tie groups, exact BIGINT."""
    return F.sum(
        F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
    ).alias("ties")


def mann_whitney_u(
    df: DataFrame, value_col: str, group_col: str, g1, g2
) -> DataFrame:
    """Mann-Whitney U with midranks and tie-corrected normal approx
    (nonparametric.rs:14). Returns 1 row: n1, n2, u1, u2, z."""
    two = df.filter(F.col(group_col).isin([g1, g2]))
    hist = tracked_persist(rank_histogram(two, value_col, group_col))
    stats = hist.agg(
        F.sum(F.when(F.col("grp") == g1, F.col("cnt_g")).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("grp") == g2, F.col("cnt_g")).otherwise(0)).alias("n2"),
        F.sum(
            F.when(
                F.col("grp") == g1, F.col("avg_rank") * F.col("cnt_g")
            ).otherwise(F.lit(0).cast(_DEC1))
        )
        .cast("double")
        .alias("r1"),
    )
    ties = (
        hist.groupBy("value")
        .agg(F.first("cnt").alias("cnt"))
        .agg(_tie_term())
    )
    return stats.crossJoin(ties).selectExpr(
        "n1",
        "n2",
        "r1 - n1 * (n1 + 1) / 2 AS u1",
        "n1 * n2 - (r1 - n1 * (n1 + 1) / 2) AS u2",
        """(r1 - n1 * (n1 + 1) / 2 - n1 * n2 / 2) /
           SQRT(n1 * n2 / 12.0 *
                ((n1 + n2 + 1) - ties / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)))
           AS z""",
    )


def ks_2samp(df: DataFrame, value_col: str, group_col: str, g1, g2) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D (nonparametric.rs:375):
    max |F1(x) − F2(x)| over the pooled support."""
    from pandrs_spark.operators.windows import global_prefix_counts

    two = df.filter(F.col(group_col).isin([g1, g2]))
    per_v = two.groupBy(F.col(value_col).alias("value")).agg(
        F.sum(F.when(F.col(group_col) == g1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col(group_col) == g2, 1).otherwise(0)).alias("c2"),
    )
    # both CDFs in one distributed pass (one sort, one offset collect)
    cdf = global_prefix_counts(
        per_v, [F.asc("value")], {"cum1": "c1", "cum2": "c2"}
    ).select("cum1", "cum2")
    totals = per_v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    return cdf.crossJoin(totals).agg(
        F.max(
            F.abs(
                F.col("cum1") / F.col("n1") - F.col("cum2") / F.col("n2")
            )
        ).alias("ks_d")
    )


def kruskal_wallis(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Kruskal-Wallis H with tie correction (nonparametric.rs:201).
    Returns 1 row: n, k, h (tie-corrected)."""
    hist = tracked_persist(rank_histogram(df, value_col, group_col))
    per_g = hist.groupBy("grp").agg(
        F.sum("cnt_g").alias("n_g"),
        F.sum(F.col("avg_rank") * F.col("cnt_g")).cast("double").alias("r_g"),
    )
    gstats = per_g.agg(
        F.sum("n_g").alias("n"),
        F.count("*").alias("k"),
        F.sum(F.col("r_g") * F.col("r_g") / F.col("n_g")).alias("rr"),
    )
    ties = (
        hist.groupBy("value").agg(F.first("cnt").alias("cnt")).agg(_tie_term())
    )
    return gstats.crossJoin(ties).selectExpr(
        "n",
        "k",
        """(12.0 / (n * (n + 1.0)) * rr - 3.0 * (n + 1)) /
           (1.0 - ties / (CAST(n AS DOUBLE) * n * n - n)) AS h""",
    )


def anova_oneway(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """One-way ANOVA F from exact per-group sufficient statistics
    (src/stats/mod.rs:354). Returns 1 row: n, k, f_stat."""
    per_g = df.groupBy(group_col).agg(
        F.count(value_col).alias("n_g"),
        dsum(value_col, 2).alias("s_g"),
        dsum(F.col(value_col) * F.col(value_col), 4).alias("ss_g"),
    )
    tot = per_g.agg(
        F.sum("n_g").alias("n"),
        F.count("*").alias("k"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")).alias("sgg"),
    )
    return tot.selectExpr(
        "n",
        "k",
        """((sgg - s * s / n) / (k - 1)) /
           ((ss - sgg) / (n - k)) AS f_stat""",
    )


def one_sample_ttest(
    df: DataFrame, value_col: str, mu0: float, scale: int = 2
) -> DataFrame:
    """One-sample t-test against a hypothesized mean
    (src/stats/hypothesis.rs:143). The reference loops an in-memory
    slice; here the sufficient statistics (n, Σx, Σx²) come from one
    partial-aggregated pass — the only all-reduce a 100 TB input needs —
    and the statistic is a fixed formula over those exact sums. Returns
    1 row: n, mean, t_stat."""
    stats = df.agg(
        F.count(value_col).alias("n"),
        dsum(value_col, scale).alias("sx"),
        dsum(F.col(value_col) * F.col(value_col), scale * 2).alias("sxx"),
    )
    return stats.selectExpr(
        "n",
        "sx / n AS mean",
        ONE_SAMPLE_T.format(mu0=repr(float(mu0))) + " AS t_stat",
    )


def paired_ttest(
    df: DataFrame, col1: str, col2: str, scale: int = 2
) -> DataFrame:
    """Paired t-test (src/stats/hypothesis.rs:309): a one-sample t-test
    on the per-row differences d = col1 − col2 against μ0 = 0. Rows
    where either side is NULL drop out (pandas pairwise behavior).
    Returns 1 row: n, mean_diff, t_stat."""
    d = df.filter(F.col(col1).isNotNull() & F.col(col2).isNotNull()).select(
        (F.col(col1) - F.col(col2)).alias("__d__")
    )
    out = one_sample_ttest(d, "__d__", 0.0, scale)
    return out.select("n", F.col("mean").alias("mean_diff"), "t_stat")


def levene_test(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Levene's test for variance homogeneity, Brown-Forsythe variant
    (center = median — robust to non-normality). Complements
    anova_oneway (src/stats/mod.rs:354): W is the one-way ANOVA F
    computed on z = |x - median(group)|.

    Two aggregation passes: exact per-group medians (small k, broadcast
    back), then the ANOVA sufficient statistics over z — both partial-
    aggregated, so the pattern scales like any grouped agg. Returns
    1 row: n, k, w_stat.
    """
    meds = df.groupBy(group_col).agg(F.median(value_col).alias("__med__"))
    z = df.join(F.broadcast(meds), group_col).select(
        group_col, F.abs(F.col(value_col) - F.col("__med__")).alias("__z__")
    )
    out = anova_oneway(z, "__z__", group_col)
    return out.selectExpr("n", "k", "f_stat AS w_stat")


# Jackknife variance of a ratio estimator from per-group sufficient
# statistics: R_i are the g leave-one-group-out ratios, (sr, srr) their
# quantized sums. Shared verbatim with the oracle SQL.
JACKKNIFE_SE = "SQRT((g - 1.0) / g * (srr - sr * sr / g))"


def jackknife_ratio(
    df: DataFrame,
    num_col: str,
    den_col: str,
    group_col: str,
    scale: int = 2,
) -> DataFrame:
    """Delete-one-**group** jackknife SE of the ratio estimator
    R = Σnum / Σden (the survey-sampling workhorse for nonlinear
    estimators whose variance has no closed form).

    Distributed shape: one partial-aggregated shuffle collapses the
    fact table into per-group quantized sums (exact BIGINTs, order-
    independent); the g leave-one-out replicates are then
    total-minus-group arithmetic on that g-row frame — no second scan,
    no per-replicate pass, so the cost is one aggregation regardless
    of g. Reference: resampling surface of src/stats/sampling/mod.rs
    (bootstrap :118) — the jackknife is its deterministic sibling.
    """
    from pandrs_spark.functions.deterministic import quantize

    # internal aliases are __jk_-prefixed so a user group column named
    # e.g. "g" can't collide across the scalar-carry crossJoin
    grp = df.groupBy(group_col).agg(
        F.sum(quantize(num_col, scale)).alias("__jk_gnum"),
        F.sum(quantize(den_col, scale)).alias("__jk_gden"),
    )
    tot = grp.agg(
        F.sum("__jk_gnum").alias("tnum"),
        F.sum("__jk_gden").alias("tden"),
        F.count(F.lit(1)).cast("long").alias("g"),
    )
    loo = grp.select("__jk_gnum", "__jk_gden").crossJoin(
        F.broadcast(tot)
    ).select(
        "g",
        "tnum",
        "tden",
        (
            (F.col("tnum") - F.col("__jk_gnum")).cast("double")
            / (F.col("tden") - F.col("__jk_gden")).cast("double")
        ).alias("r_i"),
    )
    agg = loo.groupBy("g", "tnum", "tden").agg(
        dsum("r_i", 6).alias("sr"),
        dsum(F.col("r_i") * F.col("r_i"), 6).alias("srr"),
    )
    return agg.select(
        F.round(
            F.col("tnum").cast("double") / F.col("tden").cast("double"), 6
        ).alias("estimate"),
        F.round(F.expr(JACKKNIFE_SE), 6).alias("jack_se"),
        F.col("g").alias("n_groups"),
    )


def gesd_outlier_peel(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    k: int = 3,
) -> DataFrame:
    """Generalized-ESD-style iterative outlier peeling (Rosner 1983;
    composes the reference's outlier tier src/stats/mod.rs z-score
    detection into the masked multi-outlier form). Round r computes
    mean/sd of the REMAINING points from quantized exact sums, emits
    the point with the largest studentized deviation R_r =
    |x − mean|/sd, removes it, and repeats — so a cluster of outliers
    can't mask each other the way a single-pass z-score allows. The
    caller compares R_r against the ESD critical values (a pure
    driver-side t-quantile formula) or uses the R_r ranking directly.

    Output: one row per peeled point — key columns, the value, its
    ``r_stat``, and 1-based ``peel_round``.

    Scale: each round is one scalar aggregate (map-side combined) + a
    broadcast scalar-carry + a TakeOrdered(1); k is a small constant,
    so the whole peel is k linear passes with no data-sized state.
    Ties break on the quantized statistic then the key columns, so the
    peel order is deterministic under any partitioning. Rounds remove
    exactly ONE physical row each (a synthetic row id drives the
    anti-join), so duplicate key tuples never drop extra rows and bias
    the remaining mean/sd; among rows identical in (r_stat, keys,
    value) the choice is arbitrary but value-equivalent.
    """
    from pandrs_spark.functions.deterministic import quantize

    x = F.col(value_col).cast("double")
    # Synthetic row id, frozen by an eager checkpoint so the ids the
    # pick sees and the ids the anti-join removes are the same.
    remaining = (
        df.select(*key_cols, x.alias(value_col))
        .withColumn("__rid__", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    out = None
    for r in range(1, k + 1):
        st = remaining.agg(
            F.count(F.lit(1)).alias("__n__"),
            dsum(x, 6).alias("__sx__"),
            dsum(x * x, 6).alias("__sxx__"),
        )
        scored = remaining.crossJoin(F.broadcast(st)).withColumn(
            "r_stat",
            F.abs(x - F.col("__sx__") / F.col("__n__"))
            / F.sqrt(
                (
                    F.col("__sxx__")
                    - F.col("__sx__") * F.col("__sx__") / F.col("__n__")
                )
                / (F.col("__n__") - 1)
            ),
        )
        pick = (
            scored.orderBy(F.desc(quantize("r_stat", 9)), *key_cols)
            .limit(1)
            .select(
                F.lit(r).cast("int").alias("peel_round"),
                *key_cols,
                value_col,
                "r_stat",
                "__rid__",
            )
            .localCheckpoint(eager=True)
        )
        out = pick if out is None else out.unionByName(pick)
        remaining = remaining.join(
            pick.select("__rid__"), "__rid__", "left_anti"
        )
    return out.drop("__rid__")


def msprt_two_proportion(
    df: DataFrame,
    arm_col: str,
    conv_col: str,
    tau2: float = 0.0001,
) -> DataFrame:
    """Always-valid two-proportion inference via mSPRT (mixture
    sequential probability ratio test, Johari et al. 2017; inferential
    tier beside the fixed-horizon z-test) — the q403 core extracted as
    a reusable operator. ``arm_col`` is 0/1 treatment assignment,
    ``conv_col`` 0/1 outcome. The mixture likelihood ratio

        Λ = sqrt(V/(V+τ²)) · exp(θ̂²τ²/(2V(V+τ²)))

    is a supermartingale under H0, so p = min(1, 1/Λ) stays valid at
    ANY stopping time ("peeking-safe"). One row out: (n1, c1, n0, c0,
    theta, v, lambda_stat), unquantized — callers round for oracles.

    Scale: ONE map-side-combinable aggregate of four exact integer
    sums; the statistic is a pure double formula over them, so the
    result is trivially partition-order invariant.
    """
    arm = F.col(arm_col)
    conv = F.col(conv_col)
    agg = df.agg(
        F.sum(arm).cast("long").alias("n1"),
        F.sum(F.when(arm == 1, conv).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.lit(1) - arm).cast("long").alias("n0"),
        F.sum(F.when(arm == 0, conv).otherwise(0)).cast("long").alias("c0"),
    )
    stat = agg.withColumn(
        "theta",
        F.col("c1").cast("double") / F.col("n1")
        - F.col("c0").cast("double") / F.col("n0"),
    ).withColumn(
        "v",
        (F.col("c1") + F.col("c0")).cast("double")
        / (F.col("n1") + F.col("n0"))
        * (
            1
            - (F.col("c1") + F.col("c0")).cast("double")
            / (F.col("n1") + F.col("n0"))
        )
        * (1.0 / F.col("n1") + 1.0 / F.col("n0")),
    )
    # Degenerate-variance guard (NULL-on-degenerate convention shared
    # with logrank/mcnemar/mood): v = 0 when the pooled conversion rate
    # is exactly 0 or 1 — the mixture likelihood ratio is undefined
    # there (and ANSI mode would raise on the v division).
    return stat.withColumn(
        "lambda_stat",
        F.when(
            F.col("v") > 0,
            F.sqrt(F.col("v") / (F.col("v") + tau2))
            * F.exp(
                F.col("theta")
                * F.col("theta")
                * tau2
                / (2.0 * F.col("v") * (F.col("v") + tau2))
            ),
        ),
    )


def lmdi_contribution(
    rate_a, rate_b, cvr_a, cvr_b
) -> F.Column:
    """LMDI (log-mean Divisia index) contribution of one multiplicative
    factor to a total's change (Ang 2005 is the public spec; q427's
    funnel waterfall) — extracted as a reusable column expression:

        contribution = (ΔCVR / ln(CVR_B/CVR_A)) · ln(rate_B/rate_A)

    with the CVR_B = CVR_A case taken at the log-mean limit
    L(a, a) = a, i.e. contribution = CVR_A · ln(rate_B/rate_A): when
    the total is unchanged but factors moved in offsetting directions,
    each factor still reports its (nonzero) share and the shares cancel
    exactly. Contributions across factors sum to ΔCVR exactly by
    construction. Pure expression — composes into any aggregate;
    partition invariance follows from the exactness of the inputs it is
    applied to.
    """
    ra = rate_a if not isinstance(rate_a, str) else F.col(rate_a)
    rb = rate_b if not isinstance(rate_b, str) else F.col(rate_b)
    ca = cvr_a if not isinstance(cvr_a, str) else F.col(cvr_a)
    cb = cvr_b if not isinstance(cvr_b, str) else F.col(cvr_b)
    return F.when(cb == ca, ca * F.log(rb / ra)).otherwise(
        (cb - ca) / F.log(cb / ca) * F.log(rb / ra)
    )


def mcnemar_test(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """McNemar's test for paired binary outcomes (hypothesis tier
    beside :func:`paired_ttest`; src/stats/hypothesis.rs family is the
    behavioral spec). ``x_col``/``y_col`` are 0/1 per subject; only
    the discordant cells inform the test:

        b = #(1,0),  c = #(0,1),
        chi2 = (|b − c| − 1)² / (b + c)     (continuity-corrected)

    One row out: (n_pairs, b, c, chi2); chi2 is NULL when b + c = 0
    (no discordant pairs — the test carries no information).

    Scale: ONE map-side-combinable aggregate of exact integer counts;
    trivially partition-order invariant.
    """
    x = F.col(x_col)
    y = F.col(y_col)
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when((x == 1) & (y == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((x == 0) & (y == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    bc = F.col("b") + F.col("c")
    num = F.abs(F.col("b") - F.col("c")) - 1
    return agg.withColumn(
        "chi2",
        F.when(bc > 0, (num * num).cast("double") / bc),
    )


def cohens_kappa(df: DataFrame, r1_col: str, r2_col: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement for two binary raters
    (agreement tier beside :func:`mcnemar_test`): kappa =
    (p_o − p_e) / (1 − p_e) with observed agreement p_o and chance
    agreement p_e from the raters' marginals. One row out:
    (n, n00, n01, n10, n11, po, pe, kappa); kappa is NULL when
    p_e = 1 (both raters constant — agreement is undefined).

    Scale: one exact-count aggregate; the statistic is a pure double
    formula over the four cells.
    """
    a = F.col(r1_col)
    b = F.col(r2_col)
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when((a == 0) & (b == 0), 1).otherwise(0)).cast("long").alias("n00"),
        F.sum(F.when((a == 0) & (b == 1), 1).otherwise(0)).cast("long").alias("n01"),
        F.sum(F.when((a == 1) & (b == 0), 1).otherwise(0)).cast("long").alias("n10"),
        F.sum(F.when((a == 1) & (b == 1), 1).otherwise(0)).cast("long").alias("n11"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n00") + F.col("n11")) / n
    pe = (
        ((F.col("n11") + F.col("n10")) / n) * ((F.col("n11") + F.col("n01")) / n)
        + ((F.col("n00") + F.col("n01")) / n) * ((F.col("n00") + F.col("n10")) / n)
    )
    out = agg.withColumn("po", po).withColumn("pe", pe)
    return out.withColumn(
        "kappa",
        F.when(
            F.col("pe") != 1.0,
            (F.col("po") - F.col("pe")) / (1.0 - F.col("pe")),
        ),
    )


def cochran_armitage_trend(
    df: DataFrame, event_col: str, score_col: str
) -> DataFrame:
    """Cochran-Armitage test for a linear trend in proportions across
    ORDERED groups (dose-response shape; trend complement to the q59
    chi-square independence test). ``event_col`` is 0/1,
    ``score_col`` a numeric group score t_i. With per-group (n_i, r_i)
    and pooled p̄ = R/N:

        Z = Σ t_i (r_i − n_i p̄) /
            sqrt( p̄(1−p̄) · [Σ t_i² n_i − (Σ t_i n_i)²/N] )

    One row out: (n, k, z_trend); NULL when the variance term is 0
    (constant scores or degenerate p̄).

    Scale: one groupBy(score) shuffle over exact integer counts, then
    a ≤k-row aggregate — the statistic is a double formula over exact
    sums, partition-order invariant.
    """
    e = F.col(event_col)
    per_g = df.groupBy(F.col(score_col).alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(e).cast("long").alias("r_g"),
    )
    tot = per_g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("r_g").cast("long").alias("r"),
        F.sum(F.col("t") * F.col("n_g")).cast("double").alias("tn"),
        F.sum(F.col("t") * F.col("t") * F.col("n_g")).cast("double").alias("ttn"),
        F.sum(F.col("t") * F.col("r_g")).cast("double").alias("tr"),
    )
    p = F.col("r").cast("double") / F.col("n")
    num = F.col("tr") - F.col("tn") * p
    var = p * (1.0 - p) * (F.col("ttn") - F.col("tn") * F.col("tn") / F.col("n"))
    return tot.select(
        "n",
        "k",
        F.when(var > 0, num / F.sqrt(var)).alias("z_trend"),
    )


def mood_median_test(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Mood's median test: chi-square on the k×2 table of counts above
    vs not-above the POOLED median per group (robust location test
    beside :func:`kruskal_wallis`). Returns one row per group with
    (grp, n_above, n_below, e_above) plus the pooled chi2 repeated —
    callers aggregate or read any row's chi2.

    Scale: the pooled median comes from one exact percentile
    aggregate; the table is one groupBy of exact counts; expected
    counts and chi2 are double formulas over them.
    """
    med = df.agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    flagged = df.crossJoin(F.broadcast(med)).select(
        F.col(group_col).alias("grp"),
        F.when(F.col(value_col) > F.col("med"), 1).otherwise(0).alias("above"),
    )
    per_g = flagged.groupBy("grp").agg(
        F.sum("above").cast("long").alias("n_above"),
        F.sum(F.lit(1) - F.col("above")).cast("long").alias("n_below"),
    )
    tot = per_g.agg(
        F.sum("n_above").cast("double").alias("ta"),
        F.sum(F.col("n_above") + F.col("n_below")).cast("double").alias("tn"),
    )
    j = per_g.crossJoin(F.broadcast(tot))
    e_above = (F.col("n_above") + F.col("n_below")) * F.col("ta") / F.col("tn")
    e_below = (F.col("n_above") + F.col("n_below")) * (
        F.col("tn") - F.col("ta")
    ) / F.col("tn")
    cells = j.select(
        "grp",
        "n_above",
        "n_below",
        e_above.alias("e_above"),
        # Degenerate-table guard (NULL-on-degenerate convention shared
        # with logrank_test / mcnemar_test): heavy ties can put every
        # pooled value on one side of the median, making an expected
        # cell 0; a NULL cell must poison chi2, not drop out of the sum.
        F.when(
            (e_above > 0) & (e_below > 0),
            (F.col("n_above") - e_above) * (F.col("n_above") - e_above)
            / e_above
            + (F.col("n_below") - e_below) * (F.col("n_below") - e_below)
            / e_below,
        ).alias("cell_chi2"),
    )

    # chi2 totals a handful of per-group double cells — summed via the
    # quantized exact-long path so the statistic is partition-order
    # invariant like every other fold in this module. Any NULL cell
    # (degenerate expected count) yields NULL chi2 for the whole table.
    chi2 = cells.agg(
        F.when(
            F.count(F.lit(1)) == F.count("cell_chi2"),
            dsum("cell_chi2", 9),
        ).alias("chi2")
    )
    return cells.crossJoin(F.broadcast(chi2))


def cramer_von_mises_2samp(
    df: DataFrame, value_col: str, group_col: str, g1, g2
) -> DataFrame:
    """Two-sample Cramér-von-Mises criterion (EDF tier beside
    :func:`ks_2samp`, which takes the max where CvM integrates):

        ω² = (n·m / (n+m)²) · Σ_z (F1(z) − F2(z))²

    summed over every pooled observation z with multiplicity. Computed
    from the distinct-value histogram + one distributed prefix sum
    (``global_prefix_counts``) — identical scale shape to ks_2samp:
    one groupBy shuffle, never a data-sized sort. One row out:
    (n1, n2, cvm).
    """
    from pandrs_spark.operators.windows import global_prefix_counts

    two = df.filter(F.col(group_col).isin([g1, g2]))
    per_v = two.groupBy(F.col(value_col).alias("value")).agg(
        F.sum(F.when(F.col(group_col) == g1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col(group_col) == g2, 1).otherwise(0)).alias("c2"),
    )
    cdf = global_prefix_counts(
        per_v, [F.asc("value")], {"cum1": "c1", "cum2": "c2"}
    ).select("c1", "c2", "cum1", "cum2")
    totals = per_v.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )

    d2 = (
        F.col("cum1") / F.col("n1") - F.col("cum2") / F.col("n2")
    ) * (F.col("cum1") / F.col("n1") - F.col("cum2") / F.col("n2"))
    t = cdf.crossJoin(F.broadcast(totals)).agg(
        F.min("n1").alias("n1"),
        F.min("n2").alias("n2"),
        dsum((F.col("c1") + F.col("c2")) * d2, 9).alias("t_sum"),
    )
    return t.select(
        "n1",
        "n2",
        (
            F.col("n1").cast("double")
            * F.col("n2")
            / ((F.col("n1") + F.col("n2")) * (F.col("n1") + F.col("n2")))
            * F.col("t_sum")
        ).alias("cvm"),
    )


def brunner_munzel(
    df: DataFrame, value_col: str, group_col: str, g1, g2
) -> DataFrame:
    """Brunner-Munzel generalized Wilcoxon test (nonparametric tier
    beside :func:`mann_whitney_u`, which it replaces when the two
    groups' variances/shapes differ — the Behrens-Fisher situation).
    scipy.stats.brunnermunzel's statistic form:

        p̂  = (R̄₂ − (n₂+1)/2) / n₁          (P(X<Y) + ½P(X=Y))
        Sᵢ² = 1/(nᵢ−1) Σ (R_ij − R̄ᵢ − Rᵢⱼ⁽ⁱ⁾ + (nᵢ+1)/2)²
        W  = n₁n₂ (R̄₂ − R̄₁) / ((n₁+n₂)·sqrt(n₁S₁² + n₂S₂²))

    with pooled midranks R and within-group midranks R⁽ⁱ⁾, all exact
    multiples of 0.5 computed from ONE distinct-value histogram + one
    distributed prefix pass (cum1/cum2 together, the ks_2samp shape).
    Squared-deviation sums are quantized exact longs, so the statistic
    is partition-order invariant. One row out:
    (n1, n2, p_hat, w_stat).
    """
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    two = df.filter(F.col(group_col).isin([g1, g2]))
    per_v = two.groupBy(F.col(value_col).alias("value")).agg(
        F.sum(F.when(F.col(group_col) == g1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col(group_col) == g2, 1).otherwise(0)).alias("c2"),
    )
    cdf = tracked_persist(
        global_prefix_counts(
            per_v, [F.asc("value")], {"cum1": "c1", "cum2": "c2"}
        )
    )
    # pooled and within-group midranks at each distinct value
    r = (F.col("cum1") + F.col("cum2")) - (F.col("c1") + F.col("c2") - 1) / 2.0
    r1 = F.col("cum1") - (F.col("c1") - 1) / 2.0
    r2 = F.col("cum2") - (F.col("c2") - 1) / 2.0
    stats = cdf.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        # c*r is an exact multiple of 0.5 — scale-1 quantization exact
        dsum(F.col("c1") * r, 1).alias("sr1"),
        dsum(F.col("c2") * r, 1).alias("sr2"),
    )
    j = cdf.crossJoin(F.broadcast(stats))
    rbar1 = F.col("sr1") / F.col("n1")
    rbar2 = F.col("sr2") / F.col("n2")
    dev1 = r - r1 - rbar1 + (F.col("n1") + 1) / 2.0
    dev2 = r - r2 - rbar2 + (F.col("n2") + 1) / 2.0
    var = j.agg(
        F.min("n1").alias("n1"),
        F.min("n2").alias("n2"),
        F.min("sr1").alias("sr1"),
        F.min("sr2").alias("sr2"),
        dsum(F.col("c1") * dev1 * dev1, 6).alias("ss1"),
        dsum(F.col("c2") * dev2 * dev2, 6).alias("ss2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    s1sq = F.col("ss1") / (n1 - 1)
    s2sq = F.col("ss2") / (n2 - 1)
    denom = (n1 + n2) * F.sqrt(n1 * s1sq + n2 * s2sq)
    return var.select(
        F.col("n1"),
        F.col("n2"),
        ((F.col("sr2") / n2 - (n2 + 1) / 2.0) / n1).alias("p_hat"),
        F.when(
            denom > 0,
            n1 * n2 * (F.col("sr2") / n2 - F.col("sr1") / n1) / denom,
        ).alias("w_stat"),
    )


def ipf_rake(
    cells: DataFrame,
    row_col: str,
    col_col: str,
    count_col: str,
    row_targets: DataFrame,
    col_targets: DataFrame,
    n_rounds: int = 3,
) -> DataFrame:
    """Iterative proportional fitting / survey raking (Deming-Stephan
    1940 is the public spec; q475's margin calibration): starting from
    weight 1 per cell, alternately rescale so the weighted row margins
    hit ``row_targets`` (columns: row_col, target_r) and the weighted
    column margins hit ``col_targets`` (columns: col_col, target_c).
    Returns the cells frame with a ``w`` column after ``n_rounds``
    full row+column passes.

    Scale: the margin totals are quantized exact-long groupBy sums
    (partition-order invariant by construction — pinned in
    tests/test_fold_invariance.py); each round is two small shuffles on
    the margin keys, with the margin frames broadcast back (bounded by
    the margin cardinalities, a domain property of raking). Lineage is
    cut per round.
    """
    w = cells.select(
        F.col(row_col).alias("__r"),
        F.col(col_col).alias("__c"),
        F.col(count_col).alias("__n"),
        F.lit(1.0).alias("w"),
    )
    rt = row_targets.select(
        F.col(row_col).alias("__r"), F.col("target_r").alias("__tr")
    )
    ct = col_targets.select(
        F.col(col_col).alias("__c"), F.col("target_c").alias("__tc")
    )
    for _ in range(n_rounds):
        r_tot = w.groupBy("__r").agg(
            dsum(F.col("__n") * F.col("w"), 9).alias("__cur_r")
        )
        w = (
            w.join(F.broadcast(r_tot), "__r")
            .join(F.broadcast(rt), "__r")
            .select(
                "__r",
                "__c",
                "__n",
                (F.col("w") * (F.col("__tr") / F.col("__cur_r"))).alias("w"),
            )
        )
        c_tot = w.groupBy("__c").agg(
            dsum(F.col("__n") * F.col("w"), 9).alias("__cur_c")
        )
        w = (
            w.join(F.broadcast(c_tot), "__c")
            .join(F.broadcast(ct), "__c")
            .select(
                "__r",
                "__c",
                "__n",
                (F.col("w") * (F.col("__tc") / F.col("__cur_c"))).alias("w"),
            )
        ).localCheckpoint(eager=True)
    return w.select(
        F.col("__r").alias(row_col),
        F.col("__c").alias(col_col),
        F.col("__n").alias(count_col),
        "w",
    )


def ansari_bradley_test(
    df: DataFrame, value_col: str, group_col: str, g1, g2
) -> DataFrame:
    """Ansari-Bradley two-sample scale test (nonparametric.rs family;
    Ansari & Bradley 1960 — public methodology).

    Scores count in from both ends: s(r) = min(r, N+1−r); tied blocks
    take the block-average score (midrank convention). Computed from
    the distinct-value histogram: a block occupying ranks lo+1..hi has
    exact integer score sum S = f(hi) − f(lo) with
    f(m) = m(m+1)/2 for m ≤ c, else c(c+1) + (m−c)(N+1) − m(m+1)/2,
    c = ⌊(N+1)/2⌋ — so the whole score fold is BIGINT-exact and the
    one ordered pass rides ``global_prefix_counts`` (histogram-sized,
    never data-sized). Scores are normalized by N (z is invariant) so
    every quantized sum stays inside the int64 envelope at any scale.

    Returns 1 row: (n1, n2, ab_t_norm, z) where ab_t_norm = T₁/N with
    T₁ the sample-1 score sum, and z uses the exact tie-conditional
    moments E[T₁] = n1·Σs/N, Var[T₁] = n1·n2·(N·Σs² − (Σs)²)/(N²(N−1)).
    """
    from pandrs_spark.operators.windows import global_prefix_counts

    two = df.filter(F.col(group_col).isin([g1, g2]))
    per_v = two.groupBy(F.col(value_col).alias("value")).agg(
        F.sum(F.when(F.col(group_col) == g1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col(group_col) == g2, 1).otherwise(0)).alias("c2"),
        F.count(F.lit(1)).alias("cnt"),
    )
    cdf = global_prefix_counts(per_v, [F.asc("value")], {"cum": "cnt"})
    totals = per_v.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum("cnt").cast("long").alias("nn"),
    )
    j = cdf.crossJoin(F.broadcast(totals))

    def _f(m):
        # Σ_{r=1..m} min(r, N+1-r) as exact BIGINT arithmetic
        c = F.floor((F.col("nn") + 1) / 2).cast("long")
        below = (m * (m + 1) / 2).cast("long")
        above = (
            c * (c + 1)
            + (m - c) * (F.col("nn") + 1)
            - (m * (m + 1) / 2).cast("long")
        ).cast("long")
        return F.when(m <= c, below).otherwise(above)

    hi = F.col("cum").cast("long")
    lo = (F.col("cum") - F.col("cnt")).cast("long")
    blocks = j.select(
        "c1",
        "cnt",
        "n1",
        "n2",
        "nn",
        (_f(hi) - _f(lo)).alias("s_sum"),
    )
    agg = blocks.groupBy("n1", "n2", "nn").agg(
        dsum(
            F.col("c1") * F.col("s_sum") / (F.col("cnt") * F.col("nn")), 12
        ).alias("t1"),
        dsum(
            F.col("s_sum")
            * F.col("s_sum")
            / (F.col("cnt") * F.col("nn") * F.col("nn")),
            12,
        ).alias("ss2"),
        (F.sum("s_sum").cast("double") / F.col("nn") / F.col("nn")).alias("sbar"),
    )
    return agg.selectExpr(
        "n1",
        "n2",
        "t1 AS ab_t_norm",
        "(t1 - n1 * sbar) / "
        "SQRT(n1 * n2 * (nn * ss2 - sbar * nn * sbar * nn) "
        "/ (CAST(nn AS DOUBLE) * nn * (nn - 1))) AS z",
    )


# Cucconi joint location-scale statistic from N-normalized squared-rank
# sums (sr2 = ΣR²/N², ss2 = Σ(N+1−R)²/N² over sample 2). The 1.0*
# promotions force double arithmetic before any BIGINT product can
# overflow; the text is shared verbatim with the DuckDB oracle.
CUCCONI_U = (
    "(6.0 * CAST(nn AS DOUBLE) * nn * {s2} "
    "- CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1)) / "
    "SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 1) * (2 * nn + 1) "
    "* (8 * nn + 11) / 5.0)"
)
CUCCONI_RHO = (
    "(2.0 * (CAST(nn AS DOUBLE) * nn - 4) "
    "/ (CAST(2 * nn + 1 AS DOUBLE) * (8 * nn + 11)) - 1)"
)


def cucconi_test(
    df: DataFrame, value_col: str, group_col: str, g1, g2
) -> DataFrame:
    """Cucconi two-sample joint location-scale test (Cucconi 1968;
    Marozzi 2009 — public methodology): U standardizes sample-2's
    squared ranks, V its squared contrary ranks, and
    C = (U² + V² − 2ρUV)/(2(1−ρ²)) rejects when EITHER location or
    scale shifts — the rank-based omnibus the AB (scale-only) and MW
    (location-only) pair can miss.

    Tied blocks take the midrank (block-average rank) before squaring
    — documented convention, same as rank_histogram. Ranks ride
    ``global_prefix_counts`` (histogram-sized pass); squared-rank sums
    are normalized by N² before quantization so every sum stays inside
    the int64 envelope at any scale. Returns 1 row:
    (n1, n2, u, v, c).
    """
    from pandrs_spark.operators.windows import global_prefix_counts

    two = df.filter(F.col(group_col).isin([g1, g2]))
    per_v = two.groupBy(F.col(value_col).alias("value")).agg(
        F.sum(F.when(F.col(group_col) == g1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col(group_col) == g2, 1).otherwise(0)).alias("c2"),
        F.count(F.lit(1)).alias("cnt"),
    )
    cdf = global_prefix_counts(per_v, [F.asc("value")], {"cum": "cnt"})
    totals = per_v.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum("cnt").cast("long").alias("nn"),
    )
    j = cdf.crossJoin(F.broadcast(totals))
    r_norm = (F.col("cum") - (F.col("cnt") - 1) / 2.0) / F.col("nn")
    s_norm = (F.col("nn") + 1.0) / F.col("nn") - r_norm
    sums = j.groupBy("n1", "n2", "nn").agg(
        dsum(F.col("c2") * r_norm * r_norm, 12).alias("sr2"),
        dsum(F.col("c2") * s_norm * s_norm, 12).alias("ss2"),
    )
    uv = sums.selectExpr(
        "n1",
        "n2",
        "nn",
        CUCCONI_U.format(s2="sr2") + " AS u",
        CUCCONI_U.format(s2="ss2") + " AS v",
    )
    return uv.selectExpr(
        "n1",
        "n2",
        "u",
        "v",
        f"(u * u + v * v - 2 * {CUCCONI_RHO} * u * v) / "
        f"(2 * (1 - {CUCCONI_RHO} * {CUCCONI_RHO})) AS c",
    )
