"""Hypothesis-test operators vs hand-computed (scipy-checkable) values."""

from __future__ import annotations

import pytest

from pandrs_spark.operators.hypothesis import (
    anova_oneway,
    kruskal_wallis,
    ks_2samp,
    mann_whitney_u,
)
from pandrs_spark.operators.util import small_local_df


def _df(spark, pairs):
    return small_local_df(spark, pairs, "value double, grp string")


def test_mann_whitney_separated(spark):
    df = _df(spark, [(1.0, "a"), (2.0, "a"), (3.0, "a"), (4.0, "b"), (5.0, "b"), (6.0, "b")])
    r = mann_whitney_u(df, "value", "grp", "a", "b").first()
    assert (r["n1"], r["n2"]) == (3, 3)
    assert r["u1"] == 0.0  # every a < every b
    assert r["u2"] == 9.0


def test_mann_whitney_with_ties(spark):
    # scipy.stats.mannwhitneyu([1,1,2],[1,2,2]): U1 = 3.0
    df = _df(spark, [(1.0, "a"), (1.0, "a"), (2.0, "a"), (1.0, "b"), (2.0, "b"), (2.0, "b")])
    r = mann_whitney_u(df, "value", "grp", "a", "b").first()
    assert r["u1"] == pytest.approx(3.0)
    assert r["u2"] == pytest.approx(6.0)


def test_ks_identical_is_zero(spark):
    df = _df(spark, [(v, g) for g in ("a", "b") for v in (1.0, 2.0, 3.0)])
    assert ks_2samp(df, "value", "grp", "a", "b").first()["ks_d"] == 0.0


def test_ks_disjoint_is_one(spark):
    df = _df(spark, [(1.0, "a"), (2.0, "a"), (10.0, "b"), (11.0, "b")])
    assert ks_2samp(df, "value", "grp", "a", "b").first()["ks_d"] == 1.0


def test_kruskal_no_ties(spark):
    # scipy.stats.kruskal([1,2,3],[4,5,6]) -> H = 3.857142857...
    df = _df(spark, [(1.0, "a"), (2.0, "a"), (3.0, "a"), (4.0, "b"), (5.0, "b"), (6.0, "b")])
    r = kruskal_wallis(df, "value", "grp").first()
    assert (r["n"], r["k"]) == (6, 2)
    assert r["h"] == pytest.approx(3.857142857, abs=1e-6)


def test_anova_known_f(spark):
    # scipy.stats.f_oneway([1,2,3],[2,3,4]) -> F = 1.5
    df = _df(spark, [(1.0, "a"), (2.0, "a"), (3.0, "a"), (2.0, "b"), (3.0, "b"), (4.0, "b")])
    r = anova_oneway(df, "value", "grp").first()
    assert r["f_stat"] == pytest.approx(1.5, abs=1e-9)


def test_scipy_cross_check_if_available(spark):
    scipy_stats = pytest.importorskip("scipy.stats")
    vals_a = [1.2, 3.4, 2.2, 5.1, 4.4, 2.9]
    vals_b = [2.1, 6.3, 4.9, 5.5, 7.2]
    df = _df(spark, [(v, "a") for v in vals_a] + [(v, "b") for v in vals_b])
    u = mann_whitney_u(df, "value", "grp", "a", "b").first()
    ref = scipy_stats.mannwhitneyu(vals_a, vals_b, alternative="two-sided")
    assert u["u1"] == pytest.approx(ref.statistic)
    k = kruskal_wallis(df, "value", "grp").first()
    refk = scipy_stats.kruskal(vals_a, vals_b)
    assert k["h"] == pytest.approx(refk.statistic, abs=1e-9)
    a = anova_oneway(df, "value", "grp").first()
    refa = scipy_stats.f_oneway(vals_a, vals_b)
    assert a["f_stat"] == pytest.approx(refa.statistic, abs=1e-6)
    ks = ks_2samp(df, "value", "grp", "a", "b").first()
    refks = scipy_stats.ks_2samp(vals_a, vals_b)
    assert ks["ks_d"] == pytest.approx(refks.statistic, abs=1e-9)


def test_one_sample_ttest(spark):
    # scipy.stats.ttest_1samp([2,4,4,4,5,5,7,9], 4): t = 1.3228757
    df = small_local_df(
        spark, [(v,) for v in [2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0]], "x double"
    )
    from pandrs_spark.operators.hypothesis import one_sample_ttest

    r = one_sample_ttest(df, "x", 4.0).first()
    assert r["n"] == 8
    assert r["mean"] == pytest.approx(5.0)
    assert r["t_stat"] == pytest.approx(1.3228756555322954, rel=1e-6)


def test_paired_ttest(spark):
    # scipy.stats.ttest_rel([3,3,4,5],[1,2,4,4]): diffs [2,1,0,1], t = 2.44949
    df = small_local_df(
        spark, [(3.0, 1.0), (3.0, 2.0), (4.0, 4.0), (5.0, 4.0)], "a double, b double"
    )
    from pandrs_spark.operators.hypothesis import paired_ttest

    r = paired_ttest(df, "a", "b").first()
    assert r["n"] == 4
    assert r["mean_diff"] == pytest.approx(1.0)
    assert r["t_stat"] == pytest.approx(2.449489742783178, rel=1e-6)


def test_paired_ttest_drops_null_pairs(spark):
    from pandrs_spark.operators.hypothesis import paired_ttest

    df = small_local_df(
        spark, [(3.0, 1.0), (None, 2.0), (4.0, None), (5.0, 4.0), (4.0, 2.0)],
        "a double, b double",
    )
    r = paired_ttest(df, "a", "b").first()
    assert r["n"] == 3  # only complete pairs


def test_levene_equal_variances_near_one(spark):
    from pandrs_spark.operators.hypothesis import levene_test

    # two groups drawn from the same deterministic pattern -> W ~ small
    rows = [(g, float((i * 7) % 11)) for g in ("a", "b") for i in range(50)]
    df = small_local_df(spark, rows, "g string, x double")
    w = levene_test(df, "x", "g").first()
    assert w["k"] == 2 and w["n"] == 100
    assert abs(w["w_stat"]) < 0.2  # identical dispersion -> no signal


def test_levene_detects_unequal_spread(spark):
    from pandrs_spark.operators.hypothesis import levene_test

    rows = [("tight", float(i % 3)) for i in range(60)] + [
        ("wide", float((i * 13) % 100)) for i in range(60)
    ]
    df = small_local_df(spark, rows, "g string, x double")
    w = levene_test(df, "x", "g").first()
    assert w["w_stat"] > 50


def test_jackknife_ratio_matches_direct_computation(spark):
    import math

    from pandrs_spark.operators.hypothesis import jackknife_ratio

    # 4 groups with integer-valued sums so quantization is exact
    data = {
        "a": [(10.0, 2.0), (20.0, 3.0)],
        "b": [(5.0, 1.0), (15.0, 4.0)],
        "c": [(8.0, 2.0)],
        "d": [(12.0, 3.0), (4.0, 1.0)],
    }
    rows = [(g, n, d) for g, pairs in data.items() for n, d in pairs]
    df = small_local_df(spark, rows, "g string, num double, den double")
    got = jackknife_ratio(df, "num", "den", "g").first()

    sums = {
        g: (sum(n for n, _ in p), sum(d for _, d in p))
        for g, p in data.items()
    }
    tn = sum(s[0] for s in sums.values())
    td = sum(s[1] for s in sums.values())
    g = len(sums)
    loo = [(tn - sn) / (td - sd) for sn, sd in sums.values()]
    rbar = sum(loo) / g
    se = math.sqrt((g - 1) / g * sum((r - rbar) ** 2 for r in loo))
    assert got["n_groups"] == g
    assert abs(got["estimate"] - tn / td) < 1e-6
    assert abs(got["jack_se"] - se) < 1e-4


def test_mcnemar_hand_computed(spark):
    from pandrs_spark.operators.hypothesis import mcnemar_test

    # b=3 (1,0), c=1 (0,1), concordant ignored
    rows = [(1, 0)] * 3 + [(0, 1)] * 1 + [(1, 1)] * 4 + [(0, 0)] * 2
    df = small_local_df(spark, rows, "x int, y int")
    r = mcnemar_test(df, "x", "y").first()
    assert (r["n_pairs"], r["b"], r["c"]) == (10, 3, 1)
    assert r["chi2"] == (abs(3 - 1) - 1) ** 2 / 4  # = 0.25


def test_mcnemar_no_discordant_is_null(spark):
    from pandrs_spark.operators.hypothesis import mcnemar_test

    df = small_local_df(spark, [(1, 1), (0, 0)], "x int, y int")
    assert mcnemar_test(df, "x", "y").first()["chi2"] is None


def test_cohens_kappa_perfect_and_chance(spark):
    from pandrs_spark.operators.hypothesis import cohens_kappa

    # perfect agreement -> kappa = 1
    df = small_local_df(spark, [(1, 1)] * 3 + [(0, 0)] * 3, "a int, b int")
    assert cohens_kappa(df, "a", "b").first()["kappa"] == 1.0
    # independent raters with balanced marginals -> kappa = 0
    rows = [(1, 1), (1, 0), (0, 1), (0, 0)]
    r = cohens_kappa(small_local_df(spark, rows, "a int, b int"), "a", "b").first()
    assert r["kappa"] == 0.0
    # constant raters -> pe=1 -> NULL
    const = small_local_df(spark, [(1, 1)] * 4, "a int, b int")
    assert cohens_kappa(const, "a", "b").first()["kappa"] is None


def test_cochran_armitage_direction(spark):
    from pandrs_spark.operators.hypothesis import cochran_armitage_trend

    # rate rises with score -> positive z; scipy-checkable formula
    rows = (
        [(1, 0)] * 9 + [(1, 1)] * 1
        + [(2, 0)] * 5 + [(2, 1)] * 5
        + [(3, 0)] * 1 + [(3, 1)] * 9
    )
    df = small_local_df(spark, rows, "t int, e int")
    r = cochran_armitage_trend(df, "e", "t").first()
    assert r["n"] == 30 and r["k"] == 3
    assert r["z_trend"] > 3.0
    # constant score -> variance 0 -> NULL
    const = small_local_df(spark, [(1, 0), (1, 1)], "t int, e int")
    assert cochran_armitage_trend(const, "e", "t").first()["z_trend"] is None


def test_mood_median_balanced_groups(spark):
    from pandrs_spark.operators.hypothesis import mood_median_test

    # two groups straddling the pooled median identically -> chi2 = 0
    rows = [("a", 1.0), ("a", 10.0), ("b", 2.0), ("b", 9.0)]
    df = small_local_df(spark, rows, "g string, v double")
    out = mood_median_test(df, "v", "g").collect()
    assert all(abs(r["chi2"]) < 1e-12 for r in out)


def test_cvm_identical_samples_zero(spark):
    from pandrs_spark.operators.hypothesis import cramer_von_mises_2samp

    rows = [("a", float(v)) for v in range(10)] + [
        ("b", float(v)) for v in range(10)
    ]
    df = small_local_df(spark, rows, "g string, v double")
    r = cramer_von_mises_2samp(df, "v", "g", "a", "b").first()
    assert r["cvm"] == 0.0
    # disjoint samples -> large cvm
    rows2 = [("a", float(v)) for v in range(10)] + [
        ("b", float(v + 100)) for v in range(10)
    ]
    r2 = cramer_von_mises_2samp(
        small_local_df(spark, rows2, "g string, v double"), "v", "g", "a", "b"
    ).first()
    assert r2["cvm"] > 1.0


def test_brunner_munzel_matches_pure_python(spark):
    """Pin the BM statistic against an independent rank-based Python
    implementation (scipy.stats.brunnermunzel statistic form) on data
    with ties and unequal spreads."""
    from pandrs_spark.operators.hypothesis import brunner_munzel

    xs = [1.0, 2.0, 2.0, 3.0, 5.0, 9.0]          # group a
    ys = [2.0, 4.0, 4.0, 4.0, 6.0, 7.0, 8.0]     # group b
    rows = [("a", v) for v in xs] + [("b", v) for v in ys]
    df = small_local_df(spark, rows, "g string, v double")
    r = brunner_munzel(df, "v", "g", "a", "b").first()

    # independent computation: pooled + within-group midranks
    def midranks(vals, pool):
        s = sorted(pool)
        out = []
        for v in vals:
            lo = sum(1 for u in s if u < v)
            eq = sum(1 for u in s if u == v)
            out.append(lo + (eq + 1) / 2.0)
        return out

    n1, n2 = len(xs), len(ys)
    rp1 = midranks(xs, xs + ys)
    rp2 = midranks(ys, xs + ys)
    rw1 = midranks(xs, xs)
    rw2 = midranks(ys, ys)
    rb1 = sum(rp1) / n1
    rb2 = sum(rp2) / n2
    s1 = sum((rp - rw - rb1 + (n1 + 1) / 2) ** 2 for rp, rw in zip(rp1, rw1)) / (n1 - 1)
    s2 = sum((rp - rw - rb2 + (n2 + 1) / 2) ** 2 for rp, rw in zip(rp2, rw2)) / (n2 - 1)
    w = n1 * n2 * (rb2 - rb1) / ((n1 + n2) * (n1 * s1 + n2 * s2) ** 0.5)
    p_hat = (rb2 - (n2 + 1) / 2) / n1

    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["p_hat"] == pytest.approx(p_hat, abs=1e-9)
    assert r["w_stat"] == pytest.approx(w, abs=1e-6)


def test_mood_median_degenerate_ties_null_chi2(spark):
    """Heavy ties putting every value at/below the pooled median make
    the expected above-cell 0 — chi2 must be NULL (degenerate-table
    convention shared with logrank/mcnemar), never an understated sum."""
    from pandrs_spark.operators.hypothesis import mood_median_test

    rows = [("a", 5.0)] * 3 + [("b", 5.0)] * 3
    df = small_local_df(spark, rows, "g string, v double")
    out = mood_median_test(df, "v", "g").collect()
    assert all(r["chi2"] is None for r in out)


def test_lmdi_limit_branch_offsetting_factors(spark):
    """When total CVR is unchanged but factors moved in offsetting
    directions, each factor reports its log-mean-limit share
    CVR_A * ln(rate_B/rate_A) (NOT zero) and the shares cancel."""
    import math

    from pyspark.sql import functions as F

    from pandrs_spark.operators.hypothesis import lmdi_contribution

    # rate1: 0.5 -> 0.8, rate2: 0.4 -> 0.25; CVR = rate1*rate2 = 0.2 both
    rows = [("f1", 0.5, 0.8, 0.2, 0.2), ("f2", 0.4, 0.25, 0.2, 0.2)]
    df = small_local_df(
        spark, rows, "f string, rate_a double, rate_b double, cvra double, cvrb double"
    )
    out = {
        r["f"]: r["c"]
        for r in df.select(
            "f",
            lmdi_contribution("rate_a", "rate_b", "cvra", "cvrb").alias("c"),
        ).collect()
    }
    assert abs(out["f1"] - 0.2 * math.log(0.8 / 0.5)) < 1e-12
    assert abs(out["f2"] - 0.2 * math.log(0.25 / 0.4)) < 1e-12
    assert abs(out["f1"] + out["f2"]) < 1e-12  # shares cancel exactly


def _ab_brute(xs, ys):
    """Brute-force Ansari-Bradley with midrank scores, normalized by N."""
    pooled = sorted([(v, 0) for v in xs] + [(v, 1) for v in ys])
    n = len(pooled)
    scores = [min(r, n + 1 - r) for r in range(1, n + 1)]
    # average scores over tied blocks
    avg = [0.0] * n
    i = 0
    while i < n:
        j = i
        while j < n and pooled[j][0] == pooled[i][0]:
            j += 1
        block = sum(scores[i:j]) / (j - i)
        for k in range(i, j):
            avg[k] = block
        i = j
    t1 = sum(s for (v, g), s in zip(pooled, avg) if g == 0)
    ssum = sum(avg)
    ss2 = sum(s * s for s in avg)
    n1, n2 = len(xs), len(ys)
    e = n1 * ssum / n
    var = n1 * n2 * (n * ss2 - ssum * ssum) / (n * n * (n - 1))
    return t1 / n, (t1 - e) / var**0.5


def test_ansari_bradley_no_ties(spark):
    from pandrs_spark.operators.hypothesis import ansari_bradley_test

    xs = [1.0, 4.0, 9.0, 16.0, 25.0]
    ys = [7.0, 8.0, 10.0, 11.0, 12.0, 13.0]
    df = _df(spark, [(v, "a") for v in xs] + [(v, "b") for v in ys])
    r = ansari_bradley_test(df, "value", "grp", "a", "b").first()
    t_norm, z = _ab_brute(xs, ys)
    assert (r["n1"], r["n2"]) == (5, 6)
    assert r["ab_t_norm"] == pytest.approx(t_norm, abs=1e-9)
    assert r["z"] == pytest.approx(z, abs=1e-9)


def test_ansari_bradley_with_ties(spark):
    from pandrs_spark.operators.hypothesis import ansari_bradley_test

    xs = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0]
    ys = [2.0, 2.0, 4.0, 5.0, 6.0]
    df = _df(spark, [(v, "a") for v in xs] + [(v, "b") for v in ys])
    r = ansari_bradley_test(df, "value", "grp", "a", "b").first()
    t_norm, z = _ab_brute(xs, ys)
    assert r["ab_t_norm"] == pytest.approx(t_norm, abs=1e-9)
    assert r["z"] == pytest.approx(z, abs=1e-9)


def test_ansari_bradley_symmetric_null(spark):
    # identical samples → T1/N = n1 * mean-score/N and z == 0
    from pandrs_spark.operators.hypothesis import ansari_bradley_test

    vals = [1.0, 2.0, 3.0, 4.0]
    df = _df(spark, [(v, g) for g in ("a", "b") for v in vals])
    r = ansari_bradley_test(df, "value", "grp", "a", "b").first()
    assert r["z"] == pytest.approx(0.0, abs=1e-9)


def _cucconi_brute(xs, ys):
    """Brute-force Cucconi with midranks (Marozzi 2009 formulas)."""
    pooled = sorted([(v, 0) for v in xs] + [(v, 1) for v in ys])
    n = len(pooled)
    ranks = [0.0] * n
    i = 0
    while i < n:
        j = i
        while j < n and pooled[j][0] == pooled[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0
        for k in range(i, j):
            ranks[k] = mid
        i = j
    n1 = len(xs)
    n2 = len(ys)
    sr2 = sum(r * r for (v, g), r in zip(pooled, ranks) if g == 1)
    ss2 = sum((n + 1 - r) ** 2 for (v, g), r in zip(pooled, ranks) if g == 1)
    den = (n1 * n2 * (n + 1) * (2 * n + 1) * (8 * n + 11) / 5.0) ** 0.5
    u = (6 * sr2 - n2 * (n + 1) * (2 * n + 1)) / den
    v = (6 * ss2 - n2 * (n + 1) * (2 * n + 1)) / den
    rho = 2.0 * (n * n - 4) / ((2 * n + 1) * (8 * n + 11)) - 1
    c = (u * u + v * v - 2 * rho * u * v) / (2 * (1 - rho * rho))
    return u, v, c


def test_cucconi_no_ties(spark):
    from pandrs_spark.operators.hypothesis import cucconi_test

    xs = [1.0, 3.0, 5.0, 7.0, 9.0, 11.0]
    ys = [2.0, 4.0, 6.0, 8.0, 10.0]
    df = _df(spark, [(v, "a") for v in xs] + [(v, "b") for v in ys])
    r = cucconi_test(df, "value", "grp", "a", "b").first()
    u, v, c = _cucconi_brute(xs, ys)
    assert (r["n1"], r["n2"]) == (6, 5)
    assert r["u"] == pytest.approx(u, abs=1e-9)
    assert r["v"] == pytest.approx(v, abs=1e-9)
    assert r["c"] == pytest.approx(c, abs=1e-9)


def test_cucconi_with_ties(spark):
    from pandrs_spark.operators.hypothesis import cucconi_test

    xs = [1.0, 2.0, 2.0, 4.0, 6.0]
    ys = [2.0, 3.0, 4.0, 4.0, 8.0, 8.0]
    df = _df(spark, [(v, "a") for v in xs] + [(v, "b") for v in ys])
    r = cucconi_test(df, "value", "grp", "a", "b").first()
    u, v, c = _cucconi_brute(xs, ys)
    assert r["u"] == pytest.approx(u, abs=1e-9)
    assert r["v"] == pytest.approx(v, abs=1e-9)
    assert r["c"] == pytest.approx(c, abs=1e-9)
