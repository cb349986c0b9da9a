"""Log-rank test and Wasserstein-1 against hand-computed references."""

import pytest

from pandrs_spark.operators.timeseries import logrank_test
from pandrs_spark.operators.util import small_local_df


def test_logrank_identical_groups_is_null(spark):
    # perfectly balanced duplicate arms: O1 == E1, chi2 ~ 0
    rows = []
    for t, ev in [(1, 1), (2, 1), (3, 0), (5, 1), (8, 0)]:
        rows.append((t, ev, 1))
        rows.append((t, ev, 0))
    df = small_local_df(spark, rows, "t int, ev int, grp int")
    r = logrank_test(df, "t", "ev", "grp").collect()[0]
    assert r["o1"] == 3
    assert r["e1"] == pytest.approx(3.0, abs=1e-9)
    assert r["chi2"] == pytest.approx(0.0, abs=1e-9)


def test_logrank_hand_computed(spark):
    # group 1: events at t=1,2 ; group 0: events at t=3,4 (no censoring)
    rows = [(1, 1, 1), (2, 1, 1), (3, 1, 0), (4, 1, 0)]
    df = small_local_df(spark, rows, "t int, ev int, grp int")
    r = logrank_test(df, "t", "ev", "grp").collect()[0]
    # risk sets: t=1 (n1=2,n0=2): E+=0.5, V+=0.25
    #            t=2 (n1=1,n0=2): E+=1/3, V+=2/9
    #            t=3 (n1=0,n0=2): E+=0,   V+=0
    #            t=4 (n1=0,n0=1): E+=0,   V+=0
    assert r["o1"] == 2
    assert r["e1"] == pytest.approx(0.5 + 1 / 3, abs=1e-9)
    assert r["v"] == pytest.approx(0.25 + 2 / 9, abs=1e-9)
    exp_chi2 = (2 - (0.5 + 1 / 3)) ** 2 / (0.25 + 2 / 9)
    assert r["chi2"] == pytest.approx(exp_chi2, abs=1e-6)


def test_wasserstein_matches_scipy_formula(spark):
    # W1 between two small samples — closed form via sorted pooling
    import numpy as np

    a = [1.0, 2.0, 3.0, 7.0]
    b = [2.0, 4.0, 6.0, 8.0]

    def w1_ref(xs, ys):
        allv = sorted(set(xs) | set(ys))
        tot = 0.0
        for v, vn in zip(allv, allv[1:]):
            fa = sum(1 for x in xs if x <= v) / len(xs)
            fb = sum(1 for y in ys if y <= v) / len(ys)
            tot += abs(fa - fb) * (vn - v)
        return tot

    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.windows import global_prefix_counts
    from pyspark.sql import functions as F

    rows = [(v, 1, 0) for v in a] + [(v, 0, 1) for v in b]
    sub = small_local_df(spark, rows, "v double, a int, b int")
    hist = sub.groupBy("v").agg(
        F.sum("a").cast("long").alias("ca"), F.sum("b").cast("long").alias("cb")
    ).withColumn("__one__", F.lit(1))
    cum = global_prefix_counts(
        hist, [F.col("v")], {"cum_a": "ca", "cum_b": "cb", "rn": "__one__"}
    )
    nxt = cum.select((F.col("rn") - 1).alias("rn"), F.col("v").alias("v_next"))
    pairs = cum.join(nxt, "rn")
    term = (
        F.abs(F.col("cum_a").cast("double") / 4 - F.col("cum_b").cast("double") / 4)
        * (F.col("v_next") - F.col("v"))
    )
    got = pairs.agg((F.sum(quantize(term, 9)).cast("double") / 1e9).alias("s")).collect()[0]["s"]
    assert got == pytest.approx(w1_ref(a, b), abs=1e-8)


def test_logrank_degenerate_risk_sets_null_chi2(spark):
    # one arm empty: v = 0, chi2 must be NULL by contract (ADVICE r6),
    # never Infinity/NaN from a raw divide.
    from pandrs_spark.operators.timeseries import logrank_test

    df = small_local_df(
        spark, [(5.0, 1, 1), (7.0, 1, 1), (9.0, 0, 1)],
        "duration double, event int, grp int",
    )
    row = logrank_test(df, "duration", "event", "grp").first()
    assert row["v"] == 0.0
    assert row["chi2"] is None
