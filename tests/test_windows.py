"""Window operator tests — mirrors reference tests/window_test.rs
(rolling/expanding/ewm with NA, min_periods, edge cases) with pandas as
the semantics oracle for EWM and rank methods."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandrs_spark.operators.windows import (
    diff,
    ewm_mean,
    expanding,
    ordered_window,
    pct_change,
    rank_method,
    rolling,
    shift,
)
from pandrs_spark.operators.util import small_local_df


@pytest.fixture(scope="module")
def series_df(spark):
    data = [
        ("g1", 1, 1.0), ("g1", 2, None), ("g1", 3, 3.0), ("g1", 4, 4.0), ("g1", 5, 5.0),
        ("g2", 1, 10.0), ("g2", 2, 20.0),
    ]
    return small_local_df(spark, data, "grp string, i long, v double")


def _by_key(df, *cols):
    return {(r.grp, r.i): tuple(getattr(r, c) for c in cols) for r in df.collect()}


def test_rolling_mean_skips_nulls(series_df):
    w = ordered_window("i", "grp")
    out = series_df.withColumn("r", rolling("v", 3, w, "avg", min_periods=1))
    got = _by_key(out, "r")
    assert got[("g1", 2)][0] == 1.0          # only the non-null 1.0
    assert got[("g1", 4)][0] == 3.5          # (3+4)/2, null skipped
    assert got[("g1", 5)][0] == 4.0          # (3+4+5)/3


def test_rolling_min_periods_null_until_reached(series_df):
    w = ordered_window("i", "grp")
    out = series_df.withColumn("r", rolling("v", 3, w, "sum", min_periods=3))
    got = _by_key(out, "r")
    assert got[("g1", 2)][0] is None
    assert got[("g1", 5)][0] == 12.0


def test_rolling_window_larger_than_group(series_df):
    w = ordered_window("i", "grp")
    out = series_df.withColumn("r", rolling("v", 10, w, "sum", min_periods=1))
    assert _by_key(out, "r")[("g2", 2)][0] == 30.0


def test_expanding(series_df):
    w = ordered_window("i", "grp")
    out = series_df.withColumn("e", expanding("v", w, "max"))
    got = _by_key(out, "e")
    assert got[("g1", 5)][0] == 5.0
    assert got[("g2", 1)][0] == 10.0


def test_shift_diff_pct_change(series_df):
    w = ordered_window("i", "grp")
    out = series_df.select(
        "grp", "i",
        shift("v", 1, w).alias("s"),
        diff("v", w).alias("d"),
        pct_change("v", w).alias("p"),
    )
    got = {(r.grp, r.i): (r.s, r.d, r.p) for r in out.collect()}
    assert got[("g1", 1)] == (None, None, None)
    assert got[("g2", 2)] == (10.0, 10.0, 1.0)
    # diff over a null predecessor propagates null (pandas semantics)
    assert got[("g1", 3)] == (None, None, None)


def test_shift_negative_is_lead(series_df):
    w = ordered_window("i", "grp")
    out = series_df.withColumn("s", shift("v", -1, w))
    assert _by_key(out, "s")[("g1", 4)][0] == 5.0


@pytest.mark.parametrize("method", ["average", "min", "max", "first", "dense"])
def test_rank_methods_match_pandas(spark, method):
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    pdf = pd.DataFrame({"i": range(len(vals)), "v": vals})
    expected = pdf["v"].rank(method=method).tolist()
    df = spark.createDataFrame(pdf)
    out = (
        df.withColumn("r", rank_method("v", None, method, tiebreak=["i"]))
        .orderBy("i")
        .collect()
    )
    got = [float(r.r) for r in out]
    assert got == [float(e) for e in expected]


@pytest.mark.parametrize("adjust", [True, False])
def test_ewm_mean_matches_pandas(spark, adjust):
    vals = [1.0, 2.0, None, 4.0, 8.0, 3.0]
    pdf = pd.DataFrame({"grp": ["a"] * len(vals), "i": range(len(vals)), "v": vals})
    expected = pdf["v"].ewm(alpha=0.5, adjust=adjust).mean().tolist()
    df = spark.createDataFrame(pdf)
    out = ewm_mean(df, "v", ["i"], ["grp"], alpha=0.5, adjust=adjust)
    got = [r.ewm for r in out.orderBy("i").collect()]
    for g, e in zip(got, expected):
        if e is None or (isinstance(e, float) and math.isnan(e)):
            assert g is None or math.isnan(g)
        else:
            assert abs(g - e) < 1e-12


# --- rolling center/closed options (§2.5a WindowClosed parity) --------------
def test_rolling_center_matches_pandas(spark):
    import pandas as pd
    from pandrs_spark.operators.windows import ordered_window, rolling

    vals = [1.0, 2.0, 4.0, 8.0, 16.0, 32.0]
    df = small_local_df(spark, [(i, v) for i, v in enumerate(vals)], "i bigint, v double")
    for n in (3, 4):
        w = ordered_window("i")
        got = [
            r["m"]
            for r in df.select(
                "i", rolling("v", n, w, "mean", center=True).alias("m")
            ).orderBy("i").collect()
        ]
        exp = pd.Series(vals).rolling(n, center=True).mean().tolist()
        for g, e in zip(got, exp):
            if e != e:  # NaN
                assert g is None
            else:
                assert g == pytest.approx(e)


def test_rolling_closed_left(spark):
    from pandrs_spark.operators.windows import ordered_window, rolling

    df = small_local_df(spark, [(i, float(i)) for i in range(5)], "i bigint, v double")
    w = ordered_window("i")
    got = {
        r["i"]: r["s"]
        for r in df.select(
            "i", rolling("v", 2, w, "sum", min_periods=1, closed="left").alias("s")
        ).collect()
    }
    # closed='left': frame excludes current row -> sum of previous 2 values
    assert got[0] is None
    assert got[2] == 1.0  # rows 0,1
    assert got[4] == 5.0  # rows 2,3


def test_ewm_std_var_match_pandas(spark):
    import pandas as pd
    from pandrs_spark.operators.windows import ewm_stat

    vals = [2.0, 4.0, 3.0, 9.0, 1.0]
    df = small_local_df(spark, [(i, v) for i, v in enumerate(vals)], "i bigint, v double")
    for stat, ref in (
        ("var", pd.Series(vals).ewm(alpha=0.4).var()),
        ("std", pd.Series(vals).ewm(alpha=0.4).std()),
    ):
        out = (
            ewm_stat(df, "v", ["i"], [], alpha=0.4, stat=stat)
            .orderBy("i")
            .collect()
        )
        for r, e in zip(out, ref.tolist()):
            if e != e:
                assert r["ewm"] is None or r["ewm"] != r["ewm"]
            else:
                assert r["ewm"] == pytest.approx(e, abs=1e-12)


def test_ewm_ignore_na_parity(spark):
    import pandas as pd

    from pandrs_spark.operators.windows import ewm_mean

    rows = [("g", i, v) for i, v in enumerate([1.0, None, 3.0, None, 5.0, 2.0])]
    df = small_local_df(spark, rows, "g string, i int, v double")
    for ignore_na in (False, True):
        got = {
            r["i"]: r["ewm"]
            for r in ewm_mean(
                df, "v", ["i"], ["g"], alpha=0.5, ignore_na=ignore_na
            ).collect()
        }
        exp = (
            pd.Series([1.0, None, 3.0, None, 5.0, 2.0])
            .ewm(alpha=0.5, ignore_na=ignore_na)
            .mean()
        )
        for i, e in exp.items():
            assert got[i] == pytest.approx(e, rel=1e-12), (ignore_na, i)
    # the two policies genuinely differ on this input
    a = ewm_mean(df, "v", ["i"], ["g"], alpha=0.5, ignore_na=False).collect()
    b = ewm_mean(df, "v", ["i"], ["g"], alpha=0.5, ignore_na=True).collect()
    assert {r["i"]: r["ewm"] for r in a} != {r["i"]: r["ewm"] for r in b}


def test_cumprod_cummax_cummin(spark):
    from pyspark.sql import Window

    from pandrs_spark.operators.windows import cummax, cummin, cumprod

    df = small_local_df(
        spark, [(1, 2.0), (2, -3.0), (3, 0.5), (4, 0.0), (5, 4.0)], "t int, v double"
    )
    w = Window.orderBy("t")
    out = df.select(
        "t",
        cumprod("v", w).alias("cp"),
        cummax("v", w).alias("cx"),
        cummin("v", w).alias("cn"),
    ).orderBy("t").collect()
    assert [r["cp"] for r in out] == [2.0, -6.0, -3.0, 0.0, 0.0]
    assert [r["cx"] for r in out] == [2.0, 2.0, 2.0, 2.0, 4.0]
    assert [r["cn"] for r in out] == [2.0, -3.0, -3.0, -3.0, -3.0]


def test_global_prefix_sum_matches_serial(spark):
    from pandrs_spark.operators.windows import global_prefix_sum
    from pandrs_spark.frame import release_persisted

    import pyspark.sql.functions as F

    rows = [(i, float((i * 37) % 100) - 50.0) for i in range(500)]
    df = small_local_df(spark, rows, "id long, v double").repartition(7)
    out = global_prefix_sum(df, [F.asc("id")], "v", "rt").orderBy("id").collect()
    acc = 0.0
    for r in out:
        acc += r["v"]
        assert abs(r["rt"] - acc) < 1e-6, (r["id"], r["rt"], acc)
    release_persisted()


def test_global_prefix_sum_no_single_partition_exchange(spark):
    from pandrs_spark.operators.windows import global_prefix_sum
    from pandrs_spark.frame import release_persisted
    from pandrs_spark import plans

    import pyspark.sql.functions as F

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 13).cast("double").alias("v")
    )
    out = global_prefix_sum(df, [F.asc("id")], "v", "rt")
    txt = plans.plan_text(out).lower()
    assert "singlepartition" not in txt
    release_persisted()


def test_rolling_corr_matches_pandas(spark):
    import pandas as pd

    from pandrs_spark.operators.windows import rolling_corr
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    rows = [(i, float(i % 7), float((i * 3) % 11)) for i in range(40)]
    df = small_local_df(spark, rows, "id long, x double, y double")
    w = Window.partitionBy().orderBy("id")
    got = (
        df.select("id", rolling_corr("x", "y", 5, w).alias("rc"))
        .orderBy("id")
        .collect()
    )
    pdf = pd.DataFrame(rows, columns=["id", "x", "y"]).sort_values("id")
    want = pdf["x"].rolling(5).corr(pdf["y"]).tolist()
    for r, expect in zip(got, want):
        if expect != expect:  # NaN
            assert r["rc"] is None
        else:
            assert abs(r["rc"] - expect) < 1e-4, (r["id"], r["rc"], expect)


def test_rolling_corr_one_sided_nulls_matches_pandas(spark):
    # ADVICE r4: a row where exactly ONE of x/y is null must be
    # dropped from ALL five sufficient statistics, not just n —
    # and NaN must never leak through the denom>0 guard.
    import math

    import pandas as pd

    from pandrs_spark.operators.windows import rolling_corr
    from pyspark.sql import Window

    rows = []
    for i in range(30):
        x = None if i % 5 == 2 else float(i % 7)
        y = None if i % 7 == 3 else float((i * 3) % 11)
        rows.append((i, x, y))
    df = small_local_df(spark, rows, "id long, x double, y double")
    w = Window.partitionBy().orderBy("id")
    got = (
        df.select(
            "id", rolling_corr("x", "y", 6, w, min_periods=3).alias("rc")
        )
        .orderBy("id")
        .collect()
    )
    pdf = pd.DataFrame(rows, columns=["id", "x", "y"]).sort_values("id")
    want = pdf["x"].rolling(6, min_periods=3).corr(pdf["y"]).tolist()
    for r, expect in zip(got, want):
        assert r["rc"] is None or not math.isnan(r["rc"])  # no NaN leak
        if expect != expect:  # NaN in pandas -> null here
            assert r["rc"] is None, (r["id"], r["rc"])
        else:
            assert r["rc"] is not None and abs(r["rc"] - expect) < 1e-4, (
                r["id"],
                r["rc"],
                expect,
            )


def test_ntile_from_rank_exact_beyond_double_range(spark):
    """ADVICE r5: the old double-division truncation was exact only
    within 2^53; boundary ranks at extreme row counts could land in the
    adjacent bucket. The long/decimal arithmetic must match exact
    Python-int NTILE at any magnitude."""
    from pandrs_spark.operators.windows import ntile_from_rank
    from pyspark.sql import functions as F

    def py_ntile(rn, n, k):
        base, rem = divmod(n, k)
        big = rem * (base + 1)
        if base == 0:
            return rn
        if rn <= big:
            return (rn - 1) // (base + 1) + 1
        return rem + (rn - big - 1) // base + 1

    n, k = (1 << 60) + 7, 7  # far beyond double's 2^53 integer range
    base, rem = divmod(n, k)
    big = rem * (base + 1)
    # every bucket boundary (last of bucket b, first of bucket b+1)
    probes = [1, n]
    for b in range(1, k):
        edge = b * (base + 1) if b <= rem else big + (b - rem) * base
        probes += [edge, edge + 1]
    df = small_local_df(spark, [(r,) for r in probes], "rn long")
    out = {
        r["rn"]: r["b"]
        for r in df.select(
            "rn", ntile_from_rank(F.col("rn"), n, k).alias("b")
        ).collect()
    }
    for rn in probes:
        assert out[rn] == py_ntile(rn, n, k), (rn, out[rn], py_ntile(rn, n, k))
    # small-n parity against real NTILE
    small = spark.range(1, 11).withColumnRenamed("id", "rn")
    from pyspark.sql import Window

    got = {
        r["rn"]: (r["mine"], r["ref"])
        for r in small.select(
            "rn",
            ntile_from_rank(F.col("rn"), 10, 3).alias("mine"),
            F.ntile(3).over(Window.orderBy("rn")).alias("ref"),
        ).collect()
    }
    assert all(m == ref for m, ref in got.values()), got


def test_global_prefix_max_matches_window_cummax(spark):
    """global_prefix_max == max().over(Window.orderBy(...)) under any
    partitioning, including leading NULLs and multi-partition inputs."""
    import random

    from pyspark.sql import functions as F

    from pandrs_spark.frame import release_persisted
    from pandrs_spark.operators.windows import global_prefix_max

    rows = [(i, None if i < 3 else (i * 37) % 50) for i in range(200)]
    df = small_local_df(spark, rows, "k int, v int").repartition(7)
    got = {
        r["k"]: r["cm"]
        for r in global_prefix_max(df, [F.col("k")], "v", "cm").collect()
    }
    expect = {}
    run = None
    for k, v in rows:
        if v is not None:
            run = v if run is None or v > run else run
        expect[k] = run
    assert got == expect
    release_persisted()
