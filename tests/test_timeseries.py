"""Time-series operator tests — resample/date_range/gap-filling
(reference: tests/temporal_test.rs, src/time_series/core.rs)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from pandrs_spark.operators.timeseries import (
    bfill,
    date_range,
    ffill,
    interpolate_linear_cols,
    resample,
)
from pandrs_spark.operators.util import small_local_df


def test_date_range_daily(spark):
    out = date_range(spark, "2024-01-01 00:00:00", "2024-01-05 00:00:00").collect()
    assert len(out) == 5
    assert out[0].ts == dt.datetime(2024, 1, 1)
    assert out[-1].ts == dt.datetime(2024, 1, 5)


def test_date_range_hourly(spark):
    out = date_range(spark, "2024-01-01 00:00:00", "2024-01-01 06:00:00", "1 hour")
    assert out.count() == 7


def test_resample_daily_sum(spark):
    df = small_local_df(
        spark,
        [
            (dt.datetime(2024, 1, 1, 3), 1.0),
            (dt.datetime(2024, 1, 1, 15), 2.0),
            (dt.datetime(2024, 1, 2, 1), 10.0),
        ],
        "ts timestamp, v double",
    )
    out = resample(df, "ts", "day", [F.sum("v").alias("s")]).orderBy("bucket").collect()
    assert [(r.bucket.day, r.s) for r in out] == [(1, 3.0), (2, 10.0)]


def _gappy(spark):
    rows = [
        (1, None), (2, 10.0), (3, None), (4, None), (5, 40.0), (6, None),
    ]
    return small_local_df(spark, rows, "i long, v double")


def test_ffill_bfill(spark):
    w = Window.orderBy("i")
    out = _gappy(spark).select(
        "i", ffill("v", w).alias("f"), bfill("v", w).alias("b")
    ).orderBy("i").collect()
    assert [r.f for r in out] == [None, 10.0, 10.0, 10.0, 40.0, 40.0]
    assert [r.b for r in out] == [10.0, 10.0, 40.0, 40.0, 40.0, None]


def test_interpolate_linear(spark):
    w = Window.orderBy("i")
    out = (
        _gappy(spark)
        .select("i", interpolate_linear_cols("v", F.col("i"), w).alias("x"))
        .orderBy("i")
        .collect()
    )
    # leading null -> bfill(10); interior 3,4 -> 20, 30; trailing -> ffill(40)
    assert [r.x for r in out] == [10.0, 10.0, 20.0, 30.0, 40.0, 40.0]


# --- decomposition / forecasting (§2.11) ------------------------------------
def test_seasonal_decompose_reconstructs(spark):
    from pandrs_spark.operators.timeseries import seasonal_decompose_additive
    import datetime

    base = datetime.datetime(2024, 1, 1)
    # value = 10*phase + linear trend: clean weekly seasonality
    rows = [
        (base + datetime.timedelta(days=i), float(10 * (i % 7) + i))
        for i in range(28)
    ]
    df = small_local_df(spark, rows, "ts timestamp, v double")
    dec = seasonal_decompose_additive(df, "ts", "v", period=7).orderBy("ts").collect()
    mid = [r for r in dec if r["trend"] is not None]
    assert len(mid) == 28 - 6  # centered window drops 3 rows each end
    for r in mid:
        assert r["v"] == pytest.approx(r["trend"] + r["seasonal"] + r["resid"], abs=1e-6)
    # seasonal should be (close to) identical across weeks for same phase
    by_phase = {}
    for r in mid:
        by_phase.setdefault(r["phase"], set()).add(round(r["seasonal"], 6))
    assert all(len(v) == 1 for v in by_phase.values())


def test_ses_matches_pandas(spark):
    import pandas as pd
    from pandrs_spark.operators.timeseries import ses_fitted

    vals = [3.0, 5.0, 4.0, 8.0, 6.0, 7.0]
    df = small_local_df(
        spark, [(i, v) for i, v in enumerate(vals)], "i bigint, v double"
    )
    out = (
        ses_fitted(df, "v", order_by=["i"], partition_by=[], alpha=0.4)
        .orderBy("i")
        .collect()
    )
    ref = pd.Series(vals).ewm(alpha=0.4, adjust=False).mean().tolist()
    for r, e in zip(out, ref):
        assert r["ses"] == pytest.approx(e, abs=1e-12)


def test_holt_forecast_hand_recursion(spark):
    from pandrs_spark.operators.timeseries import holt_forecast

    vals = [10.0, 12.0, 13.0, 17.0]
    alpha, beta = 0.5, 0.3
    level, trend = vals[0], vals[1] - vals[0]
    expect = [level + trend]
    for t in range(1, len(vals)):
        prev = level
        level = alpha * vals[t] + (1 - alpha) * (level + trend)
        trend = beta * (level - prev) + (1 - beta) * trend
        expect.append(level + trend)
    df = small_local_df(
        spark, [(i, v) for i, v in enumerate(vals)], "i bigint, v double"
    )
    out = (
        holt_forecast(df, "v", order_by=["i"], partition_by=[], alpha=alpha, beta=beta)
        .orderBy("i")
        .collect()
    )
    for r, e in zip(out, expect):
        assert r["holt_fc"] == pytest.approx(e, abs=1e-12)


def test_holt_per_group_independent(spark):
    from pandrs_spark.operators.timeseries import holt_forecast

    df = small_local_df(
        spark, [("a", 0, 1.0), ("a", 1, 2.0), ("a", 2, 3.0), ("b", 0, 10.0), ("b", 1, 8.0), ("b", 2, 6.0)],
        "g string, i bigint, v double",
    )
    out = holt_forecast(df, "v", order_by=["i"], partition_by=["g"], alpha=0.5, beta=0.5)
    rows = {(r["g"], r["i"]): r["holt_fc"] for r in out.collect()}
    # linear series forecast exactly continues the line
    assert rows[("a", 2)] == pytest.approx(4.0, abs=1e-9)
    assert rows[("b", 2)] == pytest.approx(4.0, abs=1e-9)


def test_holt_winters_hand_recursion(spark):
    from pandrs_spark.operators.timeseries import holt_winters_forecast

    period, alpha, beta, gamma, h = 3, 0.3, 0.1, 0.2, 1
    vals = [10.0, 14.0, 9.0, 12.0, 16.0, 11.0, 13.0, 18.0, 12.0, 15.0]
    level = sum(vals[:period]) / period
    trend = (sum(vals[period : 2 * period]) / period - level) / period
    season = [v - level for v in vals[:period]]
    expect = []
    for t, x in enumerate(vals):
        s = t % period
        if t >= period:
            prev = level
            level = alpha * (x - season[s]) + (1 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1 - beta) * trend
            season[s] = gamma * (x - level) + (1 - gamma) * season[s]
        expect.append(level + h * trend + season[(t + h) % period])
    df = small_local_df(
        spark, [(i, v) for i, v in enumerate(vals)], "i bigint, v double"
    )
    out = (
        holt_winters_forecast(
            df, "v", order_by=["i"], partition_by=[],
            alpha=alpha, beta=beta, gamma=gamma, period=period, horizon=h,
        )
        .orderBy("i")
        .collect()
    )
    for r, e in zip(out, expect):
        assert r["hw_fc"] == pytest.approx(e, abs=1e-12)


def test_holt_winters_short_series_is_nan(spark):
    from pandrs_spark.operators.timeseries import holt_winters_forecast

    df = small_local_df(
        spark, [(i, float(i)) for i in range(5)], "i bigint, v double"
    )
    out = holt_winters_forecast(
        df, "v", order_by=["i"], partition_by=[],
        alpha=0.5, beta=0.5, gamma=0.5, period=3,
    ).collect()
    # n < 2*period ⇒ no forecast: null (or NaN, depending on Arrow path)
    assert all(r["hw_fc"] is None or r["hw_fc"] != r["hw_fc"] for r in out)


def test_multiplicative_decompose_reconstructs(spark):
    from pandrs_spark.operators.timeseries import seasonal_decompose_multiplicative

    # value = trend(linear) * season(period 4); resid should be ~1 and
    # value == trend * seasonal * resid wherever trend is defined
    period = 4
    season = [1.2, 0.8, 1.1, 0.9]
    vals = [(i, (10.0 + i) * season[i % period]) for i in range(24)]
    df = small_local_df(spark, vals, "i bigint, v double")
    out = seasonal_decompose_multiplicative(df, "i", "v", period=period).collect()
    for r in out:
        if r["trend"] is not None:
            assert r["v"] == pytest.approx(
                r["trend"] * r["seasonal"] * r["resid"], rel=1e-9
            )
            assert r["resid"] == pytest.approx(1.0, rel=0.05)


# -- periodogram + AR(2) fit (§2.11 seasonality / forecasting tier) -----------
def test_periodogram_detects_period(spark):
    import math

    from pandrs_spark.operators.timeseries import periodogram

    rows = [(t, 100.0 * math.cos(2 * math.pi * t / 8)) for t in range(32)]
    df = small_local_df(spark, rows, "t int, x double")
    p = {r["period"]: r["power"] for r in periodogram(df, "t", "x", [4, 8, 16]).collect()}
    assert p[8] > 100 * p[4]
    assert p[8] > 10 * p[16]
    assert p[8] == pytest.approx((100 * 16) ** 2 / 32, rel=1e-3)


def test_ar2_fit_matches_numpy(spark):
    import math

    import numpy as np

    from pandrs_spark.operators.timeseries import ar2_fit

    xs = [5000 + 1000 * math.sin(t / 2) + 50 * ((t * 37) % 11) for t in range(60)]
    df = small_local_df(
        spark, [(t, float(v)) for t, v in enumerate(xs)], "t int, x double"
    )
    out = ar2_fit(df, "t", "x").first()
    a = np.asarray(xs)
    y = a - a.mean()
    yy, y1, y2 = y[2:], y[1:-1], y[:-2]
    A = np.array([[y1 @ y1, y1 @ y2], [y1 @ y2, y2 @ y2]])
    b = np.array([yy @ y1, yy @ y2])
    phi = np.linalg.solve(A, b)
    assert out["n_obs"] == 58
    assert out["phi1"] == pytest.approx(phi[0], rel=1e-3)
    assert out["phi2"] == pytest.approx(phi[1], rel=1e-3)
    rss = yy @ yy - phi[0] * b[0] - phi[1] * b[1]
    assert out["rss"] == pytest.approx(rss, rel=1e-2)
    fc = a.mean() + phi[0] * y[-1] + phi[1] * y[-2]
    assert out["next_forecast"] == pytest.approx(fc, rel=1e-3)


def test_linear_trend_exact_line(spark):
    from pandrs_spark.operators.timeseries import linear_trend

    # y = 2t + 1 exactly: slope 2, intercept 1, r2 1, next = 2*4+1 = 9
    df = small_local_df(
        spark, [("2024-01-01", 1.0), ("2024-02-01", 3.0), ("2024-03-01", 5.0),
         ("2024-04-01", 7.0)],
        "ts string, y double",
    )
    r = linear_trend(df, "ts", "y").first()
    assert r["n"] == 4
    assert r["slope"] == pytest.approx(2.0)
    assert r["intercept"] == pytest.approx(1.0)
    assert r["r2"] == pytest.approx(1.0)
    assert r["forecast_next"] == pytest.approx(9.0)


def test_linear_trend_r2_partial(spark):
    from pandrs_spark.operators.timeseries import linear_trend

    # numpy lstsq on t=[0..3], y=[1,2,2,3]: slope .6, intercept .1... no:
    # slope = cov/var = (sum ty - n tbar ybar)/(sum tt - n tbar^2)
    # t=[0,1,2,3] y=[1,2,2,3]: sty=0+2+4+9=15, st=6, sy=8, stt=14, n=4
    # slope=(4*15-6*8)/(4*14-36)=12/20=0.6, intercept=(8-0.6*6)/4=1.1
    df = small_local_df(
        spark, [("a", 1.0), ("b", 2.0), ("c", 2.0), ("d", 3.0)], "ts string, y double"
    )
    r = linear_trend(df, "ts", "y").first()
    assert r["slope"] == pytest.approx(0.6)
    assert r["intercept"] == pytest.approx(1.1)
    # r2 = corr^2; syy=18, num=12^2=144, den=20*(4*18-64)=20*8=160
    assert r["r2"] == pytest.approx(0.9)


def test_moving_average_forecast(spark):
    from pandrs_spark.operators.timeseries import moving_average_forecast

    df = small_local_df(
        spark, [("2024-01-01", 10.0), ("2024-02-01", 20.0), ("2024-03-01", 30.0),
         ("2024-04-01", 40.0)],
        "ts string, y double",
    )
    r = moving_average_forecast(df, "ts", "y", 3).first()
    assert r["k_used"] == 3
    assert r["forecast"] == pytest.approx(30.0)  # mean of last 3


def test_split_mean_changepoint_step(spark):
    from pandrs_spark.operators.timeseries import split_mean_changepoints

    # step series: 10×1.0 then 10×5.0 — max score at the step boundary
    rows = [(f"2024-01-{d:02d}", 1.0 if d <= 10 else 5.0) for d in range(1, 21)]
    df = small_local_df(spark, rows, "ts string, y double")
    out = split_mean_changepoints(df, "ts", "y", prior_scale=0.01).collect()
    best = max(out, key=lambda r: r["score"])
    assert best["idx"] == 10  # split right at the jump
    assert best["score"] == pytest.approx(4.0)  # |1 - 5|
    assert best["is_change"] and best["significance"] == pytest.approx(40.0)
    # flat prefix split scores are strictly smaller
    assert all(r["score"] < 4.0 for r in out if r["idx"] != 10)


def test_ts_feature_matrix_values(spark):
    from pandrs_spark.operators.timeseries import ts_feature_matrix

    rows = [(1, i, float(v)) for i, v in enumerate([10, 20, 30, 40])]
    df = small_local_df(spark, rows, "sid int, t int, v double")
    out = {
        r["t"]: r
        for r in ts_feature_matrix(df, "sid", "t", "v", lags=(1,), window=3).collect()
    }
    assert out[0]["lag_1"] is None and out[1]["lag_1"] == 10.0
    assert out[3]["diff_1"] == 10.0
    assert out[1]["pct_change_1"] == 1.0
    assert out[3]["roll_n"] == 3 and out[3]["roll_mean"] == 30.0
    assert out[3]["roll_min"] == 20.0 and out[3]["roll_max"] == 40.0
    assert abs(out[3]["roll_std"] - 10.0) < 1e-9


def test_ts_feature_matrix_single_shuffle(spark):
    from pandrs_spark.operators.timeseries import ts_feature_matrix

    df = small_local_df(spark, [(1, 1, 1.0)], "sid int, t int, v double")
    plan = ts_feature_matrix(df, "sid", "t", "v")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1  # one partitioning serves every feature


def test_bocpd_detects_mean_shift(spark):
    from pandrs_spark.operators.timeseries import bocpd_changepoints
    import datetime

    base = datetime.datetime(2024, 1, 1)
    vals = [0.0, 0.1, -0.1, 0.05, -0.05] * 8 + [5.0, 5.1, 4.9, 5.05, 4.95] * 8
    rows = [
        (1, base + datetime.timedelta(days=i), float(v)) for i, v in enumerate(vals)
    ]
    df = small_local_df(spark, rows, "sid long, ts timestamp, v double")
    out = bocpd_changepoints(df, "sid", "ts", "v", hazard=0.02).collect()
    out.sort(key=lambda r: r["ts"])
    shift_idx = 40
    # before the shift the MAP run length tracks the actual run...
    assert out[shift_idx - 1]["map_run"] >= 30
    # ...and collapses right after the planted change
    assert out[shift_idx + 2]["map_run"] <= 4
    # then grows again in the new regime
    assert out[shift_idx + 10]["map_run"] >= 6


def test_bocpd_deterministic(spark):
    from pandrs_spark.operators.timeseries import bocpd_changepoints
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (s, base + datetime.timedelta(hours=i), float((i * 7 + s) % 5))
        for s in (1, 2)
        for i in range(30)
    ]
    df = small_local_df(spark, rows, "sid long, ts timestamp, v double")
    a = sorted(bocpd_changepoints(df.repartition(1), "sid", "ts", "v").collect())
    b = sorted(bocpd_changepoints(df.repartition(13), "sid", "ts", "v").collect())
    assert a == b


def test_arima_pdq_matches_reference_recursion(spark):
    """arima_forecast reproduces the reference's simplified ARIMA
    (forecasting.rs:788): fixed coefficients, guarded innovations
    recursion, d-fold differencing + integration — checked against a
    direct Python transcription for (p,d,q)=(2,1,2), per series."""
    import datetime

    from pandrs_spark.operators.timeseries import arima_forecast

    base = datetime.datetime(2024, 1, 1)
    series = {
        1: [10.0, 12.5, 11.0, 14.0, 13.5, 16.0, 15.0, 18.5, 17.0, 20.0],
        2: [5.0, 4.0, 6.5, 6.0, 8.0, 7.5, 9.0, 10.5, 10.0, 12.0],
    }
    rows = [
        (sid, base + datetime.timedelta(days=i), v)
        for sid, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = small_local_df(spark, rows, "sid long, ts timestamp, v double")
    p, d, q = 2, 1, 2
    ar, ma = [0.5, 0.5], [0.3, 0.3]
    out = arima_forecast(
        df.repartition(7), "v", ["ts"], ["sid"], p=p, d=d, q=q
    )
    got = {
        sid: sorted(
            ((r["ts"], r["dy"], r["fitted"], r["resid"], r["next_fc"])
             for r in rws)
        )
        for sid, rws in (
            (s, [r for r in out.collect() if r["sid"] == s]) for s in series
        )
    }
    for sid, vals in series.items():
        y = [b - a for a, b in zip(vals, vals[1:])]
        fitted, resid = [], []
        for i in range(len(y)):
            f = sum(ar[j] * y[i - 1 - j] for j in range(p) if i > j)
            f += sum(ma[j] * resid[i - 1 - j] for j in range(q) if i > j)
            fitted.append(f)
            resid.append(y[i] - f)
        n = len(y)
        fc = sum(ar[j] * y[n - 1 - j] for j in range(p) if n - 1 - j >= 0)
        fc += sum(ma[j] * resid[n - 1 - j] for j in range(q) if n - 1 - j >= 0)
        fc += vals[-1]  # integrate (d=1)
        exp = sorted(
            (base + datetime.timedelta(days=i + 1), y[i], fitted[i], resid[i], fc)
            for i in range(n)
        )
        for g, e in zip(got[sid], exp):
            assert g[0] == e[0]
            for gv, ev in zip(g[1:], e[1:]):
                assert abs(gv - ev) < 1e-9, (sid, g, e)


def test_kaplan_meier_textbook_example(spark):
    """Classic worked example: durations 1,2+,3,4+,5 (+ = censored).
    S(1) = 4/5 = 0.8; S(3) = 0.8 * (1 - 1/3) = 0.5333...; S(5) = 0
    (last subject dies, d = n_risk). Censored times emit no row."""
    from pandrs_spark.operators.timeseries import kaplan_meier

    df = small_local_df(
        spark, [(1, 1), (2, 0), (3, 1), (4, 0), (5, 1)], "t int, e int"
    )
    rows = {r["duration"]: r for r in kaplan_meier(df, "t", "e").collect()}
    assert set(rows) == {1, 3, 5}
    assert rows[1]["n_risk"] == 5 and rows[1]["n_events"] == 1
    assert abs(rows[1]["survival"] - 0.8) < 1e-12
    assert rows[3]["n_risk"] == 3
    assert abs(rows[3]["survival"] - 0.8 * (2 / 3)) < 1e-12
    assert rows[5]["n_risk"] == 1 and rows[5]["survival"] == 0.0


def test_kaplan_meier_no_censoring_matches_ecdf(spark):
    """With zero censoring, KM reduces to 1 - ECDF at event times."""
    from pandrs_spark.operators.timeseries import kaplan_meier

    data = [(d, 1) for d in [2, 2, 3, 5, 5, 5, 8, 13]]
    df = small_local_df(spark, data, "t int, e int")
    rows = {r["duration"]: r["survival"] for r in kaplan_meier(df, "t", "e").collect()}
    n = len(data)
    seen = 0
    import collections
    cnt = collections.Counter(d for d, _ in data)
    for t in sorted(cnt):
        seen += cnt[t]
        assert abs(rows[t] - (1 - seen / n)) < 1e-12, (t, rows[t])


def test_nelson_aalen_hand_computed(spark):
    """NA cumulative hazard on a textbook mini-cohort: H(t) = sum d/n,
    variance sum d/n^2; censored subjects leave the risk set without
    contributing hazard."""
    from pandrs_spark.operators.timeseries import nelson_aalen

    # durations: events at 1 (d=2, n=6), censor at 2 (n=4 after),
    # event at 3 (d=1, n=3), censor at 4
    rows = [(1, 1), (1, 1), (2, 0), (3, 1), (4, 0), (5, 0)]
    df = small_local_df(spark, rows, "t int, e int")
    out = {r["duration"]: r for r in nelson_aalen(df, "t", "e").collect()}
    assert set(out) == {1, 3}
    assert out[1]["n_risk"] == 6 and out[1]["n_events"] == 2
    assert out[1]["cum_hazard"] == 2 / 6
    assert out[1]["hazard_var"] == 2 / 36
    assert out[3]["n_risk"] == 3 and out[3]["n_events"] == 1
    assert out[3]["cum_hazard"] == 2 / 6 + 1 / 3
    assert out[3]["hazard_var"] == 2 / 36 + 1 / 9


def test_holt_damped_matches_pure_fold_and_flattens(spark):
    """Damped recursion equals an independent Python fold; phi=1
    reduces to plain Holt; phi<1 forecasts a flatter extrapolation on
    a trending series."""
    from pandrs_spark.operators.timeseries import (
        holt_damped_forecast,
        holt_forecast,
    )

    xs = [10.0, 12.0, 15.0, 16.0, 20.0, 23.0, 25.0, 30.0]
    df = small_local_df(
        spark, [("k", i, v) for i, v in enumerate(xs)], "k string, t int, v double"
    )
    damped = holt_damped_forecast(
        df, "v", order_by=["t"], partition_by=["k"], alpha=0.5, beta=0.3,
        phi=0.9,
    ).orderBy("t").collect()

    # independent fold
    level, trend = xs[0], xs[1] - xs[0]
    expect = [level + 0.9 * trend]
    for t in range(1, len(xs)):
        prev = level
        level = 0.5 * xs[t] + 0.5 * (level + 0.9 * trend)
        trend = 0.3 * (level - prev) + 0.7 * 0.9 * trend
        expect.append(level + 0.9 * trend)
    for row, e in zip(damped, expect):
        assert row["holt_damped_fc"] == pytest.approx(e, abs=1e-12)

    # phi = 1 degenerates to plain Holt
    plain = holt_forecast(
        df, "v", order_by=["t"], partition_by=["k"], alpha=0.5, beta=0.3
    ).orderBy("t").collect()
    phi1 = holt_damped_forecast(
        df, "v", order_by=["t"], partition_by=["k"], alpha=0.5, beta=0.3,
        phi=1.0,
    ).orderBy("t").collect()
    for a, b in zip(plain, phi1):
        assert a["holt_fc"] == pytest.approx(b["holt_damped_fc"], abs=1e-12)

    # damping flattens the (positive-trend) forecast
    assert damped[-1]["holt_damped_fc"] < plain[-1]["holt_fc"]
