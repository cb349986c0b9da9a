"""Croston / SBC intermittent-demand tests (operators/timeseries.py)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandrs_spark.operators.timeseries import (
    croston_forecast,
    sbc_demand_classification,
)
from pandrs_spark.operators.util import small_local_df


def _series_df(spark, xs, key="a"):
    rows = [(key, i, float(x)) for i, x in enumerate(xs)]
    return small_local_df(spark, rows, "k string, t int, qty double")


def _croston_ref(xs, alpha=0.3):
    """Independent textbook reference: Croston 1972 update equations."""
    z = p = None
    q = 1.0
    for x in xs:
        if x > 0:
            if z is None:
                z, p = float(x), q
            else:
                z = alpha * x + (1 - alpha) * z
                p = alpha * q + (1 - alpha) * p
            q = 1.0
        else:
            q += 1.0
    return z, p


def test_croston_matches_reference_recursion(spark):
    xs = [0, 0, 5, 0, 0, 0, 3, 0, 8, 0, 0, 2]
    out = croston_forecast(
        _series_df(spark, xs), "qty", order_by=["t"], partition_by=["k"], alpha=0.3
    ).collect()[0]
    z, p = _croston_ref(xs)
    assert out["n_periods"] == len(xs)
    assert out["n_nonzero"] == 4
    assert out["croston_size"] == pytest.approx(z, abs=1e-12)
    assert out["croston_interval"] == pytest.approx(p, abs=1e-12)
    assert out["croston_fc"] == pytest.approx(z / p, abs=1e-12)
    assert out["sba_fc"] == pytest.approx(0.85 * z / p, abs=1e-12)


def test_croston_all_zero_series_yields_nulls(spark):
    out = croston_forecast(
        _series_df(spark, [0.0, 0.0, 0.0]),
        "qty",
        order_by=["t"],
        partition_by=["k"],
    ).collect()[0]
    assert out["n_nonzero"] == 0
    assert out["croston_fc"] is None and out["sba_fc"] is None


def test_croston_interval_counts_leading_gap(spark):
    # first demand at t=3 (0-indexed 2) => initial interval = 3
    out = croston_forecast(
        _series_df(spark, [0, 0, 4.0]), "qty", order_by=["t"], partition_by=["k"]
    ).collect()[0]
    assert out["croston_interval"] == pytest.approx(3.0)
    assert out["croston_size"] == pytest.approx(4.0)


def test_sbc_quadrants(spark):
    # smooth: demand every period, constant size (adi=1, cv2=0)
    # lumpy: sparse + wildly varying sizes
    rows = []
    for t in range(8):
        rows.append(("smooth", t, 5.0))
    for t, x in enumerate([0, 0, 1.0, 0, 0, 0, 40.0, 0]):
        rows.append(("lumpy", t, float(x)))
    df = small_local_df(spark, rows, "k string, t int, qty double")
    got = {
        r["k"]: r
        for r in sbc_demand_classification(df, "qty", partition_by=["k"]).collect()
    }
    assert got["smooth"]["demand_class"] == "smooth"
    assert got["smooth"]["adi"] == pytest.approx(1.0)
    assert got["smooth"]["cv2"] == pytest.approx(0.0)
    assert got["lumpy"]["demand_class"] == "lumpy"
    assert got["lumpy"]["adi"] == pytest.approx(4.0)


def test_tsb_decays_through_dead_tail(spark):
    """TSB's obsolescence property: after a long dead tail, TSB's
    forecast is far below Croston's frozen one."""
    from pandrs_spark.operators.timeseries import (
        croston_forecast,
        tsb_forecast,
    )

    xs = [5.0, 5.0, 5.0, 5.0] + [0.0] * 20
    df = _series_df(spark, xs)
    tsb = tsb_forecast(
        df, "qty", order_by=["t"], partition_by=["k"], alpha=0.3, beta=0.1
    ).collect()[0]
    cro = croston_forecast(
        df, "qty", order_by=["t"], partition_by=["k"], alpha=0.3
    ).collect()[0]
    assert cro["croston_fc"] == pytest.approx(5.0)  # frozen at last state
    assert tsb["tsb_fc"] < 0.8  # probability decayed ~0.9^20
    assert tsb["tsb_prob"] == pytest.approx(1.0 * 0.9**20, rel=1e-9)


def test_tsb_reference_recursion(spark):
    xs = [0.0, 4.0, 0.0, 0.0, 6.0, 0.0]
    out = tsb = None
    from pandrs_spark.operators.timeseries import tsb_forecast

    out = tsb_forecast(
        _series_df(spark, xs), "qty", order_by=["t"], partition_by=["k"],
        alpha=0.3, beta=0.1,
    ).collect()[0]
    z = p = None
    i = 0.0
    for x in xs:
        i += 1.0
        if z is None:
            if x > 0:
                z, p = x, 1.0 / i
        elif x > 0:
            p = 0.1 + 0.9 * p
            z = 0.3 * x + 0.7 * z
        else:
            p = 0.9 * p
    assert out["tsb_size"] == pytest.approx(z, abs=1e-12)
    assert out["tsb_prob"] == pytest.approx(p, abs=1e-12)
    assert out["tsb_fc"] == pytest.approx(p * z, abs=1e-12)


def test_reorder_policy_sim_reference(spark):
    from pandrs_spark.operators.timeseries import reorder_policy_sim

    # s=10, S=50: demands force one stockout and two reorders
    xs = [20.0, 20.0, 15.0, 60.0, 5.0]
    out = reorder_policy_sim(
        _series_df(spark, xs), "qty", order_by=["t"], partition_by=["k"],
        reorder_point=10.0, order_up_to=50.0,
    ).collect()[0]
    # trace: oh=50 →30 →10 →(reorder? 10>=10 no... oh=10 >= s? s=10: 10<10 false) stays 10
    #   t=3: x=15 > 10 → stockout, oh=0 → reorder → 50
    #   t=4: x=60 > 50 → stockout, oh=0 → reorder → 50
    #   t=5: x=5 → oh=45
    assert out["n_stockouts"] == 2
    assert out["n_orders"] == 2
    assert out["final_on_hand"] == 45.0
    assert out["fill_rate"] == pytest.approx(1 - 2 / 5)
