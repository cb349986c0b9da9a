"""sklearn-compat estimator/Pipeline tier (SURVEY.md §2.13,
src/ml/pipeline/, sklearn_compat.rs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandrs_spark.frame import Frame, str_
from pandrs_spark.operators.pipeline import (
    BinnerEst,
    ImputerEst,
    MinMaxScalerEst,
    OneHotEncoderEst,
    Pipeline,
    PolynomialFeaturesEst,
    StandardScalerEst,
)
from pandrs_spark.operators.util import small_local_df


@pytest.fixture()
def train(spark):
    rows = [(float(i), "a" if i % 2 == 0 else "b") for i in range(8)]
    return small_local_df(spark, rows, "x double, g string")


def test_scaler_freezes_fit_stats(spark, train):
    est = StandardScalerEst(["x"]).fit(train)
    test = small_local_df(spark, [(100.0, "a")], "x double, g string")
    out = est.transform(test).first()
    # mean=3.5, sd of 0..7 — stats come from TRAIN, not the transformed frame
    mu, sd = 3.5, train.agg(F.stddev_samp("x")).first()[0]
    assert out["x_z"] == pytest.approx((100.0 - mu) / sd)


def test_minmax_and_binner_clamp_out_of_range(spark, train):
    mm = MinMaxScalerEst(["x"]).fit(train)
    bn = BinnerEst("x", 4, out="b").fit(train)
    test = small_local_df(spark, [(-5.0, "a"), (99.0, "b")], "x double, g string")
    rows = bn.transform(mm.transform(test)).orderBy("x").collect()
    assert rows[0]["b"] == 0 and rows[1]["b"] == 3  # clamped to edge bins
    assert rows[0]["x_mm"] < 0 and rows[1]["x_mm"] > 1  # sklearn keeps raw scale


def test_imputer_median(spark):
    df = small_local_df(
        spark, [(1.0,), (2.0,), (10.0,), (None,)], "x double"
    )
    out = ImputerEst(["x"], strategy="median").fit(df).transform(df)
    assert out.where(F.col("x") == 2.0).count() == 2


def test_onehot_unseen_category_all_zero(spark, train):
    est = OneHotEncoderEst("g", prefix="g").fit(train)
    test = small_local_df(spark, [("zzz",)], "g string")
    row = est.transform(test).first()
    assert row["g_a"] == 0 and row["g_b"] == 0


def test_pipeline_fit_transform_chain(spark, train):
    pipe = Pipeline(
        [
            ("scale", StandardScalerEst(["x"])),
            ("poly", PolynomialFeaturesEst(["x_z"], degree=2)),
        ]
    ).fit(train)
    out = pipe.transform(train)
    got = out.select(F.round(F.col("x_z") * F.col("x_z") - F.col("x_z_pow2"), 9)).distinct().collect()
    assert [r[0] for r in got] == [0.0]
    assert "scale" in pipe.named_steps()


def test_pipeline_unfitted_raises(spark, train):
    with pytest.raises(RuntimeError):
        Pipeline([("s", StandardScalerEst(["x"]))]).transform(train)


def test_get_dummies(spark, train):
    f = Frame(train).get_dummies("g")
    assert set(f.columns) == {"x", "g_a", "g_b"}
    assert f.spark.agg(F.sum("g_a")).first()[0] == 4


def test_slice_replace(spark):
    df = small_local_df(spark, [("abcdef",)], "s string")
    out = df.select(str_("s").slice_replace(2, 4, "XY").alias("r")).first()
    assert out["r"] == "abXYef"  # pandas: 'abcdef'[..2] + 'XY' + 'abcdef'[4..]
