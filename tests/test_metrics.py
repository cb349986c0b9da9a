"""ML evaluation metrics (SURVEY.md §2.13 metrics re-exports)."""

from __future__ import annotations

import pytest

from pandrs_spark.operators.metrics import (
    classification_metrics,
    confusion_matrix,
    regression_metrics,
)
from pandrs_spark.operators.util import small_local_df


@pytest.fixture()
def preds(spark):
    #        label, pred
    rows = [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "a"), ("c", "b")]
    return small_local_df(spark, rows, "label string, pred string")


def test_confusion_matrix(spark, preds):
    cm = {(r["label"], r["pred"]): r["n"] for r in confusion_matrix(preds, "label", "pred").collect()}
    assert cm[("a", "a")] == 2 and cm[("a", "b")] == 1 and cm[("c", "b")] == 1


def test_classification_metrics_per_class(spark, preds):
    m = {r["cls"]: r for r in classification_metrics(preds, "label", "pred").collect()}
    # class a: tp=2 fp=1 fn=1 -> p=2/3 r=2/3 f1=2/3
    assert m["a"]["support"] == 3
    assert m["a"]["precision"] == pytest.approx(2 / 3)
    assert m["a"]["recall"] == pytest.approx(2 / 3)
    assert m["a"]["f1"] == pytest.approx(2 / 3)
    # class c never predicted: precision defined as 0, recall 0
    assert m["c"]["precision"] == 0.0 and m["c"]["recall"] == 0.0 and m["c"]["f1"] == 0.0


def test_regression_metrics_exact(spark):
    rows = [(1.0, 2.0), (2.0, 2.0), (3.0, 2.0), (6.0, 4.0)]
    df = small_local_df(spark, rows, "y double, yhat double")
    m = regression_metrics(df, "y", "yhat").first()
    # errors: -1, 0, 1, 2 -> sse=6 sae=4; mean y=3, sst=14
    assert m["mse"] == pytest.approx(1.5)
    assert m["mae"] == pytest.approx(1.0)
    assert m["r2"] == pytest.approx(1 - 6 / 14)


def test_regression_metrics_perfect_fit(spark):
    df = small_local_df(spark, [(1.0, 1.0), (2.0, 2.0)], "y double, yhat double")
    m = regression_metrics(df, "y", "yhat").first()
    assert m["mse"] == 0.0 and m["r2"] == 1.0
def test_hll_rollup_accuracy_and_merge(spark):
    from pandrs_spark.operators.sketches import hll_rollup

    df = small_local_df(
        spark, [(i % 4, i % 12, i % 499) for i in range(5000)],
        "coarse int, fine int, v int",
    )
    out = {r["coarse"]: r for r in hll_rollup(
        df, ["coarse", "fine"], ["coarse"], "v", lg_k=14
    ).collect()}
    # 499 coprime to 4: every coarse bucket sees all 499 distinct values
    for c in range(4):
        assert out[c]["n_fine_buckets"] == 3  # fine = coarse + 4k pattern -> 3 each
        assert abs(out[c]["approx_distinct"] - 499) / 499 < 0.03


def test_cms_never_undercounts_and_is_fixed_size(spark):
    from pandrs_spark.operators.sketches import cms_build, cms_estimate

    rows = [(f"k{i % 37}",) for i in range(2000)]
    df = small_local_df(spark, rows, "k string")
    sketch = cms_build(df, "k", depth=4, width=64)
    assert sketch.count() <= 4 * 64  # grid-bounded regardless of keys
    est = {
        r["k"]: r["est_count"]
        for r in cms_estimate(sketch, df, "k", depth=4, width=64).collect()
    }
    exact = {f"k{j}": len([i for i in range(2000) if i % 37 == j]) for j in range(37)}
    for k, e in exact.items():
        assert est[k] >= e  # CMS one-sided guarantee
    # with only 37 keys in 64 buckets, estimates stay near exact
    assert sum(est[k] - exact[k] for k in exact) / len(exact) < 200
