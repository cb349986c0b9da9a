"""ML preprocessing/modeling operators (SURVEY.md §2.13)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandrs_spark.operators.ml import (
    equal_width_bins,
    impute_mean,
    kmeans_fit_predict,
    minmax_scale,
    one_hot,
    pca_project,
    polynomial_features,
    quantile_bins,
    simple_ols,
    standard_scale,
    train_test_split,
)
from pandrs_spark.operators.util import small_local_df


@pytest.fixture()
def xy(spark):
    rows = [(float(i), 2.0 * i + 1.0, "a" if i % 2 == 0 else "b") for i in range(10)]
    return small_local_df(spark, rows, "x double, y double, g string")


def test_standard_scale_zero_mean_unit_var(spark, xy):
    out = standard_scale(xy, ["x"]).agg(
        F.round(F.avg("x_z"), 9).alias("mu"), F.round(F.stddev_samp("x_z"), 9).alias("sd")
    ).first()
    assert out["mu"] == 0.0 and out["sd"] == 1.0


def test_minmax_scale_bounds(spark, xy):
    out = minmax_scale(xy, ["x"]).agg(F.min("x_mm"), F.max("x_mm")).first()
    assert (out[0], out[1]) == (0.0, 1.0)


def test_impute_mean_fills_nulls(spark):
    df = small_local_df(spark, [(1.0,), (None,), (3.0,)], "v double")
    vals = sorted(r["v"] for r in impute_mean(df, ["v"]).collect())
    assert vals == [1.0, 2.0, 3.0]


def test_one_hot(spark, xy):
    out = one_hot(xy, "g")
    row = out.filter("g = 'a'").first()
    assert row["g_a"] == 1 and row["g_b"] == 0
    assert out.agg(F.sum("g_a") + F.sum("g_b")).first()[0] == 10


def test_polynomial_features(spark, xy):
    row = polynomial_features(xy, ["x", "y"], degree=2).filter("x = 2.0").first()
    assert row["x_pow2"] == 4.0
    assert row["x_x_y"] == 2.0 * row["y"]


def test_equal_width_bins(spark, xy):
    out = equal_width_bins(xy, "x", 3)
    bins = {r["x"]: r["bin"] for r in out.collect()}
    assert bins[0.0] == 0 and bins[9.0] == 2  # max folds into last bin
    assert set(bins.values()) == {0, 1, 2}


def test_quantile_bins_balanced(spark, xy):
    out = quantile_bins(xy, "x", 5)
    counts = out.groupBy("bin").count().collect()
    assert all(r["count"] == 2 for r in counts) and len(counts) == 5


def test_simple_ols_exact_line(spark, xy):
    r = simple_ols(xy, y="y", x="x").first()
    assert r["slope"] == pytest.approx(2.0, abs=1e-9)
    assert r["intercept"] == pytest.approx(1.0, abs=1e-9)
    assert r["r2"] == pytest.approx(1.0, abs=1e-9)


def test_train_test_split_partitions_all_rows(spark, xy):
    train, test = train_test_split(xy, test_frac=0.3, seed=7)
    assert train.count() + test.count() == 10


def test_kmeans_separated_clusters(spark):
    pts = [([0.0, 0.0],), ([0.1, 0.0],), ([10.0, 10.0],), ([10.1, 10.0],)]
    df = small_local_df(spark, pts, "embedding array<float>")
    out = kmeans_fit_predict(df, "embedding", k=2, seed=1)
    groups = out.groupBy("cluster").count().collect()
    assert sorted(r["count"] for r in groups) == [2, 2]


def test_pca_projects_to_k_dims(spark):
    pts = [([float(i), float(2 * i), 0.0],) for i in range(6)]
    df = small_local_df(spark, pts, "embedding array<float>")
    out = pca_project(df, "embedding", k=2)
    first = out.first()["pca"]
    assert len(first) == 2


def test_logistic_separable(spark):
    from pandrs_spark.operators.ml import logistic_fit_metrics

    rows = [([float(i), 1.0], 0.0) for i in range(10)] + [
        ([float(i) + 100.0, 1.0], 1.0) for i in range(10)
    ]
    df = small_local_df(spark, rows, "embedding array<float>, y double")
    m = logistic_fit_metrics(df, "embedding", "y").first()
    assert m["n"] == 20 and m["accuracy"] == 1.0 and m["auc"] == 1.0


# -- feature selection + tree tier -------------------------------------------
def test_feature_scores_ranks_by_corr(spark):
    from pandrs_spark.operators.ml import feature_scores

    rows = []
    for t in range(200):
        y = float(100 + 3 * t)
        rows += [("lin", float(t * 100), y), ("noise", float((t * 37) % 11) * 100, y)]
    long = small_local_df(spark, rows, "feature string, x double, y double")
    out = {r["feature"]: r for r in feature_scores(long, top_k=1).collect()}
    assert out["lin"]["selected"] and not out["noise"]["selected"]
    assert out["lin"]["corr"] == pytest.approx(1.0, abs=1e-6)
    import numpy as np

    xs = np.array([(t * 37) % 11 for t in range(200)], dtype=float) * 100
    assert out["noise"]["variance"] == pytest.approx(xs.var(ddof=1), rel=1e-4)


def test_random_forest_separable(spark):
    from pandrs_spark.operators.ml import random_forest_metrics

    rows = [
        (float(i % 50), float((i * 13) % 7), 1.0 if i % 50 >= 25 else 0.0)
        for i in range(500)
    ]
    df = small_local_df(spark, rows, "a double, b double, label double")
    m = random_forest_metrics(df, ["a", "b"], "label", n_trees=10).first()
    assert m["n"] == 500
    assert m["accuracy"] > 0.95          # label is a function of feature a
    assert m["imp_a"] > m["imp_b"]       # importance follows the signal


def test_gbt_regression_learns_linear_signal(spark):
    from pandrs_spark.operators.ml import gbt_regression_metrics

    # y = 3x + noise-free: GBT should fit near-perfectly (r2 ~ 1)
    df = small_local_df(
        spark, [(float(i), 3.0 * i) for i in range(100)], "x double, y double"
    )
    r = gbt_regression_metrics(df, ["x"], "y", max_iter=10).first()
    assert r["n"] == 100
    assert r["r2"] > 0.95
    assert r["imp_x"] == pytest.approx(1.0)


def test_kfold_cv_deterministic_folds(spark):
    from pandrs_spark.operators.ml import kfold_cv_metrics

    # linearly separable: every fold should classify held-out perfectly
    rows = [(i, float(i % 7), 1.0 if i % 7 >= 4 else 0.0) for i in range(140)]
    df = small_local_df(spark, rows, "id bigint, x double, y double")
    out = kfold_cv_metrics(df, ["x"], "y", id_col="id", k=3)
    rows_out = out.collect()
    assert [r["fold"] for r in rows_out] == [-1, 0, 1, 2]
    mean_row = rows_out[0]
    assert mean_row["n_test"] == 140  # folds partition the data
    assert mean_row["accuracy"] == pytest.approx(1.0)
    # determinism: a second run yields identical fold sizes
    again = {r["fold"]: r["n_test"] for r in kfold_cv_metrics(
        df, ["x"], "y", id_col="id", k=3).collect()}
    assert all(again[r["fold"]] == r["n_test"] for r in rows_out)


def test_mlp_learns_xor(spark):
    from pandrs_spark.operators.ml import mlp_classifier_metrics

    # XOR — not linearly separable, so accuracy ~1 proves the hidden layer
    rows = [
        (float(a), float(b), float(a ^ b))
        for a in (0, 1) for b in (0, 1) for _ in range(25)
    ]
    df = small_local_df(spark, rows, "x1 double, x2 double, y double")
    r = mlp_classifier_metrics(df, ["x1", "x2"], "y", hidden=(4,)).first()
    assert r["n"] == 100
    assert r["accuracy"] >= 0.99


def test_dbscan_blobs_and_noise(spark):
    from pandrs_spark.operators.ml import dbscan_2d

    blob_a = [(i, 0.0 + 0.1 * (i % 3), 0.0 + 0.1 * (i // 3)) for i in range(9)]
    blob_b = [(100 + i, 5.0 + 0.1 * (i % 3), 5.0 + 0.1 * (i // 3)) for i in range(9)]
    noise = [(200, 2.5, 2.5), (201, 8.0, 0.0)]
    df = small_local_df(
        spark, blob_a + blob_b + noise, "id bigint, x double, y double"
    )
    out = {r["id"]: r for r in dbscan_2d(df, "id", "x", "y", eps=0.25, min_pts=4).collect()}
    a_clusters = {out[i]["cluster"] for i in range(9)}
    b_clusters = {out[100 + i]["cluster"] for i in range(9)}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters
    assert out[200]["cluster"] is None and not out[200]["is_core"]
    assert out[201]["cluster"] is None
    # interior points are core; blob corner may be border but stays labeled
    assert out[4]["is_core"]


def test_dbscan_isolated_core_pair(spark):
    from pandrs_spark.operators.ml import dbscan_2d

    # two points within eps, min_pts=2: both core, one cluster
    df = small_local_df(
        spark, [(1, 0.0, 0.0), (2, 0.1, 0.0), (3, 9.0, 9.0)],
        "id bigint, x double, y double",
    )
    out = {r["id"]: r for r in dbscan_2d(df, "id", "x", "y", 0.5, 2).collect()}
    assert out[1]["cluster"] == out[2]["cluster"] == 1
    assert out[3]["cluster"] is None  # singleton below min_pts is noise


def test_lof_flags_outlier(spark):
    from pandrs_spark.operators.ml import local_outlier_factor

    # 3x3 grid of tightly packed points + one far-away point
    grid = [(i, 0.1 * (i % 3), 0.1 * (i // 3)) for i in range(9)]
    df = small_local_df(
        spark, grid + [(99, 5.0, 5.0)], "id bigint, x double, y double"
    )
    out = {r["id"]: r["lof"] for r in local_outlier_factor(df, "id", "x", "y", k=3, method="grid", eps=8.0).collect()}
    # grid points sit in uniform density: LOF ~ 1
    assert all(out[i] < 1.5 for i in range(9))
    # the isolated point's density is tiny vs its (grid) neighbors'
    assert out[99] > 10


def test_single_linkage_threshold_cut(spark):
    from pandrs_spark.operators.ml import single_linkage_clusters

    # chain a-b-c linked pairwise at 0.9 < t, d isolated, e-f a far pair
    df = small_local_df(
        spark, [(1, 0.0, 0.0), (2, 0.9, 0.0), (3, 1.8, 0.0),
         (4, 5.0, 5.0), (5, 9.0, 0.0), (6, 9.5, 0.0)],
        "id bigint, x double, y double",
    )
    out = {r["id"]: r["cluster"] for r in
           single_linkage_clusters(df, "id", "x", "y", threshold=1.0).collect()}
    assert out[1] == out[2] == out[3] == 1   # chained through b
    assert out[4] == 4                        # singleton keeps own id
    assert out[5] == out[6] == 5


def test_decision_tree_separable(spark):
    from pandrs_spark.operators.ml import decision_tree_metrics

    rows = [(float(i), 1 if i >= 50 else 0) for i in range(100)]
    df = small_local_df(spark, rows, "x double, y bigint")
    r = decision_tree_metrics(df, ["x"], "y", max_depth=3).first()
    assert r["n"] == 100 and r["accuracy"] == 1.0
    assert r["depth"] >= 1 and r["num_nodes"] >= 3


def test_decision_tree_independent_of_partitioning(spark):
    """Past 10,000 rows MLlib samples its split candidates, one seed per
    input partition; the same rows in 2 or in 4 partitions must still
    grow the same tree."""
    from pandrs_spark.operators.ml import decision_tree_metrics

    rows = []
    for i in range(20000):
        a = (i * 7919) % 1000 / 10.0
        b = (i * 104729) % 997 / 9.97
        c = (i * 1299709) % 991 / 99.1
        y = int((i * 15485863) % 100 < 20 + 0.3 * a - 0.1 * b)
        rows.append((a, b, c, y))
    df = small_local_df(spark, rows, "a double, b double, c double, y bigint")
    r2, r4 = (
        decision_tree_metrics(df.repartition(n), ["a", "b", "c"], "y").first()
        for n in (2, 4)
    )
    assert r2 == r4


def test_isolation_forest_flags_planted_outlier(spark):
    from pandrs_spark.operators.ml import isolation_forest_scores

    pts = [(i, (i % 13) * 0.1, (i % 7) * 0.1) for i in range(300)]
    pts.append((999, 50.0, 50.0))
    df = small_local_df(spark, pts, "id bigint, x double, y double")
    out = {r["id"]: r["score"] for r in
           isolation_forest_scores(df, ["x", "y"], "id", n_trees=10, psi=64).collect()}
    normal = [out[i] for i in range(300)]
    assert out[999] > max(normal)
    assert out[999] > 0.6
    # determinism: second run bit-identical
    out2 = {r["id"]: r["score"] for r in
            isolation_forest_scores(df, ["x", "y"], "id", n_trees=10, psi=64).collect()}
    assert out == out2


def test_auto_model_select_leaderboard(spark):
    from pandrs_spark.operators.ml import auto_model_select

    # 8 distinct x values (< MLlib's default maxBins=32, so tree splits
    # can land exactly between classes)
    rows = [(i, float(i % 8), 1 if (i % 8) >= 4 else 0) for i in range(200)]
    df = small_local_df(spark, rows, "id bigint, x double, y bigint")
    out = auto_model_select(df, ["x"], "y", "id", k=2).collect()
    assert len(out) == 5
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    # threshold data is separable: the winner should be near-perfect
    assert out[0]["mean_accuracy"] >= 0.95
    # determinism
    out2 = auto_model_select(df, ["x"], "y", "id", k=2).collect()
    assert [(r["model"], r["mean_accuracy"]) for r in out] == [
        (r["model"], r["mean_accuracy"]) for r in out2
    ]


def test_ocsvm_flags_planted_outliers(spark):
    from pandrs_spark.operators.ml import one_class_svm_flags

    # 40 points along +e1 (jittered deterministically), 4 along -e1
    rows = []
    for i in range(40):
        v = [1.0, 0.01 * (i % 5), 0.02 * (i % 3)]
        rows.append((i, v))
    for i in range(40, 44):
        rows.append((i, [-1.0, 0.0, 0.1]))
    df = small_local_df(spark, rows, "id long, x array<double>")
    out = one_class_svm_flags(df, "x", "id", nu=0.15, epochs=20)
    flagged = {r["id"] for r in out.filter("is_outlier = 1").collect()}
    assert {40, 41, 42, 43} <= flagged
    assert len(flagged) <= 10  # inlier mass stays unflagged


def test_ocsvm_deterministic_across_partitionings(spark):
    from pandrs_spark.operators.ml import one_class_svm_flags

    rows = [(i, [float((i * 7) % 5), float((i * 3) % 4), 1.0]) for i in range(30)]
    a = small_local_df(spark, rows, "id long, x array<double>").repartition(1)
    b = small_local_df(spark, rows, "id long, x array<double>").repartition(17)
    ra = sorted(one_class_svm_flags(a, "x", "id", epochs=8).collect())
    rb = sorted(one_class_svm_flags(b, "x", "id", epochs=8).collect())
    assert ra == rb


def test_tsne_separates_blobs(spark):
    from pandrs_spark.operators.ml import tsne_project

    rows = []
    for i in range(30):
        rows.append((i, [10.0 + 0.1 * (i % 5), 10.0 + 0.1 * (i % 3), 0.0]))
    for i in range(30, 60):
        rows.append((i, [-10.0 + 0.1 * (i % 5), -10.0 - 0.1 * (i % 3), 0.0]))
    df = small_local_df(spark, rows, "id long, x array<double>")
    out = tsne_project(df, "x", "id", sample_n=60, perplexity=10.0, iters=120)
    pts = {r["id"]: (r["ts_x"], r["ts_y"]) for r in out.collect()}
    import math

    def centroid(ids):
        xs = [pts[i][0] for i in ids]
        ys = [pts[i][1] for i in ids]
        return sum(xs) / len(xs), sum(ys) / len(ys)

    c1, c2 = centroid(range(30)), centroid(range(30, 60))
    assert math.dist(c1, c2) > 1.0  # blobs land apart
    # every point's nearest neighbor comes from its own blob
    for i in range(60):
        nn = min((j for j in range(60) if j != i), key=lambda j: math.dist(pts[i], pts[j]))
        assert (i < 30) == (nn < 30)


def test_tsne_deterministic(spark):
    from pandrs_spark.operators.ml import tsne_project

    rows = [(i, [float((i * 13) % 7), float((i * 5) % 11)]) for i in range(40)]
    df = small_local_df(spark, rows, "id long, x array<double>")
    r1 = sorted(tsne_project(df, "x", "id", sample_n=25, iters=60).collect())
    r2 = sorted(tsne_project(df, "x", "id", sample_n=25, iters=60).collect())
    assert r1 == r2


def test_quantile_bins_edge_cases(spark):
    """Review r5: empty frame, all-null column, n_bins=1 and null
    values must not crash the threshold path and nulls bin to null
    (pandas qcut NaN parity)."""
    from pandrs_spark.operators.ml import quantile_bins

    empty = small_local_df(spark, [], "x double")
    assert quantile_bins(empty, "x", 4).count() == 0
    allnull = small_local_df(spark, [(None,), (None,)], "x double")
    rows = quantile_bins(allnull, "x", 4).collect()
    assert [r["bin"] for r in rows] == [None, None]
    one = quantile_bins(
        small_local_df(spark, [(1.0,), (2.0,), (None,)], "x double"), "x", 1
    ).collect()
    assert sorted([r["bin"] for r in one], key=lambda v: (v is None, v)) == [0, 0, None]
    mixed = quantile_bins(
        small_local_df(spark, [(float(i),) for i in range(8)] + [(None,)], "x double"),
        "x",
        2,
    ).collect()
    assert {r["bin"] for r in mixed if r["bin"] is not None} == {0, 1}
    assert any(r["bin"] is None for r in mixed)


def test_quantile_bins_duplicate_edges(spark):
    """ADVICE r5: heavily-tied columns produce duplicate quantile
    edges. Default duplicates='drop' must dedupe them so bin labels
    stay CONTIGUOUS (no silently-skipped empty bins); 'raise' restores
    pandas-default strictness."""
    import pytest

    from pandrs_spark.operators.ml import quantile_bins

    # 90% zeros, a few distinct tails: edges for n_bins=4 are
    # [0, 0, ...] — duplicated.
    df = small_local_df(
        spark, [(0.0,)] * 18 + [(5.0,), (9.0,)], "x double"
    )
    bins = sorted(
        {r["bin"] for r in quantile_bins(df, "x", 4).collect()}
    )
    assert bins == list(range(len(bins))), f"non-contiguous bins {bins}"
    with pytest.raises(ValueError, match="not unique"):
        quantile_bins(df, "x", 4, duplicates="raise")
    # untied data is unaffected by 'raise'
    ok = small_local_df(spark, [(float(i),) for i in range(20)], "x double")
    assert quantile_bins(ok, "x", 4, duplicates="raise").count() == 20
    with pytest.raises(ValueError, match="drop"):
        quantile_bins(df, "x", 4, duplicates="nonsense")


def test_isotonic_fit_metrics_recovers_monotone_signal(spark):
    """Perfectly monotone data → PAV reproduces it exactly (mse ~ 0,
    monotone predictions); noisy anti-monotone pooling still satisfies
    mse <= constant-baseline mse."""
    from pandrs_spark.operators.ml import isotonic_fit_metrics

    mono = small_local_df(
        spark, [(float(i), float(i // 10)) for i in range(100)], "x double, y double"
    )
    m = isotonic_fit_metrics(mono, "x", "y").first()
    assert m["n"] == 100 and m["monotone"]
    assert m["mse"] < 1e-12
    # y decreasing in x but fitted increasing: PAV pools everything
    # toward the mean; still never worse than the constant baseline
    anti = small_local_df(
        spark, [(float(i), float(-i)) for i in range(50)], "x double, y double"
    )
    a = isotonic_fit_metrics(anti, "x", "y").first()
    assert a["monotone"] and a["mse"] <= a["mse_const"] + 1e-9
    assert a["n_boundaries"] <= 2


def test_huber_ols_downweights_outliers(spark):
    from pandrs_spark.operators.ml import huber_ols

    # y = 2x on a clean grid, plus one gross outlier
    rows = [(float(i), 2.0 * i) for i in range(1, 40)] + [(40.0, 500.0)]
    df = small_local_df(spark, rows, "x double, y double")
    r = huber_ols(df, "x", "y").first()
    assert r["n_down"] >= 1  # the outlier got a weight < 1
    # huber slope strictly closer to the true slope 2 than OLS slope
    # one IRLS step with RMS scale (inflated by the outlier itself)
    # recovers part of the bias; full convergence takes repeated steps
    assert abs(r["b1"] - 2.0) < abs(r["b0"] - 2.0)
    assert abs(r["b1"] - 2.0) < 0.5


def test_poisson_irls_recovers_known_coefficients(spark):
    """Noiseless y = round(exp(b0 + b1 x)) data: three IRLS rounds must
    land near the generating coefficients (exactness is impossible with
    integer y, but the fit must be close and n/mean_y exact)."""
    import math

    from pandrs_spark.operators.ml import poisson_irls_1d

    b0_true, b1_true = 1.0, 0.5
    rows = [
        (round(math.exp(b0_true + b1_true * (i / 10.0))), i / 10.0)
        for i in range(-20, 21)
    ]
    df = small_local_df(spark, rows, "y long, x double")
    r = poisson_irls_1d(df, "y", "x", n_iter=3).first()
    assert r["n"] == 41
    assert abs(r["b0"] - b0_true) < 0.1
    assert abs(r["b1"] - b1_true) < 0.1


def test_poisson_irls_partition_invariant(spark):
    import math

    from pandrs_spark.operators.ml import poisson_irls_1d

    rows = [(1 + (i * 7) % 5, (i % 13) / 3.0) for i in range(50)]
    outs = []
    for parts in (1, 5):
        df = small_local_df(spark, rows, "y long, x double").repartition(parts)
        r = poisson_irls_1d(df, "y", "x", n_iter=3).first()
        outs.append((r["n"], r["b0"], r["b1"], r["mean_y"]))
    assert outs[0] == outs[1]


def test_lof_grid_matches_exact(spark):
    # grid candidate generation is EXACT past the eps fence: same
    # scores as the all-pairs baseline on a geometry where every
    # point's 3rd neighbor is well inside eps
    from pandrs_spark.operators.ml import local_outlier_factor

    pts = [(i, 0.2 * (i % 5), 0.2 * (i // 5)) for i in range(25)]
    df = small_local_df(spark, pts, "id bigint, x double, y double")
    g = {r["id"]: r["lof"] for r in local_outlier_factor(
        df, "id", "x", "y", k=3, method="grid", eps=0.75).collect()}
    e = {r["id"]: r["lof"] for r in local_outlier_factor(
        df, "id", "x", "y", k=3, method="exact").collect()}
    assert g == e


def test_lof_grid_eps_fence_raises(spark):
    # a point whose k-th neighbor lies beyond eps must fail LOUDLY
    # (LOF_GRID_EPS_TOO_SMALL), never return a silently-wrong score
    import pytest
    from pandrs_spark.operators.ml import local_outlier_factor

    df = small_local_df(
        spark, [(1, 0.0, 0.0), (2, 0.1, 0.0), (3, 0.2, 0.0), (4, 0.1, 0.1),
         (99, 50.0, 50.0)],
        "id bigint, x double, y double",
    )
    with pytest.raises(Exception, match="LOF_GRID_EPS_TOO_SMALL"):
        local_outlier_factor(df, "id", "x", "y", k=3,
                             method="grid", eps=1.0).collect()


def test_lof_grid_aside_fence_partial_candidates(spark):
    # round-10 fence hardening: a point with 1..k-1 in-eps candidates
    # that appears in NOBODY's top-k list used to slip past both the
    # b-side kd fence (it is no one's neighbor) and the final
    # missing-row fence (it has knn rows, so it reaches the output) —
    # emitting sum(<k reaches)/k, a silently wrong score. The a-side
    # own-k-distance fence must raise instead. Geometry: a tight line
    # cluster x=0.00..0.09 (spacing 0.01) plus a point at x=0.32 with
    # eps=0.25 — the stray sees 3 cluster points (x>=0.07) but at
    # distance >=0.23 it is in no cluster point's top-5.
    import pytest
    from pandrs_spark.operators.ml import local_outlier_factor

    rows = [(i, 0.01 * i, 0.0) for i in range(10)] + [(99, 0.32, 0.0)]
    df = small_local_df(spark, rows, "id bigint, x double, y double")
    with pytest.raises(Exception, match="LOF_GRID_EPS_TOO_SMALL"):
        local_outlier_factor(df, "id", "x", "y", k=5,
                             method="grid", eps=0.25).collect()


def test_lof_grid_requires_explicit_eps(spark):
    # eps is a property of the caller's coordinate scale — a baked
    # default would silently mis-tune on other corpora, so method
    # ='grid' with no eps is a ValueError (and the library default is
    # the always-correct exact path)
    import pytest
    from pandrs_spark.operators.ml import local_outlier_factor

    df = small_local_df(
        spark, [(1, 0.0, 0.0), (2, 1.0, 0.0)], "id bigint, x double, y double"
    )
    with pytest.raises(ValueError, match="requires an explicit eps"):
        local_outlier_factor(df, "id", "x", "y", k=1, method="grid")


def test_knn_topk_edges_requires_explicit_method(spark):
    # exact vs ivf differ in SEMANTICS (exact vs approximate edges);
    # the caller must opt into the approximation explicitly
    import pytest
    from pandrs_spark.operators.similarity import knn_topk_edges

    df = small_local_df(
        spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(TypeError):
        knn_topk_edges(df, k=1)
