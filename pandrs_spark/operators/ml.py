"""ML preprocessing & modeling surface (SURVEY.md §2.13).

Reference: /root/reference src/ml/preprocessing/mod.rs (StandardScaler
:14, MinMaxScaler :146, OneHotEncoder :302, PolynomialFeatures :348,
Binner :394, Imputer :447), src/stats/mod.rs linear_regression :288,
src/ml/models (re-exports src/lib.rs:219-244).

Two tiers, chosen by what determinism allows:

1. **Expression tier** — scalers, binners, imputation, one-hot,
   polynomial features, closed-form OLS. Pure Catalyst expressions over
   window/grouped statistics: fully distributed, deterministic,
   DuckDB-oracle-able. At 100 TB these are one partial-agg shuffle for
   the fit statistics + a map-side transform.
2. **MLlib tier** — KMeans / PCA / LogisticRegression etc. wrap
   ``pyspark.ml`` with fixed seeds. Iterative, not SQL-expressible;
   correctness is pinned by unit tests, not oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pandrs_spark.operators.util import fan_out, persist_right_sized, small_local_df, tracked_persist
from pyspark.sql import functions as F

from pandrs_spark.functions.deterministic import dsum

__all__ = [
    "em_gmm_1d",
    "ransac_line_consensus",
    "poisson_irls_1d",
    "standard_scale",
    "minmax_scale",
    "impute_mean",
    "one_hot",
    "polynomial_features",
    "equal_width_bins",
    "quantile_bins",
    "simple_ols",
    "train_test_split",
    "kmeans_fit_predict",
    "pca_project",
    "logistic_fit_metrics",
    "feature_scores",
    "random_forest_metrics",
    "local_outlier_factor",
    "dbscan_2d",
    "single_linkage_clusters",
    "decision_tree_metrics",
    "isolation_forest_scores",
    "auto_model_select",
    "one_class_svm_flags",
    "tsne_project",
]


def _group_window(by):
    return Window.partitionBy(*by) if by else Window.partitionBy()


def standard_scale(df: DataFrame, cols, by=None, suffix: str = "_z") -> DataFrame:
    """(x − mean)/stddev per group (StandardScaler :14)."""
    w = _group_window(by or [])
    for c in cols:
        mu = F.avg(c).over(w)
        sd = F.stddev_samp(c).over(w)
        df = df.withColumn(c + suffix, (F.col(c) - mu) / sd)
    return df


def minmax_scale(df: DataFrame, cols, by=None, suffix: str = "_mm") -> DataFrame:
    """(x − min)/(max − min) per group (MinMaxScaler :146)."""
    w = _group_window(by or [])
    for c in cols:
        lo = F.min(c).over(w)
        hi = F.max(c).over(w)
        df = df.withColumn(c + suffix, (F.col(c) - lo) / (hi - lo))
    return df


def impute_mean(df: DataFrame, cols, by=None) -> DataFrame:
    """NULL → group mean (Imputer :447). Median variant: percentile_approx."""
    w = _group_window(by or [])
    for c in cols:
        df = df.withColumn(c, F.coalesce(F.col(c), F.avg(c).over(w)))
    return df


def one_hot(df: DataFrame, col: str, categories=None, prefix: str | None = None) -> DataFrame:
    """Dummy columns per category (OneHotEncoder :302).

    ``categories`` fixes the vocabulary (stable schema — required for
    streaming/incremental); if None it is collected from the data.
    """
    prefix = prefix or col
    if categories is None:
        categories = [r[0] for r in df.select(col).distinct().orderBy(col).collect()]
    for cat in categories:
        df = df.withColumn(
            f"{prefix}_{cat}", F.when(F.col(col) == cat, 1).otherwise(0)
        )
    return df


def polynomial_features(df: DataFrame, cols, degree: int = 2) -> DataFrame:
    """Powers and pairwise interactions (PolynomialFeatures :348)."""
    for c in cols:
        for d in range(2, degree + 1):
            df = df.withColumn(f"{c}_pow{d}", F.pow(F.col(c), d))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            df = df.withColumn(f"{a}_x_{b}", F.col(a) * F.col(b))
    return df


def equal_width_bins(df: DataFrame, col: str, n_bins: int, out: str = "bin") -> DataFrame:
    """pandas ``cut``-style equal-width binning (Binner :394, compat
    :2339). Bin edges from the global min/max (one agg), assignment is
    map-side. Max value folds into the last bin, as pandas does."""
    stats = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            out,
            F.least(
                F.floor((F.col(col) - F.col("lo")) / ((F.col("hi") - F.col("lo")) / n_bins)),
                F.lit(n_bins - 1),
            ).cast("int"),
        )
        .drop("lo", "hi")
    )


def quantile_bins(
    df: DataFrame,
    col: str,
    n_bins: int,
    out: str = "bin",
    duplicates: str = "drop",
) -> DataFrame:
    """pandas ``qcut`` (compat :2370).

    Scale-safe, and closer to pandas qcut than NTILE: compute the
    n_bins−1 interpolated quantile edges in ONE
    aggregate, broadcast them as literals, and bucket each row by
    comparison — a map-only pass, no global sort, no one-task window.
    Ties share a bin (qcut semantics).

    ``duplicates``: heavily-tied/constant columns can produce IDENTICAL
    quantile edges, which would silently skip bin numbers (bucket-by-
    edge-count jumps by 2 past a doubled edge). ``"drop"`` (default)
    deduplicates the edges first, so bin labels stay contiguous — the
    pandas ``qcut(duplicates="drop")`` behavior, and the scale-friendly
    default here (pandas itself defaults to raising). ``"raise"``
    restores pandas-default strictness: a ValueError when any edges
    collide, so callers get a signal instead of fewer bins."""
    if duplicates not in ("drop", "raise"):
        raise ValueError(
            f"quantile_bins: duplicates must be 'drop' or 'raise', got {duplicates!r}"
        )
    qs = [i / n_bins for i in range(1, n_bins)]
    if not qs:
        # n_bins=1: everything non-null is bin 0 (ntile(1) parity)
        return df.withColumn(
            out,
            F.when(F.col(col).isNotNull(), F.lit(0))
            .otherwise(F.lit(None))
            .cast("int"),
        )
    edge_expr = F.expr(f"percentile({col}, array({','.join(str(q) for q in qs)}))")
    edges = df.agg(edge_expr.alias("e")).first()["e"]
    if edges is None:
        # empty frame or all-null column: no edges exist; null in →
        # null bin, any (impossible) non-null row → bin 0
        return df.withColumn(
            out,
            F.when(F.col(col).isNotNull(), F.lit(0))
            .otherwise(F.lit(None))
            .cast("int"),
        )
    uniq = sorted({float(e) for e in edges if e is not None})
    if len(uniq) < len([e for e in edges if e is not None]):
        if duplicates == "raise":
            raise ValueError(
                f"quantile_bins: bin edges are not unique for column "
                f"{col!r} (n_bins={n_bins}); the column is too tied to "
                "support that many quantile bins. Pass "
                "duplicates='drop' to merge the colliding bins."
            )
        edges = uniq
    # bin = number of edges strictly below the value; edges that land
    # exactly ON a data value keep that value in the lower bin (both
    # engines return the exact value when the quantile position is
    # integral, so the comparison is reproducible cross-engine).
    b = F.lit(0)
    for e in edges:
        b = b + F.when(F.col(col) > F.lit(float(e)), 1).otherwise(0)
    # null in → null bin (pandas qcut NaN parity), not bin 0
    return df.withColumn(
        out, F.when(F.col(col).isNotNull(), b).cast("int")
    )


def simple_ols(df: DataFrame, y: str, x: str, by=None) -> DataFrame:
    """Closed-form simple linear regression per group
    (src/stats/mod.rs:288): slope, intercept, r2 from exact sums."""
    keys = list(by or [])
    # Products of large-magnitude columns overflow the scaled-long sum at
    # fine scales; quantize squares/cross-terms to integers (scale 0) —
    # both engines quantize identically so parity is preserved.
    agg = df.groupBy(*keys).agg(
        F.count(x).alias("n"),
        dsum(x, 2).alias("sx"),
        dsum(y, 2).alias("sy"),
        dsum(F.col(x) * F.col(x), 0).alias("sxx"),
        dsum(F.col(y) * F.col(y), 0).alias("syy"),
        dsum(F.col(x) * F.col(y), 0).alias("sxy"),
    )
    slope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    return agg.selectExpr(
        *keys,
        "n",
        f"{slope} AS slope",
        f"(sy - ({slope}) * sx) / n AS intercept",
        "CASE WHEN n > 1 THEN POWER((n * sxy - sx * sy), 2) / "
        "((n * sxx - sx * sx) * (n * syy - sy * sy)) ELSE NULL END AS r2",
    )


def train_test_split(df: DataFrame, test_frac: float = 0.25, seed: int = 42):
    """Seeded random split (reference ``train_test_split``)."""
    return df.randomSplit([1.0 - test_frac, test_frac], seed=seed)


def kmeans_fit_predict(
    df: DataFrame, features_col: str, k: int, seed: int = 42, max_iter: int = 20
) -> DataFrame:
    """KMeans over an ``array<float>`` column via MLlib (src/ml KMeans).

    Converts the array column to an MLlib vector, fits with a fixed
    seed, returns the input plus a ``cluster`` column. MLlib kmeans is
    the distributed path (kmeans|| init, one pass per iteration).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__features__", array_to_vector(F.col(features_col)))
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, featuresCol="__features__", predictionCol="cluster"
    ).fit(feat)
    return model.transform(feat).drop("__features__")


def pca_project(df: DataFrame, features_col: str, k: int) -> DataFrame:
    """PCA projection to k components via MLlib (src/ml PCA). Adds a
    ``pca`` vector column; eigenvectors are deterministic up to sign."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.withColumn("__features__", array_to_vector(F.col(features_col)))
    model = PCA(k=k, inputCol="__features__", outputCol="__pca__").fit(feat)
    return (
        model.transform(feat)
        .withColumn("pca", vector_to_array(F.col("__pca__")))
        .drop("__features__", "__pca__")
    )


def logistic_fit_metrics(
    df: DataFrame,
    features_col: str,
    label_col: str,
    seed: int = 42,
    max_iter: int = 30,
) -> DataFrame:
    """Binary logistic regression over an array<float> feature column
    (src/ml LogisticRegression re-export, src/lib.rs:219-244) as an
    MLlib Pipeline: vector assembly → standard scaling → LBFGS fit.
    Returns a 1-row DataFrame of training metrics (n, accuracy, auc).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import StandardScaler
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__raw__", array_to_vector(F.col(features_col)))
    pipe = Pipeline(
        stages=[
            StandardScaler(inputCol="__raw__", outputCol="__features__"),
            LogisticRegression(
                featuresCol="__features__",
                labelCol=label_col,
                maxIter=max_iter,
            ),
        ]
    )
    model = pipe.fit(feat)
    scored = model.transform(feat)
    auc = BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol="rawPrediction"
    ).evaluate(scored)
    spark = df.sparkSession
    acc_row = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg((F.col("prediction") == F.col(label_col)).cast("double")).alias("acc"),
    ).first()
    return small_local_df(
        spark, [(acc_row["n"], round(acc_row["acc"], 4), round(auc, 4))],
        "n bigint, accuracy double, auc double",
    )


def feature_scores(long: DataFrame, top_k: int = 2) -> DataFrame:
    """Univariate feature selection (src/ml/preprocessing/mod.rs:484
    FeatureSelector): per-feature variance + Pearson correlation with
    the target, ranked by |corr|, top-k flagged selected.

    Input is long-form ``(feature, x, y)`` — melt wide frames with
    ``stack`` so scoring is ONE aggregation keyed on feature regardless
    of feature count (no per-feature scan). Sufficient statistics use
    the deterministic quantized sums; variance/correlation come from the
    shared formula strings so Spark and the SQL oracle evaluate the
    identical double arithmetic tree.
    """
    from pandrs_spark.functions.deterministic import CORR_FORMULA, VAR_FORMULA

    agg = long.groupBy("feature").agg(
        F.count("x").alias("n"),
        dsum("x", 2).alias("sx"),
        dsum("y", 2).alias("sy"),
        dsum(F.col("x") * F.col("x"), 0).alias("sxx"),
        dsum(F.col("y") * F.col("y"), 0).alias("syy"),
        dsum(F.col("x") * F.col("y"), 0).alias("sxy"),
    )
    var = VAR_FORMULA.format(n="n", sx="sx", sxx="sxx")
    corr = CORR_FORMULA.format(
        n="n", sx="sx", sy="sy", sxx="sxx", syy="syy", sxy="sxy"
    )
    scored = agg.selectExpr(
        "feature",
        "n",
        f"{var} AS variance",
        f"{corr} AS corr",
        f"ABS({corr}) AS abs_corr",
    )
    w = Window.orderBy(F.desc("abs_corr"), F.asc("feature"))
    return scored.withColumn(
        "selected", (F.row_number().over(w) <= top_k).cast("boolean")
    )


def random_forest_metrics(
    df: DataFrame,
    feature_cols,
    label_col: str,
    n_trees: int = 20,
    max_depth: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Random forest classifier over numeric columns (src/ml
    RandomForest re-export, src/lib.rs:219-244) via MLlib: assemble →
    fit → score. Seeded for reproducibility; tree induction has no SQL
    equivalent, so queries built on this are rows-only checks. Returns
    one row: n, accuracy, and per-feature importances.
    """
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    from pandrs_spark.operators.util import fan_out

    cols = list(feature_cols)
    # forest induction aggregates split stats once per tree level: on a
    # byte-sized scan split (3 partitions at sf0.1) 29 of 32 cores sit
    # idle through every pass — widen to compute-sized partitions
    # (fan_out no-ops at production scan widths). A/B at sf0.1:
    # 22.4 s -> 14.5 s warm, accuracy identical at 4 dp.
    # Persisted: the frame is evaluated twice (fit's RDD conversion and
    # the scoring transform) — without the cache the scan + assembler
    # pipeline runs both times.
    feat = tracked_persist(
        fan_out(
            VectorAssembler(inputCols=cols, outputCol="__features__").transform(df)
        )
    )
    model = RandomForestClassifier(
        featuresCol="__features__",
        labelCol=label_col,
        numTrees=n_trees,
        maxDepth=max_depth,
        seed=seed,
    ).fit(feat)
    scored = model.transform(feat)
    imp = model.featureImportances.toArray().tolist()
    acc = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(
            (F.col("prediction") == F.col(label_col).cast("double")).cast("double")
        ).alias("accuracy"),
    )
    return acc.select(
        "n",
        F.round("accuracy", 4).alias("accuracy"),
        *[F.lit(round(imp[i], 4)).alias(f"imp_{c}") for i, c in enumerate(cols)],
    )


def gbt_regression_metrics(
    df: DataFrame,
    feature_cols,
    label_col: str,
    max_iter: int = 20,
    max_depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Gradient-boosted tree regressor (src/ml GradientBoosting
    re-export, src/lib.rs:219-244) via MLlib GBTRegressor: assemble →
    fit → score. Boosting is inherently sequential over trees but each
    tree induction is a distributed pass — MLlib's scaling model, not
    the reference's single-threaded one. Rows-only (tree paths have no
    SQL mirror). Returns one row: n, rmse, r2, per-feature importances.
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor

    cols = list(feature_cols)
    # Persisted for the same two-consumer reason as random_forest_metrics
    # (fit conversion + scoring transform). NOT widened: boosting
    # re-shuffles the frame per sequential stage, where widening
    # measured worse (round-11 negative result). A/B (ADVICE r11:
    # record the numbers like RF/MLP/decision-tree): q130 warm
    # median-of-3 noop wall at sf0.1 12.0 s -> 10.5 s with the persist —
    # smaller than RF/MLP's win because GBTRegressor internally
    # persists its converted instance RDD across boosting iterations,
    # leaving only the scoring re-scan to save; kept because the win is
    # real and the frame is released per query by the cache fence.
    feat = tracked_persist(
        VectorAssembler(inputCols=cols, outputCol="__features__").transform(df)
    )
    model = GBTRegressor(
        featuresCol="__features__",
        labelCol=label_col,
        maxIter=max_iter,
        maxDepth=max_depth,
        seed=seed,
    ).fit(feat)
    scored = model.transform(feat)
    imp = model.featureImportances.toArray().tolist()
    err = scored.select(
        (F.col("prediction") - F.col(label_col)).alias("e"),
        F.col(label_col).alias("y"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("e") * F.col("e")).alias("sse"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return err.selectExpr(
        "n",
        "ROUND(SQRT(sse / n), 4) AS rmse",
        "ROUND(1.0 - sse / (syy - sy * sy / n), 4) AS r2",
    ).select(
        "*",
        *[F.lit(round(imp[i], 4)).alias(f"imp_{c}") for i, c in enumerate(cols)],
    )


def kfold_cv_metrics(
    df: DataFrame,
    feature_cols,
    label_col: str,
    id_col: str,
    k: int = 3,
    max_iter: int = 20,
) -> DataFrame:
    """K-fold cross-validation (src/ml CrossValidation re-export,
    src/lib.rs:219-244; sklearn_compat) for a logistic classifier.
    Folds are assigned by crc32(id) % k — deterministic across engines,
    partitionings and runs, unlike randomSplit. Each fold fits on k−1
    folds and scores the held-out one; fitting is MLlib-distributed,
    the k-loop is a driver loop over k models (k is small by design).
    Returns one row per fold plus the mean accuracy row (fold = -1).
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from concurrent.futures import ThreadPoolExecutor

    from pandrs_spark.operators.util import tracked_persist

    cols = list(feature_cols)
    feat = tracked_persist(
        VectorAssembler(inputCols=cols, outputCol="__features__")
        .transform(df)
        .withColumn("__fold__", F.crc32(F.col(id_col).cast("string")) % k)
    )
    # materialize the shared fold table once BEFORE the concurrent fits
    # race to compute it
    feat.count()
    rows = []
    for fold in range(k):
        train = feat.filter(F.col("__fold__") != fold)
        test = feat.filter(F.col("__fold__") == fold)
        model = LogisticRegression(
            featuresCol="__features__", labelCol=label_col, maxIter=max_iter
        ).fit(train)
        r = (
            model.transform(test)
            .agg(
                F.count(F.lit(1)).alias("n_test"),
                F.avg(
                    (F.col("prediction") == F.col(label_col).cast("double")).cast(
                        "double"
                    )
                ).alias("accuracy"),
            )
            .first()
        )
        rows.append((fold, r["n_test"], round(r["accuracy"], 4)))
    feat.unpersist()
    mean_acc = round(sum(r[2] for r in rows) / k, 4)
    rows.append((-1, sum(r[1] for r in rows), mean_acc))
    spark = df.sparkSession
    return small_local_df(
        spark, rows, "fold int, n_test bigint, accuracy double"
    ).orderBy("fold")


def mlp_classifier_metrics(
    df: DataFrame,
    feature_cols,
    label_col: str,
    hidden=(8,),
    max_iter: int = 60,
    seed: int = 42,
) -> DataFrame:
    """Multilayer perceptron classifier (src/ml MLP re-export,
    src/lib.rs:219-244) via MLlib MultilayerPerceptronClassifier.
    Layer spec is [n_features, *hidden, n_classes]; training is MLlib's
    distributed LBFGS. Rows-only. Returns one row: n, accuracy.
    """
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.feature import VectorAssembler

    from pandrs_spark.operators.util import fan_out

    cols = list(feature_cols)
    # LBFGS runs one gradient treeAggregate per iteration; at the scan's
    # byte-sized split (3 partitions at sf0.1) each of the 60 passes
    # uses 3 of 32 cores. Widening to compute-sized partitions is a
    # no-op at production scan widths. A/B at sf0.1: fit 19.5 s ->
    # 11.3 s warm, accuracy identical to 6 dp.
    # Persist the assembled frame: MLlib re-evaluates the DataFrame
    # pipeline for its own RDD conversion AND the final scoring pass
    # re-reads it — without the cache the scan + VectorAssembler UDF
    # run three times (n_classes agg, fit conversion, transform).
    feat = tracked_persist(
        fan_out(
            VectorAssembler(inputCols=cols, outputCol="__features__").transform(df)
        )
    )
    n_classes = feat.agg(
        (F.max(F.col(label_col).cast("long")) + 1).alias("k")
    ).first()["k"]
    model = MultilayerPerceptronClassifier(
        featuresCol="__features__",
        labelCol=label_col,
        layers=[len(cols), *hidden, int(n_classes)],
        maxIter=max_iter,
        seed=seed,
    ).fit(feat)
    return model.transform(feat).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.avg(
                (F.col("prediction") == F.col(label_col).cast("double")).cast(
                    "double"
                )
            ),
            4,
        ).alias("accuracy"),
    )


def _eps_pairs(
    pts: DataFrame, eps: float, with_coords: bool = False
) -> DataFrame:
    """All point pairs within Euclidean ``eps``, via the classic grid
    trick: bucket into eps-sized cells, self-join on the 3×3 neighbor
    cells, exact distance filter. Candidate count is bounded by local
    density, never n² — the scalable shape for any fixed-radius
    neighborhood operator. Input (id, x, y); output (a_id, b_id)
    including the self-pair; ``with_coords=True`` additionally carries
    (ax, ay, bx, by) so distance-consuming callers (LOF) skip two
    re-joins against the point table (round 11)."""
    cell = pts.select(
        "id", "x", "y",
        F.floor(F.col("x") / eps).alias("cx"),
        F.floor(F.col("y") / eps).alias("cy"),
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    # pair-work-sized widening of the PROBE side (round 11): each probe
    # row explodes ×9 and joins against whole cell buckets, so per-byte
    # work amplifies far past the byte-sized scan split — measured at
    # sf0.1 (q142): the whole candidate generation ran 3.3 s on ONE
    # task while 31 cores idled. The broadcast build side stays on the
    # unwidened frame.
    probe = fan_out(cell, bytes_per_task=4 * 1024).select(
        F.col("id").alias("a_id"), F.col("x").alias("ax"), F.col("y").alias("ay"),
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("cx") + dx).alias("cx"), (F.col("cy") + dy).alias("cy")
                )
                for dx, dy in offsets
            ])
        ).alias("nc"),
    ).select("a_id", "ax", "ay", F.col("nc.cx").alias("cx"), F.col("nc.cy").alias("cy"))
    return (
        probe.join(cell.select(F.col("id").alias("b_id"),
                               F.col("x").alias("bx"), F.col("y").alias("by"),
                               "cx", "cy"),
                   ["cx", "cy"])
        .filter(
            (F.col("ax") - F.col("bx")) ** 2 + (F.col("ay") - F.col("by")) ** 2
            <= eps * eps
        )
        .select(
            "a_id",
            "b_id",
            *(["ax", "ay", "bx", "by"] if with_coords else []),
        )
    )


def dbscan_2d(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int,
) -> DataFrame:
    """DBSCAN over 2-D points as pure DataFrame ops (src/ml DBSCAN
    re-export, src/lib.rs:219-244 — no MLlib equivalent, so this is the
    composition path SURVEY §2.13 prescribes):

    1. grid-bucket each point into eps-sized cells; candidate pairs come
       from a self-join on the 3×3 neighboring cells (the classic grid
       trick — candidate count is bounded by local density, never n²);
    2. exact Euclidean filter ≤ eps, neighbor counts per point;
    3. core points (≥ min_pts neighbors incl. self) form an adjacency
       graph; clusters are its connected components (min-label
       propagation — same scalable loop as the graph module);
    4. border points adopt the smallest cluster label among their core
       neighbors (deterministic); everything else is noise (NULL).

    Returns (id, cluster, is_core). Cluster labels are min core-point
    ids — engine- and partitioning-independent.
    """
    from pandrs_spark.operators.graph import connected_components

    # pts is consumed three times (candidate probe side, candidate
    # build side, the final id join) and its upstream can be expensive
    # (q141 feeds a PCA transform) — persist so the projection runs
    # once (round 11; released per query by the cache fence).
    pts = tracked_persist(
        points.select(
            F.col(id_col).alias("id"),
            F.col(x_col).cast("double").alias("x"),
            F.col(y_col).cast("double").alias("y"),
        )
    )
    pairs = tracked_persist(_eps_pairs(pts, eps))
    counts = pairs.groupBy("a_id").agg(F.count(F.lit(1)).alias("n_nbr"))
    core = tracked_persist(
        counts.filter(F.col("n_nbr") >= min_pts).select(
            F.col("a_id").alias("id")
        )
    )
    core_edges = (
        pairs.join(core.withColumnRenamed("id", "a_id"), "a_id")
        .join(core.withColumnRenamed("id", "b_id"), "b_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    comp = connected_components(core_edges)
    # isolated core points (no core neighbor) are their own cluster
    core_clusters = tracked_persist(
        core.join(comp, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("cluster")
        )
    )
    border = (
        pairs.join(core_clusters.withColumnRenamed("id", "b_id"), "b_id")
        .join(core.withColumnRenamed("id", "a_id"), "a_id", "left_anti")
        .groupBy(F.col("a_id").alias("id"))
        .agg(F.min("cluster").alias("cluster"))
    )
    out = (
        pts.select("id")
        .join(core_clusters.withColumn("is_core", F.lit(True)), "id", "left")
        .join(border.withColumnRenamed("cluster", "b_cluster"), "id", "left")
        .select(
            "id",
            F.coalesce("cluster", "b_cluster").alias("cluster"),
            F.coalesce("is_core", F.lit(False)).alias("is_core"),
        )
    )
    return out


def local_outlier_factor(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    k: int = 5,
    method: str = "exact",
    eps: float | None = None,
) -> DataFrame:
    """Local Outlier Factor over 2-D points (src/ml LOF re-export,
    src/lib.rs:219-244 — no MLlib builtin; SURVEY §2.13 composition
    path). Classic Breunig et al. formulation:

    - exact kNN per point (distance ties broken by neighbor id),
    - k-distance = distance to the k-th neighbor,
    - reach-dist(a,b) = max(k-distance(b), d(a,b)),
    - lrd(a) = k / Σ_b reach-dist(a,b),
    - LOF(a) = mean_b lrd(b)/lrd(a) = sum_reach(a)/k · Σ_b 1/sum_reach(b).

    ``method`` picks the kNN candidate plan (round 9 — previously
    exact-only, a data-sized BroadcastNestedLoopJoin):

    - ``"exact"`` (default): the O(n²) self-join baseline — always
      correct on any coordinate scale, the safe library default.
    - ``"grid"`` (the scale path — ``eps`` is REQUIRED, no default:
      eps is a property of the caller's coordinate scale, and a baked
      constant would silently mis-tune on other corpora): candidates
      come from the eps-grid bucket
      join (``_eps_pairs``, the dbscan_2d shape) — an equi-join on cell
      keys whose volume is bounded by local density, never n². This is
      EXACT, not approximate, whenever every point has ≥ k neighbors
      within ``eps``: the k nearest are then all inside the 3×3 cell
      probe. That precondition is enforced in-plan: any point whose
      grid candidate set is short of k raises
      ``LOF_GRID_EPS_TOO_SMALL`` (JVM raise_error) instead of returning
      a silently-wrong score — fail loudly, exactly like the
      assert_bounded broadcast fences. At higher density eps shrinks
      (kth-NN distance falls as 1/sqrt(n·density)), keeping candidate
      volume per task flat as the corpus grows. The fence covers BOTH
      sides of the reach-distance algebra: a neighbor b missing its
      k-distance (b-side) AND a point whose OWN candidate set is short
      of k (a-side — its k-distance row is absent, so its reach sum
      would otherwise silently span < k neighbors).

    Downstream ranking and the LOF algebra are shared. Both reach sums
    are quantized (``dsum``) so the score is bit-identical across
    partitionings and engines. Returns (id, lof) with lof rounded to 4.
    """
    if method == "grid" and eps is None:
        raise ValueError(
            "local_outlier_factor: method='grid' requires an explicit "
            "eps — it is a property of the caller's coordinate scale "
            "(pick it >= the expected max k-NN distance)"
        )
    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    d = F.sqrt(
        (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
        + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
    )
    if method == "grid":
        # with_coords carries both endpoints' coordinates out of the
        # grid join, so the distance projects directly — the previous
        # shape re-joined the point table twice just to recover (x, y)
        # (round 11; two joins and a re-evaluation of the point subtree
        # removed, identical distance arithmetic).
        pairs = (
            _eps_pairs(pts, eps, with_coords=True)
            .filter(F.col("a_id") != F.col("b_id"))
            .select("a_id", "b_id", d.alias("d"))
        )
    elif method == "exact":
        a = pts.select(F.col("id").alias("a_id"), F.col("x").alias("ax"), F.col("y").alias("ay"))
        b = pts.select(F.col("id").alias("b_id"), F.col("x").alias("bx"), F.col("y").alias("by"))
        pairs = a.join(b, F.col("a_id") != F.col("b_id")).select("a_id", "b_id", d.alias("d"))
    else:
        raise ValueError(f"local_outlier_factor: unknown method {method!r}")
    w = Window.partitionBy("a_id").orderBy(F.round(F.col("d"), 6), "b_id")
    # the kNN table is scanned ~5× downstream (k-distance, reach join,
    # inverse-lrd join, both fences); the cache freezes the window
    # exchange's partition count (200 on a default session, AQE never
    # re-coalesces cached plans), so every scan paid a stage of
    # near-empty tasks — a provably-small table is right-sized
    knn, _ = persist_right_sized(
        pairs.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= k
        ),
        "a_id",
    )
    kdist = knn.filter(F.col("rn") == k).select(F.col("a_id").alias("id"), F.col("d").alias("kd"))
    if method == "grid":
        # Exactness certificate, enforced where Catalyst cannot prune it
        # away: (a) a neighbor b that never found ITS k-th neighbor
        # inside the probe would silently shrink reach sums — the left
        # join keeps the row and the projection of `r` forces the
        # raise; (b) a point with < k candidates of its own would drop
        # out of the output entirely — the final left join + guarded
        # `lof` projection raises instead.
        _fence = F.raise_error(
            F.lit(
                "LOF_GRID_EPS_TOO_SMALL: a point has fewer than "
                f"k={k} neighbors within eps={eps}; raise eps (or fall "
                "back to method='exact') — grid kNN is only exact past "
                "this fence"
            )
        )
        reach = knn.join(kdist, knn["b_id"] == kdist["id"], "left").select(
            "a_id",
            "b_id",
            F.greatest(
                F.when(F.col("kd").isNotNull(), F.col("kd")).otherwise(_fence),
                F.col("d"),
            ).alias("r"),
        )
    else:
        reach = knn.join(kdist, knn["b_id"] == kdist["id"]).select(
            "a_id", "b_id", F.greatest("kd", "d").alias("r")
        )
    sr = reach.groupBy("a_id").agg(dsum("r", 6).alias("sum_reach"))
    if method == "grid":
        # a-side fence: a point with 1..k-1 in-eps candidates that is
        # in nobody's top-k list reaches here with a reach sum spanning
        # fewer than k neighbors — its own k-distance row (kdist) is
        # the witness that its candidate set hit k. Left-join it and
        # raise when absent, instead of emitting sum(<k reaches)/k.
        _own_kd = kdist.select(
            F.col("id").alias("a_id"), F.col("kd").alias("__own_kd")
        )
        sr = sr.join(_own_kd, "a_id", "left").select(
            "a_id",
            F.when(F.col("__own_kd").isNotNull(), F.col("sum_reach"))
            .otherwise(_fence)
            .alias("sum_reach"),
        )
    srb = sr.select(F.col("a_id").alias("b_id"), F.col("sum_reach").alias("sr_b"))
    inv = (
        knn.join(srb, "b_id")
        .groupBy("a_id")
        .agg(dsum(F.lit(1.0) / F.col("sr_b"), 9).alias("sum_inv"))
    )
    out = (
        sr.join(inv, "a_id")
        .select(
            F.col("a_id").alias(id_col),
            F.round(F.col("sum_reach") / k * F.col("sum_inv"), 4).alias("lof"),
        )
    )
    if method == "grid":
        out = (
            pts.select(F.col("id").alias(id_col))
            .join(out, id_col, "left")
            .select(
                id_col,
                F.when(F.col("lof").isNotNull(), F.col("lof"))
                .otherwise(_fence)
                .alias("lof"),
            )
        )
    return out


def single_linkage_clusters(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    threshold: float,
) -> DataFrame:
    """Agglomerative clustering, single linkage, cut at a distance
    threshold (src/ml Agglomerative re-export, src/lib.rs:219-244).

    The full dendrogram is inherently sequential (n−1 ordered merges);
    the flat threshold cut is the form that distributes: two points
    share a cluster iff connected through pairwise links ≤ threshold,
    i.e. clusters are exactly the connected components of the
    eps-neighborhood graph. Grid-bucketed candidate join (never n²) +
    min-label propagation, both linear-ish per round at 100 TB.
    Returns (id, cluster); singletons cluster to their own id.
    """
    from pandrs_spark.operators.graph import connected_components

    # same three-consumer shape as dbscan_2d: probe, build, final join
    pts = tracked_persist(
        points.select(
            F.col(id_col).alias("id"),
            F.col(x_col).cast("double").alias("x"),
            F.col(y_col).cast("double").alias("y"),
        )
    )
    edges = (
        _eps_pairs(pts, threshold)
        .filter(F.col("a_id") != F.col("b_id"))
        .select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    # diameter of a near-critical eps-graph can exceed the default 20
    # label-propagation rounds; the loop still exits early on convergence
    comp = connected_components(edges, max_iter=60)
    return pts.select("id").join(comp, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("component", F.col("id")).alias("cluster"),
    )


def decision_tree_metrics(
    df: DataFrame,
    feature_cols,
    label_col: str,
    max_depth: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Single decision-tree classifier (src/ml DecisionTree re-export,
    src/lib.rs:219-244) via MLlib. Returns one row: n, accuracy, tree
    depth and node count — the structural stats the reference surfaces.
    """
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import VectorAssembler

    cols = list(feature_cols)
    assemble = VectorAssembler(inputCols=cols, outputCol="__features__").transform
    # MLlib samples the split candidates with one seed per input
    # partition, so the tree follows how the rows are partitioned: the
    # same rows in 2 or 4 scan partitions grew different trees. The fit
    # reads a hash partitioning on the row values, sized by the row
    # count, with each partition sorted: a layout that is a function of
    # the data alone. Scoring reads ``df`` as it is.
    width = max(1, -(-df.count() // (1 << 17)))
    keyed = [*cols, label_col]
    # NOT persisted (round-11 negative result): the tree learner caches
    # its own BaggedPoint RDD internally, so the only re-evaluation is
    # the single cheap scoring scan — the cache fill measured as a wash
    # (3.34 s -> 3.5-3.7 s at sf0.1).
    model = DecisionTreeClassifier(
        featuresCol="__features__", labelCol=label_col, maxDepth=max_depth, seed=seed
    ).fit(assemble(df.repartition(width, *keyed).sortWithinPartitions(*keyed)))
    scored = model.transform(assemble(df))
    return scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.avg(
                (F.col("prediction") == F.col(label_col).cast("double")).cast("double")
            ),
            4,
        ).alias("accuracy"),
        F.lit(model.depth).alias("depth"),
        F.lit(model.numNodes).alias("num_nodes"),
    )


def _lcg(seed: int):
    """Tiny deterministic LCG (numerical recipes constants) — the same
    generator other seeded operators in this repo use, so results never
    depend on Python/numpy RNG version."""
    state = seed & 0xFFFFFFFF
    while True:
        state = (1664525 * state + 1013904223) & 0xFFFFFFFF
        yield state / 4294967296.0


def isolation_forest_scores(
    df: DataFrame,
    feature_cols,
    id_col: str,
    n_trees: int = 20,
    psi: int = 256,
    seed: int = 42,
) -> DataFrame:
    """Isolation forest anomaly scores (src/ml IsolationForest
    re-export, src/lib.rs:219-244). No MLlib builtin.

    Spark-first split: iForest *by design* fits each tree on a tiny
    subsample (psi=256, Liu et al. 2008), so the fit is a bounded
    driver-side step at any data scale — the deterministic md5-ordered
    sample comes back small, trees are built with an LCG (engine- and
    platform-stable), and only SCORING touches all rows: trees are
    broadcast and applied via mapInPandas with vectorized numpy index
    chasing (no per-row Python loop), one embarrassingly parallel pass.

    Returns (id, score) where score = 2^(−E[h]/c(psi)); ~0.5 is normal,
    → 1 is anomalous.
    """
    import math

    import numpy as np
    import pandas as pd

    cols = list(feature_cols)

    def c_factor(n: int) -> float:
        if n <= 1:
            return 0.0
        h = math.log(n - 1) + 0.5772156649
        return 2.0 * h - 2.0 * (n - 1) / n

    # deterministic bounded sample: md5 order is data-content-defined,
    # independent of partitioning (same trick as the sampling queries)
    samp = (
        df.select(F.md5(F.col(id_col).cast("string")).alias("__h"), *cols)
        .orderBy("__h")
        .limit(n_trees * psi)
        .drop("__h")
        .collect()
    )
    data = np.array([[float(r[c]) for c in cols] for r in samp])
    rng = _lcg(seed)
    trees = []  # each: arrays (feat, thr, left, right, sz, depth)
    max_depth = math.ceil(math.log2(max(psi, 2)))
    for t in range(n_trees):
        rows = data[(t * psi) % len(data) : (t * psi) % len(data) + psi]
        if len(rows) == 0:
            rows = data[:psi]
        nodes = []  # (feat, thr, left, right, size, depth)

        def build(idx: np.ndarray, depth: int) -> int:
            me = len(nodes)
            nodes.append([-1, 0.0, -1, -1, len(idx), depth])
            if depth >= max_depth or len(idx) <= 1:
                return me
            f = int(next(rng) * len(cols))
            vals = rows[idx, f]
            lo, hi = float(vals.min()), float(vals.max())
            if hi <= lo:
                return me
            thr = lo + next(rng) * (hi - lo)
            lmask = vals < thr
            if not lmask.any() or lmask.all():
                return me
            nodes[me][0] = f
            nodes[me][1] = thr
            nodes[me][2] = build(idx[lmask], depth + 1)
            nodes[me][3] = build(idx[~lmask], depth + 1)
            return me

        build(np.arange(len(rows)), 0)
        trees.append(
            (
                np.array([n[0] for n in nodes], dtype=np.int64),
                np.array([n[1] for n in nodes], dtype=np.float64),
                np.array([n[2] for n in nodes], dtype=np.int64),
                np.array([n[3] for n in nodes], dtype=np.int64),
                np.array([n[4] for n in nodes], dtype=np.int64),
                np.array([n[5] for n in nodes], dtype=np.int64),
            )
        )
    cpsi = c_factor(psi)
    csz = {n: c_factor(n) for n in range(0, psi + 1)}
    csz_arr = np.array([csz[n] for n in range(psi + 1)])
    spark_cols = [id_col] + cols
    out_schema = f"{id_col} long, score double"

    def score_batches(batches):
        for pdf in batches:
            x = pdf[cols].to_numpy(dtype=np.float64)
            n = len(pdf)
            total = np.zeros(n)
            for feat, thr, left, right, sz, dep in trees:
                cur = np.zeros(n, dtype=np.int64)
                for _ in range(max_depth + 1):
                    internal = feat[cur] >= 0
                    if not internal.any():
                        break
                    go_left = np.zeros(n, dtype=bool)
                    idx = np.where(internal)[0]
                    go_left[idx] = (
                        x[idx, feat[cur[idx]]] < thr[cur[idx]]
                    )
                    nxt = np.where(go_left, left[cur], right[cur])
                    cur = np.where(internal, nxt, cur)
                total += dep[cur] + csz_arr[np.clip(sz[cur], 0, psi)]
            eh = total / len(trees)
            score = np.power(2.0, -eh / cpsi)
            yield pd.DataFrame({id_col: pdf[id_col], "score": np.round(score, 4)})

    return df.select(*spark_cols).mapInPandas(score_batches, out_schema)


def auto_model_select(
    df: DataFrame,
    feature_cols,
    label_col: str,
    id_col: str,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """AutoML-style model selection (src/ml/automl.rs, 942 LoC in the
    reference): race a fixed candidate grid — logistic regression,
    decision tree, random forests, GBT — under the same deterministic
    crc32 k-fold split and rank by mean held-out accuracy.

    The grid is a driver loop over a handful of MLlib fits (each fit is
    distributed); fold assignment is content-hashed so the leaderboard
    is reproducible across engines and partitionings. Returns one row
    per candidate: model, mean_accuracy, rank.
    """
    from pyspark.ml.classification import (
        DecisionTreeClassifier,
        GBTClassifier,
        LogisticRegression,
        RandomForestClassifier,
    )
    from pyspark.ml.feature import VectorAssembler

    from concurrent.futures import ThreadPoolExecutor

    from pandrs_spark.operators.util import tracked_persist

    cols = list(feature_cols)
    feat = tracked_persist(
        VectorAssembler(inputCols=cols, outputCol="__features__")
        .transform(df)
        .withColumn("__fold__", F.crc32(F.col(id_col).cast("string")) % k)
    )
    # materialize the shared fold table once BEFORE the concurrent fits
    # race to compute it
    feat.count()
    candidates = [
        ("logistic", LogisticRegression(featuresCol="__features__", labelCol=label_col, maxIter=30)),
        ("decision_tree_d5", DecisionTreeClassifier(featuresCol="__features__", labelCol=label_col, maxDepth=5, seed=seed)),
        ("random_forest_d3", RandomForestClassifier(featuresCol="__features__", labelCol=label_col, numTrees=10, maxDepth=3, seed=seed)),
        ("random_forest_d7", RandomForestClassifier(featuresCol="__features__", labelCol=label_col, numTrees=10, maxDepth=7, seed=seed)),
        ("gbt_d3", GBTClassifier(featuresCol="__features__", labelCol=label_col, maxIter=10, maxDepth=3, seed=seed)),
    ]
    # the grid is embarrassingly parallel: every (candidate, fold) fit
    # is an independent distributed job, so run them from a driver
    # thread pool and let the Spark scheduler interleave their stages —
    # on a real cluster sequential fits leave most executors idle
    # between stages (measured 49.6 s -> see README; each accuracy is
    # computed independently, so concurrency cannot change any value)
    def _one(task):
        name, est, fold = task
        model = est.copy().fit(feat.filter(F.col("__fold__") != fold))
        acc = (
            model.transform(feat.filter(F.col("__fold__") == fold))
            .agg(
                F.avg(
                    (F.col("prediction") == F.col(label_col).cast("double")).cast("double")
                )
            )
            .first()[0]
        )
        return name, fold, acc

    tasks = [(name, est, fold) for name, est in candidates for fold in range(k)]
    accs: dict[str, dict[int, float]] = {}
    # one worker per (candidate, fold): with fewer workers the slowest
    # candidates (GBT, deep RF) sit at the tail of the task list and
    # only start in the second wave, serializing the critical path
    # (A/B at sf0.1: 8 workers 9.9 s, full-width 7.4 s warm)
    with ThreadPoolExecutor(max_workers=min(16, len(tasks))) as pool:
        for name, fold, acc in pool.map(_one, tasks):
            accs.setdefault(name, {})[fold] = acc
    # fold-order summation preserves the exact float fold of the
    # sequential implementation
    results = [
        (name, round(sum(accs[name][f] for f in range(k)) / k, 4))
        for name, _ in candidates
    ]
    feat.unpersist()
    results.sort(key=lambda t: (-t[1], t[0]))
    spark = df.sparkSession
    return small_local_df(
        spark, [(n, a, i + 1) for i, (n, a) in enumerate(results)],
        "model string, mean_accuracy double, rank int",
    )


def one_class_svm_flags(
    df: DataFrame,
    features_col: str,
    id_col: str,
    nu: float = 0.1,
    epochs: int = 25,
) -> DataFrame:
    """One-class SVM (OneClassSVM re-export src/lib.rs:219-244) in the
    SVDD formulation (Tax & Duin) — equivalent to the nu-OCSVM under
    translation-invariant kernels, and well-posed in input space where
    the through-origin linear variant is not: learn the smallest sphere
    (center c, radius R) that excludes at most a nu fraction.

    Alternating exact minimization (fixed-step subgradients oscillate
    here: high-dim distances concentrate into a band narrower than any
    workable step size). Per epoch: (1) R^2 <- exact (1-nu)-quantile of
    |x-c|^2, found from a distinct-value histogram of the quantized
    distances — bounded cardinality, so the rank pass scales with value
    diversity, not rows; (2) c <- trimmed mean of the inliers inside R
    (posexplode hash-agg into d partial sums; the shuffle is d rows
    regardless of data size). The driver holds only (c, R^2).
    Deterministic: full-batch, dsum-quantized sums, integer-bucket
    quantile, fixed epoch budget with an exact-fixpoint early exit —
    when an epoch reproduces the previous centre bit-for-bit, every
    remaining epoch would recompute the identical (c, R^2) (R^2 is a
    pure function of c, and c' a pure function of (c, R^2)), so
    stopping is bit-identical to running the full budget (measured at
    sf0.1: fixpoint at epoch 5 of 15 — 20 driver actions saved).
    Input vectors are L2-normalized first so distances are unit-scale.
    """
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(features_col), lambda v: v * v),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    # the returned plan reads pts, so its persist outlives the call
    pts = tracked_persist(
        df.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(features_col), lambda v: v / norm).alias("x"),
        )
    )

    n = pts.count()
    d = pts.select(F.size("x")).first()[0]
    m = nu * n

    def dist_sq(c):
        # One parsed expression instead of d F.lit py4j round-trips —
        # this is rebuilt twice per epoch, so the column-API build cost
        # (~70 py4j calls each) dominated the tiny per-epoch jobs
        # (round 11). repr() round-trips doubles exactly and Spark's
        # double-literal parse is correctly rounded, so the parsed
        # centre is bit-identical to F.lit(float(v)).
        arr = "array(" + ",".join(f"{float(v)!r}D" for v in c) + ")"
        return F.expr(
            f"aggregate(zip_with(x, {arr}, (a, b) -> (a - b) * (a - b)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    # init: c = global mean
    mean_row = (
        pts.select(F.posexplode("x").alias("pos", "v"))
        .groupBy("pos")
        .agg(dsum("v", 7).alias("s"))
        .orderBy("pos")
        .collect()
    )
    c = [r["s"] / n for r in mean_row]
    r2 = 0.0

    for _ in range(epochs):
        # exact (1-nu)-quantile of quantized |x-c|^2 from a
        # distinct-value histogram (tiny: distances quantized to 1e-6)
        hist = (
            pts.select(
                F.floor(dist_sq(c) * 1e6 + 0.5).cast("bigint").alias("q")
            )
            .groupBy("q")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("q")
            .collect()
        )
        need = n - int(m)  # keep this many inside the sphere
        acc = 0
        r2 = hist[-1]["q"] / 1e6
        for row in hist:
            acc += row["cnt"]
            if acc >= need:
                r2 = row["q"] / 1e6
                break
        # c <- trimmed mean of inliers
        inl = pts.filter(F.floor(dist_sq(c) * 1e6 + 0.5) <= F.lit(int(round(r2 * 1e6))))
        agg = (
            inl.select(F.posexplode("x").alias("pos", "v"))
            .groupBy("pos")
            .agg(dsum("v", 7).alias("s"), F.count(F.lit(1)).alias("k"))
            .orderBy("pos")
            .collect()
        )
        k = agg[0]["k"] if agg else n
        c_next = [r["s"] / k for r in agg] if agg else c
        if c_next == c:
            # exact fixpoint: R^2 is a pure function of c and c a pure
            # function of (c, R^2), so every remaining epoch reproduces
            # this (c, r2) bit-for-bit — stop paying 2 driver actions
            # per epoch for identical values
            break
        c = c_next

    dec = F.lit(r2) - dist_sq(c)
    return pts.select(
        "id",
        (F.round(dec * 1e6) / 1e6).alias("decision"),
        (dec < 0).cast("int").alias("is_outlier"),
    )


def tsne_project(
    df: DataFrame,
    features_col: str,
    id_col: str,
    sample_n: int = 300,
    perplexity: float = 20.0,
    iters: int = 250,
) -> DataFrame:
    """t-SNE 2-D projection (TSNE re-export src/lib.rs:219-244).

    t-SNE is inherently O(n^2) and iterative — not a distributed
    operator at full cardinality in ANY engine (the reference runs it
    single-node too). Spark's role is the deterministic downsample
    (md5-ordered, content-addressed — same rows at any partitioning /
    cluster size) and the join-back; the O(sample_n^2) core runs exact
    on the driver with PCA init, fixed early exaggeration and momentum,
    zero randomness. At 100 TB the sample stays sample_n rows; nothing
    else leaves the executors.
    """
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("id"), F.col(features_col).alias("x"))
        .orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(sample_n)
        .collect()
    )
    ids = [r["id"] for r in rows]
    X = np.array([r["x"] for r in rows], dtype=np.float64)
    n = len(ids)

    # pairwise squared distances -> conditional P with per-point sigma
    # binary-searched to the target perplexity
    sq = np.sum(X * X, axis=1)
    D = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (X @ X.T), 0.0)
    P = np.zeros((n, n))
    target = np.log(perplexity)
    for i in range(n):
        lo, hi, beta = 1e-20, 1e20, 1.0
        Di = np.delete(D[i], i)
        for _ in range(50):
            p = np.exp(-Di * beta)
            s = p.sum()
            if s <= 0:
                beta, hi = (lo + beta) / 2.0, beta
                continue
            H = np.log(s) + beta * (Di * p).sum() / s
            if abs(H - target) < 1e-5:
                break
            if H > target:
                lo, beta = beta, beta * 2 if hi >= 1e20 else (beta + hi) / 2
            else:
                hi, beta = beta, (lo + beta) / 2
        p = np.exp(-np.delete(D[i], i) * beta)
        p /= max(p.sum(), 1e-12)
        P[i, np.arange(n) != i] = p
    P = (P + P.T) / (2.0 * n)
    P = np.maximum(P, 1e-12)

    # PCA init, sign-fixed for determinism
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / max(n - 1, 1)
    vals, vecs = np.linalg.eigh(cov)
    comp = vecs[:, np.argsort(vals)[::-1][:2]]
    for j in range(2):
        k = np.argmax(np.abs(comp[:, j]))
        if comp[k, j] < 0:
            comp[:, j] = -comp[:, j]
    Y = (Xc @ comp) * 1e-4 / max(np.abs(Xc @ comp).max(), 1e-12)

    # "auto" learning rate (sklearn/openTSNE heuristic): n / early
    # exaggeration, floored at 50. A fixed lr=200 is tuned for n in the
    # thousands and DIVERGES on small samples (updates overshoot, blobs
    # shatter and interleave); n/12 keeps step size proportional to the
    # gradient normalization so the layout converges at any sample_n.
    lr = max(n / 12.0, 50.0)
    gains, inc = np.ones_like(Y), np.zeros_like(Y)
    for it in range(iters):
        mult = 12.0 if it < 50 else 1.0
        momentum = 0.5 if it < 100 else 0.8
        sqy = np.sum(Y * Y, axis=1)
        num = 1.0 / (1.0 + np.maximum(sqy[:, None] + sqy[None, :] - 2.0 * (Y @ Y.T), 0.0))
        np.fill_diagonal(num, 0.0)
        Q = np.maximum(num / num.sum(), 1e-12)
        W = (mult * P - Q) * num
        grad = 4.0 * ((np.diag(W.sum(axis=1)) - W) @ Y)
        gains = np.where(np.sign(grad) != np.sign(inc), gains + 0.2, gains * 0.8)
        gains = np.maximum(gains, 0.01)
        inc = momentum * inc - lr * gains * grad
        Y = Y + inc
        Y = Y - Y.mean(axis=0)

    out = [
        (ids[i], round(float(Y[i, 0]), 6), round(float(Y[i, 1]), 6))
        for i in range(n)
    ]
    return small_local_df(
        df.sparkSession, out, f"{id_col} long, ts_x double, ts_y double"
    )


def feature_hashing(
    df, text_col: str, id_col: str, n_buckets: int = 64
):
    """Hashing-trick vectorizer: tokens hash (md5, engine-portable)
    into a fixed bucket space — the unbounded-vocabulary featurizer
    that needs NO fitted dictionary, so feature extraction is a pure
    map over any corpus size and train/serve can never skew on vocab
    drift. Returns long-form (id_col, bucket, cnt); pivot to a vector
    downstream if a dense shape is needed."""
    from pandrs_spark.operators.text import tokens

    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    return tok.groupBy(id_col, bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def target_encode(
    df,
    cat_col: str,
    target_col: str,
    smoothing: float = 20.0,
    scale: int = 4,
):
    """Smoothed target (mean) encoding of a categorical: per-category
    encoded value = (sum_target + global_mean * m) / (n + m) — the
    high-cardinality categorical featurizer. Exact quantized sums for
    both the global mean and the per-category fold, so the encoding is
    bit-reproducible on any engine (a must: train/serve encoders have
    to agree exactly). One aggregate + one broadcast of the scalar
    prior. Returns (cat_col, n, encoded)."""
    prior = df.agg(
        (dsum(target_col, scale) / F.count(target_col)).alias("__prior__")
    )
    per_cat = df.groupBy(cat_col).agg(
        F.count(target_col).alias("n"),
        dsum(target_col, scale).alias("__sum__"),
    )
    return per_cat.join(F.broadcast(prior)).select(
        cat_col,
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (F.col("__sum__") + F.col("__prior__") * smoothing)
            / (F.col("n") + smoothing),
            6,
        ).alias("encoded"),
    )


def psi(
    expected,
    actual,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
):
    """Population stability index between two samples of a feature
    over fixed equal-width bins on [lo, hi] (fixed bins, not sample
    quantiles, so the metric is reproducible and mergeable across
    engines/periods). PSI = Σ (p_a - p_e) * ln(p_a / p_e); > 0.2 is
    the conventional retrain alarm. Two count aggregates + a
    broadcast-joined bin spine that keeps empty bins (epsilon-floored
    so the log never sees zero). Returns one row per bin plus the
    summable term — callers SUM(term) for the index."""
    width = (hi - lo) / n_bins
    bin_of = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0), F.floor((F.col(value_col) - lo) / width).cast("int")
        ),
    )

    def counts(d, name):
        return d.groupBy(bin_of.alias("bin")).agg(
            F.count(F.lit(1)).alias(name)
        )

    spine = expected.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    e = counts(expected, "n_e")
    a = counts(actual, "n_a")
    te = expected.count()
    ta = actual.count()
    eps = 1e-6
    joined = (
        spine.join(F.broadcast(e), "bin", "left")
        .join(F.broadcast(a), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_e", F.lit(0)).alias("n_e"),
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
        )
    )
    p_e = F.greatest(F.col("n_e") / te, F.lit(eps))
    p_a = F.greatest(F.col("n_a") / ta, F.lit(eps))
    return joined.withColumn(
        "term", F.round((p_a - p_e) * F.log(p_a / p_e), 9)
    )


def isotonic_fit_metrics(
    df: DataFrame,
    x_col: str,
    y_col: str,
    increasing: bool = True,
) -> DataFrame:
    """Isotonic (monotone) regression y ~ x via MLlib's distributed
    pool-adjacent-violators (parallel PAV per partition + merge), the
    scale path for monotone calibration curves (src/ml re-export,
    src/lib.rs:219-244). Returns a 1-row metrics DataFrame:

    - ``n`` rows fitted
    - ``n_boundaries`` — piecewise-constant segment boundaries learned
    - ``monotone`` — predictions over the sorted boundary grid are
      nondecreasing (the PAV contract; pinned TRUE by callers)
    - ``mse`` / ``mse_const`` — fit MSE vs the constant-mean baseline
      (PAV minimizes squared error within the monotone class, so
      mse <= mse_const always holds)
    """
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.regression import IsotonicRegression

    feat = df.select(
        F.col(x_col).cast("double").alias("__x__"),
        F.col(y_col).cast("double").alias("__y__"),
    ).withColumn("__features__", array_to_vector(F.array(F.col("__x__"))))
    model = IsotonicRegression(
        featuresCol="__features__", labelCol="__y__", isotonic=increasing
    ).fit(feat)
    bounds = list(model.boundaries)
    preds = list(model.predictions)
    monotone = all(b <= a for a, b in zip(preds[1:], preds)) if increasing else all(
        a <= b for a, b in zip(preds[1:], preds)
    )
    scored = model.transform(feat)
    row = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg((F.col("prediction") - F.col("__y__")) ** 2).alias("mse"),
        (F.avg(F.col("__y__") ** 2) - F.avg("__y__") ** 2).alias("mse_const"),
    ).first()
    spark = df.sparkSession
    return small_local_df(
        spark,
        [
            (
                int(row["n"]),
                len(bounds),
                bool(monotone),
                float(row["mse"]),
                float(row["mse_const"]),
            )
        ],
        "n long, n_boundaries long, monotone boolean, mse double, mse_const double",
    )


def fpgrowth_frequent_itemsets(
    df: DataFrame, items_col: str, min_support: float = 0.04
) -> DataFrame:
    """Frequent itemsets via MLlib FP-Growth (the distributed FP-tree
    algorithm: one pass for item counts, one conditional-tree pass per
    frequent suffix — no candidate-generation blowup, unlike Apriori).

    Returns ``items array, freq long, n_baskets long`` so callers can
    apply EXACT integer support thresholds (``freq * k >= n``) instead
    of MLlib's ceil(minSupport·n) double product, whose last-ulp
    behavior is not portable across engines. Pass a slightly lower
    ``min_support`` than the target threshold and post-filter.
    Reference: pattern-mining surface of src/ml/mod.rs (behavioral
    spec only).
    """
    from pyspark.ml.fpm import FPGrowth

    n = df.count()
    model = FPGrowth(
        itemsCol=items_col, minSupport=min_support, minConfidence=0.1
    ).fit(df)
    return model.freqItemsets.select(
        F.col("items"),
        F.col("freq").cast("long").alias("freq"),
        F.lit(n).cast("long").alias("n_baskets"),
    )


# Huber IRLS formula fragments — shared VERBATIM with oracle SQL so
# both engines walk the same double-arithmetic tree.
HUBER_K = "CAST(1.345 AS DOUBLE)"
HUBER_B0 = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
HUBER_A0 = "((sy - b0 * sx) / n)"
HUBER_SIG2 = (
    "((syy - 2 * a0 * sy - 2 * b0 * sxy + 2 * a0 * b0 * sx"
    " + n * a0 * a0 + b0 * b0 * sxx) / n)"
)
HUBER_R = "(y - a0 - b0 * x)"
HUBER_W = (
    f"CASE WHEN ABS({HUBER_R}) <= {HUBER_K} * s0 THEN CAST(1.0 AS DOUBLE) "
    f"ELSE {HUBER_K} * s0 / ABS({HUBER_R}) END"
)
HUBER_B1 = "((sw * swxy - swx * swy) / (sw * swxx - swx * swx))"
HUBER_A1 = "((swy - b1 * swx) / sw)"


def huber_ols(df: DataFrame, x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Huber-weighted simple regression: OLS start, residual scale from
    the SAME sufficient statistics (no extra scan), then one exact IRLS
    reweighting pass. Two full aggregations total — each map-side
    partial-combined — regardless of data size; repeated application
    gives further IRLS iterations. Weights w=min(1, k·s/|r|) with
    k=1.345 (95% Gaussian efficiency). All sums quantized
    (scale 0 for squares/cross-terms per the int64 envelope), every
    double formula shared verbatim with the oracle SQL via the
    HUBER_* fragments. Returns one row:
    n, b0/a0/s0 (OLS + scale), b1/a1 (Huber), n_down (rows with w<1).
    Reference: robust-regression surface of src/stats/regression/mod.rs
    (behavioral spec only).
    """
    fact = df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
    agg1 = fact.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("x", 2).alias("sx"),
        dsum("y", 2).alias("sy"),
        dsum(F.col("x") * F.col("x"), 0).alias("sxx"),
        dsum(F.col("y") * F.col("y"), 0).alias("syy"),
        dsum(F.col("x") * F.col("y"), 0).alias("sxy"),
    )
    p = (
        agg1.withColumn("b0", F.expr(HUBER_B0))
        .withColumn("a0", F.expr(HUBER_A0))
        .withColumn("s0", F.expr(f"SQRT({HUBER_SIG2})"))
    )
    w = fact.crossJoin(F.broadcast(p)).withColumn("w", F.expr(HUBER_W))
    agg2 = w.groupBy("n", "b0", "a0", "s0").agg(
        dsum("w", 6).alias("sw"),
        dsum(F.expr("w * x"), 2).alias("swx"),
        dsum(F.expr("w * y"), 2).alias("swy"),
        dsum(F.expr("w * x * x"), 0).alias("swxx"),
        dsum(F.expr("w * x * y"), 0).alias("swxy"),
        F.sum(F.expr("CASE WHEN w < 1.0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_down"),
    )
    return agg2.withColumn("b1", F.expr(HUBER_B1)).withColumn(
        "a1", F.expr(HUBER_A1)
    )


def em_gmm_1d(
    df: DataFrame,
    value_col: str,
    init: tuple[float, float, float, float, float] = (1.0, 2.0, 8.0, 2.0, 0.5),
    n_iter: int = 3,
) -> DataFrame:
    """EM for a 1-D two-component Gaussian mixture (ML tier beside
    :func:`kmeans_fit_predict`; behavioral spec src/ml/ clustering
    family) — the q414 trajectory extracted as a reusable operator so
    its partition-order invariance is property-testable directly.

    Each round: E-step responsibilities r_i = π·N(x|μ1,σ1) /
    (π·N(x|μ1,σ1) + (1−π)·N(x|μ2,σ2)) as a map-only broadcast carry of
    the 1-row parameter frame, then an M-step of SIX quantized exact
    sums (scale 9) so every round's parameters — hence the whole
    trajectory — are bitwise partition-order invariant. Returns one row
    (n, mu1, s1, mu2, s2, pi), unquantized (callers round for oracles).

    Scale: n_iter linear passes; no data-sized state, parameters are a
    broadcast scalar carry.

    Degenerate inputs (a component's variance collapsing to 0, or all
    responsibility on one side) yield NULL parameters instead of an
    ANSI divide-by-zero: every division is guarded by a ``F.when`` that
    is mathematically inert on non-degenerate data, so the healthy-path
    double-arithmetic tree (and the oracle hash) is unchanged.
    """
    sqrt2pi = 2.5066282746310002
    spark = df.sparkSession
    params = small_local_df(
        spark, [init], "mu1 double, s1 double, mu2 double, s2 double, pi double"
    )
    vals = df.select(F.col(value_col).cast("double").alias("x"))
    for _ in range(n_iter):
        j = vals.crossJoin(F.broadcast(params))
        pdf1 = F.when(
            F.col("s1") > 0,
            F.exp(
                -((F.col("x") - F.col("mu1")) * (F.col("x") - F.col("mu1")))
                / (2.0 * F.col("s1") * F.col("s1"))
            ) / (F.col("s1") * sqrt2pi),
        )
        pdf2 = F.when(
            F.col("s2") > 0,
            F.exp(
                -((F.col("x") - F.col("mu2")) * (F.col("x") - F.col("mu2")))
                / (2.0 * F.col("s2") * F.col("s2"))
            ) / (F.col("s2") * sqrt2pi),
        )
        denom = F.col("pi") * pdf1 + (1.0 - F.col("pi")) * pdf2
        # nanvl: a collapsed-variance component can drive pdf -> inf
        # and r -> inf/inf = NaN; map NaN to NULL (inert on healthy
        # data) so the quantized BIGINT cast can never overflow.
        r = F.nanvl(
            F.when(denom != 0, (F.col("pi") * pdf1) / denom),
            F.lit(None).cast("double"),
        )
        e = j.select(F.col("x"), r.alias("r"))
        s = e.agg(
            F.count(F.lit(1)).alias("n"),
            dsum("r", 9).alias("a"),
            dsum(F.col("r") * F.col("x"), 9).alias("b"),
            dsum(F.col("r") * F.col("x") * F.col("x"), 9).alias("c"),
            dsum((1.0 - F.col("r")) * F.col("x"), 9).alias("d"),
            dsum((1.0 - F.col("r")) * F.col("x") * F.col("x"), 9).alias("e"),
        )
        a_ok = F.col("a") != 0
        na = F.col("n") - F.col("a")
        na_ok = na != 0
        params = s.select(
            F.when(a_ok, F.col("b") / F.col("a")).alias("mu1"),
            F.when(
                a_ok,
                F.sqrt(
                    F.col("c") / F.col("a")
                    - (F.col("b") / F.col("a")) * (F.col("b") / F.col("a"))
                ),
            ).alias("s1"),
            F.when(na_ok, F.col("d") / na).alias("mu2"),
            F.when(
                na_ok,
                F.sqrt(
                    F.col("e") / na - (F.col("d") / na) * (F.col("d") / na)
                ),
            ).alias("s2"),
            F.when(F.col("n") > 0, F.col("a") / F.col("n")).alias("pi"),
            F.col("n"),
        )
    return params.select(
        F.col("n").cast("long").alias("n"),
        "mu1", "s1", "mu2", "s2", "pi",
    )


def ransac_line_consensus(
    pts: DataFrame,
    t_col: str = "t",
    y_col: str = "y",
    sample_n: int = 8,
    rel_tol: float = 0.1,
) -> DataFrame:
    """RANSAC-lite consensus line fit (robust-regression tier beside
    :func:`huber_ols`; Fischler-Bolles 1981 is the public spec) — the
    q426 core extracted as a reusable operator. Candidate models come
    from all pairs of a DETERMINISTIC md5-ordered ``sample_n``-point
    sample (bounded ~n²/2 candidates, broadcast); each is scored by
    its inlier consensus |y − ŷ| ≤ rel_tol·|ŷ| over ALL points in one
    map-only ×candidates pass; the max-consensus model wins, ties
    broken by sample-point keys. Returns ONE row (t1, t2, slope,
    icept, n_inliers, n_total), unquantized.

    Scale: no data-sized pair join — the candidate set is O(sample_n²)
    and broadcast; the scoring pass is linear. Partition-order
    invariant because the sample is md5-keyed (not physical-order) and
    inlier counts are exact integers.
    """
    p = pts.select(
        F.col(t_col).cast("long").alias("t"),
        F.col(y_col).cast("double").alias("y"),
    )
    sample = p.orderBy(F.expr("md5(cast(t as string))"), "t").limit(sample_n)
    a = sample.select(F.col("t").alias("t1"), F.col("y").alias("y1"))
    b = sample.select(F.col("t").alias("t2"), F.col("y").alias("y2"))
    models = (
        a.join(b, F.col("t1") < F.col("t2"))
        .withColumn(
            "slope", (F.col("y2") - F.col("y1")) / (F.col("t2") - F.col("t1"))
        )
        .withColumn("icept", F.col("y1") - F.col("slope") * F.col("t1"))
        .select("t1", "t2", "slope", "icept")
    )
    pred = F.col("slope") * F.col("t") + F.col("icept")
    scored = (
        p.crossJoin(F.broadcast(models))
        .groupBy("t1", "t2", "slope", "icept")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("y") - pred) <= rel_tol * F.abs(pred), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_inliers"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
    )
    return scored.orderBy(F.desc("n_inliers"), "t1", "t2").limit(1)


def _irls_1d(
    df: DataFrame, y_col: str, x_col: str, n_iter: int, link, mean, weight
) -> DataFrame:
    """``n_iter`` unrolled IRLS rounds of a one-feature GLM, shared by
    :func:`poisson_irls_1d` and :func:`logistic_irls_1d`.

    Start from b0 = link(ȳ), b1 = 0. Each round takes η = b0 + b1·x,
    μ = mean(η), w = weight(μ) and z = η + (y−μ)/w, then solves the 2×2
    weighted normal equations over five exact scale-6 sums in closed
    form. Returns one row (n, b0, b1, mean_y).
    """
    d = df.select(
        F.col(y_col).cast("long").alias("y"),
        F.col(x_col).cast("double").alias("x"),
    )
    params = d.agg(
        (F.sum("y").cast("long") / F.count(F.lit(1))).alias("ybar")
    ).select(link(F.col("ybar")).alias("b0"), F.lit(0.0).alias("b1"))
    for _ in range(n_iter):
        j = d.crossJoin(F.broadcast(params))
        eta = F.col("b0") + F.col("b1") * F.col("x")
        mu = mean(eta)
        w = weight(mu)
        z = eta + (F.col("y") - mu) / w
        s = j.select(F.col("x"), w.alias("w"), z.alias("z")).agg(
            dsum("w", 6).alias("sw"),
            dsum(F.col("w") * F.col("x"), 6).alias("swx"),
            dsum(F.col("w") * F.col("x") * F.col("x"), 6).alias("swxx"),
            dsum(F.col("w") * F.col("z"), 6).alias("swz"),
            dsum(F.col("w") * F.col("x") * F.col("z"), 6).alias("swxz"),
        )
        det = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
        b1 = (F.col("sw") * F.col("swxz") - F.col("swx") * F.col("swz")) / det
        params = s.select(
            F.when(
                det != 0, (F.col("swz") - b1 * F.col("swx")) / F.col("sw")
            ).alias("b0"),
            F.when(det != 0, b1).alias("b1"),
        )
    stats = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("y").cast("long") / F.count(F.lit(1))).alias("mean_y"),
    )
    return F.broadcast(stats).crossJoin(F.broadcast(params)).select(
        "n", "b0", "b1", "mean_y"
    )


def poisson_irls_1d(
    df: DataFrame, y_col: str, x_col: str, n_iter: int = 3
) -> DataFrame:
    """Poisson regression with log link, one feature + intercept, by
    ``n_iter`` unrolled IRLS rounds (GLM tier beside :func:`simple_ols`
    and :func:`huber_ols`; McCullagh-Nelder is the public spec).

    Initialize b0 = ln(ȳ), b1 = 0; each round recomputes the working
    response z = η + (y−μ)/μ and weight w = μ = exp(η), then solves
    the 2×2 weighted normal equations in closed form:

        b1 = (Sw·Swxz − Swx·Swz) / (Sw·Swxx − Swx²)
        b0 = (Swz − b1·Swx) / Sw

    The five weighted sums are quantized exact longs (scale 6), so the
    whole trajectory is partition-order invariant and a SQL oracle can
    unroll the identical rounds. Returns one row
    (n, b0, b1, mean_y), unquantized.

    Scale: n_iter linear passes, each one map + one aggregate with a
    broadcast scalar parameter carry — the em_gmm_1d shape.
    """
    return _irls_1d(df, y_col, x_col, n_iter, F.log, F.exp, lambda mu: mu)


def logistic_irls_1d(
    df: DataFrame, y_col: str, x_col: str, n_iter: int = 3
) -> DataFrame:
    """Binomial logistic regression with one feature + intercept by
    ``n_iter`` unrolled IRLS rounds — the binary-outcome twin of
    :func:`poisson_irls_1d` (McCullagh-Nelder GLM family; the canonical
    propensity/Platt-scaling fit):

        μ = σ(η),  w = μ(1−μ),  z = η + (y−μ)/w

    then the same closed-form 2×2 weighted normal equations per round.
    Initialize b0 = logit(ȳ), b1 = 0. All five weighted sums are
    quantized exact longs (scale 6) → the whole trajectory is
    partition-order invariant and a SQL oracle can unroll the identical
    rounds. Returns one row (n, b0, b1, mean_y), unquantized.

    Scale: n_iter linear passes, one map + one aggregate each, scalar
    parameter carry — the poisson_irls_1d shape exactly.
    """
    return _irls_1d(
        df,
        y_col,
        x_col,
        n_iter,
        lambda p: F.log(p / (1 - p)),
        lambda eta: 1.0 / (1.0 + F.exp(-eta)),
        lambda mu: mu * (1.0 - mu),
    )
