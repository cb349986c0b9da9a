"""ML evaluation metrics (SURVEY.md §2.13; reference metrics
re-exports src/lib.rs:219-244 — accuracy/f1/mse/r2 etc.).

Pure aggregation-tier: every metric reduces to one grouped/global
aggregation over (label, prediction) pairs — a single partial-agg
shuffle at any scale, no driver-side data movement. Double sums are
dsum-quantized so the numbers are bit-identical across partitionings
and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandrs_spark.functions.deterministic import dsum

__all__ = [
    "confusion_matrix",
    "classification_metrics",
    "regression_metrics",
    "ranking_metrics",
]


def confusion_matrix(df: DataFrame, label_col: str, pred_col: str) -> DataFrame:
    """Counts per (label, prediction) cell."""
    return (
        df.groupBy(F.col(label_col).alias("label"), F.col(pred_col).alias("pred"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "pred")
    )


def classification_metrics(df: DataFrame, label_col: str, pred_col: str) -> DataFrame:
    """Per-class precision / recall / F1 plus support, from one pass.

    tp/fp/fn come from conditional counts grouped by class; the
    classes present in either column each get a row.
    """
    lab = F.col(label_col)
    pred = F.col(pred_col)
    classes = df.select(lab.alias("cls")).union(df.select(pred.alias("cls"))).distinct()
    per = (
        df.crossJoin(F.broadcast(classes))
        .groupBy("cls")
        .agg(
            F.count(F.when((lab == F.col("cls")) & (pred == F.col("cls")), 1)).alias("tp"),
            F.count(F.when((lab != F.col("cls")) & (pred == F.col("cls")), 1)).alias("fp"),
            F.count(F.when((lab == F.col("cls")) & (pred != F.col("cls")), 1)).alias("fn"),
        )
    )
    precision = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    recall = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    return per.select(
        "cls",
        (F.col("tp") + F.col("fn")).alias("support"),
        precision.alias("precision"),
        recall.alias("recall"),
        F.when(
            precision + recall > 0, 2 * precision * recall / (precision + recall)
        )
        .otherwise(0.0)
        .alias("f1"),
    ).orderBy("cls")


def regression_metrics(
    df: DataFrame, y_col: str, yhat_col: str, scale: int = 4
) -> DataFrame:
    """mse / rmse / mae / r2 as one aggregation of quantized sums.

    Residual powers are quantized at ``scale`` digits before summing
    (mind the int64 envelope: rescale y first if |y| is large).
    """
    y = F.col(y_col)
    e = y - F.col(yhat_col)
    agg = df.agg(
        F.count(y).alias("n"),
        dsum(e * e, scale).alias("sse"),
        dsum(F.abs(e), scale).alias("sae"),
        dsum(y, scale).alias("sy"),
        dsum(y * y, scale).alias("syy"),
    )
    sst = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return agg.select(
        "n",
        (F.col("sse") / F.col("n")).alias("mse"),
        F.sqrt(F.col("sse") / F.col("n")).alias("rmse"),
        (F.col("sae") / F.col("n")).alias("mae"),
        (F.lit(1.0) - F.col("sse") / sst).alias("r2"),
    )


def ranking_metrics(
    pred: DataFrame,
    truth: DataFrame,
    query_col: str = "id_q",
    item_col: str = "nn_id",
    rank_col: str = "rank",
    k: int = 5,
) -> DataFrame:
    """Retrieval-quality metrics of a predicted ranking against a
    ground-truth top-k: recall@k, MRR@k, and binary-relevance nDCG@k,
    averaged over queries. The in-gate certificate for every ANN path
    (LSH / IVF): q88 measures recall alone, this adds rank-position
    quality.

    Shape: one equi-join of (query, item) pairs — both inputs are
    already tiny top-k tables, k rows per query — then a per-query
    aggregate and a global mean. Queries with NO predicted hits still
    count (truth is the base of the left join), which is what makes
    the mean honest. Per-query metrics are quantized (scale 9) before
    the global mean so the average is order-independent and
    engine-exact.
    """
    idcg = sum(1.0 / __import__("math").log2(i + 1) for i in range(1, k + 1))
    p = pred.select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).alias("__r"),
    )
    t = truth.select(
        F.col(query_col).alias("__q"), F.col(item_col).alias("__i")
    )
    n_truth = truth.groupBy(F.col(query_col).alias("__q")).agg(
        F.count(F.lit(1)).alias("__nt")
    )
    hits = p.join(t, ["__q", "__i"]).groupBy("__q").agg(
        F.count(F.lit(1)).alias("__nh"),
        (1.0 / F.min("__r")).alias("__rr"),
        F.sum(1.0 / F.log2(F.col("__r") + 1.0)).alias("__dcg"),
    )
    perq = n_truth.join(hits, "__q", "left").select(
        (F.coalesce(F.col("__nh"), F.lit(0)) / F.col("__nt")).alias("recall"),
        F.coalesce(F.col("__rr"), F.lit(0.0)).alias("rr"),
        (F.coalesce(F.col("__dcg"), F.lit(0.0)) / F.lit(idcg)).alias("ndcg"),
    )
    n = F.count(F.lit(1))
    mean9 = lambda c: F.round(  # noqa: E731
        dsum(c, 9) / n, 6
    )
    return perq.agg(
        n.alias("n_queries"),
        mean9(F.col("recall")).alias(f"recall_at_{k}"),
        mean9(F.col("rr")).alias(f"mrr_at_{k}"),
        mean9(F.col("ndcg")).alias(f"ndcg_at_{k}"),
    )
