"""Unit tests for ranking metrics and MMR re-ranking
(operators/metrics.py, operators/similarity.py)."""

from __future__ import annotations

import math

from pandrs_spark.operators.util import small_local_df


def test_ranking_metrics_hand_computed(spark):
    from pandrs_spark.operators.metrics import ranking_metrics

    # q1: preds [10,11,12] vs truth [10,12,13] → hits at ranks 1,3
    # q2: preds [20,21,22] vs truth [23,24,25] → no hits
    pred = small_local_df(
        spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2), (2, 22, 3)],
        "id_q int, nn_id int, rank int",
    )
    truth = small_local_df(
        spark, [(1, 10), (1, 12), (1, 13), (2, 23), (2, 24), (2, 25)],
        "id_q int, nn_id int",
    )
    row = ranking_metrics(pred, truth, k=3).collect()[0]
    assert row["n_queries"] == 2
    # recall: q1 = 2/3, q2 = 0 → mean 1/3
    assert abs(row["recall_at_3"] - round((2 / 3) / 2, 6)) < 1e-6
    # MRR: q1 first hit at rank 1 → 1.0; q2 → 0 → mean 0.5
    assert abs(row["mrr_at_3"] - 0.5) < 1e-9
    # nDCG: q1 dcg = 1/log2(2) + 1/log2(4); idcg = 1/log2(2)+1/log2(3)+1/log2(4)
    idcg = sum(1.0 / math.log2(i + 1) for i in (1, 2, 3))
    ndcg1 = (1.0 / math.log2(2) + 1.0 / math.log2(4)) / idcg
    assert abs(row["ndcg_at_3"] - round(ndcg1 / 2, 6)) < 1e-6


def test_mmr_rerank_prefers_diversity(spark):
    from pandrs_spark.operators.similarity import mmr_rerank

    # Corpus: doc 1 ≈ query; doc 2 a near-clone of doc 1; doc 3 less
    # similar to the query but orthogonal-ish to doc 1. Plain top-2 is
    # [1, 2]; MMR must pick [1, 3] because 2's redundancy penalty wins.
    rows = [
        (0, [1.0, 0.0, 0.0]),        # query
        (1, [0.99, 0.14, 0.0]),      # very similar to query
        (2, [0.985, 0.17, 0.0]),     # near-duplicate of doc 1
        (3, [0.7, 0.0, 0.71]),       # decent sim, diverse direction
    ]
    df = small_local_df(spark, rows, "vec_id long, embedding array<float>")
    corpus = df.filter("vec_id != 0")
    qv = df.filter("vec_id = 0")
    out = mmr_rerank(corpus, qv, k=2, top_n=3, lam=0.5)
    picked = [r["doc_id"] for r in out.orderBy("rank").collect()]
    assert picked == [1, 3]


def test_mmr_rank1_is_top_cosine(spark):
    from pandrs_spark.operators.similarity import mmr_rerank

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.5, 0.5])]
    df = small_local_df(spark, rows, "vec_id long, embedding array<float>")
    out = mmr_rerank(
        df.filter("vec_id != 0"), df.filter("vec_id = 0"), k=1, top_n=2
    ).collect()
    assert out[0]["doc_id"] == 1 and out[0]["rank"] == 1
