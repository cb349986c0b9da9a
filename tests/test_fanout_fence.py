"""Registry-wide fence for operators/util.fan_out coverage.

fan_out fixed a measured 16x parallelism cliff (README scaling table:
file-bytes-sized scans left 30/32 cores idle through explode-heavy map
work). Nothing structural stops a NEW per-row-dense operator from
omitting it — so this fence parameterizes over every explode-/per-row-
dense operator path and asserts:

- a deliberately 1-partition input that is LARGE (optimizer-estimated
  size >> fan_out's 128 KB/task budget) gets widened: the physical plan
  contains a round-robin repartition exchange;
- a TINY 1-partition input is left alone: no round-robin exchange, so
  sub-task-sized inputs are not shattered into near-empty partitions.

Dropping a fan_out call from any listed operator fails the "big"
half; making fan_out unconditional fails the "tiny" half.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pytest

from pandrs_spark.operators.util import small_local_df


_TMP = tempfile.mkdtemp(prefix="fanout_fence_")


def _single_file_parquet(df, name):
    """Write as ONE parquet file and read it back: the exact shape of
    the measured starvation — a scan whose partition count is sized
    from file bytes, not from the per-row work ahead of it."""
    path = os.path.join(_TMP, name)
    if not os.path.exists(path):
        df.coalesce(1).write.mode("overwrite").parquet(path)
    out = df.sparkSession.read.parquet(path)
    assert out.rdd.getNumPartitions() == 1
    return out


def _docs(spark, n, words_per_doc):
    """n docs of incompressible ~9*words_per_doc-byte text, read from a
    single parquet file (real scan stats, 1 partition)."""

    def tok(i, j):
        return hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8]

    df = small_local_df(
        spark,
        [
            (i, " ".join(tok(i, j) for j in range(words_per_doc)))
            for i in range(n)
        ],
        "doc_id long, text string",
    )
    return _single_file_parquet(df, f"docs_{n}_{words_per_doc}")


def _embs(spark, n, dim=64):
    def val(i, j):
        h = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16)
        return h / 1e8 - 21.5  # ~4e9 distinct values: defeats dictionary encoding

    df = small_local_df(
        spark, [(i, [val(i, j) for j in range(dim)]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    return _single_file_parquet(df, f"embs_{n}_{dim}")


def _roundrobin(df) -> bool:
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return "roundrobin" in plan.lower()


def _bench(spark):
    return small_local_df(
        spark, [(1, "held out benchmark prompt entirely distinct tokens")],
        "bench_id long, text string",
    )


def _q1(spark):
    return _embs(spark, 1)


DOC_OPS = {}
EMB_OPS = {}


def _doc_op(name):
    def reg(fn):
        DOC_OPS[name] = fn
        return fn

    return reg


def _emb_op(name):
    def reg(fn):
        EMB_OPS[name] = fn
        return fn

    return reg


@_doc_op("minhash_signatures")
def _(docs, spark):
    from pandrs_spark.operators.dedup import minhash_signatures

    return minhash_signatures(docs, "text", "doc_id")


@_doc_op("simhash_fingerprint")
def _(docs, spark):
    from pandrs_spark.operators.dedup import simhash_fingerprint

    return simhash_fingerprint(docs, "text", "doc_id")


@_doc_op("corpus_ngram_duplication")
def _(docs, spark):
    from pandrs_spark.operators.text import corpus_ngram_duplication

    return corpus_ngram_duplication(docs, "text")


@_doc_op("decontaminate")
def _(docs, spark):
    from pandrs_spark.operators.text import decontaminate

    return decontaminate(docs, _bench(spark))


@_doc_op("remove_boilerplate_segments")
def _(docs, spark):
    from pandrs_spark.operators.text import remove_boilerplate_segments

    return remove_boilerplate_segments(docs)


@_doc_op("unigram_logprob_score")
def _(docs, spark):
    from pandrs_spark.operators.text import unigram_logprob_score

    return unigram_logprob_score(docs)


@_doc_op("bigram_lm_score")
def _(docs, spark):
    from pandrs_spark.operators.text import bigram_lm_score

    return bigram_lm_score(docs)


@_doc_op("dsir_importance_weights")
def _(docs, spark):
    from pyspark.sql import functions as F

    from pandrs_spark.operators.sampling import dsir_importance_weights

    return dsir_importance_weights(docs, F.col("doc_id") % 2 == 0)


@_doc_op("tf_idf_top_terms")
def _(docs, spark):
    from pandrs_spark.operators.text import tf_idf_top_terms

    return tf_idf_top_terms(docs, "text", "doc_id")


@_doc_op("bm25_search")
def _(docs, spark):
    from pandrs_spark.operators.text import bm25_search

    return bm25_search(docs, "text", "doc_id", ["tok3w", "tok5w"])


@_emb_op("cosine_topk")
def _(embs, spark):
    from pandrs_spark.operators.similarity import cosine_topk

    return cosine_topk(embs, _q1(spark))


@_emb_op("nearest_neighbors")
def _(embs, spark):
    from pandrs_spark.operators.similarity import nearest_neighbors

    return nearest_neighbors(embs)


@_emb_op("ann_lsh_topk")
def _(embs, spark):
    from pandrs_spark.operators.similarity import ann_lsh_topk

    return ann_lsh_topk(embs, _embs(spark, 2))


@_emb_op("ivf_topk")
def _(embs, spark):
    from pandrs_spark.operators.similarity import ivf_topk

    return ivf_topk(embs, _embs(spark, 2))


@_emb_op("embedding_near_dup_pairs")
def _(embs, spark):
    from pandrs_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(embs)


@_emb_op("embedding_decontaminate")
def _(embs, spark):
    from pandrs_spark.operators.similarity import embedding_decontaminate

    return embedding_decontaminate(embs, _embs(spark, 2))


@_emb_op("semantic_dedup")
def _(embs, spark):
    from pandrs_spark.operators.similarity import semantic_dedup

    return semantic_dedup(embs)


@_emb_op("dimension_energy")
def _(embs, spark):
    from pandrs_spark.operators.similarity import dimension_energy

    return dimension_energy(embs)


@pytest.mark.parametrize("name", sorted(DOC_OPS))
def test_doc_operator_widens_big_narrow_scan(spark, name):
    # ~600 docs x ~1.3 KB: optimizer size well past 2 tasks' budget
    big = _docs(spark, 600, 200)
    assert big.rdd.getNumPartitions() == 1
    out = DOC_OPS[name](big, spark)
    assert _roundrobin(out), f"{name}: big 1-partition input not widened"
    tiny = _docs(spark, 5, 4)
    out = DOC_OPS[name](tiny, spark)
    assert not _roundrobin(out), f"{name}: tiny input was shattered"


@pytest.mark.parametrize("name", sorted(EMB_OPS))
def test_emb_operator_widens_big_narrow_scan(spark, name):
    # 1500 x 64 doubles ~ 770 KB estimated: several tasks' budget
    big = _embs(spark, 1500)
    assert big.rdd.getNumPartitions() == 1
    out = EMB_OPS[name](big, spark)
    assert _roundrobin(out), f"{name}: big 1-partition input not widened"
    tiny = _embs(spark, 8)
    out = EMB_OPS[name](tiny, spark)
    assert not _roundrobin(out), f"{name}: tiny input was shattered"


def test_fan_out_unknown_stats_is_noop(spark):
    """Behind a coalesce (or any plan whose optimizer size is the
    Long.MaxValue 'unknown' sentinel) fan_out must NOT shuffle: there
    is no evidence of under-partitioning, and a user's explicit
    coalesce(1) must not be silently undone."""
    from pandrs_spark.operators.util import fan_out

    df = spark.range(10000).coalesce(1)
    assert fan_out(df) is df
    # while a real 1-partition scan with known big stats still widens
    big = _docs(spark, 600, 200)
    assert fan_out(big).rdd.getNumPartitions() > 1


def test_assert_bounded_fence(spark):
    """assert_bounded passes bounded frames through and raises LOUDLY on
    data-sized ones (the runtime backing of the census whitelist)."""
    import pytest

    from pandrs_spark.operators.util import (
        UnboundedBuildError,
        assert_bounded,
    )

    small = spark.range(10).toDF("id")
    out = assert_bounded(small, 100, "tiny frame")
    assert out.count() == 10
    big = spark.range(500).toDF("id")
    with pytest.raises(UnboundedBuildError, match="tiny frame|fence"):
        assert_bounded(big, 100, "tiny frame")


def test_right_size_keyed_floor_and_noop(spark):
    """right_size_keyed collapses a provably-TINY materialized frame to
    the 2-partition floor (ADVICE r11: the floor case must right-size
    even when defaultParallelism itself is 2), keeps a frame with
    unknown stats untouched, and never squeezes a frame whose
    size-derived target reaches one-task-per-core."""
    from pandrs_spark.operators.util import right_size_keyed

    tiny = spark.range(50).selectExpr("id AS k", "id * 2 AS v").repartition(40, "k")
    tiny = tiny.persist()
    tiny.count()  # materialize: InMemoryRelation stats are exact
    try:
        out = right_size_keyed(tiny, "k")
        assert out is not tiny
        assert out.rdd.getNumPartitions() == 2
        # unknown stats (RDD-backed plan): no-op
        unk = spark.createDataFrame(spark.sparkContext.parallelize([(1, 2)]), "k int, v int")
        assert right_size_keyed(unk, "k") is unk
        # frame whose size-derived target reaches one-task-per-core
        # (forced via bytes_per_task=1): no-op, keeps AQE sizing
        assert right_size_keyed(tiny, "k", bytes_per_task=1) is tiny
    finally:
        tiny.unpersist()
