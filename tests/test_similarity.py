"""Embedding similarity tests on crafted vectors (known cosines)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandrs_spark.operators.similarity import (
    _bucket_array_expr,
    _hyperplanes,
    cosine,
    cosine_topk,
    lsh_bucket_explode,
    nearest_neighbors,
)
from pandrs_spark.operators.util import small_local_df


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [2.0, 0.0, 0.0], 0),   # parallel to 0 -> cos 1
        (2, [0.0, 1.0, 0.0], 1),   # orthogonal -> cos 0
        (3, [1.0, 1.0, 0.0], 1),   # cos ~ 0.7071
        (4, [-1.0, 0.0, 0.0], 2),  # opposite -> cos -1
    ]
    return small_local_df(spark, rows, "vec_id long, embedding array<double>, label int")


def test_cosine_expression(spark):
    df = _vecs(spark)
    a = df.filter("vec_id = 0").select(F.col("embedding").alias("a"))
    b = df.filter("vec_id = 3").select(F.col("embedding").alias("b"))
    val = a.crossJoin(b).select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
    assert abs(val - 0.70710678) < 1e-6


def test_cosine_topk_ordering(spark):
    df = _vecs(spark)
    out = cosine_topk(df.filter("vec_id <> 0"), df.filter("vec_id = 0"), k=4)
    got = [(r.vec_id, r.sim) for r in out.collect()]
    assert [g[0] for g in got] == [1, 3, 2, 4]
    assert got[0][1] == 1.0 and got[-1][1] == -1.0


def test_nearest_neighbors_labels(spark):
    df = _vecs(spark)
    nn = {r.vec_id: r.nn_id for r in nearest_neighbors(df, label_col="label").collect()}
    assert nn[0] == 1 and nn[1] == 0
    assert nn[3] in (0, 1, 2)  # 45 degrees from both axes; tie broken by id -> 0
    assert nn[3] == 0


# --- LSH-bucketed ANN (scale path) ------------------------------------------
def test_ann_lsh_finds_exact_duplicates(spark):
    from pandrs_spark.operators.similarity import ann_lsh_topk

    # corpus with a planted near-duplicate pair: LSH must surface it
    import numpy as np

    rng = np.random.RandomState(0)
    vecs = rng.randn(50, 8).astype(float)
    vecs[7] = vecs[3] + 1e-6  # near-identical to vec 3
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    df = small_local_df(spark, rows, "vec_id bigint, embedding array<double>")
    out = ann_lsh_topk(
        df, df.filter("vec_id = 7"), k=1, n_tables=8, n_planes=3, dim=8
    ).collect()
    assert out[0]["nn_id"] == 3
    assert out[0]["sim"] >= 0.999


def test_ann_lsh_deterministic_across_runs(spark):
    from pandrs_spark.operators.similarity import ann_lsh_topk
    from pandrs_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter("vec_id < 5")
    a = ann_lsh_topk(emb, q, k=3, n_tables=6, n_planes=4, dim=64).collect()
    b = ann_lsh_topk(emb, q, k=3, n_tables=6, n_planes=4, dim=64).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# -- IVF scale path -----------------------------------------------------------
def test_ivf_topk_finds_planted_neighbor(spark):
    from pandrs_spark.operators.similarity import ivf_topk

    # two well-separated directions; vec 100 is a near-copy of vec 1
    def vec(base, eps):
        v = [0.0] * 8
        v[base] = 1.0
        v[(base + 1) % 8] = eps
        return v

    rows = [(i, vec(i % 4, 0.1 * (i % 3))) for i in range(40)]
    rows.append((100, vec(1, 0.09)))
    df = small_local_df(spark, rows, "vec_id bigint, embedding array<double>")
    q = df.filter(F.col("vec_id") == 100)
    out = ivf_topk(df, q, k=3, n_centroids=4, n_probe=2).collect()
    assert len(out) == 3
    assert all(r["id_q"] == 100 for r in out)
    # all reported neighbors share the planted direction (base 1 mod 4)
    assert {r["nn_id"] % 4 for r in out} == {1}
    assert out[0]["sim"] > 0.95


def test_ivf_probe_widens_candidates(spark):
    from pandrs_spark.operators.similarity import ivf_topk

    rows = [(i, [float(i % 5 == j) for j in range(5)]) for i in range(25)]
    df = small_local_df(spark, rows, "vec_id bigint, embedding array<double>")
    q = df.filter(F.col("vec_id") == 24)
    narrow = ivf_topk(df, q, k=10, n_centroids=5, n_probe=1).count()
    wide = ivf_topk(df, q, k=10, n_centroids=5, n_probe=5).count()
    assert wide >= narrow


def test_quantize_embeddings_int8(spark):
    from pandrs_spark.operators.similarity import quantize_embeddings_int8

    df = small_local_df(
        spark, [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.1, 0.1, 0.1, 0.1])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
    r1 = rows[1]
    assert abs(r1["scale"] - 1.0) < 1e-9
    assert r1["q"] == [127, -64, 32, 0]  # round(-63.5) away from zero
    assert 0.0 <= r1["rms_err"] < 0.01
    r2 = rows[2]
    # uniform vector: every element quantizes to exactly 127, zero error
    assert r2["q"] == [127, 127, 127, 127]
    assert r2["rms_err"] < 1e-7


def test_quantize_embeddings_int8_zero_vector(spark):
    # review fix: all-zero vector must not divide by scale=0
    from pandrs_spark.operators.similarity import quantize_embeddings_int8

    df = small_local_df(
        spark, [(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    r = quantize_embeddings_int8(df).collect()[0]
    assert r["scale"] == 0.0
    assert r["q"] == [0, 0, 0]
    assert r["rms_err"] == 0.0


def test_semantic_dedup_drops_lower_id_near_dups_within_cluster(spark):
    from pandrs_spark.operators.similarity import semantic_dedup

    df = small_local_df(
        spark,
        [
            (1, [0.9, 0.0, 0.0]),   # representative (lowest id in its group)
            (2, [0.9, 0.001, 0.0]),  # near-dup of 1, same grid cell -> dropped
            (3, [-1.0, 0.0, 0.0]),  # different grid cell -> kept
            (4, [0.0, 1.0, 0.0]),   # different cell, orthogonal -> kept
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in semantic_dedup(df, threshold=0.99).collect()}
    assert out[1]["kept"] and not out[2]["kept"]
    assert out[3]["kept"] and out[4]["kept"]
    # near-dups share the quantizer cell; the orthogonal vector does not
    assert out[1]["cluster"] == out[2]["cluster"] != out[4]["cluster"]


def test_embedding_decontaminate_flags_near_dups(spark):
    """Exact duplicates of a test vector are flagged; orthogonal
    vectors are not; max_sim is the max over ALL test vectors."""
    from pandrs_spark.operators.similarity import embedding_decontaminate

    test = small_local_df(
        spark, [(900, [1.0, 0.0, 0.0]), (901, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    train = small_local_df(
        spark,
        [
            (1, [2.0, 0.0, 0.0]),     # parallel to test 900 -> sim 1.0
            (2, [0.0, 0.0, 5.0]),     # orthogonal to both -> sim 0.0
            (3, [1.0, 1.0, 0.0]),     # 45 deg to both -> ~0.7071
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in embedding_decontaminate(train, test, threshold=0.95).collect()
    }
    assert out[1]["contaminated"] and abs(out[1]["max_sim"] - 1.0) < 1e-6
    assert not out[2]["contaminated"] and abs(out[2]["max_sim"]) < 1e-6
    assert not out[3]["contaminated"]
    assert abs(out[3]["max_sim"] - 0.707107) < 1e-5


def test_derive_lsh_config_known_points():
    # the round-10 self-scaling derivation (q726 pins the same formula
    # cross-engine; this pins the Python helper): n<=512 reproduces the
    # pre-round-10 calibration config (3, 32) exactly, larger corpora
    # deepen buckets while the table bound holds recall 0.9999 at the
    # sim>=0.9 anchor
    from pandrs_spark.operators.similarity import derive_lsh_config

    assert derive_lsh_config(1, 0.4) == (3, 32)
    assert derive_lsh_config(500, 0.4) == (3, 32)
    assert derive_lsh_config(512, 0.4) == (3, 32)
    assert derive_lsh_config(2000, 0.4) == (5, 32)
    assert derive_lsh_config(20000, 0.4) == (9, 33)
    assert derive_lsh_config(1_000_000, 0.4) == (14, 76)
    # a high explicit threshold anchors at itself, not 0.9
    p3, t3 = derive_lsh_config(500, 0.95)
    assert p3 == 3 and t3 == 32


def test_near_dup_derived_equals_explicit_calibration(spark):
    # at n<=512 the derived config IS (3, 32): outputs byte-identical
    from pandrs_spark.catalog import load_table
    from pandrs_spark.operators.similarity import embedding_near_dup_pairs

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    derived = sorted(
        map(tuple, embedding_near_dup_pairs(emb, threshold=0.4).collect())
    )
    explicit = sorted(
        map(
            tuple,
            embedding_near_dup_pairs(
                emb, threshold=0.4, n_tables=32, n_planes=3
            ).collect(),
        )
    )
    assert derived == explicit and len(derived) > 0


def test_derive_grid_config_known_points():
    # the round-11 self-scaling grid derivation behind semantic_dedup's
    # None-defaults (q729 pins the same formula cross-engine; this pins
    # the Python helper): n<=4096 reproduces the pre-round-11
    # calibration grid (4, 4.0) exactly — sf0.01 (500) and sf0.1 (2000)
    # gates byte-identical — larger corpora add dimensions so cell
    # count tracks n/64 at ~3x branching per axis
    from pandrs_spark.operators.similarity import derive_grid_config

    assert derive_grid_config(1) == (4, 4.0)
    assert derive_grid_config(500) == (4, 4.0)
    assert derive_grid_config(2000) == (4, 4.0)
    assert derive_grid_config(4096) == (4, 4.0)
    assert derive_grid_config(20000) == (6, 4.0)
    assert derive_grid_config(1_000_000) == (9, 4.0)
    assert derive_grid_config(1_000_000_000) == (16, 4.0)
    # capped at the embedding dimensionality
    assert derive_grid_config(10**30, max_dims=8) == (8, 4.0)


def test_semantic_dedup_derived_equals_explicit_calibration(spark):
    # at n<=4096 the derived config IS (4, 4.0): outputs byte-identical
    # with the pre-round-11 pinned grid
    from pandrs_spark.catalog import load_table
    from pandrs_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    derived = semantic_dedup(emb, threshold=0.9)
    pinned = semantic_dedup(emb, threshold=0.9, grid_dims=4, grid_scale=4.0)
    rows_d = sorted(map(tuple, derived.collect()))
    rows_p = sorted(map(tuple, pinned.collect()))
    assert rows_d == rows_p and len(rows_d) == 500


def test_near_dup_derived_warns_below_anchor(spark):
    # ADVICE r10: when the derived config's expected recall at the
    # caller's ACTUAL threshold falls below the 0.9999 anchor target,
    # the operator must emit a runtime warning with the computed value
    # (deep-plane configs silently collapse borderline-band recall).
    # Force the regime with explicit deep planes + derived-path entry:
    # n_planes None but n_tables pinned small so derivation runs and
    # the OR-construction recall at threshold 0.4 is low.
    import warnings

    from pandrs_spark.catalog import load_table
    from pandrs_spark.operators.similarity import embedding_near_dup_pairs

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        embedding_near_dup_pairs(emb, threshold=0.4, n_tables=2)
    msgs = [str(w.message) for w in rec if "derived LSH config" in str(w.message)]
    assert msgs and "threshold=0.4" in msgs[0]
    # at the calibration floor (derived (3, 32)) recall at 0.4 is
    # 0.9999+ — no warning
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        embedding_near_dup_pairs(emb, threshold=0.4)
    assert not [w for w in rec2 if "derived LSH config" in str(w.message)]


def test_ann_lsh_derived_equals_explicit_config(spark):
    # round 11: None-default knobs derive (3, 32) at n<=512 — results
    # identical to passing the derived values explicitly
    from pandrs_spark.catalog import load_table
    from pandrs_spark.operators.similarity import ann_lsh_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter("vec_id < 5")
    derived = sorted(map(tuple, ann_lsh_topk(emb, queries, k=3).collect()))
    explicit = sorted(
        map(
            tuple,
            ann_lsh_topk(
                emb, queries, k=3, n_tables=32, n_planes=3
            ).collect(),
        )
    )
    assert derived == explicit and len(derived) == 15


def test_ivfadc_self_exclude_flag(spark):
    # ADVICE r10: id_c != id_q assumes a shared id space; a separate
    # query frame whose ids overlap corpus ids must be able to opt out
    # so the coincidentally-same-id corpus vector is not dropped
    from pandrs_spark.catalog import load_table
    from pandrs_spark.operators.similarity import ivfadc_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter("vec_id < 3")
    on = ivfadc_topk(emb, queries, k=5).collect()
    off = ivfadc_topk(emb, queries, k=5, self_exclude=False).collect()
    on_pairs = {(r.id_q, r.nn_id) for r in on}
    off_pairs = {(r.id_q, r.nn_id) for r in off}
    # with the filter off, each query's own vector is its 0-distance
    # top-1 (ADC distance of the identical codes is minimal)
    assert all((q, q) not in on_pairs for q in (0, 1, 2))
    assert any((q, q) in off_pairs for q in (0, 1, 2))


def test_pq_lloyd_fold_descends_distortion(spark):
    # round 11 (VERDICT r10 #6): the deterministic quantized Lloyd fold
    # must (weakly) descend its own objective every iteration, and the
    # trained codebook keeps the (s, j, code) key shape
    from pandrs_spark.catalog import load_table
    from pandrs_spark.operators.similarity import (
        ivf_residuals,
        pq_distortion,
        pq_lloyd_fold,
        pq_seed_codebook,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    _, rpos = ivf_residuals(emb)
    cb0 = pq_seed_codebook(emb, rpos, k_sub=4)
    cb1 = pq_lloyd_fold(rpos, cb0, 1)
    cb2 = pq_lloyd_fold(rpos, cb1, 1)
    d0 = pq_distortion(rpos, cb0).first()[0]
    d1 = pq_distortion(rpos, cb1).first()[0]
    d2 = pq_distortion(rpos, cb2).first()[0]
    assert d0 > d1 >= d2 > 0
    # codebook cardinality invariant: n_sub * k_sub * sub_dim rows
    assert cb2.count() == cb0.count() == 8 * 4 * 8


def test_ivfadc_lloyd_beats_seed_recall_small(spark):
    # at sf0.001 (500 vectors) the trained codebook's recall@5 vs the
    # exact quantized-L2 ranking must be at least the seed codebook's
    # (measured 0.06 -> 0.14 at sf0.01; weak inequality keeps the test
    # robust to corpus regeneration)
    from pandrs_spark.catalog import load_table
    from pandrs_spark.operators.similarity import cosine, ivfadc_topk
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter("vec_id < 10")
    c = emb.select(
        F.col("vec_id").alias("id_c"),
        F.col("embedding").cast("array<double>").alias("vc"),
    )
    qq = q.select(
        F.col("vec_id").alias("id_q"),
        F.col("embedding").cast("array<double>").alias("vq"),
    )
    sc = (
        F.broadcast(qq)
        .join(c, F.col("id_q") != F.col("id_c"))
        .select(
            "id_q", "id_c", cosine(F.col("vq"), F.col("vc")).alias("sim")
        )
    )
    w = Window.partitionBy("id_q").orderBy(F.desc(F.round("sim", 6)), "id_c")
    exact = {
        (r.id_q, r.id_c)
        for r in sc.withColumn("rn", F.row_number().over(w))
        .filter("rn<=5")
        .collect()
    }

    def rec(mode, iters):
        ap = {
            (r.id_q, r.nn_id)
            for r in ivfadc_topk(
                emb, q, k=5, n_probe=4, k_sub=4, train=mode, train_iters=iters
            ).collect()
        }
        return len(exact & ap)

    assert rec("lloyd", 2) >= rec("seed", 0)


def _lsh_bucket_explode_expr(df, vec_col, banks, *keep):
    """Pure-JVM fold-expression form of ``lsh_bucket_explode``: the
    plane banks attached as a one-row broadcast frame, buckets computed
    by the interpreted array-HOF fold (``_bucket_array_expr``). The
    arithmetic reference the Arrow fast path is certified against."""
    banks_df = small_local_df(
        df.sparkSession, [(banks,)], "__banks__ array<array<array<double>>>"
    )
    bucket_arr = F.expr(_bucket_array_expr(vec_col, "__banks__"))
    return df.crossJoin(F.broadcast(banks_df)).select(
        *keep, F.posexplode(bucket_arr).alias("t", "bucket")
    )


def test_lsh_bucket_explode_arrow_matches_fold_expression(spark):
    """Round 12: the numpy-matmul mapInArrow bucket pass must produce
    row-identical (keep, t, bucket) to the JVM fold-expression form —
    on random vectors, on adversarial near-zero-margin vectors (exact
    zeros route through the margin-certificate fallback), and on the
    NULL/ragged/NaN edge semantics the expression form defines."""
    import math

    banks = _hyperplanes(4, 5, 8, seed=11)
    rows = [
        # random-ish vectors
        (0, [0.3, -1.2, 0.7, 2.2, -0.1, 0.05, 1.1, -0.9]),
        (1, [1e-9, 2e-9, -1e-9, 0.0, 5e-10, -3e-10, 1e-10, 2e-10]),
        # zero vector: every dot is exactly 0 -> margin fails on every
        # plane -> exact-fold fallback -> bit 1 everywhere (0 >= 0)
        (2, [0.0] * 8),
        # huge magnitudes (finite products, large sums)
        (3, [1e150, -1e150, 1e140, 0.0, 2e149, -1e149, 3e148, -3e148]),
        # NaN element: dot is NaN -> Spark nan-safe >= gives bit 1
        (4, [float("nan"), 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        # NULL vector and null element: null dot -> bit 0 (bucket 0)
        (5, None),
        (6, [1.0, None, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        # ragged (shorter than dim): zip_with pads null -> null dot
        (7, [1.0, 2.0, 3.0]),
    ]
    df = small_local_df(spark, rows, "id long, v array<double>")
    got = sorted(
        map(tuple, lsh_bucket_explode(df, "v", banks, "id").collect())
    )
    want = sorted(
        map(tuple, _lsh_bucket_explode_expr(df, "v", banks, "id").collect())
    )
    assert got == want
    # sanity on the documented edge semantics
    by_id = {}
    for i, t, b in got:
        by_id.setdefault(i, set()).add(b)
    assert by_id[2] == {31}  # zero vector: all 5 bits set per table
    assert by_id[5] == {0} and by_id[6] == {0} and by_id[7] == {0}
    # NaN dot on plane 0 of every table -> bit 0 always set
    assert all(b & 1 for b in by_id[4])
    assert not math.isnan(sum(sum(p) for tb in banks for p in tb))


def test_lsh_planes_beyond_int32_bucket_raise(spark):
    """Bucket ids pack one bit per plane into an int32: 31 planes fit,
    a 32nd would wrap into the sign bit, so both entry points refuse."""
    assert len(_hyperplanes(1, 31, 2, seed=0)[0]) == 31
    with pytest.raises(ValueError, match="n_planes=32"):
        _hyperplanes(1, 32, 2, seed=0)
    df = small_local_df(spark, [(0, [1.0, 0.0])], "id long, v array<double>")
    with pytest.raises(ValueError, match="n_planes=32"):
        lsh_bucket_explode(df, "v", [[[1.0, 0.0]] * 32], "id")
