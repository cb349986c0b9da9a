"""Deterministic sampling (reference sample :310, train_test_split)."""

from __future__ import annotations

from pandrs_spark.operators.sampling import (
    deterministic_sample,
    stratified_sample,
    train_test_split_hash,
)
from pandrs_spark.operators.util import small_local_df


def test_deterministic_sample_stable(spark):
    df = small_local_df(spark, [(i,) for i in range(2000)], "id long")
    a = {r["id"] for r in deterministic_sample(df.repartition(3), ["id"], 0.25).collect()}
    b = {r["id"] for r in deterministic_sample(df.repartition(11), ["id"], 0.25).collect()}
    assert a == b
    assert 0.2 < len(a) / 2000 < 0.3


def test_stratified_rates(spark):
    rows = [(i, "maj" if i % 10 else "min") for i in range(5000)]
    df = small_local_df(spark, rows, "id long, cls string")
    out = stratified_sample(df, "cls", {"maj": 0.1, "min": 1.0}, ["id"])
    got = {r["cls"]: r["n"] for r in out.groupBy("cls").count().withColumnRenamed("count", "n").collect()}
    assert got["min"] == 500          # rate 1.0 keeps every rare row
    assert 300 < got["maj"] < 600     # ~10% of 4500


def test_stratified_unlisted_stratum_dropped(spark):
    df = small_local_df(spark, [(1, "a"), (2, "b")], "id long, cls string")
    out = stratified_sample(df, "cls", {"a": 1.0}, ["id"])
    assert [r["cls"] for r in out.collect()] == ["a"]


def test_train_test_split_hash_partition(spark):
    df = small_local_df(spark, [(i,) for i in range(1000)], "id long")
    train, test = train_test_split_hash(df, ["id"], test_frac=0.3)
    n_tr, n_te = train.count(), test.count()
    assert n_tr + n_te == 1000
    assert 0.2 < n_te / 1000 < 0.4
    # disjoint and entity-stable
    both = train.select("id").intersect(test.select("id")).count()
    assert both == 0


def test_weighted_sample_prefers_heavy_weights(spark):
    from pandrs_spark.operators.sampling import weighted_sample

    # 100 light rows (w=1) + 10 heavy rows (w=1000): a 20-row sample
    # should be dominated by heavy rows, and zero-weight rows excluded.
    rows = [(i, 1.0) for i in range(100)]
    rows += [(100 + i, 1000.0) for i in range(10)]
    rows += [(200, 0.0)]
    df = small_local_df(spark, rows, "id long, w double")
    got = weighted_sample(df, "w", ["id"], k=20).collect()
    assert len(got) == 20
    ids = {r["id"] for r in got}
    assert 200 not in ids
    assert len([i for i in ids if i >= 100]) == 10  # all heavy rows in

    # deterministic: same sample on re-run
    again = {r["id"] for r in weighted_sample(df, "w", ["id"], k=20).collect()}
    assert ids == again


def test_weighted_sample_per_group(spark):
    from pandrs_spark.operators.sampling import weighted_sample

    df = small_local_df(
        spark, [(g, i, float(i + 1)) for g in ("a", "b") for i in range(10)],
        "g string, id long, w double",
    )
    got = weighted_sample(df, "w", ["g", "id"], k=3, group_by=["g"]).collect()
    per = {}
    for r in got:
        per.setdefault(r["g"], []).append(r["id"])
    assert sorted(per) == ["a", "b"] and all(len(v) == 3 for v in per.values())


def test_resample_to_mixture_rates_and_drop(spark):
    from pandrs_spark.operators.sampling import resample_to_mixture

    rows = [(i, "big") for i in range(1000)] + [
        (10000 + i, "small") for i in range(20)
    ] + [(20000, "unlisted")]
    df = small_local_df(spark, rows, "id long, dom string")
    kept = resample_to_mixture(
        df, "dom", {"big": 0.5, "small": 0.5}, budget=100, key_cols=["id"]
    )
    counts = {r["dom"]: r["n"] for r in kept.groupBy("dom").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("id").alias("n")
    ).collect()}
    assert "unlisted" not in counts
    # big: rate 50/1000 -> ~50 kept; small: rate 50/20 capped at 1 -> all 20
    assert counts["small"] == 20
    assert 30 <= counts["big"] <= 70


def test_dsir_importance_prefers_target_like_docs(spark):
    """A doc written in the target's vocabulary must out-score a doc in
    the off-target vocabulary; log-weights are finite and per-token
    counts exact."""
    from pyspark.sql import functions as F

    from pandrs_spark.operators.sampling import dsir_importance_weights

    target_text = "alpha beta gamma alpha beta"
    off_text = "zork quux blarg zork quux"
    rows = [(i, target_text, True) for i in range(10)]
    rows += [(100 + i, off_text, False) for i in range(10)]
    rows += [(200, target_text, False), (201, off_text, False)]
    docs = small_local_df(spark, rows, "doc_id long, text string, t boolean")
    out = {
        r["doc_id"]: r
        for r in dsir_importance_weights(
            docs, F.col("t"), n_buckets=64
        ).collect()
    }
    assert out[200]["n_tokens"] == 5
    # the target-like raw doc scores strictly above the off-target one
    assert out[200]["log_weight"] > out[201]["log_weight"] + 0.5
    # exemplar docs score like their raw twins (same text, same buckets)
    assert abs(out[0]["log_weight"] - out[200]["log_weight"]) < 1e-9


def test_export_shards_deterministic_and_dense(spark):
    # round 10: content-hash shard assignment must be invariant to
    # input partitioning, and pos must be dense 1..n within each shard
    # in (fp, id) order — the resumable-export contract
    from pandrs_spark.operators.sampling import export_shards

    rows = [(i, f"doc {i}") for i in range(200)]
    df = small_local_df(spark, rows, "doc_id bigint, text string")
    a = export_shards(df, n_shards=8, id_col="doc_id").collect()
    b = export_shards(df.repartition(13), n_shards=8, id_col="doc_id").collect()
    ka = {r["doc_id"]: (r["shard"], r["pos"], r["fp"]) for r in a}
    kb = {r["doc_id"]: (r["shard"], r["pos"], r["fp"]) for r in b}
    assert ka == kb
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append((r["pos"], r["fp"]))
    assert set(by_shard) <= set(range(8)) and len(by_shard) == 8
    for sh, entries in by_shard.items():
        entries.sort()
        assert [p for p, _ in entries] == list(range(1, len(entries) + 1))
        fps = [f for _, f in entries]
        assert fps == sorted(fps)  # pos order IS fp order
