"""Join operator tests — mirrors reference tests/optimized_join_test.rs
(inner/left/right/outer, multi-match fan-out, suffixes) and adds as-of
join cases (absent in the reference)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pandrs_spark.operators.joins import anti_join, asof_join, merge, semi_join
from pandrs_spark.operators.util import small_local_df


def _left(spark):
    return small_local_df(
        spark, [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, value double"
    )


def _right(spark):
    return small_local_df(
        spark, [(2, 200.0), (3, 300.0), (3, 301.0), (4, 400.0)], "id long, value double"
    )


def test_merge_inner_multi_match_and_suffixes(spark):
    out = merge(_left(spark), _right(spark), on="id", how="inner")
    rows = sorted((r.id, r.value_x, r.value_y) for r in out.collect())
    assert rows == [(2, 20.0, 200.0), (3, 30.0, 300.0), (3, 30.0, 301.0)]


def test_merge_left_keeps_unmatched(spark):
    out = merge(_left(spark), _right(spark), on="id", how="left")
    rows = {(r.id, r.value_y) for r in out.collect()}
    assert (1, None) in rows and len(out.collect()) == 4


def test_merge_outer(spark):
    out = merge(_left(spark), _right(spark), on="id", how="outer")
    ids = sorted(r.id for r in out.collect())
    assert ids == [1, 2, 3, 3, 4]


def test_merge_custom_suffixes_and_keys(spark):
    left = _left(spark).withColumnRenamed("id", "lid")
    out = merge(
        left, _right(spark), left_on="lid", right_on="id",
        how="inner", suffixes=("_l", "_r"),
    )
    assert "value_l" in out.columns and "value_r" in out.columns


def test_semi_anti(spark):
    l, r = _left(spark), _right(spark)
    assert sorted(
        x.id for x in semi_join(l, r, l.id == r.id).collect()
    ) == [2, 3]
    assert [x.id for x in anti_join(l, r, l.id == r.id).collect()] == [1]


def _trades(spark):
    return small_local_df(
        spark, [("A", 3, "t1"), ("A", 7, "t2"), ("B", 5, "t3"), ("B", 1, "t4")],
        "sym string, t long, trade string",
    )


def _quotes(spark):
    return small_local_df(
        spark, [("A", 1, 10.0), ("A", 5, 11.0), ("B", 4, 20.0)],
        "sym string, t long, px double",
    )


def test_asof_backward(spark):
    out = asof_join(
        _trades(spark), _quotes(spark), on="t", by="sym", value_cols=["px"]
    )
    got = {(r.trade, r.px) for r in out.collect()}
    # t1@3 -> quote@1; t2@7 -> quote@5; t3@5 -> quote@4; t4@1 -> none
    assert got == {("t1", 10.0), ("t2", 11.0), ("t3", 20.0), ("t4", None)}


def test_asof_backward_inclusive_same_ts(spark):
    trades = small_local_df(spark, [("A", 5, "x")], "sym string, t long, trade string")
    out = asof_join(trades, _quotes(spark), on="t", by="sym", value_cols=["px"])
    assert out.collect()[0].px == 11.0


def test_asof_forward(spark):
    out = asof_join(
        _trades(spark),
        _quotes(spark),
        on="t",
        by="sym",
        value_cols=["px"],
        direction="forward",
    )
    got = {(r.trade, r.px) for r in out.collect()}
    # t1@3 -> quote@5; t2@7 -> none; t3@5 -> none (B quote@4 is past); t4@1 -> quote@4
    assert got == {("t1", 11.0), ("t2", None), ("t3", None), ("t4", 20.0)}


def test_broadcast_merge_same_result(spark):
    plain = merge(_left(spark), _right(spark), on="id", how="inner")
    bcast = merge(_left(spark), _right(spark), on="id", how="inner", broadcast_right=True)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, bcast.collect()))


# --- salted skew join (§2.3 scale path) -------------------------------------
def test_salted_join_matches_plain_join(spark):
    from pandrs_spark.operators.joins import salted_join

    # skewed left: 90% of rows share key 1
    left = small_local_df(
        spark, [(1 if i % 10 else 2, i) for i in range(200)], "k bigint, row_id bigint"
    )
    right = small_local_df(spark, [(1, "hot"), (2, "cold"), (3, "none")], "k bigint, label string")
    plain = {(r["row_id"], r["label"]) for r in left.join(right, "k").collect()}
    salted = {
        (r["row_id"], r["label"])
        for r in salted_join(left, right, "k", salt_from="row_id", n_salts=4).collect()
    }
    assert salted == plain


def test_salted_join_left_outer(spark):
    from pandrs_spark.operators.joins import salted_join

    left = small_local_df(spark, [(1, 10), (9, 90)], "k bigint, v bigint")
    right = small_local_df(spark, [(1, "x")], "k bigint, s string")
    rows = {r["k"]: r["s"] for r in salted_join(left, right, "k", salt_from="v", how="left").collect()}
    assert rows == {1: "x", 9: None}


# --- merge_asof direction/tolerance parity ----------------------------------
def test_asof_nearest_matches_pandas(spark):
    import pandas as pd
    from pandrs_spark.operators.joins import asof_join

    left = small_local_df(
        spark, [("k", 1.0), ("k", 5.0), ("k", 10.0)], "g string, t double"
    )
    right = small_local_df(
        spark, [("k", 2.0, "a"), ("k", 7.0, "b")], "g string, t double, lab string"
    )
    got = {
        r["t"]: r["lab"]
        for r in asof_join(
            left, right, on="t", by="g", direction="nearest"
        ).collect()
    }
    ref = pd.merge_asof(
        left.toPandas().sort_values("t"),
        right.toPandas().sort_values("t"),
        on="t",
        by="g",
        direction="nearest",
    )
    exp = dict(zip(ref["t"], ref["lab"]))
    assert got == exp


def test_asof_tolerance_drops_far_matches(spark):
    from pandrs_spark.operators.joins import asof_join

    left = small_local_df(spark, [("k", 10.0), ("k", 100.0)], "g string, t double")
    right = small_local_df(spark, [("k", 8.0, "x")], "g string, t double, lab string")
    got = {
        r["t"]: r["lab"]
        for r in asof_join(
            left, right, on="t", by="g", direction="backward", tolerance=5.0
        ).collect()
    }
    assert got == {10.0: "x", 100.0: None}


def test_range_join_matches_naive_inequality_join(spark):
    # Points 0..199 against overlapping intervals; the bucketed rewrite
    # must reproduce the naive cartesian+filter result exactly.
    from pandrs_spark.operators.joins import range_join

    pts = spark.range(0, 200).select((F.col("id") * 1.5).alias("x"))
    iv = small_local_df(
        spark, [(0, 10.0, 40.0), (1, 35.0, 36.0), (2, 250.0, 260.0), (3, 0.0, 300.0)],
        "iv_id long, lo double, hi double",
    )
    got = sorted(
        (r.iv_id, r.x)
        for r in range_join(pts, iv, "x", "lo", "hi", bucket_width=25.0).collect()
    )
    want = sorted(
        (r.iv_id, r.x)
        for r in pts.crossJoin(iv)
        .filter((F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi")))
        .collect()
    )
    assert got == want and len(got) > 0


def test_range_join_extra_keys(spark):
    from pandrs_spark.operators.joins import range_join

    pts = small_local_df(
        spark, [("a", 5.0), ("b", 5.0)], "grp string, x double"
    )
    iv = small_local_df(
        spark, [("a", 0.0, 10.0), ("b", 6.0, 10.0)], "grp string, lo double, hi double"
    )
    out = range_join(pts, iv, "x", "lo", "hi", bucket_width=4.0, extra_on="grp")
    assert [(r.grp, r.x) for r in out.collect()] == [("a", 5.0)]


def test_upsert_latest_patches_and_appends(spark):
    from pandrs_spark.operators.joins import upsert_latest

    base = small_local_df(
        spark, [(1, "a", 1), (2, "b", 1)], "k long, v string, version int"
    )
    updates = small_local_df(
        spark, [(2, "B", 2), (3, "c", 2)], "k long, v string, version int"
    )
    out = {r["k"]: r for r in upsert_latest(base, updates, ["k"], "version").collect()}
    assert len(out) == 3
    assert out[1]["v"] == "a"      # untouched base row survives
    assert out[2]["v"] == "B"      # matched row patched
    assert out[3]["v"] == "c"      # unmatched update appended


def test_upsert_latest_tie_prefers_updates(spark):
    from pandrs_spark.operators.joins import upsert_latest

    base = small_local_df(spark, [(1, "old", 5)], "k long, v string, version int")
    updates = small_local_df(spark, [(1, "new", 5)], "k long, v string, version int")
    out = upsert_latest(base, updates, ["k"], "version").first()
    assert out["v"] == "new"


def test_scd2_history_intervals(spark):
    from pandrs_spark.operators.joins import scd2_history

    df = small_local_df(
        spark,
        [
            (1, 1, "2024-01-01", "A"),
            (1, 2, "2024-02-01", "A"),   # same run
            (1, 3, "2024-03-01", "B"),   # change -> v2
            (1, 4, "2024-04-01", "A"),   # change back -> v3 (not merged with v1)
            (2, 5, "2024-01-15", "X"),
        ],
        "k long, id long, ts string, attr string",
    )
    rows = sorted(
        scd2_history(df, ["k"], "attr", "ts", order_cols=["id"]).collect(),
        key=lambda r: (r["k"], r["version"]),
    )
    k1 = [r for r in rows if r["k"] == 1]
    assert [r["attr"] for r in k1] == ["A", "B", "A"]
    assert [r["n_rows"] for r in k1] == [2, 1, 1]
    assert k1[0]["valid_to"] == "2024-03-01" and k1[2]["valid_to"] is None
    assert [r["is_current"] for r in k1] == [False, False, True]
    k2 = [r for r in rows if r["k"] == 2]
    assert len(k2) == 1 and k2[0]["is_current"]


def test_table_diff_classifies_changes(spark):
    from pandrs_spark.operators.joins import table_diff

    old = small_local_df(
        spark, [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k long, s string, v double",
    )
    new = small_local_df(
        spark, [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    got = {r["k"]: r["change"] for r in table_diff(old, new, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "deleted", 4: "inserted"}


def test_table_diff_null_vs_empty_not_equal(spark):
    from pandrs_spark.operators.joins import table_diff

    old = small_local_df(spark, [(1, None)], "k long, s string")
    new = small_local_df(spark, [(1, "")], "k long, s string")
    got = table_diff(old, new, ["k"]).collect()[0]["change"]
    assert got == "changed"  # NULL sentinel distinguishes null from ''


def test_auto_salted_join_row_identical_to_plain(spark):
    from pandrs_spark.operators.joins import auto_salted_join

    # one pathological key (0: 5000 rows), long tail of small keys
    left = small_local_df(
        spark, [(0, i) for i in range(5000)] + [(k, k) for k in range(1, 40)],
        "k long, payload long",
    )
    right = small_local_df(
        spark, [(k, f"r{k}") for k in range(40)], "k long, rv string"
    )
    plain = left.join(right, ["k"]).groupBy("k").count()
    auto = (
        auto_salted_join(left, right, "k", salt_from="payload", skew_threshold=1000)
        .groupBy("k")
        .count()
    )
    got = {r["k"]: r["count"] for r in auto.collect()}
    want = {r["k"]: r["count"] for r in plain.collect()}
    assert got == want and got[0] == 5000


def test_auto_salted_join_no_hot_keys_is_plain_join(spark):
    from pandrs_spark.operators.joins import auto_salted_join

    left = small_local_df(spark, [(k, k) for k in range(20)], "k long, p long")
    right = small_local_df(spark, [(k, k * 2) for k in range(20)], "k long, v long")
    out = auto_salted_join(left, right, "k", salt_from="p", skew_threshold=5)
    assert out.count() == 20


def test_interval_overlap_join_matches_bruteforce(spark):
    from pandrs_spark.operators.joins import interval_overlap_join

    # Deterministic intervals with varied lengths spanning many cells.
    left = [(i, (i * 7) % 50, (i * 7) % 50 + (i % 13)) for i in range(60)]
    right = [(j, (j * 11) % 45, (j * 11) % 45 + (j % 9) + 1) for j in range(40)]
    ldf = small_local_df(spark, left, "lid int, ls int, le int")
    rdf = small_local_df(spark, right, "rid int, rs int, re int")
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", bucket_width=8
        ).collect()
    )
    expect = sorted(
        (li_, rj)
        for (li_, ls, le) in left
        for (rj, rs, re) in right
        if ls <= re and rs <= le
    )
    assert got == expect  # exactly once per overlapping pair — no dups


def test_interval_overlap_join_no_cartesian(spark):
    from pandrs_spark import plans
    from pandrs_spark.operators.joins import interval_overlap_join

    ldf = small_local_df(spark, [(1, 0, 10)], "lid int, ls int, le int")
    rdf = small_local_df(spark, [(1, 5, 15)], "rid int, rs int, re int")
    j = interval_overlap_join(ldf, rdf, "ls", "le", "rs", "re", bucket_width=4)
    assert "CartesianProduct" not in plans.plan_text(j, "simple")


def test_auto_salted_join_preserves_null_keys_outer(spark):
    # ADVICE r4: isin(hot) is NULL on null keys, which used to drop
    # the row from BOTH branches; left join must keep all 3 rows.
    from pandrs_spark.operators.joins import auto_salted_join

    left = small_local_df(
        spark, [(0, i) for i in range(50)] + [(7, 1), (None, 99)],
        "k long, payload long",
    )
    right = small_local_df(spark, [(0, "a"), (7, "b")], "k long, rv string")
    plain = left.join(right, ["k"], "left")
    auto = auto_salted_join(
        left, right, "k", salt_from="payload", skew_threshold=10, how="left"
    )
    assert auto.count() == plain.count() == 52
    nulls = [r for r in auto.collect() if r["k"] is None]
    assert len(nulls) == 1 and nulls[0]["rv"] is None


def test_auto_salted_join_multicol_key_hotness(spark):
    # ADVICE r4: with multi-column `on`, hotness is detected per FULL
    # key tuple and must be applied on the full tuple too — (0, 1) is
    # hot but (0, 2) shares keys[0]=0 and must stay cold/unsalted.
    from pandrs_spark.operators.joins import auto_salted_join

    left = small_local_df(
        spark, [(0, 1, i) for i in range(100)] + [(0, 2, 1), (3, 4, 2)],
        "a long, b long, payload long",
    )
    right = small_local_df(
        spark, [(0, 1, "hot"), (0, 2, "cold"), (3, 4, "tail")],
        "a long, b long, rv string",
    )
    auto = auto_salted_join(
        left, right, ["a", "b"], salt_from="payload", skew_threshold=10
    )
    got = {(r["a"], r["b"]): r["rv"] for r in auto.collect()}
    assert auto.count() == 102
    assert got == {(0, 1): "hot", (0, 2): "cold", (3, 4): "tail"}


def test_salted_join_right_and_full_outer_row_identical(spark):
    """Naive salting emits one spurious unmatched row per unmatched
    SALT COPY on right/full outer; the decomposed form must be
    row-identical to the plain join, including partially-matched hot
    keys and null keys."""
    from pandrs_spark.operators.joins import salted_join

    left = small_local_df(
        spark, [(0, i) for i in range(200)] + [(1, 7)],
        "k long, payload long",
    )
    right = small_local_df(
        spark, [(0, "hot"), (2, "right_only"), (None, "null_key")],
        "k long, rv string",
    )
    for how in ("right", "full"):
        plain = left.join(right, ["k"], how)
        salted = salted_join(left, right, "k", "payload", 8, how)
        pc = plain.groupBy("k", "rv").count().collect()
        sc = salted.groupBy("k", "rv").count().collect()
        assert {tuple(r) for r in pc} == {tuple(r) for r in sc}, how
        assert salted.count() == plain.count(), how


def test_auto_salted_join_many_hot_keys_and_outer(spark):
    """Hot-key routing must go through a broadcast key-table probe (not
    a per-key OR chain) and stay row-identical for full outer."""
    from pandrs_spark.operators.joins import auto_salted_join

    left = small_local_df(
        spark, [(k, i) for k in range(30) for i in range(20)] + [(None, 1)],
        "k long, payload long",
    )
    right = small_local_df(
        spark, [(k, f"r{k}") for k in range(0, 40, 2)], "k long, rv string"
    )
    plain = left.join(right, ["k"], "full")
    auto = auto_salted_join(
        left, right, "k", salt_from="payload", skew_threshold=10, how="full"
    )
    assert auto.count() == plain.count()
    pg = {tuple(r) for r in plain.groupBy("k", "rv").count().collect()}
    ag = {tuple(r) for r in auto.groupBy("k", "rv").count().collect()}
    assert pg == ag


def test_salted_join_outer_rejects_overlapping_noncol(spark):
    """ADVICE r5: the right/full outer decomposition reassembles columns
    by name, so a non-key column on BOTH sides must fail fast with an
    actionable error instead of an ambiguous-reference crash at
    runtime (inner/left keep plain-join duplicate-column behavior)."""
    import pytest

    from pandrs_spark.operators.joins import salted_join

    left = small_local_df(spark, [(1, 10.0)], "k long, value double")
    right = small_local_df(spark, [(1, 20.0)], "k long, value double")
    for how in ("right", "full"):
        with pytest.raises(ValueError, match="value"):
            salted_join(left, right, "k", "value", 4, how)
    # inner/left still work (both copies returned, like plain join)
    out = salted_join(left, right, "k", "value", 4, "inner")
    assert out.count() == 1 and out.columns.count("value") == 2
