"""Unit tests for the exact bitmap distinct rollup and the clamped
cumulative-sum fold (operators/sketches.py, operators/timeseries.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pandrs_spark.operators.util import small_local_df


def test_bitmap_distinct_rollup_matches_exact(spark):
    # Keys deliberately span multiple bitmap buckets (bucket = 1<<12
    # positions) and repeat across fine groups so the OR-merge matters.
    rows = [
        (g, d, uid)
        for g in ("a", "b")
        for d in (1, 2, 3)
        for uid in range(d * 3000, d * 3000 + 500)
    ]
    df = small_local_df(spark, rows, "g string, d int, uid long")
    got = {
        r["g"]: r["exact_distinct"]
        for r in __import__(
            "pandrs_spark.operators.sketches", fromlist=["bitmap_distinct_rollup"]
        )
        .bitmap_distinct_rollup(df, ["g", "d"], ["g"], "uid")
        .collect()
    }
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g")
        .agg(F.countDistinct("uid").alias("n"))
        .collect()
    }
    assert got == exact


def test_bitmap_rollup_dedups_across_fine_groups(spark):
    # Same users appear every day: distinct-over-merge must not sum.
    rows = [(d, uid) for d in range(5) for uid in range(100)]
    df = small_local_df(spark, rows, "d int, uid long").withColumn(
        "all", F.lit(1)
    )
    from pandrs_spark.operators.sketches import bitmap_distinct_rollup

    out = bitmap_distinct_rollup(df, ["all", "d"], ["all"], "uid").collect()
    assert len(out) == 1 and out[0]["exact_distinct"] == 100


def test_clamped_cumsum_floors_at_lower(spark):
    from pandrs_spark.operators.timeseries import clamped_cumsum

    rows = [
        ("k1", 1, 5.0),
        ("k1", 2, -8.0),  # would go to -3 → clamps to 0
        ("k1", 3, 2.5),
        ("k2", 1, -4.0),  # clamps immediately
        ("k2", 2, 1.25),
    ]
    df = small_local_df(spark, rows, "k string, t int, x double")
    full = {
        (r["k"], r["t"]): r["balance"]
        for r in clamped_cumsum(
            df, "x", ["t"], ["k"], lower=0.0, scale=2
        ).collect()
    }
    assert full[("k1", 1)] == 5.0
    assert full[("k1", 2)] == 0.0
    assert full[("k1", 3)] == 2.5
    assert full[("k2", 1)] == 0.0
    assert full[("k2", 2)] == 1.25

    final = {
        r["k"]: r["balance"]
        for r in clamped_cumsum(
            df, "x", ["t"], ["k"], lower=0.0, scale=2, final_only=True
        ).collect()
    }
    assert final == {"k1": 2.5, "k2": 1.25}


def test_clamped_cumsum_nonzero_floor(spark):
    from pandrs_spark.operators.timeseries import clamped_cumsum

    df = small_local_df(
        spark, [("k", 1, -100.0), ("k", 2, 3.0)], "k string, t int, x double"
    )
    out = {
        r["t"]: r["balance"]
        for r in clamped_cumsum(df, "x", ["t"], ["k"], lower=10.0).collect()
    }
    assert out == {1: 10.0, 2: 13.0}


def test_clamped_cumsum_matches_reference_fold(spark):
    """The window-algebra CUSUM identity must reproduce the naive
    sequential fold bit-for-bit on pseudo-random mixed-sign series."""
    from pandrs_spark.operators.timeseries import clamped_cumsum

    # deterministic LCG so the test is reproducible without RNG seeds
    x = 1234567
    rows = []
    for key in range(10):
        for t in range(40):
            x = (1103515245 * x + 12345) % (1 << 31)
            val = ((x % 2001) - 1000) / 10.0  # [-100.0, 100.0]
            rows.append((f"k{key}", t, val))
    df = small_local_df(spark, rows, "k string, t int, v double")
    got = {
        (r["k"], r["t"]): r["bal"]
        for r in clamped_cumsum(
            df, "v", ["t"], ["k"], lower=0.0, scale=2, out_col="bal"
        ).collect()
    }
    # reference: integer fold of the quantized recurrence
    series: dict[str, list[tuple[int, float]]] = {}
    for k, t, v in rows:
        series.setdefault(k, []).append((t, v))
    for k, pts in series.items():
        bal = 0
        for t, v in sorted(pts):
            q = int(round(abs(v) * 100)) * (1 if v >= 0 else -1)
            bal = max(0, bal + q)
            assert got[(k, t)] == bal / 100.0, (k, t)


def test_cms_fast_hash_guarantee_and_agreement(spark):
    """fast_hash=True (xxhash64 grid) preserves the CMS one-sided
    guarantee (estimate >= exact, always) and agrees with the exact
    counts on a sparse sketch; buckets are non-negative despite
    xxhash64 being signed."""
    from pandrs_spark.operators.sketches import cms_build, cms_estimate

    df = small_local_df(
        spark, [(k,) for k in (["hot"] * 50 + [f"k{i}" for i in range(40)])],
        "key string",
    )
    sketch = cms_build(df, "key", depth=4, width=512, fast_hash=True)
    assert sketch.filter("__b__ < 0 OR __b__ >= 512").count() == 0
    est = cms_estimate(sketch, df, "key", depth=4, width=512, fast_hash=True)
    exact = df.groupBy("key").count()
    j = est.join(exact, "key").collect()
    assert len(j) == 41
    for r in j:
        assert r["est_count"] >= r["count"]  # never undercounts
    hot = [r for r in j if r["key"] == "hot"][0]
    assert hot["est_count"] == 50  # sparse sketch: exact for the heavy key


def test_cms_estimate_rejects_hash_mode_mismatch(spark):
    """ADVICE r5: a probe hashed with the OTHER hash function lands in
    unrelated buckets and silently returns garbage; the sketch records
    its hash mode + geometry in schema metadata and cms_estimate must
    refuse a mismatch."""
    import pytest

    from pandrs_spark.operators.sketches import cms_build, cms_estimate

    df = small_local_df(spark, [(f"k{i % 5}",) for i in range(50)], "key string")
    sketch = cms_build(df, "key", depth=4, width=64, fast_hash=True)
    with pytest.raises(ValueError, match="fast_hash"):
        cms_estimate(sketch, df, "key", depth=4, width=64, fast_hash=False)
    with pytest.raises(ValueError, match="width"):
        cms_estimate(sketch, df, "key", depth=4, width=128, fast_hash=True)
    est = {
        r["key"]: r["est_count"]
        for r in cms_estimate(
            sketch, df, "key", depth=4, width=64, fast_hash=True
        ).collect()
    }
    assert all(v >= 10 for v in est.values())


def test_bloom_no_false_negatives_and_low_fp(spark):
    from pyspark.sql import functions as F

    from pandrs_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    keys = spark.range(1000).select(F.col("id").alias("k"))
    words = bloom_build(keys, "k", num_bits=1 << 16, k=3)
    probe = spark.range(10000).select(F.col("id").alias("k"))
    hits = probe.filter(
        bloom_might_contain(words, "k", 1 << 16, k=3)
    ).select("k")
    got = {r["k"] for r in hits.collect()}
    assert set(range(1000)) <= got  # no false negatives, ever
    fp = len(got - set(range(1000))) / 9000
    assert fp < 0.01  # ~9e-5 expected at 65536 bits / 1000 keys / k=3
