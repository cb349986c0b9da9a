"""Layout (Z-order) and profiling operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from pandrs_spark.operators.util import small_local_df


def test_zvalue_interleaves_bits(spark):
    from pandrs_spark.operators.layout import zvalue

    df = small_local_df(
        spark, [(0, 0), (1, 0), (0, 1), (3, 5)], "x long, y long"
    )
    got = [
        r["z"]
        for r in df.select(zvalue(["x", "y"], bits=3).alias("z"))
        .orderBy("x", "y")
        .collect()
    ]
    # x=0,y=0 -> 0; x=0,y=1 -> bit1 -> 2; x=1,y=0 -> bit0 -> 1
    # x=3(011),y=5(101) -> x bits at 0,2,4 = 1+4; y bits at 1,3,5 = 2+32 -> 39
    assert got == [0, 2, 1, 39]


def test_zorder_layout_clusters_neighbors(spark):
    from pandrs_spark.operators.layout import zorder_layout, zvalue

    df = small_local_df(
        spark, [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    parts = (
        zorder_layout(df, ["x", "y"], bits=4, num_partitions=4)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            F.max("x").alias("mx"), F.min("x").alias("nx"),
            F.max("y").alias("my"), F.min("y").alias("ny"),
        )
        .collect()
    )
    # range-partitioning the z curve bounds BOTH dims per partition:
    # each of the 4 partitions covers a quadrant-ish region, so the
    # per-partition x and y spans are ~half the domain, not the whole
    assert len(parts) == 4
    for p in parts:
        assert (p["mx"] - p["nx"]) <= 8 or (p["my"] - p["ny"]) <= 8


def test_profile_columns_long_report(spark):
    from pandrs_spark.operators.profile import profile_columns

    df = small_local_df(
        spark, [(1, "a", None), (2, "b", 2.5), (3, None, 7.5), (3, "a", None)],
        "k long, s string, v double",
    )
    out = {r["column"]: r for r in profile_columns(df, ["k", "s", "v"]).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_nulls"] == 0
    assert out["k"]["n_distinct"] == 3 and out["k"]["min_value"] == "1"
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    assert out["v"]["n_nulls"] == 2 and out["v"]["max_value"] == "7.5"


def test_advise_partitions_reasonable(spark, sf_dir):
    from pandrs_spark.operators.layout import advise_partitions

    from pandrs_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    out = advise_partitions(li, target_mb=1)
    assert out["est_total_bytes"] > 0
    assert out["recommended_partitions"] >= 1
    # a tighter target can never recommend fewer partitions
    wide = advise_partitions(li, target_mb=1024)
    assert out["recommended_partitions"] >= wide["recommended_partitions"]
