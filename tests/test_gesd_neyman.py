"""Unit tests for GESD peeling and the Neyman-allocation query pieces."""

import pytest
from pyspark.sql import functions as F

from pandrs_spark.operators.hypothesis import gesd_outlier_peel
from pandrs_spark.operators.util import small_local_df


def test_gesd_peel_unmasks_outlier_cluster(spark):
    # two extreme points close together would mask each other in a
    # single-pass z-score; peeling must surface both, largest first.
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 50.0, 48.0]
    df = small_local_df(
        spark, [(i, v) for i, v in enumerate(vals)], "k int, x double"
    )
    out = gesd_outlier_peel(df, "x", key_cols=["k"], k=3).orderBy("peel_round")
    rows = out.collect()
    assert [r["peel_round"] for r in rows] == [1, 2, 3]
    assert rows[0]["x"] == 50.0
    assert rows[1]["x"] == 48.0
    # round 3 is an inlier: smaller R than round 2, and a central value
    assert rows[2]["r_stat"] < rows[1]["r_stat"]
    assert rows[2]["x"] < 12.0


def test_gesd_peel_recomputes_stats_per_round(spark):
    # after removing 100, the remaining series is constant except 20 —
    # round 2 must pick 20 with a huge R (stats recomputed), not reuse
    # round-1 stats (which would give 20 a modest R).
    vals = [5.0] * 9 + [20.0, 100.0]
    df = small_local_df(
        spark, [(i, v) for i, v in enumerate(vals)], "k int, x double"
    )
    rows = (
        gesd_outlier_peel(df, "x", key_cols=["k"], k=2)
        .orderBy("peel_round")
        .collect()
    )
    assert rows[0]["x"] == 100.0
    assert rows[1]["x"] == 20.0
    assert rows[1]["r_stat"] > 2.5


def test_gesd_deterministic_tie_breaks_on_key(spark):
    df = small_local_df(
        spark, [(1, 0.0), (2, 10.0), (3, -10.0), (4, 0.0)], "k int, x double"
    )
    rows = (
        gesd_outlier_peel(df, "x", key_cols=["k"], k=2)
        .orderBy("peel_round")
        .collect()
    )
    # |10| and |-10| tie exactly; key order must break the tie: k=2 first
    assert rows[0]["k"] == 2
    assert rows[1]["k"] == 3


def test_gesd_duplicate_keys_drop_one_row_per_round(spark):
    # key_cols that do NOT uniquely identify rows (ADVICE r6): three
    # rows share k=7; each peel round must remove exactly ONE physical
    # row (synthetic row-id anti-join), not the whole key group —
    # otherwise the remaining mean/sd is computed over a biased set.
    df = small_local_df(
        spark, [(7, 100.0), (7, 100.0), (7, 10.0), (1, 0.0), (2, 1.0),
         (3, -1.0), (4, 0.5), (5, -0.5), (6, 0.2)],
        "k int, x double",
    )
    rows = (
        gesd_outlier_peel(df, "x", key_cols=["k"], k=3)
        .orderBy("peel_round")
        .collect()
    )
    # both duplicate 100.0 rows surface as separate peel rounds
    assert rows[0]["x"] == 100.0 and rows[0]["k"] == 7
    assert rows[1]["x"] == 100.0 and rows[1]["k"] == 7
    # the third k=7 row (10.0) is still present to be peeled in round 3
    assert rows[2]["x"] == 10.0 and rows[2]["k"] == 7
