"""Categorical dtype emulation (SURVEY.md §1.2, categorical.rs)."""

from __future__ import annotations

from pandrs_spark.operators.categorical import (
    category_intersection,
    category_union,
    decode,
    encode,
)
from pandrs_spark.operators.util import small_local_df


def test_encode_decode_roundtrip(spark):
    df = small_local_df(
        spark, [(1, "red"), (2, "blue"), (3, "red"), (4, None)], "id bigint, color string"
    )
    encoded, dim = encode(df, "color", code_col="c")
    codes = {r["label"]: r["code"] for r in dim.collect()}
    assert codes == {"blue": 0, "red": 1}  # sorted label order
    rows = {r["id"]: r["c"] for r in encoded.collect()}
    assert rows[1] == 1 and rows[2] == 0 and rows[4] is None
    back = decode(encoded, dim, "c", "color")
    assert {r["id"]: r["color"] for r in back.collect()}[3] == "red"


def test_category_set_ops(spark):
    a = small_local_df(spark, [(0, "x"), (1, "y")], "code int, label string")
    b = small_local_df(spark, [(0, "y"), (1, "z")], "code int, label string")
    u = {r["label"] for r in category_union(a, b).collect()}
    assert u == {"x", "y", "z"}
    i = [r["label"] for r in category_intersection(a, b).collect()]
    assert i == ["y"]
