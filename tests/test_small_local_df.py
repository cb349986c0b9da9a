"""small_local_df: the one constructor for small driver-side frames."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.errors import PySparkTypeError
from pyspark.sql import Row

from pandrs_spark.operators.util import small_local_df


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1, 2.0), (None, None), (3, 4.5)], "a int, b double"),
        ([("x",), (None,), ("",)], "s string"),
        ([Row(a=1, b="u"), Row(a=2, b="v")], "a long, b string"),
        ([([[[1.0, 2.0]], [[3.0]]],), (None,)], "v array<array<array<double>>>"),
        ([({"a": 1, "b": None},), (None,)], "m map<string,int>"),
        ([(b"\x00\x01",), (bytearray(b"z"),)], "b binary"),
        ([(decimal.Decimal("1.25"),), (decimal.Decimal("-3.10"),)], "d decimal(10,2)"),
        ([(datetime.datetime(2024, 3, 10, 2, 30), datetime.date(2024, 1, 1))], "t timestamp, d date"),
        ([], "a int, b string"),
    ],
)
def test_small_local_df_matches_create_dataframe(spark, rows, schema):
    got = small_local_df(spark, rows, schema)
    want = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.collectLeaves().head().nodeName() == "LocalRelation"


@pytest.mark.parametrize(
    "rows, schema", [([(1.5,)], "a int"), ([(1,)], "a double")]
)
def test_small_local_df_rejects_what_create_dataframe_rejects(spark, rows, schema):
    with pytest.raises(PySparkTypeError) as want:
        spark.createDataFrame(rows, schema)
    with pytest.raises(PySparkTypeError) as got:
        small_local_df(spark, rows, schema)
    assert got.value.getCondition() == want.value.getCondition()
    assert str(got.value) == str(want.value)
