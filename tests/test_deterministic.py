"""Determinism guarantees: decimal-quantized aggregation must be
invariant to partitioning — the property the whole oracle gate rests
on, and what makes 100 TB reruns reproducible."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pandrs_spark.functions.deterministic import davg, dsum
from pandrs_spark.operators.util import small_local_df


def test_dsum_partition_invariant(spark):
    rng = random.Random(7)
    vals = [(rng.uniform(-1e6, 1e6),) for _ in range(20_000)]
    df = small_local_df(spark, vals, "v double")
    results = set()
    for parts in (1, 7, 64):
        r = df.repartition(parts).agg(dsum("v").alias("s")).collect()[0].s
        results.add(r)
    assert len(results) == 1


def test_davg_matches_exact(spark):
    df = small_local_df(spark, [(1.005,), (2.015,), (3.025,)], "v double")
    got = df.agg(davg("v", 2).alias("m")).collect()[0].m
    # round half away from zero at scale 2: 1.0 + 2.02 + 3.02 or exact
    # double-repr dependent — just assert stability and closeness
    assert abs(got - 2.015) < 0.01
    again = df.repartition(3).agg(davg("v", 2).alias("m")).collect()[0].m
    assert got == again


def test_entry_contract(spark):
    import __spark_entry__ as E

    qs, osql = E.queries(), E.oracle_sql()
    assert len(qs) >= 60
    assert set(osql) <= set(qs)
    df = E.entry(spark)
    assert df.count() > 0
