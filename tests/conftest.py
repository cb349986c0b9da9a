from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PANDRS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pandrs_spark.session import get_spark

    s = get_spark("pandrs-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    # Round 12 (suite runtime): createDataFrame over a plain Python
    # list parallelizes it into defaultParallelism (32) slices, and
    # EVERY action on such a frame then pays one Python-runner
    # round-trip PER SLICE (~0.15 s each; sequential under the tests'
    # ubiquitous coalesce(1)) — a 5-row assert cost ~5 s and the full
    # suite 40 min. Route plain list/tuple data through a SINGLE-slice
    # parallelize: same pickle path, same schema inference and
    # verification, same row order (monotonically_increasing_id stays
    # ascending), one Python eval per action. Measured: trivial frame
    # asserts 5 s -> 0.2 s. Test-session-only: library call sites still
    # build their small local frames with a plain createDataFrame(list).
    # A call that asks for schema sampling keeps the list, because a
    # parallelized input would change how much of it is sampled.
    from pyspark.sql import SparkSession

    orig_create = SparkSession.createDataFrame

    def _one_slice_create(
        self, data, schema=None, samplingRatio=None, verifySchema=True
    ):
        if isinstance(data, (list, tuple)) and data and samplingRatio is None:
            data = self.sparkContext.parallelize(data, 1)
        return orig_create(self, data, schema, samplingRatio, verifySchema)

    SparkSession.createDataFrame = _one_slice_create
    yield s
    SparkSession.createDataFrame = orig_create
    from pandrs_spark.frame import release_persisted

    release_persisted()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
