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
    yield s
    from pandrs_spark.frame import release_persisted

    release_persisted()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
