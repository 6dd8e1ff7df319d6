from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hippo_claim_crossover_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
TEST_CONF = {"spark.sql.shuffle.partitions": "8"}


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf=TEST_CONF)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
