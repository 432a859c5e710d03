from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession

from bbcnews_scraper_nlp_spark.session import get_spark, release_blocks


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="module", autouse=True)
def release_module_blocks():
    # Frames a module persists (its module fixtures, operator
    # checkpoints) would otherwise stay in the CacheManager and turn a
    # later module's matching scans into cache reads: a test's plan
    # would depend on which modules ran before it. Per module, not per
    # test, because module fixtures hold cached frames across tests.
    yield
    active = SparkSession.getActiveSession()
    if active is not None:
        release_blocks(active)


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
