from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from real_time_e_commerce_analytics_lakehouse_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def cache_held(spark):
    """Callable returning what the session holds on the two layers an
    operator must release: (cached frames in the CacheManager, ids of
    persistent RDDs — cache blocks and local-checkpoint blocks)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc
    return lambda: (cm.numCachedEntries(), set(jsc.getPersistentRDDs().keys()))
