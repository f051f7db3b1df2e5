from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from real_time_e_commerce_analytics_lakehouse_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
GOLDEN_REVENUE = Path(__file__).parent / "golden_metrics_revenue.json"


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


@pytest.fixture
def assert_golden_revenue():
    """Callable asserting that a pipeline's metrics_revenue equals the
    committed snapshot tests/golden_metrics_revenue.json (modulo cent
    rounding of double sums, whose partition order Spark does not fix)."""

    def check(pipeline) -> None:
        rows = []
        for r in pipeline.table("metrics", "metrics_revenue").read().collect():
            rows.append(
                {
                    "order_date": r.order_date.isoformat() if r.order_date else None,
                    "customer_state": r.customer_state,
                    "order_status": r.order_status,
                    "total_revenue": round(r.total_revenue, 2)
                    if r.total_revenue is not None
                    else None,
                    "order_count": r.order_count,
                }
            )
        rows.sort(
            key=lambda d: (
                str(d["order_date"]),
                str(d["customer_state"]),
                str(d["order_status"]),
            )
        )
        golden = json.loads(GOLDEN_REVENUE.read_text())
        assert len(rows) == len(golden)
        for got, want in zip(rows, golden):
            assert got["order_date"] == want["order_date"]
            assert got["customer_state"] == want["customer_state"]
            assert got["order_status"] == want["order_status"]
            assert got["order_count"] == want["order_count"]
            assert abs(got["total_revenue"] - want["total_revenue"]) < 0.011

    return check
