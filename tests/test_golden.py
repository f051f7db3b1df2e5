"""Golden pipeline test (SURVEY §5.2): the full medallion run over the
seeded fixtures with a pinned clock must reproduce the committed
metrics_revenue snapshot exactly (modulo cent rounding of double sums,
whose partition order Spark does not fix)."""

from __future__ import annotations

from datetime import datetime

from real_time_e_commerce_analytics_lakehouse_spark.pipelines.olist import OlistPipeline
from tools.make_olist_fixtures import make_fixtures


def test_metrics_revenue_matches_golden(spark, tmp_path, assert_golden_revenue):
    landing, lake = str(tmp_path / "landing"), str(tmp_path / "lake")
    make_fixtures(landing, seed=42)
    p = OlistPipeline(spark, lake, landing, clock=datetime(2024, 6, 1, 12, 0, 0))
    p.run()
    assert_golden_revenue(p)
