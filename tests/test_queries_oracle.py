"""Differential oracle tests: every registered query vs DuckDB at sf0.001.

This is the same comparison the driver runs at sf0.01 (row count + schema
+ order-insensitive value hash); running it in CI keeps the gate green.
"""

from __future__ import annotations

import pytest

from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
from tools.check_correctness import check


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name: str, spark, sf_dir: str, cache_held) -> None:
    """Oracle parity, and the leak gate: once check() has released the
    builder's leases, the query holds no more cached frames and no more
    persistent RDDs than the session held before it ran."""
    frames0, rdds0 = cache_held()
    try:
        ok, msg = check(name, sf_dir, spark)
        assert ok, f"{name}: {msg}"
        frames, rdds = cache_held()
        assert frames <= frames0, f"{name} left {frames - frames0} cached frame(s)"
        assert rdds <= rdds0, f"{name} left persistent RDDs {sorted(rdds - rdds0)}"
    finally:
        # clear what this query left so one leak fails one test only
        spark.catalog.clearCache()
        for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
            if rid not in rdds0:
                rdd.unpersist(False)


def test_entry_smoke(spark) -> None:
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {
        "order_date",
        "nation",
        "order_status",
        "revenue",
        "order_count",
    }


def test_every_query_has_doc_and_alias_discipline() -> None:
    for name, q in QUERIES.items():
        assert q.doc, f"{name} missing doc"

def test_gate_window_is_curated() -> None:
    """The driver verifies only the FIRST 50 registered queries; the
    prefix must stay the curated one-per-family spread (GATE_ORDER)."""
    from real_time_e_commerce_analytics_lakehouse_spark.plans import GATE_ORDER

    assert len(GATE_ORDER) == 50
    assert list(QUERIES)[:50] == GATE_ORDER
    tags = {t for n in GATE_ORDER for t in QUERIES[n].tags}
    for family in ("join", "window", "agg", "dedup", "documents",
                   "embeddings", "tpch", "curation", "multimodal", "events"):
        assert family in tags, f"gate window lost the {family} family"
