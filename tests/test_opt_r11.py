"""Round-11 optimization pin: an operator internal that changed for
performance must compute exactly what the old spelling computed.

_copurchase_pairs: basket-array pair generation (one groupBy + array
comprehension) replaced the distinct + self-join spelling (guide
§2.3/§2.4). Pinned against a literal re-implementation of the old
self-join over a frame with duplicate lines, singleton baskets, and a
wide basket.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _old_pairs(op, a_name, b_name, symmetric, min_support):
    """The r1-r10 distinct + self-join spelling, verbatim."""
    a = op.select("l_orderkey", F.col("l_partkey").alias(a_name))
    b = op.select("l_orderkey", F.col("l_partkey").alias(b_name))
    pred = (
        F.col(a_name) != F.col(b_name)
        if symmetric
        else F.col(a_name) < F.col(b_name)
    )
    return (
        a.join(b, "l_orderkey")
        .filter(pred)
        .groupBy(a_name, b_name)
        .agg(F.count("*").alias("n_together"))
        .filter(F.col("n_together") >= min_support)
    )


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_basket_pairs_match_old_selfjoin_spelling(spark, tmp_path):
    from real_time_e_commerce_analytics_lakehouse_spark.plans.analytics import (
        MIN_COPURCHASE_ORDERS,
        _copurchase_pairs,
    )

    # duplicate (order, part) lines, singleton basket (order 4), a wide
    # basket (order 1), and a repeated pair across orders 1/2/3
    rows = [
        (1, 10), (1, 20), (1, 30), (1, 40), (1, 10),  # dup line
        (2, 10), (2, 20),
        (3, 10), (3, 20), (3, 30),
        (4, 99),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    sf_dir = str(tmp_path / "sf")
    import os

    os.makedirs(sf_dir, exist_ok=True)
    li.write.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    op_old = (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    for symmetric in (False, True):
        baskets, op_new, pairs_new = _copurchase_pairs(
            spark, sf_dir, "pa", "pb", symmetric=symmetric
        )
        pairs_old = _old_pairs(
            op_old, "pa", "pb", symmetric, MIN_COPURCHASE_ORDERS
        )
        assert _rowset(pairs_new) == _rowset(pairs_old)
        # op (support frame) must be the same distinct (order, part) set
        assert _rowset(op_new) == _rowset(op_old)
        # one basket row per distinct order
        assert baskets.count() == 4
