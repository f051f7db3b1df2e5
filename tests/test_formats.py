"""Source/sink format coverage: the reference is CSV-in/Delta-out only
(SURVEY §2.1); the engine additionally round-trips JSON, ORC, and CSV
with explicit schemas (inference is never used in production paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sample(spark):
    return spark.range(100).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
        F.to_date(F.lit("2024-01-01")).alias("d"),
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv", "xml"])
def test_roundtrip(spark, sample, tmp_path, fmt):
    path = str(tmp_path / fmt)
    writer = sample.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    if fmt == "xml":  # built-in since Spark 4 (SPARK-44751)
        writer = writer.option("rowTag", "row")
    writer.save(path)

    reader = spark.read.format(fmt).schema(sample.schema)
    if fmt == "csv":
        reader = reader.option("header", True)
    if fmt == "xml":
        reader = reader.option("rowTag", "row")
    back = reader.load(path)

    a = sorted(tuple(r) for r in sample.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b
    # nullability is not round-trip stable (file formats read nullable);
    # names and types are the contract
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in sample.schema
    ]


def test_partitioned_write_prunes(spark, sample, tmp_path):
    """partitionBy layout: reading one partition scans only its files
    (partition pruning at the source level)."""
    path = str(tmp_path / "byk")
    sample.write.mode("overwrite").partitionBy("k").parquet(path)
    one = spark.read.parquet(path).filter(F.col("k") == 3)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert one.count() == sample.filter(F.col("k") == 3).count()
    # pruned scan reads a single partition directory
    assert "PartitionFilters: [isnotnull(k" in plan or "k#" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed the same way on the join key
    join WITHOUT any Exchange (shuffle) or per-bucket Sort in the plan —
    the 100 TB fact-to-fact join pattern (shuffle paid once at write) —
    and match the plain join row for row."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.bucketed import (
        colocated_join,
        write_bucketed,
    )

    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(left, "bkt_left", 4, "k")
        write_bucketed(right, "bkt_right", 4, "k")
        joined = colocated_join(spark, "bkt_left", "bkt_right", "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == 1000
        # control: the same join on plain (unbucketed) frames shuffles,
        # and gives the same rows
        ctrl = left.join(right, "k")
        ctrl_plan = ctrl._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in ctrl_plan
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, ctrl.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_bucketed_groupby_has_no_exchange(spark):
    """Aggregation on the bucket key also skips its shuffle."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.bucketed import (
        read_table,
        write_bucketed,
    )

    df = spark.range(0, 1000).selectExpr("id % 50 AS k", "id AS v")
    try:
        write_bucketed(df, "bkt_agg", 4, "k")
        agg = read_table(spark, "bkt_agg").groupBy("k").count()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert agg.count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_agg")


def test_orc_roundtrip_matches_parquet(spark, sf_dir, tmp_path):
    """Format breadth: the engine's frames write/read ORC losslessly
    (same rows and schema as the parquet source) — columnar sink
    interchangeability for consumers standardized on ORC."""
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table as _t

    src = _t(spark, sf_dir, "nation")
    dest = str(tmp_path / "nation_orc")
    src.write.orc(dest)
    back = spark.read.orc(dest)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_jsonl_roundtrip_preserves_rows(spark, sf_dir, tmp_path):
    """JSON-lines sink/source roundtrip (timestamps pinned UTC by the
    session; schema supplied on read — inference would widen types)."""
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table as _t

    src = _t(spark, sf_dir, "region")
    dest = str(tmp_path / "region_jsonl")
    src.write.json(dest)
    back = spark.read.schema(src.schema).json(dest)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
