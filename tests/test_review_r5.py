"""Round-5 review batch: deletion-vector lifecycle on rewrites, restore
snapshot fidelity, clone ledgers, hidden-partition merges. Each test
pins one finding from the r5 self-review (see the corresponding
commit); the format (pyds) findings live in test_pyds.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def test_rewrite_after_mor_delete_clears_stale_tombstones(spark, tmp_path):
    """merge_upsert on a table with active DVs materializes the
    deletions; carrying the tombstones made count_rows undercount and
    blocked read_stream forever (r5 review)."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(i, "v") for i in range(100)]))
    t.delete(F.col("id") < 10, mode="mor")
    assert t.count_rows() == 90
    t.merge_upsert(_mk(spark, [(50, "updated")]), keys="id")
    assert t.count_rows() == 90  # not 80
    assert t.read().count() == 90
    # unpartitioned merge rewrote everything: no tombstones remain, so
    # the append-only stream surface is usable again
    assert t._read_dv(t.latest_version()) == []
    t.read_stream()  # must not raise "active tombstones"


def test_cow_delete_keeps_tombstones_of_untouched_units(spark, tmp_path):
    """Partition-scoped rewrites drop only the tombstones whose units
    they materialized; DVs into untouched partitions stay active."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(i, "x" if i % 2 else "y") for i in range(40)], "id long, p string"
        )
    )
    t.delete((F.col("id") < 4), mode="mor")  # tombstones in BOTH partitions
    assert t.count_rows() == 36
    # merge touching only partition x
    t.merge_upsert(
        spark.createDataFrame([(5, "x")], "id long, p string"), keys="id"
    )
    # x's tombstones materialized by the rewrite; y's still active
    assert t.count_rows() == 36
    assert sorted(r.id for r in t.read().where("p = 'y'").collect()) == sorted(
        i for i in range(40) if i % 2 == 0 and i >= 4
    )


def test_restore_restores_the_versions_own_deletion_vectors(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(i, "v") for i in range(10)]))  # v1
    v2 = t.delete(F.col("id") < 3, mode="mor")["version"]  # v2: 7 live
    t.compact()  # v3: materialized, dv=[]

    t.restore(1)  # full 10 rows, no tombstones
    assert t.count_rows() == 10
    assert sorted(r.id for r in t.read().collect()) == list(range(10))

    t.restore(v2)  # v2's snapshot INCLUDES its tombstones
    assert t.count_rows() == 7
    assert sorted(r.id for r in t.read().collect()) == list(range(3, 10))


def test_clone_carries_identity_and_txn_ledgers(spark, tmp_path):
    src = LakeTable(spark, str(tmp_path / "src"), identity="id")
    src.append(spark.createDataFrame([("a",), ("b",)], "v string"))
    src.append_once(
        spark.createDataFrame([("c",)], "v string"), txn_app="app", txn_version=7
    )
    high = src._identity_high(src.latest_version())
    assert high == 3

    dest = src.clone(str(tmp_path / "dest"))
    d = LakeTable(spark, dest.path, identity="id")
    assert d._identity_high(d.latest_version()) == high
    assert d.last_txn_version("app") == 7
    d.append(spark.createDataFrame([("d",)], "v string"))
    ids = sorted(r.id for r in d.read().collect())
    assert ids == [1, 2, 3, 4]  # no duplicate identity values
    # replay of the already-applied txn inserts nothing
    assert (
        d.append_once(
            spark.createDataFrame([("dup",)], "v string"),
            txn_app="app",
            txn_version=7,
        )
        is None
    )


def test_merge_into_generated_hidden_partition_table(spark, tmp_path):
    """The partition_transform recipe: writers never supply the
    generated partition column — merges must compute it, not crash on
    an unresolved column (r5 review)."""
    t = LakeTable(
        spark,
        str(tmp_path / "t"),
        partition_by=["__p"],
        generated={"__p": "CAST(ts AS DATE)"},
    )
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-02 11:00:00")],
        "id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t.overwrite(df)
    batch = spark.createDataFrame(
        [(2, "2024-01-02 12:00:00"), (3, "2024-01-03 09:00:00")],
        "id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t.merge_upsert(batch, keys="id")  # no __p supplied
    got = {r["id"]: str(r["__p"]) for r in t.read().collect()}
    assert got == {1: "2024-01-01", 2: "2024-01-02", 3: "2024-01-03"}
    t.merge_insert_only(batch, keys="id")  # replay inserts nothing
    assert t.count_rows() == 3
