"""LakeTable transaction-semantics tests: the reference's Delta contract
(SURVEY §2.1 S5-S13) plus replay/out-of-order properties (SURVEY §5.4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable


def _df(spark, rows, schema="id long, v string, ver long"):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def tmp_table(tmp_path):
    return str(tmp_path / "tbl")


def test_overwrite_read_roundtrip(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    assert not t.exists()
    t.overwrite(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    assert t.exists()
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


def test_append_adds_without_rewrite(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(1, "a", 1)]))
    v2 = t.append(_df(spark, [(2, "b", 1)]))
    assert v2 == v1 + 1
    assert t.read().count() == 2
    # time travel: v1 still readable, one row
    assert t.read(version=v1).count() == 1


def test_merge_insert_only_is_replay_idempotent(spark, tmp_table):
    """S9 file-level idempotency: replaying the same batch is a no-op."""
    t = LakeTable(spark, tmp_table)
    batch = _df(spark, [(1, "a", 1), (2, "b", 1)])
    t.merge_insert_only(batch, keys="id")
    before = t.latest_version()
    t.merge_insert_only(batch, keys="id")  # replay
    assert t.latest_version() == before  # no new commit at all
    assert t.read().count() == 2
    t.merge_insert_only(_df(spark, [(2, "b", 1), (3, "c", 1)]), keys="id")
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]


def test_merge_upsert_last_writer_wins_with_guard(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "old", 10), (2, "keep", 10)]))
    # newer version for id=1, STALE version for id=2, new id=3
    src = _df(spark, [(1, "new", 11), (2, "stale", 5), (3, "ins", 1)])
    t.merge_upsert(src, keys="id", guard_col="ver")
    got = {r.id: (r.v, r.ver) for r in t.read().collect()}
    assert got == {1: ("new", 11), 2: ("keep", 10), 3: ("ins", 1)}


def test_merge_upsert_out_of_order_replay(spark, tmp_table):
    """Out-of-order delivery: an older update arriving late must not
    clobber a newer row (reference guard 02_bronze_to_silver.py:74)."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "v2", 2)]))
    t.merge_upsert(_df(spark, [(1, "v1", 1)]), keys="id", guard_col="ver")
    assert t.read().collect()[0].v == "v2"
    # replaying the same winning batch twice changes nothing (idempotent)
    t.merge_upsert(_df(spark, [(1, "v3", 3)]), keys="id", guard_col="ver")
    t.merge_upsert(_df(spark, [(1, "v3", 3)]), keys="id", guard_col="ver")
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].v == "v3"


def test_merge_upsert_rejects_duplicate_source_keys(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    dup = _df(spark, [(1, "x", 2), (1, "y", 3)])
    with pytest.raises(ValueError, match="multiple rows per key"):
        t.merge_upsert(dup, keys="id", guard_col="ver")


def test_merge_upsert_first_write_rejects_duplicate_source_keys(spark, tmp_path):
    """The one-row-per-key guard holds on the write that creates the
    table as on a merge into an existing one: both raise, and the
    create commits nothing."""
    dup = _df(spark, [(1, "a", 1), (1, "b", 1), (2, "c", 1)])
    fresh = LakeTable(spark, str(tmp_path / "fresh"))
    with pytest.raises(ValueError, match="multiple rows per key"):
        fresh.merge_upsert(dup, keys="id")
    assert not fresh.exists()
    existing = LakeTable(spark, str(tmp_path / "existing"))
    existing.overwrite(_df(spark, [(3, "d", 1)]))
    with pytest.raises(ValueError, match="multiple rows per key"):
        existing.merge_upsert(dup, keys="id")


def _written_frames(monkeypatch) -> list:
    """The frames every later `_write_units` call writes, in order."""
    written = []
    write_units = LakeTable._write_units

    def spy(self, df, *args, **kwargs):
        written.append(df)
        return write_units(self, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_write_units", spy)
    return written


def test_merge_upsert_is_one_join_over_one_target_scan(spark, tmp_table, monkeypatch):
    """A MERGE joins target and source once: the written plan holds one
    join and one scan of the target's files, and the commit adds one
    data dir holding one file set (one file for this small merge)."""
    import re

    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(i, f"v{i}", 1) for i in range(20)]))
    data = os.path.join(tmp_table, "data")
    dirs_before = set(os.listdir(data))
    written = _written_frames(monkeypatch)
    t.merge_upsert(
        _df(spark, [(5, "new", 2), (50, "ins", 2)]), keys="id", guard_col="ver"
    )
    plan = written[-1]._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(
        r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)",
        plan,
    )
    assert len(joins) == 1, plan
    assert plan.count("FileScan parquet") == 1, plan
    added = set(os.listdir(data)) - dirs_before
    assert len(added) == 1
    files = [
        f for f in os.listdir(os.path.join(data, added.pop()))
        if f.endswith(".parquet")
    ]
    assert len(files) == 1, files
    got = {r.id: (r.v, r.ver) for r in t.read().collect()}
    assert len(got) == 21
    assert got[5] == ("new", 2) and got[50] == ("ins", 2) and got[4] == ("v4", 1)


def test_scan_without_lineage_reads_no_file_metadata(spark, tmp_table, monkeypatch):
    """An unpartitioned table without deletion vectors, read with no
    lineage column asked for, scans its data columns alone: neither a
    read nor a MERGE's target scan reads `_metadata`'s row index or file
    fields. A read that asks for the file path still gets it."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(i, f"v{i}", 1) for i in range(20)]))
    written = _written_frames(monkeypatch)
    t.merge_upsert(_df(spark, [(5, "new", 2)]), keys="id", guard_col="ver")
    for df in (t.read(), written[-1]):
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [s for s in plan.splitlines() if "FileScan parquet" in s]
        assert scans, plan
        for scan in scans:
            assert "ReadSchema: struct<id:bigint,v:string,ver:bigint>" in scan, scan
            assert "_metadata" not in scan and "file_path" not in scan, scan
    units = t._read_manifest(t.latest_version())
    paths = {r.fp for r in t._read_units(units, with_file_path="fp").collect()}
    assert paths and all(p.startswith("file:") and "/data/" in p for p in paths)


def test_merge_upsert_composite_keys(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1), (1, "b", 1)], "k1 long, k2 string, ver long"))
    t.merge_upsert(
        _df(spark, [(1, "a", 2)], "k1 long, k2 string, ver long"),
        keys=["k1", "k2"],
        guard_col="ver",
    )
    got = {(r.k1, r.k2): r.ver for r in t.read().collect()}
    assert got == {(1, "a"): 2, (1, "b"): 1}


def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_table):
    t = LakeTable(spark, tmp_table, partition_by=["dt"])
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01", 1), (2, "b", "2024-01-02", 1), (3, "c", "2024-01-03", 1)],
        "id long, v string, dt string, ver long",
    )
    t.overwrite(base)
    units_before = {u.path: u for u in t._read_manifest(t.latest_version())}

    src = spark.createDataFrame(
        [(2, "B", "2024-01-02", 2)], "id long, v string, dt string, ver long"
    )
    t.merge_upsert(src, keys="id", guard_col="ver")
    units_after = {u.path: u for u in t._read_manifest(t.latest_version())}

    # untouched partitions keep their exact data units (no rewrite)
    for path, u in units_after.items():
        if u.partition.get("dt") in ("2024-01-01", "2024-01-03"):
            assert path in units_before, "untouched partition was rewritten"
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # partition column type survives the dir-name roundtrip
    assert dict(t.read().dtypes)["dt"] == "string"


def test_partition_column_type_preserved(spark, tmp_table):
    t = LakeTable(spark, tmp_table, partition_by=["d"])
    df = spark.createDataFrame([(1, "2024-01-01")], "id long, d string").select(
        "id", F.to_date("d").alias("d")
    )
    t.overwrite(df)
    assert dict(t.read().dtypes)["d"] == "date"


def test_compact_preserves_content(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    for i in range(2, 6):
        t.append(_df(spark, [(i, "x", 1)]))
    n_units = len(t._read_manifest(t.latest_version()))
    assert n_units >= 5
    t.compact()
    assert len(t._read_manifest(t.latest_version())) < n_units
    assert t.read().count() == 5


def test_read_changes_is_exact_cdc_for_appends(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(1, "a", 1)]))
    v2 = t.append(_df(spark, [(2, "b", 1)]))
    t.append(_df(spark, [(3, "c", 1)]))
    # changes since v1 = rows of v2+v3 only
    changes = t.read_changes(v1)
    assert sorted(r.id for r in changes.collect()) == [2, 3]
    # fully caught up -> None
    assert t.read_changes(t.latest_version()) is None
    # from scratch -> full snapshot
    assert t.read_changes(None).count() == 3


def test_concurrent_commit_detected(spark, tmp_table):
    """Two writers racing to the same version: the second atomic rename
    must fail loudly, not corrupt the log."""
    import os

    from real_time_e_commerce_analytics_lakehouse_spark.tables import (
        ConcurrentWriteError,
    )

    t1 = LakeTable(spark, tmp_table)
    t1.overwrite(_df(spark, [(1, "a", 1)]))
    # freeze the loser's view of the log at version 1, then let a racer
    # commit version 2 — the loser targets the same version number
    t1.latest_version = lambda: 1  # type: ignore[method-assign]
    racer = LakeTable(spark, tmp_table)
    racer._commit([], op="append")  # wins version 2
    racer_doc = open(racer._manifest_file(2)).read()
    import pytest as _pytest

    with _pytest.raises(ConcurrentWriteError):
        t1._commit([], op="append")
    # winner's manifest intact, loser clobbered nothing
    assert open(racer._manifest_file(2)).read() == racer_doc
    assert racer.latest_version() == 2


# ---------------------------------------------------------------- round 2


def test_vacuum_retention_horizon(spark, tmp_table):
    """VACUUM analog: storage shrinks, time travel inside the horizon
    still works, outside it is gone (VERDICT r1 miss #3)."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    for i in range(2, 5):
        t.append(_df(spark, [(i, "x", 1)]))
    t.compact()
    data_root = os.path.join(tmp_table, "data")
    dirs_before = len(os.listdir(data_root))
    latest = t.latest_version()

    stats = t.vacuum(keep_last_n=2)
    assert stats["removed_manifests"] == 3
    # v(latest-1) still references the pre-compact units: nothing deletable
    assert stats["removed_commit_dirs"] == 0
    # inside the horizon: latest (compacted) and latest-1 both readable
    assert t.read(version=latest).count() == 4
    assert t.read(version=latest - 1).count() == 4
    # outside: manifest deleted
    with pytest.raises(FileNotFoundError):
        t.read(version=latest - 2)

    # shrink the horizon to the compacted snapshot: originals deletable
    stats = t.vacuum(keep_last_n=1)
    assert stats["removed_commit_dirs"] == 4
    assert len(os.listdir(data_root)) < dirs_before
    assert t.read().count() == 4


def test_vacuum_keeps_shared_units(spark, tmp_table):
    """Units referenced by a kept manifest survive even if older
    manifests also referenced them (append shares units across versions)."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(2, "b", 1)]))
    t.vacuum(keep_last_n=1)
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


def test_read_stream_true_streaming_source(spark, tmp_table, tmp_path):
    """S6 parity: readStream over an append-only LakeTable discovers new
    commits incrementally; the checkpoint prevents reprocessing."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(2, "b", 1)]))

    from real_time_e_commerce_analytics_lakehouse_spark.streaming.pipeline import (
        run_available_now,
    )

    ckpt = str(tmp_path / "ckpt")
    batches: list[list[int]] = []
    run_available_now(
        t.read_stream(), ckpt, lambda b, e: batches.append(sorted(r.id for r in b.collect()))
    )
    assert sorted(x for b in batches for x in b) == [1, 2]

    t.append(_df(spark, [(3, "c", 1)]))
    run_available_now(
        t.read_stream(), ckpt, lambda b, e: batches.append(sorted(r.id for r in b.collect()))
    )
    assert sorted(x for b in batches for x in b) == [1, 2, 3]  # no reprocessing


def test_read_stream_rejects_partitioned(spark, tmp_table):
    t = LakeTable(spark, tmp_table, partition_by=["dt"])
    t.overwrite(spark.createDataFrame([(1, "2024-01-01")], "id long, dt string"))
    with pytest.raises(ValueError, match="append-only unpartitioned"):
        t.read_stream()


def test_partition_values_hive_escaping_and_null(spark, tmp_table):
    """ADVICE r1 #1: partition matching must normalize Hive %XX escaping
    and the NULL sentinel — else merge duplicates rows in those
    partitions."""
    t = LakeTable(spark, tmp_table, partition_by=["p"])
    base = spark.createDataFrame(
        [(1, "a b:c", 1), (2, None, 1), (3, "plain", 1)], "id long, p string, ver long"
    )
    t.overwrite(base)
    units_before = {u.path for u in t._read_manifest(t.latest_version())}

    # upsert into the escaped partition AND the null partition
    src = spark.createDataFrame(
        [(1, "a b:c", 2), (2, None, 2)], "id long, p string, ver long"
    )
    t.merge_upsert(src, keys="id", guard_col="ver")

    rows = {r.id: (r.p, r.ver) for r in t.read().collect()}
    assert rows == {1: ("a b:c", 2), 2: (None, 2), 3: ("plain", 1)}
    # the untouched 'plain' partition kept its exact unit
    units_after = {u.path: u for u in t._read_manifest(t.latest_version())}
    kept_plain = [
        p for p, u in units_after.items() if u.partition.get("p") == "plain"
    ]
    assert kept_plain and all(p in units_before for p in kept_plain)


def test_partitioned_read_restores_values_without_a_python_rdd(spark, tmp_table):
    """Partition values needing escaping (space, '%', '+') and NULL read
    back exactly, and the unit-key -> partition-value frame is built
    from literals: the read's optimized plan holds no LogicalRDD, so no
    Python worker scans it."""
    t = LakeTable(spark, tmp_table, partition_by=["p"])
    vals = ["a b", "50%off", "x+y", None, "plain"]
    t.overwrite(
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "id long, p string"
        )
    )
    snap = t.read()
    assert {r.id: r.p for r in snap.collect()} == dict(enumerate(vals))
    assert "LogicalRDD" not in snap._jdf.queryExecution().optimizedPlan().toString()


def test_snapshot_read_is_one_scan_for_many_units(spark, tmp_table):
    """VERDICT r1 wrong #2: hundreds of units must not become hundreds of
    scans in the plan (driver planning bottleneck at 100 TB)."""
    t = LakeTable(spark, tmp_table, partition_by=["b"])
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 200).alias("b"), (F.col("id") * 2).alias("v")
    )
    t.overwrite(df)
    assert len(t._read_manifest(t.latest_version())) == 200

    snap = t.read()
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert snap.count() == 2000
    assert snap.select("b").distinct().count() == 200
    assert dict(snap.dtypes)["b"] == "bigint"  # partition type restored
    got = {r.id: (r.b, r.v) for r in snap.collect()}
    assert got[1234] == (34, 2468)


def test_snapshot_read_one_scan_unpartitioned_appends(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    for i in range(2, 12):
        t.append(_df(spark, [(i, "x", 1)]))
    snap = t.read()
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert snap.count() == 11


def _jobs_under_group(spark, group, fn):
    """(fn's result, ids of the Spark jobs fn launched on this thread)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_takes_its_schema_from_the_manifest_without_a_job(spark, tmp_table):
    """Every unit records its schema, so building a read (and asking for
    its schema) launches no Spark job — no footer schema inference."""
    t = LakeTable(spark, tmp_table, partition_by=["p"])
    t.overwrite(spark.createDataFrame([(1, "a", "x")], "id long, v string, p string"))
    t.append(spark.createDataFrame([(2, "b", "y", 5)], "id long, v string, p string, n int"))
    snap, jobs = _jobs_under_group(
        spark, "laketable_read_schema", lambda: t.read()
    )
    assert jobs == []
    assert snap.columns == ["id", "v", "n", "p"]
    assert sorted(snap.collect()) == sorted(
        [(1, "a", None, "x"), (2, "b", 5, "y")]
    )


def test_replayed_merge_insert_only_leaves_no_commit_and_no_data_dir(spark, tmp_path):
    """A replay writes the (empty) anti-join result once and finds it
    empty from the footers: no commit, and the uncommitted dir is gone."""
    for part in ([], ["v"]):
        t = LakeTable(spark, str(tmp_path / f"t{len(part)}"), partition_by=part)
        batch = _df(spark, [(1, "a", 1), (2, "b", 1)])
        t.merge_insert_only(batch, keys="id")
        version = t.latest_version()
        data = os.path.join(t.path, "data")
        dirs = sorted(os.listdir(data))
        assert t.merge_insert_only(batch, keys="id") == version
        assert t.latest_version() == version
        assert sorted(os.listdir(data)) == dirs
        assert t.read().count() == 2


def _evolved_table(spark, path):
    """An unpartitioned table whose units add columns over time: an
    append adds a decimal and a struct, a later append widens the
    decimal and the struct, and an insert-only merge adds a trailing
    column."""
    t = LakeTable(spark, path)
    t.overwrite(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    t.append(
        spark.sql(
            "SELECT 3L AS id, 'c' AS v, 1L AS ver, "
            "CAST(1.25 AS DECIMAL(10,2)) AS amt, named_struct('x', 1) AS s"
        )
    )
    t.append(
        spark.sql(
            "SELECT 4L AS id, 'd' AS v, 1L AS ver, "
            "CAST(12345678.5 AS DECIMAL(12,2)) AS amt, "
            "named_struct('x', 2, 'y', 'q') AS s"
        )
    )
    t.merge_insert_only(
        spark.createDataFrame(
            [(2, "B", 2, "dup"), (5, "e", 1, "new")],
            "id long, v string, ver long, note string",
        ),
        keys="id",
    )
    return t


def _footer_inferred(spark, t):
    """A plain mergeSchema parquet read of the files the snapshot lists,
    in manifest order."""
    units = t._read_manifest(t.latest_version())
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(t.path, u.path) for u in units]
    )


def test_recorded_schemas_read_like_footer_inference(spark, tmp_table):
    t = _evolved_table(spark, tmp_table)
    units = t._read_manifest(t.latest_version())
    assert all(u.schema for u in units)
    assert len({u.schema for u in units}) > 2
    got, want = t.read(), _footer_inferred(spark, t)
    assert got.schema == want.schema
    assert set(got.columns) == {"id", "v", "ver", "amt", "s", "note"}
    assert dict(got.dtypes)["amt"] == "decimal(12,2)"
    assert dict(got.dtypes)["s"] == "struct<x:int,y:string>"
    assert sorted(got.collect()) == sorted(want.collect())


def test_recorded_schemas_fold_in_footer_inference_order(spark, tmp_table):
    """Footer inference folds files by path, not in manifest order; the
    recorded-schema fold must yield the same column order."""
    t = LakeTable(spark, tmp_table)
    units = []
    for name, col in (("b", "zz"), ("a", "aa"), ("c", "mm")):
        units += t._write_units_at(
            spark.sql(f"SELECT 1L AS id, 'x' AS {col}"),
            os.path.join(tmp_table, "data", name),
        )
    t._commit(units, op="overwrite")
    assert t.read().columns == ["id", "aa", "zz", "mm"]
    assert t.read().schema == _footer_inferred(spark, t).schema


def test_units_without_a_schema_fall_back_to_footer_inference(spark, tmp_table):
    """Manifests written before units recorded their schema still read
    the same, through footer inference."""
    import json as _json

    from real_time_e_commerce_analytics_lakehouse_spark import tables

    t = _evolved_table(spark, tmp_table)
    recorded = t.read()
    mf = os.path.join(t.path, "_log", f"{t.latest_version():08d}.json")
    with open(mf) as f:
        doc = _json.load(f)
    for u in doc["units"]:
        u.pop("schema")
    with open(mf, "w") as f:
        _json.dump(doc, f)
    tables._MANIFEST_CACHE.clear()
    assert not any(u.schema for u in t._read_manifest(t.latest_version()))
    inferred, jobs = _jobs_under_group(
        spark, "laketable_read_fallback", lambda: t.read()
    )
    assert jobs  # footer inference runs a job
    assert inferred.schema == recorded.schema == _footer_inferred(spark, t).schema
    assert sorted(inferred.collect()) == sorted(recorded.collect())


def test_merged_schema_rejects_a_type_conflict(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.tables import _merged_schema

    a = '{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}}]}'
    b = a.replace('"long"', '"string"')
    with pytest.raises(ValueError, match="incompatible"):
        _merged_schema([a, b])


def test_merge_insert_only_does_not_broadcast_target(spark, tmp_table):
    """VERDICT r1 wrong #1: the anti-join target must carry no forced
    broadcast hint — AQE decides, so a billion-key target cannot OOM."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    src = _df(spark, [(2, "b", 1), (3, "c", 1)])
    fresh = t._insert_only_fresh(src, ["id"], t._read_manifest(t.latest_version()))
    analyzed = fresh._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert sorted(r.id for r in fresh.collect()) == [3]


def test_merge_insert_only_partition_scoped(spark, tmp_table):
    """Partitioned targets anti-join only overlapping partitions; replay
    of the same batch (same rows -> same partitions) stays idempotent."""
    t = LakeTable(spark, tmp_table, partition_by=["dt"])
    b1 = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01")], "event_id long, dt string"
    )
    t.merge_insert_only(b1, keys="event_id")
    v = t.latest_version()
    t.merge_insert_only(b1, keys="event_id")  # exact replay: no-op
    assert t.latest_version() == v
    # overlapping batch: only the new row lands
    b2 = spark.createDataFrame(
        [(2, "2024-01-01"), (3, "2024-01-02")], "event_id long, dt string"
    )
    t.merge_insert_only(b2, keys="event_id")
    assert sorted(r.event_id for r in t.read().collect()) == [1, 2, 3]


def test_merge_upsert_null_key_row_not_dropped(spark, tmp_table):
    """ADVICE r1 #3: a NULL-key source row matching a NULL-key target row
    must update it (eqNullSafe), not vanish."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(
        spark.createDataFrame([(None, "old", 1), (7, "k", 1)], "id long, v string, ver long")
    )
    src = spark.createDataFrame([(None, "new", 2)], "id long, v string, ver long")
    t.merge_upsert(src, keys="id", guard_col="ver")
    rows = {r.id: (r.v, r.ver) for r in t.read().collect()}
    assert rows == {None: ("new", 2), 7: ("k", 1)}


def test_mart_build_roundtrip_equivalence(spark, tmp_path):
    """The benched silver->gold round-trip must produce the same mart as
    computing directly from the raw parquet (table layer adds no drift),
    with the merged month's correction applied."""
    from real_time_e_commerce_analytics_lakehouse_spark.pipelines.mart_bench import (
        mart_build_roundtrip,
    )

    sf_dir = "/root/testdata/sf0.001"
    stats = mart_build_roundtrip(spark, sf_dir, str(tmp_path / "mart"))
    assert stats["silver_units"] > 50  # month-partitioned
    assert stats["mart_rows"] > 0

    from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable

    gold = LakeTable(spark, str(tmp_path / "mart" / "gold" / "revenue_by_month_status"))
    got = {
        (r.l_month, r.o_orderstatus): (r.revenue, r.n_items)
        for r in gold.read().collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "l_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exp = {
        (r.l_month, r.o_orderstatus): (r.revenue, r.n_items)
        for r in li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_month", "o_orderstatus")
        .agg(
            F.expr(
                "cast(round(sum(cast(l_extendedprice * (1 - l_discount)"
                " as decimal(18,6))), 2) as double)"
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .collect()
    }
    assert got == exp


def test_read_partition_pruning(spark, tmp_table):
    """Manifest-level partition pruning: only matching units are scanned
    (the partition column is join-restored post-scan, so a .filter could
    never prune the file set)."""
    t = LakeTable(spark, tmp_table, partition_by=["dt"])
    df = spark.createDataFrame(
        [(i, f"2024-01-{(i % 5) + 1:02d}") for i in range(50)], "id long, dt string"
    )
    t.overwrite(df)

    pruned = t.read(partitions={"dt": ["2024-01-02", "2024-01-03"]})
    assert pruned.count() == 20
    assert {r.dt for r in pruned.select("dt").distinct().collect()} == {
        "2024-01-02", "2024-01-03",
    }
    # the scan's location list holds only the 2 matching units
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "dt=2024-01-01" not in plan and "dt=2024-01-04" not in plan

    # no matching partition -> empty frame with the full schema
    empty = t.read(partitions={"dt": ["1999-01-01"]})
    assert empty.count() == 0 and set(empty.columns) == {"id", "dt"}

    with pytest.raises(ValueError, match="not partition columns"):
        t.read(partitions={"nope": ["x"]})


def test_append_rebases_on_concurrent_commit(spark, tmp_table, monkeypatch):
    """Blind appends commute: losing the commit race rebases the new
    units onto the winner's manifest and retries (optimistic
    concurrency for AppendOnly transactions)."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    racer = LakeTable(spark, tmp_table)

    orig_commit = LakeTable._commit
    state = {"raced": False}

    def racing_commit(self, units, op, base_version=None):
        # the first commit attempt of the APPEND gets beaten by a racer
        if not state["raced"] and op == "append" and self is t:
            state["raced"] = True
            racer.append(_df(spark, [(2, "racer", 1)]))
        return orig_commit(self, units, op, base_version)

    monkeypatch.setattr(LakeTable, "_commit", racing_commit)
    t.append(_df(spark, [(3, "mine", 1)]))

    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    assert t.latest_version() == 3  # overwrite, racer append, rebased append


def test_read_changes_behind_vacuum_horizon_raises_clearly(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(2, "b", 1)]))
    t.append(_df(spark, [(3, "c", 1)]))
    t.vacuum(keep_last_n=1)
    with pytest.raises(FileNotFoundError, match="retention horizon"):
        t.read_changes(v1)


def test_compact_cluster_by_produces_disjoint_file_ranges(spark, tmp_table):
    """OPTIMIZE ZORDER analog: after compact(cluster_by), each output
    file covers a narrow, non-overlapping range of the cluster column —
    parquet min/max stats then let pushed filters skip whole files."""
    import pyarrow.parquet as pq

    t = LakeTable(spark, tmp_table)
    scrambled = spark.range(5000).select(
        (F.abs(F.xxhash64("id")) % 100000).alias("k"), F.col("id").alias("v")
    )
    t.overwrite(scrambled)
    t.compact(cluster_by=["k"], target_files=6)

    units = t._read_manifest(t.latest_version())
    ranges = []
    for u in units:
        d = os.path.join(tmp_table, u.path)
        for fn in os.listdir(d):
            if fn.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(d, fn)).metadata
                col = md.row_group(0).column(0)
                assert col.path_in_schema == "k"
                mins = [md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)]
                maxs = [md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)]
                ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file ranges overlap — clustering failed"
    assert t.read().count() == 5000


def test_vacuum_cleans_orphaned_write_dirs(spark, tmp_table):
    """A writer that died after writing data but before committing the
    manifest leaves an orphaned commit dir — invisible to readers, and
    vacuum reclaims it."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    # simulate the dead writer: data written, no manifest
    orphan = _df(spark, [(99, "orphan", 1)])
    t._write_units(orphan)
    assert t.read().count() == 1  # snapshot isolation: orphan invisible
    data_root = os.path.join(tmp_table, "data")
    assert len(os.listdir(data_root)) == 2
    stats = t.vacuum(keep_last_n=1)
    assert stats["removed_commit_dirs"] == 1
    assert t.read().count() == 1


def test_stats_data_skipping(spark, tmp_table):
    """Manifest-level data skipping: per-unit [min,max] recorded from
    parquet footers at write time prune units whose range cannot match."""
    t = LakeTable(spark, tmp_table, stats_cols=["v"])
    t.overwrite(spark.range(0, 10).select(F.col("id").alias("v")))
    t.append(spark.range(100, 110).select(F.col("id").alias("v")))
    t.append(spark.range(200, 210).select(F.col("id").alias("v")))

    units = t._read_manifest(t.latest_version())
    assert all(u.stats.get("v") for u in units)
    mid = next(u for u in units if u.stats["v"][0] == 100)

    snap = t.read(stats_where={"v": (100, 150)})
    assert sorted(r.v for r in snap.collect()) == list(range(100, 110))
    files = snap.inputFiles()
    mid_uuid = mid.path.split("/")[1]
    assert files and all(mid_uuid in f for f in files)  # only the matching unit

    # open ranges and empty results
    assert t.read(stats_where={"v": (None, 50)}).count() == 10
    assert t.read(stats_where={"v": (1000, None)}).count() == 0
    # units without recorded stats are conservatively kept
    t_nostats = LakeTable(spark, tmp_table)
    t_nostats.append(spark.range(300, 305).select(F.col("id").alias("v")))
    assert t_nostats.read(stats_where={"v": (None, 50)}).count() == 15


def test_stats_skipping_string_column(spark, tmp_table):
    t = LakeTable(spark, tmp_table, stats_cols=["name"])
    t.overwrite(spark.createDataFrame([("apple",), ("banana",)], "name string"))
    t.append(spark.createDataFrame([("walnut",), ("zucchini",)], "name string"))
    got = {r.name for r in t.read(stats_where={"name": ("a", "m")}).collect()}
    assert got == {"apple", "banana"}


@pytest.mark.soak  # r12: soak-style; default run deselects (pytest.ini)
def test_compact_zorder_files_bound_both_dimensions(spark, tmp_table):
    """True multi-dim Z-ordering: after compact(zorder=True) each file
    covers a small rectangle of (x, y) — per-file min/max ranges are
    narrow on BOTH columns, so a filter on either column alone skips
    files. Lexicographic cluster_by=[x, y] leaves y full-width per file
    (the control)."""
    import pyarrow.parquet as pq

    def _file_widths(table_path, t, col):
        widths = []
        for u in t._read_manifest(t.latest_version()):
            d = os.path.join(table_path, u.path)
            for fn in os.listdir(d):
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(d, fn)).metadata
                idx = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }[col]
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    mins.append(st.min)
                    maxs.append(st.max)
                widths.append(max(maxs) - min(mins))
        return widths

    # two independent uniform dimensions on a 1000 x 1000 grid
    data = spark.range(20000).select(
        (F.col("id") % 1000).alias("x"),
        ((F.col("id") * 7919) % 1000).alias("y"),
        F.col("id").alias("v"),
    )

    lex = LakeTable(spark, os.path.join(tmp_table, "lex"))
    lex.overwrite(data)
    lex.compact(cluster_by=["x", "y"], target_files=16)
    zor = LakeTable(spark, os.path.join(tmp_table, "zor"))
    zor.overwrite(data)
    zor.compact(cluster_by=["x", "y"], target_files=16, zorder=True)

    lex_y = _file_widths(os.path.join(tmp_table, "lex"), lex, "y")
    zor_x = _file_widths(os.path.join(tmp_table, "zor"), zor, "x")
    zor_y = _file_widths(os.path.join(tmp_table, "zor"), zor, "y")
    assert len(zor_y) >= 8
    # lexicographic: y is full-width in (nearly) every file
    assert sum(lex_y) / len(lex_y) > 900
    # z-order: BOTH dimensions bounded well below full width
    assert sum(zor_x) / len(zor_x) < 600
    assert sum(zor_y) / len(zor_y) < 600
    # content unchanged
    assert zor.read().count() == 20000


def test_compact_zorder_rejects_string_columns(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(spark.range(10).selectExpr("cast(id as string) AS s", "id AS v"))
    with pytest.raises(ValueError, match="z-orderable"):
        t.compact(cluster_by=["s", "v"], zorder=True)


def test_file_level_stats_skipping_within_compacted_unit(spark, tmp_table):
    """Per-file stats (Delta file-stats granularity): after a clustered
    compact the snapshot is ONE unit of many narrow-range files, and
    stats_where scans only the files whose range intersects — unit-level
    stats alone could not skip anything here."""
    t = LakeTable(spark, tmp_table, stats_cols=["k"])
    scrambled = spark.range(8000).select(
        (F.abs(F.xxhash64("id")) % 10000).alias("k"), F.col("id").alias("v")
    )
    t.overwrite(scrambled)
    t.compact(cluster_by=["k"], target_files=8)

    units = t._read_manifest(t.latest_version())
    assert len(units) == 1 and len(units[0].file_stats) >= 4

    expected = sorted(
        r.k for r in t.read().filter("k between 2000 and 2500").collect()
    )
    snap = t.read(stats_where={"k": (2000, 2500)})
    got = sorted(r.k for r in snap.filter("k between 2000 and 2500").collect())
    assert got == expected
    # the point: fewer files scanned than the unit holds
    assert 0 < len(snap.inputFiles()) < len(units[0].file_stats)


def test_file_level_skipping_on_second_zorder_dimension(spark, tmp_table):
    """Z-order + per-file stats end to end: a range filter on the SECOND
    clustered column alone skips files — impossible under lexicographic
    clustering, where y is full-width in every file."""
    data = spark.range(20000).select(
        (F.col("id") % 1000).alias("x"),
        ((F.col("id") * 7919) % 1000).alias("y"),
    )
    zor = LakeTable(spark, os.path.join(tmp_table, "zor"), stats_cols=["x", "y"])
    zor.overwrite(data)
    zor.compact(cluster_by=["x", "y"], target_files=16, zorder=True)
    lex = LakeTable(spark, os.path.join(tmp_table, "lex"), stats_cols=["x", "y"])
    lex.overwrite(data)
    lex.compact(cluster_by=["x", "y"], target_files=16)

    n_files = len(lex._read_manifest(lex.latest_version())[0].file_stats)
    z_scan = zor.read(stats_where={"y": (0, 99)})
    l_scan = lex.read(stats_where={"y": (0, 99)})
    assert z_scan.filter("y < 100").count() == data.filter("y < 100").count()
    # z-order skips most files on the second dimension; lexicographic none
    assert len(z_scan.inputFiles()) <= n_files // 2
    assert len(l_scan.inputFiles()) == n_files


def test_delete_rows_and_time_travel(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(i, f"v{i}", 1) for i in range(10)]))
    res = t.delete("id >= 7")
    assert res["version"] == v1 + 1
    assert sorted(r.id for r in t.read().collect()) == list(range(7))
    # old snapshot still has the deleted rows (GDPR erasure = + vacuum)
    assert t.read(version=v1).count() == 10


def test_delete_rewrites_only_touched_units(spark, tmp_table):
    """Copy-on-write at unit granularity: appends build disjoint units;
    a delete hitting one unit carries the others over BY REFERENCE."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(i, "a", 1) for i in range(0, 10)]))
    t.append(_df(spark, [(i, "b", 1) for i in range(10, 20)]))
    t.append(_df(spark, [(i, "c", 1) for i in range(20, 30)]))
    before = {u.path for u in t._read_manifest(t.latest_version())}
    res = t.delete("id between 12 and 14")
    after = {u.path for u in t._read_manifest(t.latest_version())}
    assert res["rewritten_units"] == 1 and res["carried_units"] == 2
    assert len(before & after) == 2  # two units carried verbatim
    assert sorted(r.id for r in t.read().collect()) == [
        i for i in range(30) if not 12 <= i <= 14
    ]


def test_delete_null_predicate_keeps_row(spark, tmp_table):
    """SQL three-valued logic: DELETE removes rows where the predicate
    is TRUE; a NULL predicate value leaves the row in place."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(
        spark.createDataFrame([(1, "x"), (2, None), (3, "y")], "id long, v string")
    )
    t.delete("v = 'x'")
    assert sorted(r.id for r in t.read().collect()) == [2, 3]


def test_delete_can_empty_a_unit(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(2, "b", 1)]))
    res = t.delete("id = 2")
    assert res["rewritten_units"] == 1
    assert [r.id for r in t.read().collect()] == [1]


def test_delete_nothing_matches_no_new_commit(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(1, "a", 1)]))
    res = t.delete("id = 99")
    assert res == {"version": v1, "rewritten_units": 0, "carried_units": 1}
    assert t.latest_version() == v1


def test_delete_on_partitioned_table(spark, tmp_table):
    t = LakeTable(spark, tmp_table, partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(i, f"d{i % 3}") for i in range(30)], "id long, p string"
        )
    )
    # predicate on the (restored) partition column + a data column
    res = t.delete("p = 'd1' and id < 20")
    assert res["rewritten_units"] >= 1 and res["carried_units"] >= 1
    got = sorted(r.id for r in t.read().collect())
    assert got == [i for i in range(30) if not (i % 3 == 1 and i < 20)]


def test_update_assignments_and_untouched_rows(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(i, f"v{i}", 1) for i in range(6)]))
    t.append(_df(spark, [(i, f"v{i}", 1) for i in range(6, 12)]))
    res = t.update("id % 2 = 0 and id < 6", {"v": "concat(v, '!')", "ver": F.lit(9)})
    assert res["rewritten_units"] == 1 and res["carried_units"] == 1
    rows = {r.id: (r.v, r.ver) for r in t.read().collect()}
    assert rows[0] == ("v0!", 9) and rows[2] == ("v2!", 9)
    assert rows[1] == ("v1", 1) and rows[7] == ("v7", 1)  # untouched
    # schema stable: ver stays long after the lit(9) int assignment
    assert dict(t.read().dtypes)["ver"] == "bigint"


def test_update_unknown_column_rejected(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    with pytest.raises(ValueError, match="not columns"):
        t.update("id = 1", {"nope": "1"})


def test_delete_stats_where_prunes_discovery_scan(spark, tmp_table):
    """stats_where pre-prunes the touched-unit discovery from the
    manifest: only candidate units are scanned, and results match."""
    t = LakeTable(spark, tmp_table, stats_cols=["id"])
    t.overwrite(_df(spark, [(i, "a", 1) for i in range(0, 10)]))
    t.append(_df(spark, [(i, "b", 1) for i in range(100, 110)]))
    res = t.delete("id between 103 and 105", stats_where={"id": (103, 105)})
    assert res["rewritten_units"] == 1 and res["carried_units"] == 1
    assert t.read().count() == 17


def test_history_records_commits_and_added_units(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(2, "b", 1)]))
    t.delete("id = 1")
    h = {r.version: r for r in t.history().collect()}
    assert [h[v].operation for v in sorted(h)] == ["overwrite", "append", "delete"]
    assert h[2].n_units == 2 and h[2].n_added_units == 1
    # delete rewrote unit 1, carried unit 2
    assert h[3].n_units == 1 and h[3].n_added_units == 0
    assert all(r.committed_at is not None for r in h.values())


def test_restore_is_a_new_commit(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(2, "b", 1)]))
    v3 = t.restore(v1)
    assert v3 == 3
    assert [r.id for r in t.read().collect()] == [1]
    # history preserved: v2 still time-travels to the 2-row state
    assert t.read(version=2).count() == 2
    with pytest.raises(FileNotFoundError, match="does not exist"):
        t.restore(99)


def test_check_constraint_rejects_write_atomically(spark, tmp_table):
    t = LakeTable(
        spark, tmp_table,
        constraints={"pos_ver": "ver > 0", "id_not_null": "id is not null"},
    )
    v1 = t.overwrite(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    with pytest.raises(ValueError, match="pos_ver"):
        t.append(_df(spark, [(3, "c", 0)]))
    with pytest.raises(ValueError, match="id_not_null"):
        t.append(_df(spark, [(None, "d", 5)]))
    # atomicity: failed writes committed nothing
    assert t.latest_version() == v1
    assert t.read().count() == 2
    # valid rows still pass; orphan dirs from failed writes get vacuumed
    t.append(_df(spark, [(4, "e", 4)]))
    assert t.read().count() == 3


def test_check_constraint_null_passes(spark, tmp_table):
    """SQL CHECK semantics: a NULL predicate value is not a violation."""
    t = LakeTable(spark, tmp_table, constraints={"v_short": "length(v) < 5"})
    t.overwrite(
        spark.createDataFrame([(1, "ok"), (2, None)], "id long, v string")
    )
    assert t.read().count() == 2


def test_partition_layout_evolution_mixed_depth_read(spark, tmp_table):
    """partition_by changed mid-history: old unpartitioned units and new
    Hive-layout units coexist in one snapshot; the reader unions the
    per-depth groups, restoring partition values for new rows and NULL
    for rows from before the layout change."""
    flat = LakeTable(spark, tmp_table)
    flat.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    parted = LakeTable(spark, tmp_table, partition_by=["p"])
    parted.append(
        spark.createDataFrame([(3, "c", "x"), (4, "d", "y")], "id long, v string, p string")
    )
    rows = {r.id: r.p for r in parted.read().collect()}
    assert rows == {1: None, 2: None, 3: "x", 4: "y"}


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    t.overwrite(_df(spark, [(2, "b", 1)]))
    would = t.vacuum(keep_last_n=1, dry_run=True)
    assert would == {"removed_manifests": 1, "removed_commit_dirs": 1}
    # nothing actually removed: time travel to v1 still works
    assert t.read(version=1).count() == 1
    did = t.vacuum(keep_last_n=1)
    assert did == would


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_table):
    src = LakeTable(spark, os.path.join(tmp_table, "src"))
    src.overwrite(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    dst = src.clone(os.path.join(tmp_table, "dst"))
    assert sorted(r.id for r in dst.read().collect()) == [1, 2]
    # zero copy: the clone's data dir holds nothing of its own yet
    assert not os.path.isdir(os.path.join(tmp_table, "dst", "data")) or not os.listdir(
        os.path.join(tmp_table, "dst", "data")
    )
    # divergence: writes to the clone do not touch the source
    dst.append(_df(spark, [(3, "c", 1)]))
    src.delete("id = 1")
    assert sorted(r.id for r in dst.read().collect()) == [1, 2, 3]
    assert sorted(r.id for r in src.read().collect()) == [2]
    with pytest.raises(FileExistsError):
        src.clone(os.path.join(tmp_table, "dst"))


def test_shallow_clone_partitioned_restores_partition_columns(spark, tmp_table):
    src = LakeTable(spark, os.path.join(tmp_table, "psrc"), partition_by=["p"])
    src.overwrite(
        spark.createDataFrame(
            [(i, f"d{i % 2}") for i in range(10)], "id long, p string"
        )
    )
    dst = src.clone(os.path.join(tmp_table, "pdst"))
    rows = {r.id: r.p for r in dst.read().collect()}
    assert rows == {i: f"d{i % 2}" for i in range(10)}
    # clone's own writes mix with referenced source units
    dst.append(spark.createDataFrame([(10, "d0")], "id long, p string"))
    assert dst.read().count() == 11 and src.read().count() == 10


def test_mor_delete_touches_no_data_units(spark, tmp_table):
    """Deletion vectors: a merge-on-read delete commits only tombstones —
    every data unit carries over byte-identical — yet every reader sees
    the rows gone."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(i, f"v{i}", 1) for i in range(10)]))
    before = {u.path for u in t._read_manifest(t.latest_version())}
    res = t.delete("id >= 7", mode="mor")
    assert res["tombstones"] == 3
    after = {u.path for u in t._read_manifest(t.latest_version())}
    assert after == before  # zero rewrite
    assert sorted(r.id for r in t.read().collect()) == list(range(7))
    # time travel: pre-delete snapshot still has all rows
    assert t.read(version=1).count() == 10


def test_mor_deletes_compound_and_compact_materializes(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(i, "a", 1) for i in range(10)]))
    t.delete("id = 0", mode="mor")
    t.delete("id = 1", mode="mor")
    assert sorted(r.id for r in t.read().collect()) == list(range(2, 10))
    # deleting an already-mor-deleted row is a no-op (no double tombstone)
    res = t.delete("id <= 1", mode="mor")
    assert res["tombstones"] == 0
    t.compact()
    assert t._read_dv(t.latest_version()) == []  # materialized
    assert sorted(r.id for r in t.read().collect()) == list(range(2, 10))
    removed = t.vacuum(keep_last_n=1)
    assert removed["removed_commit_dirs"] >= 2  # old units + dv dirs
    assert sorted(r.id for r in t.read().collect()) == list(range(2, 10))


def test_mor_tombstones_survive_append_and_guard_merges(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    t.delete("id = 2", mode="mor")
    t.append(_df(spark, [(3, "c", 1)]))
    assert sorted(r.id for r in t.read().collect()) == [1, 3]
    # insert-only merge: the tombstoned key is absent, so it may re-insert
    t.merge_insert_only(_df(spark, [(2, "b2", 2)]), keys="id")
    assert sorted((r.id, r.v) for r in t.read().collect()) == [
        (1, "a"), (2, "b2"), (3, "c"),
    ]


def test_mor_then_cow_delete_does_not_resurrect(spark, tmp_table):
    """A cow rewrite of a unit with active tombstones must not bring
    the mor-deleted rows back."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(i, "a", 1) for i in range(6)]))
    t.delete("id = 0", mode="mor")
    t.delete("id = 5")  # cow: rewrites the (only) unit
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3, 4]


def test_mor_delete_blocks_read_stream(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    t.delete("id = 1", mode="mor")
    with pytest.raises(ValueError, match="deletion vectors"):
        t.read_stream()


def test_clone_carries_deletion_vectors(spark, tmp_table):
    src = LakeTable(spark, os.path.join(tmp_table, "src"))
    src.overwrite(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    src.delete("id = 2", mode="mor")
    dst = src.clone(os.path.join(tmp_table, "dst"))
    assert [r.id for r in dst.read().collect()] == [1]


# ----------------------------------------------------------- change data feed


def _cdf_rows(df):
    """(change_type, id, v, ver) tuples, sorted, for assertion."""
    return sorted(
        (r._change_type, r._commit_version, r.id, r.v, r.ver)
        for r in df.collect()
    )


def test_cdf_append_commits_are_inserts(spark, tmp_table):
    """CDF over append-style commits needs no keys and tags every new
    row `insert` with its commit version."""
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(1, "a", 1)]))
    v2 = t.append(_df(spark, [(2, "b", 1)]))
    v3 = t.append(_df(spark, [(3, "c", 1)]))
    changes = t.read_cdf(since_version=v1)
    assert _cdf_rows(changes) == [
        ("insert", v2, 2, "b", 1),
        ("insert", v3, 3, "c", 1),
    ]
    assert t.read_cdf(since_version=v3) is None


def test_cdf_upsert_emits_pre_post_and_insert(spark, tmp_table):
    """An upsert that updates one row, inserts one, and carries the rest
    produces exactly update_preimage+update_postimage+insert — carried
    rows (rewritten but identical) are NOT emitted."""
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(1, "old", 1), (2, "keep", 1)]))
    t.merge_upsert(_df(spark, [(1, "new", 2), (3, "ins", 1)]), keys="id")
    v2 = t.latest_version()
    changes = t.read_cdf(since_version=v1, keys="id")
    assert _cdf_rows(changes) == [
        ("insert", v2, 3, "ins", 1),
        ("update_postimage", v2, 1, "new", 2),
        ("update_preimage", v2, 1, "old", 1),
    ]


def test_cdf_cow_delete_emits_deletes(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(i, f"v{i}", 1) for i in range(5)]))
    t.delete("id >= 3")
    v2 = t.latest_version()
    changes = t.read_cdf(since_version=v1, keys="id")
    assert _cdf_rows(changes) == [
        ("delete", v2, 3, "v3", 1),
        ("delete", v2, 4, "v4", 1),
    ]


def test_cdf_mor_delete_emits_deletes_without_keys(spark, tmp_table):
    """Merge-on-read deletes surface as `delete` rows from the tombstone
    delta alone — no unit rewrite, no keys needed."""
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(i, f"v{i}", 1) for i in range(5)]))
    t.delete("id IN (1, 3)", mode="mor")
    v2 = t.latest_version()
    changes = t.read_cdf(since_version=v1)
    assert _cdf_rows(changes) == [
        ("delete", v2, 1, "v1", 1),
        ("delete", v2, 3, "v3", 1),
    ]


def test_cdf_rewrite_requires_keys(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(1, "a", 1)]))
    t.merge_upsert(_df(spark, [(1, "b", 2)]), keys="id")
    with pytest.raises(ValueError, match="pass keys="):
        t.read_cdf(since_version=v1)


def test_cdf_multi_commit_range_and_compaction_neutrality(spark, tmp_table):
    """A range spanning append + upsert + compact: compact is
    data-neutral and must contribute zero CDF rows."""
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(1, "a", 1)]))
    v2 = t.append(_df(spark, [(2, "b", 1)]))
    t.merge_upsert(_df(spark, [(2, "b2", 2)]), keys="id")
    v3 = t.latest_version()
    t.compact()
    v4 = t.latest_version()
    changes = t.read_cdf(since_version=v1, keys="id")
    assert v4 > v3
    assert _cdf_rows(changes) == [
        ("insert", v2, 2, "b", 1),
        ("update_postimage", v3, 2, "b2", 2),
        ("update_preimage", v3, 2, "b", 1),
    ]


def test_cdf_vacuumed_range_raises(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    for i in range(2, 7):
        t.append(_df(spark, [(i, "x", 1)]))
    t.vacuum(keep_last_n=2)
    with pytest.raises(FileNotFoundError, match="retention horizon"):
        t.read_cdf(since_version=1, keys="id")


# ----------------------------------------------------------- column mapping


def test_rename_column_is_metadata_only(spark, tmp_table):
    """RENAME COLUMN touches zero data files; reads remap at the scan."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    units_before = {u.path for u in t._read_manifest(t.latest_version())}
    t.rename_column("v", "value")
    units_after = {u.path for u in t._read_manifest(t.latest_version())}
    assert units_after == units_before  # no rewrite
    got = t.read()
    assert set(got.columns) == {"id", "value", "ver"}
    assert sorted((r.id, r.value) for r in got.collect()) == [(1, "a"), (2, "b")]


def test_rename_then_write_stays_one_scan(spark, tmp_table):
    """Writes after a rename store the PHYSICAL name, so pre- and
    post-rename units merge into one consistent scan; merges see
    logical names throughout."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    t.rename_column("v", "value")
    t.append(
        spark.createDataFrame([(2, "b", 1)], "id long, value string, ver long")
    )
    t.merge_upsert(
        spark.createDataFrame([(1, "a2", 2)], "id long, value string, ver long"),
        keys="id",
    )
    got = {r.id: r.value for r in t.read().collect()}
    assert got == {1: "a2", 2: "b"}
    # physical files carry the original name
    import pyarrow.parquet as pq
    import glob

    files = glob.glob(f"{tmp_table}/data/*/*.parquet")
    phys = {n for f in files for n in pq.read_schema(f).names}
    assert "v" in phys and "value" not in phys


def test_rename_time_travel_sees_old_name(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(1, "a", 1)]))
    t.rename_column("v", "value")
    assert "v" in t.read(version=v1).columns
    assert "value" in t.read().columns


def test_drop_column_projects_away_and_blocks_readd(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    t.drop_column("v")
    assert set(t.read().columns) == {"id", "ver"}
    with pytest.raises(ValueError, match="retired physical name"):
        t.append(_df(spark, [(2, "x", 1)]))  # still has column v
    # appends without the dropped column are fine
    t.append(spark.createDataFrame([(2, 1)], "id long, ver long"))
    assert t.read().count() == 2


def test_rename_guards(spark, tmp_table):
    t = LakeTable(spark, tmp_table, partition_by=["v"])
    t.overwrite(_df(spark, [(1, "a", 1)]))
    with pytest.raises(ValueError, match="load-bearing"):
        t.rename_column("v", "vv")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="collides"):
        t.rename_column("id", "ver")


def test_rename_roundtrip_back_to_original_name(spark, tmp_table):
    """a->b then b->a restores identity mapping against the same files."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    t.rename_column("v", "value")
    t.rename_column("value", "v")
    assert set(t.read().columns) == {"id", "v", "ver"}
    assert t.read().collect()[0].v == "a"


def test_clone_carries_column_mapping(spark, tmp_table, tmp_path):
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    t.rename_column("v", "value")
    c = t.clone(str(tmp_path / "clone"))
    assert set(c.read().columns) == {"id", "value", "ver"}


def test_timestamp_as_of_time_travel(spark, tmp_table):
    """TIMESTAMP AS OF resolves to the latest commit at-or-before the
    given instant; earlier-than-creation raises."""
    import json

    t = LakeTable(spark, tmp_table)
    v1 = t.overwrite(_df(spark, [(1, "a", 1)]))
    v2 = t.append(_df(spark, [(2, "b", 1)]))
    # pin distinct commit timestamps (manifest files are the clock)
    for v, ts in [(v1, "2024-01-01T00:00:00+00:00"), (v2, "2024-02-01T00:00:00+00:00")]:
        mf = t._manifest_file(v)
        doc = json.load(open(mf))
        doc["committed_at"] = ts
        json.dump(doc, open(mf, "w"))
    from real_time_e_commerce_analytics_lakehouse_spark import tables as _tbl

    _tbl._MANIFEST_CACHE.clear()
    assert t.version_at_timestamp("2024-01-15T00:00:00+00:00") == v1
    assert t.read(timestamp="2024-01-15T00:00:00+00:00").count() == 1
    assert t.read(timestamp="2024-03-01T00:00:00+00:00").count() == 2
    with pytest.raises(FileNotFoundError, match="predates"):
        t.read(timestamp="2023-01-01T00:00:00+00:00")
    with pytest.raises(ValueError, match="not both"):
        t.read(version=v1, timestamp="2024-03-01T00:00:00+00:00")


# ------------------------------------------- generated / identity columns


def test_generated_column_computed_when_absent(spark, tmp_table):
    """GENERATED ALWAYS AS: the column is derived at write time and can
    drive the partition layout."""
    t = LakeTable(
        spark,
        tmp_table,
        partition_by=["flag"],
        generated={"flag": "CASE WHEN ver >= 10 THEN 'hot' ELSE 'cold' END"},
    )
    t.overwrite(_df(spark, [(1, "a", 10), (2, "b", 1)]))
    got = {r.id: r.flag for r in t.read().collect()}
    assert got == {1: "hot", 2: "cold"}
    # partition pruning works on the generated column
    assert [r.id for r in t.read(partitions={"flag": ["hot"]}).collect()] == [1]


def test_generated_column_validated_when_supplied(spark, tmp_table):
    t = LakeTable(spark, tmp_table, generated={"double_ver": "ver * 2"})
    ok = spark.createDataFrame(
        [(1, "a", 2, 4)], "id long, v string, ver long, double_ver long"
    )
    t.overwrite(ok)  # matching value passes
    bad = spark.createDataFrame(
        [(2, "b", 3, 7)], "id long, v string, ver long, double_ver long"
    )
    with pytest.raises(Exception, match="generated column"):
        t.append(bad)
    assert t.read().count() == 1  # failed write committed nothing


def test_identity_column_assigns_unique_monotonic_ids(spark, tmp_table):
    t = LakeTable(spark, tmp_table, identity="row_id")
    t.overwrite(_df(spark, [(i, "a", 1) for i in range(5)]).repartition(3))
    ids1 = sorted(r.row_id for r in t.read().collect())
    assert ids1 == [1, 2, 3, 4, 5]
    t.append(_df(spark, [(9, "b", 1), (10, "b", 1)]))
    ids2 = sorted(r.row_id for r in t.read().collect())
    assert len(set(ids2)) == 7  # all unique
    assert min(i for i in ids2 if i not in ids1) == 6  # continues past high water
    # overwrite never recycles ids (Delta identity semantics)
    t.overwrite(_df(spark, [(99, "c", 1)]))
    assert [r.row_id for r in t.read().collect()] == [8]


def test_identity_column_respects_supplied_values(spark, tmp_table):
    """A batch that already carries the identity column passes through
    (GENERATED BY DEFAULT flavor for backfills/migrations)."""
    t = LakeTable(spark, tmp_table, identity="row_id")
    df = spark.createDataFrame(
        [(1, "a", 1, 100)], "id long, v string, ver long, row_id long"
    )
    t.overwrite(df)
    assert t.read().collect()[0].row_id == 100


def test_merge_delete_unmatched_full_sync(spark, tmp_table):
    """Three-clause MERGE: update matched, insert new, DELETE target
    rows absent from the source."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]))
    t.merge_upsert(
        _df(spark, [(2, "b2", 2), (4, "d", 1)]), keys="id", delete_unmatched=True
    )
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {2: "b2", 4: "d"}


def test_merge_delete_unmatched_is_partition_scoped(spark, tmp_table):
    """On a partitioned table the not-matched-by-source delete applies
    only within partitions the source touches."""
    df = spark.createDataFrame(
        [(1, "a", 1, "p1"), (2, "b", 1, "p1"), (3, "c", 1, "p2")],
        "id long, v string, ver long, part string",
    )
    t = LakeTable(spark, tmp_table, partition_by=["part"])
    t.overwrite(df)
    src = spark.createDataFrame(
        [(2, "b2", 2, "p1")], "id long, v string, ver long, part string"
    )
    t.merge_upsert(src, keys="id", delete_unmatched=True)
    got = {r.id: (r.v, r.part) for r in t.read().collect()}
    # id=1 (p1, unmatched) deleted; id=3 (p2, untouched partition) kept
    assert got == {2: ("b2", "p1"), 3: ("c", "p2")}


def test_append_once_is_replay_idempotent(spark, tmp_table):
    """Delta txnAppId/txnVersion parity: replaying a batch id is a
    metadata no-op; new ids append; independent apps do not interfere."""
    t = LakeTable(spark, tmp_table)
    assert t.append_once(_df(spark, [(1, "a", 1)]), "job1", 0) is not None
    assert t.append_once(_df(spark, [(1, "a", 1)]), "job1", 0) is None  # replay
    assert t.read().count() == 1
    assert t.append_once(_df(spark, [(2, "b", 1)]), "job1", 1) is not None
    # a stale version after a newer one is also a replay
    assert t.append_once(_df(spark, [(9, "x", 1)]), "job1", 0) is None
    # a different app has its own watermark
    assert t.append_once(_df(spark, [(3, "c", 1)]), "job2", 0) is not None
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    # watermarks survive unrelated commits
    t.append(_df(spark, [(4, "d", 1)]))
    assert t.append_once(_df(spark, [(5, "e", 1)]), "job1", 1) is None


def test_apply_changes_cdc_mirror_roundtrip(spark, tmp_table, tmp_path):
    """Full CDC loop: a replica fed only by read_cdf increments tracks
    the source exactly through inserts, updates, and deletes."""
    src = LakeTable(spark, tmp_table)
    replica = LakeTable(spark, str(tmp_path / "replica"))

    v0 = src.overwrite(_df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]))
    replica.apply_changes(src.read_cdf(None, keys="id"), keys="id")
    assert sorted((r.id, r.v) for r in replica.read().collect()) == sorted(
        (r.id, r.v) for r in src.read().collect()
    )

    # mixed increment: update 2, insert 4, delete 1 — across commits
    src.merge_upsert(_df(spark, [(2, "b2", 2), (4, "d", 1)]), keys="id")
    src.delete("id = 1")
    v1 = src.latest_version()
    replica.apply_changes(src.read_cdf(v0, keys="id"), keys="id")
    assert sorted((r.id, r.v) for r in replica.read().collect()) == sorted(
        (r.id, r.v) for r in src.read().collect()
    )
    # a key updated then deleted within one feed ends deleted
    src.merge_upsert(_df(spark, [(4, "d2", 2)]), keys="id")
    src.delete("id = 4")
    replica.apply_changes(src.read_cdf(v1, keys="id"), keys="id")
    assert sorted((r.id, r.v) for r in replica.read().collect()) == sorted(
        (r.id, r.v) for r in src.read().collect()
    )
    assert 4 not in {r.id for r in replica.read().collect()}


def test_apply_changes_partition_scoped(spark, tmp_table, tmp_path):
    """CDC apply rewrites only the partitions the feed touches."""
    df = spark.createDataFrame(
        [(1, "a", 1, "p1"), (2, "b", 1, "p2")],
        "id long, v string, ver long, part string",
    )
    src = LakeTable(spark, tmp_table, partition_by=["part"])
    v0 = src.overwrite(df)
    rep = LakeTable(spark, str(tmp_path / "rep"), partition_by=["part"])
    rep.apply_changes(src.read_cdf(None, keys="id"), keys="id")
    rep_units_before = {
        u.path for u in rep._read_manifest(rep.latest_version())
    }
    src.merge_upsert(
        spark.createDataFrame(
            [(1, "a2", 2, "p1")], "id long, v string, ver long, part string"
        ),
        keys="id",
    )
    rep.apply_changes(src.read_cdf(v0, keys="id"), keys="id")
    rep_units_after = {
        u.path for u in rep._read_manifest(rep.latest_version())
    }
    # p2's unit carried over untouched
    p2_units = {p for p in rep_units_before if "part=p2" in p}
    assert p2_units and p2_units <= rep_units_after
    got = {r.id: r.v for r in rep.read().collect()}
    assert got == {1: "a2", 2: "b"}


def test_vacuum_retain_hours_keeps_recent_commits(spark, tmp_table):
    """Duration-based retention: commits inside the horizon survive even
    beyond keep_last_n; an all-old history still keeps the latest."""
    import json as _json

    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    for i in range(2, 6):
        t.append(_df(spark, [(i, "x", 1)]))
    # age versions 1-2 far into the past; 3-5 stay "now"
    from real_time_e_commerce_analytics_lakehouse_spark import tables as _tbl

    for v in (1, 2):
        mf = t._manifest_file(v)
        doc = _json.load(open(mf))
        doc["committed_at"] = "2000-01-01T00:00:00+00:00"
        _json.dump(doc, open(mf, "w"))
    _tbl._MANIFEST_CACHE.clear()
    t.vacuum(keep_last_n=1, retain_hours=48)
    assert t._versions() == [3, 4, 5]  # recent ones kept despite n=1
    assert t.read(version=3).count() == 3
    # duration horizon excluding everything still keeps the latest
    for v in (3, 4, 5):
        mf = t._manifest_file(v)
        doc = _json.load(open(mf))
        doc["committed_at"] = "2000-01-01T00:00:00+00:00"
        _json.dump(doc, open(mf, "w"))
    _tbl._MANIFEST_CACHE.clear()
    t.vacuum(keep_last_n=1, retain_hours=48)
    assert t._versions() == [5]
    assert t.read().count() == 5


# ----------------------------------------------------- replaceWhere parity


def test_overwrite_where_replaces_only_matching_rows(spark, tmp_table):
    """Delta replaceWhere: one commit deletes the predicate's rows and
    inserts the new data; everything else is untouched."""
    t = LakeTable(spark, tmp_table, partition_by=["v"])
    t.overwrite(_df(spark, [(1, "a", 1), (2, "a", 1), (3, "b", 1), (4, "c", 1)]))
    v1 = t.latest_version()
    t.overwrite(_df(spark, [(10, "a", 2), (11, "a", 2)]), where="v = 'a'")
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {10: "a", 11: "a", 3: "b", 4: "c"}
    # exactly one commit; time travel sees the pre-replace snapshot
    assert t.latest_version() == v1 + 1
    assert sorted(r.id for r in t.read(version=v1).collect()) == [1, 2, 3, 4]


def test_overwrite_where_carries_untouched_units_by_reference(spark, tmp_table):
    """The replace must be partition-scoped in cost: units outside the
    predicate appear in the new manifest with their ORIGINAL paths."""
    t = LakeTable(spark, tmp_table, partition_by=["v"])
    t.overwrite(_df(spark, [(1, "a", 1), (3, "b", 1), (4, "c", 1)]))
    before = {
        u.path: u.partition for u in t._read_manifest(t.latest_version())
    }
    untouched = {p for p, part in before.items() if part.get("v") != "a"}
    t.overwrite(_df(spark, [(10, "a", 2)]), where="v = 'a'")
    after = {u.path for u in t._read_manifest(t.latest_version())}
    assert untouched <= after  # b and c units carried, not rewritten
    assert not any(p in after for p, part in before.items()
                   if part.get("v") == "a")  # a's old unit replaced


def test_overwrite_where_rejects_rows_outside_predicate(spark, tmp_table):
    """Delta contract: every written row must satisfy replaceWhere."""
    from py4j.protocol import Py4JJavaError

    t = LakeTable(spark, tmp_table, partition_by=["v"])
    t.overwrite(_df(spark, [(1, "a", 1), (3, "b", 1)]))
    v = t.latest_version()
    with pytest.raises(Exception) as ei:
        t.overwrite(
            _df(spark, [(10, "a", 2), (11, "b", 2)]), where="v = 'a'"
        )
    assert "replaceWhere" in str(ei.value)
    assert t.latest_version() == v  # aborted before any commit


# ----------------------------------------------- OPTIMIZE ... WHERE parity


def test_compact_partition_scoped_rewrites_only_selected(spark, tmp_table):
    t = LakeTable(spark, tmp_table, partition_by=["v"])
    t.overwrite(_df(spark, [(1, "a", 1), (3, "b", 1)]))
    t.append(_df(spark, [(2, "a", 2), (4, "b", 2)]))
    units_before = {u.path for u in t._read_manifest(t.latest_version())}
    b_units = {
        u.path
        for u in t._read_manifest(t.latest_version())
        if u.partition.get("v") == "b"
    }
    t.compact(partitions={"v": ["a"]})
    after = t._read_manifest(t.latest_version())
    after_paths = {u.path for u in after}
    assert b_units <= after_paths  # b untouched (carried by reference)
    a_units = [u for u in after if u.partition.get("v") == "a"]
    assert len(a_units) == 1  # a's two units compacted into one
    assert all(u.path not in units_before for u in a_units)
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: "a", 2: "a", 3: "b", 4: "b"}


def test_compact_partition_scoped_no_match_is_noop(spark, tmp_table):
    t = LakeTable(spark, tmp_table, partition_by=["v"])
    t.overwrite(_df(spark, [(1, "a", 1)]))
    v = t.latest_version()
    assert t.compact(partitions={"v": ["zzz"]}) == v
    assert t.latest_version() == v


# ----------------------------------------------------- CONVERT TO DELTA parity


def test_convert_parquet_unpartitioned_in_place(spark, tmp_path):
    """Adopting a plain parquet dir rewrites NOTHING; afterwards the
    full op surface (append, delete, time travel) works on it."""
    src = str(tmp_path / "plain")
    _df(spark, [(1, "a", 1), (2, "b", 1)]).write.parquet(src)
    files_before = {
        f for f in os.listdir(src) if not f.startswith(("_log", "."))
    }
    t = LakeTable.convert_parquet(spark, src)
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    assert files_before <= set(os.listdir(src))  # nothing rewritten
    v1 = t.latest_version()
    t.append(_df(spark, [(3, "c", 1)]))
    t.delete("id = 1")
    assert sorted(r.id for r in t.read().collect()) == [2, 3]
    assert sorted(r.id for r in t.read(version=v1).collect()) == [1, 2]
    # double conversion must fail, as in Delta
    with pytest.raises(FileExistsError):
        LakeTable.convert_parquet(spark, src)


def test_convert_parquet_partitioned_reads_dir_values(spark, tmp_path):
    src = str(tmp_path / "hive")
    df = spark.createDataFrame(
        [(1, 10, "x"), (2, 10, "y"), (3, 20, "x")], "id long, bucket int, v string"
    )
    df.write.partitionBy("bucket").parquet(src)
    t = LakeTable.convert_parquet(
        spark, src, partition_by=["bucket"],
        partition_types={"bucket": "int"},
    )
    got = {(r.id, r.bucket) for r in t.read().collect()}
    assert got == {(1, 10), (2, 10), (3, 20)}
    assert dict(t.read().dtypes)["bucket"] == "int"
    # manifest-level partition pruning works on converted units
    assert {r.id for r in t.read(partitions={"bucket": [20]}).collect()} == {3}
    # appends write native units; the mixed-layout snapshot still reads
    t.append(spark.createDataFrame([(4, 20, "z")], "id long, bucket int, v string"))
    assert {r.id for r in t.read(partitions={"bucket": [20]}).collect()} == {3, 4}


def test_convert_parquet_rejects_missing_or_empty(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        LakeTable.convert_parquet(spark, str(tmp_path / "nope"))
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        LakeTable.convert_parquet(spark, str(empty))


# ------------------------------------------------- liquid clustering analog


def _file_ranges(t, col):
    """Per-file [min, max] of `col` across the current snapshot."""
    out = []
    for u in t._read_manifest(t.latest_version()):
        for fname, stats in u.file_stats.items():
            if col in stats:
                out.append(tuple(stats[col]))
    return out


def test_cluster_by_clusters_every_write(spark, tmp_table):
    """A declared CLUSTER BY spec range-clusters each incoming batch:
    with multiple files per write, per-file ranges of the clustered
    column must be (near-)disjoint, unlike the unclustered twin."""
    import random

    rnd = random.Random(7)
    rows = [(i, rnd.randrange(10**6)) for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, k long").repartition(8)

    # pinned file count: this fixture is far below AQE's 64MB advisory
    # target (at real scale cluster_target_files=None lets AQE size them)
    t = LakeTable(spark, tmp_table, cluster_by=["k"], cluster_target_files=6)
    t.overwrite(df)
    ranges = _file_ranges(t, "k")
    assert len(ranges) >= 4  # several files, so disjointness means something
    ranges.sort()
    overlaps = sum(
        1 for (a, b) in zip(ranges, ranges[1:]) if b[0] <= a[1]
    )
    assert overlaps == 0, f"clustered write produced overlapping files: {ranges}"
    # cluster columns auto-register for stats skipping
    assert "k" in t.stats_cols


def test_compact_defaults_to_declared_clustering(spark, tmp_table):
    t = LakeTable(spark, tmp_table, cluster_by=["k"])
    for lo in (0, 1000, 2000):
        t.append(
            spark.createDataFrame(
                [(i, i) for i in range(lo, lo + 1000)], "id long, k long"
            )
        )
    t.compact(target_files=4)  # no cluster_by passed: uses declared spec
    ranges = sorted(_file_ranges(t, "k"))
    assert len(ranges) >= 2
    assert all(b[0] > a[1] for a, b in zip(ranges, ranges[1:]))
    assert t.read().count() == 3000


@pytest.mark.soak  # r12: soak-style; default run deselects (pytest.ini)
def test_read_stream_rate_limit_bounds_each_microbatch(spark, tmp_table, tmp_path):
    """maxFilesPerTrigger parity: a backlog drains in several bounded
    micro-batches instead of one giant catch-up batch."""
    from real_time_e_commerce_analytics_lakehouse_spark.streaming.pipeline import (
        run_available_now,
    )

    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]).coalesce(1))
    for i in range(2, 5):
        t.append(_df(spark, [(i, "x", 1)]).coalesce(1))

    batches: list[list[int]] = []
    run_available_now(
        t.read_stream(max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        lambda b, e: batches.append(sorted(r.id for r in b.collect())),
    )
    assert sorted(x for b in batches for x in b) == [1, 2, 3, 4]
    assert len(batches) >= 4  # one file per trigger -> >= 4 micro-batches
    assert all(len(b) <= 1 for b in batches)


# -------------------------------------------- WHEN MATCHED THEN DELETE


def test_merge_matched_delete_condition(spark, tmp_table):
    """Delta's matched-delete clause: tombstone-marked source rows drop
    their target rows; other matches update; new keys insert; the
    deleted key is NOT resurrected by the insert branch."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]))
    src = spark.createDataFrame(
        [(1, "x", 2, "U"), (2, None, 2, "D"), (4, "new", 1, "U")],
        "id long, v string, ver long, _op string",
    )
    t.merge_upsert(src, keys="id", delete_condition="s._op = 'D'")
    got = {r.id: r.v for r in t.read().drop("_op").collect()}
    assert got == {1: "x", 3: "c", 4: "new"}


def test_merge_matched_delete_null_condition_keeps_row(spark, tmp_table):
    """SQL 3VL: a NULL delete predicate does not delete."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1)]))
    src = spark.createDataFrame(
        [(1, "upd", 2, None)], "id long, v string, ver long, _op string"
    )
    t.merge_upsert(src, keys="id", delete_condition="s._op = 'D'")
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: "upd"}


def test_merge_matched_delete_wins_over_guard_update(spark, tmp_table):
    """Clause order: delete is evaluated before the guarded update, so
    a tombstone deletes even when the guard would also allow an update."""
    t = LakeTable(spark, tmp_table)
    t.overwrite(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    src = spark.createDataFrame(
        [(1, "newer", 5, "D"), (2, "newer", 5, "U")],
        "id long, v string, ver long, _op string",
    )
    t.merge_upsert(src, keys="id", guard_col="ver",
                   delete_condition="s._op = 'D'")
    got = {r.id: (r.v, r.ver) for r in t.read().collect()}
    assert got == {2: ("newer", 5)}


def test_describe_detail(spark, tmp_table):
    t = LakeTable(spark, tmp_table, partition_by=["v"])
    t.overwrite(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    t.append(_df(spark, [(3, "a", 1)]))
    d = t.detail().collect()[0]
    assert d.version == t.latest_version()
    assert d.numRows == 3 and d.numFiles >= 2 and d.sizeInBytes > 0
    assert d.partitionColumns == ["v"] and d.numDataUnits >= 2
    assert d.numDeletionVectorDirs == 0
    t.delete("id = 1", mode="mor")
    assert t.detail().collect()[0].numDeletionVectorDirs == 1


# ---------------------------------------------------------------- SCD Type 2


def _scd_df(spark, rows):
    return spark.createDataFrame(rows, "id long, state string, seen long")


def _scd_rows(t):
    return sorted(
        (
            (r["id"], r["state"], r["__start_at"], r["__end_at"], r["__is_current"])
            for r in t.read().collect()
        ),
    )


def test_scd2_first_write_builds_history(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.merge_scd2(
        _scd_df(spark, [(1, "a", 10), (1, "b", 20), (2, "x", 15)]),
        keys="id",
        effective_col="seen",
    )
    assert _scd_rows(t) == [
        (1, "a", 10, 20, False),
        (1, "b", 20, None, True),
        (2, "x", 15, None, True),
    ]


def test_scd2_change_closes_current_row(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.merge_scd2(_scd_df(spark, [(1, "a", 10)]), "id", "seen")
    t.merge_scd2(_scd_df(spark, [(1, "b", 30)]), "id", "seen")
    assert _scd_rows(t) == [
        (1, "a", 10, 30, False),
        (1, "b", 30, None, True),
    ]


def test_scd2_identical_state_is_noop_compression(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.merge_scd2(_scd_df(spark, [(1, "a", 10)]), "id", "seen")
    t.merge_scd2(_scd_df(spark, [(1, "a", 30)]), "id", "seen")
    # same state observed again: no new interval
    assert _scd_rows(t) == [(1, "a", 10, None, True)]


def test_scd2_batch_chains_multiple_changes(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.merge_scd2(_scd_df(spark, [(1, "a", 10)]), "id", "seen")
    t.merge_scd2(
        _scd_df(spark, [(1, "a", 15), (1, "b", 20), (1, "b", 25), (1, "c", 30)]),
        "id",
        "seen",
    )
    assert _scd_rows(t) == [
        (1, "a", 10, 20, False),  # the seen=15 'a' compressed away
        (1, "b", 20, 30, False),  # the seen=25 'b' compressed away
        (1, "c", 30, None, True),
    ]


def test_scd2_stale_observation_dropped(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.merge_scd2(_scd_df(spark, [(1, "b", 20)]), "id", "seen")
    t.merge_scd2(_scd_df(spark, [(1, "old", 5)]), "id", "seen")
    assert _scd_rows(t) == [(1, "b", 20, None, True)]


def test_scd2_untouched_keys_carry_through(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.merge_scd2(
        _scd_df(spark, [(1, "a", 10), (2, "x", 10)]), "id", "seen"
    )
    t.merge_scd2(_scd_df(spark, [(1, "b", 20)]), "id", "seen")
    assert _scd_rows(t) == [
        (1, "a", 10, 20, False),
        (1, "b", 20, None, True),
        (2, "x", 10, None, True),
    ]


def test_scd2_track_cols_ignores_untracked_churn(spark, tmp_table):
    df1 = spark.createDataFrame(
        [(1, "a", "note0", 10)], "id long, state string, note string, seen long"
    )
    df2 = spark.createDataFrame(
        [(1, "a", "note1", 20)], "id long, state string, note string, seen long"
    )
    t = LakeTable(spark, tmp_table)
    t.merge_scd2(df1, "id", "seen", track_cols=["state"])
    t.merge_scd2(df2, "id", "seen", track_cols=["state"])
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["__is_current"]  # untracked change: no split


def test_scd2_duplicate_key_effective_rejected(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    with pytest.raises(ValueError, match="duplicate"):
        t.merge_scd2(
            _scd_df(spark, [(1, "a", 10), (1, "b", 10)]), "id", "seen"
        )
    assert not t.exists()  # aborted before any commit


def test_scd2_time_travel_sees_prior_history(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    v1 = t.merge_scd2(_scd_df(spark, [(1, "a", 10)]), "id", "seen")
    t.merge_scd2(_scd_df(spark, [(1, "b", 20)]), "id", "seen")
    old = t.read(version=v1).collect()
    assert [(r["state"], r["__is_current"]) for r in old] == [("a", True)]


# ----------------------------------------------------------------- catalog


def test_catalog_sql_over_laketables(spark, tmp_path):
    from real_time_e_commerce_analytics_lakehouse_spark.catalog import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path))
    orders_t = LakeTable(spark, str(tmp_path / "orders_cat"))
    orders_t.overwrite(
        spark.createDataFrame(
            [(1, 10, 100.0), (2, 10, 50.0), (3, 20, 75.0)],
            "o_id long, cust long, amount double",
        )
    )
    cust_t = LakeTable(spark, str(tmp_path / "cust_cat"))
    cust_t.overwrite(
        spark.createDataFrame([(10, "alice"), (20, "bo")], "cust long, name string")
    )
    cat.register("orders_cat")
    cat.register("cust_cat")
    rows = cat.sql("""
        SELECT c.name, CAST(sum(o.amount) AS DOUBLE) AS total
        FROM orders_cat o JOIN cust_cat c USING (cust)
        GROUP BY c.name ORDER BY c.name
    """).collect()
    assert [(r.name, r.total) for r in rows] == [("alice", 150.0), ("bo", 75.0)]


def test_catalog_sql_sees_new_commits_and_pinned_reads(spark, tmp_path):
    from real_time_e_commerce_analytics_lakehouse_spark.catalog import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path))
    t = LakeTable(spark, str(tmp_path / "tt"))
    t.overwrite(spark.createDataFrame([(1,)], "id long"))
    cat.register("tt")
    pinned = cat.sql("SELECT count(*) AS n FROM tt", refresh=False)
    t.append(spark.createDataFrame([(2,)], "id long"))
    # default: re-resolved to latest snapshot
    assert cat.sql("SELECT count(*) AS n FROM tt").collect()[0].n == 2
    # refresh=False after an explicit register kept the old binding for
    # the ALREADY-BUILT frame (snapshot pinning semantics)
    assert pinned.collect()[0].n == 1


# ------------------------------------------------------------- bloom index


def test_bloom_index_prunes_units_and_keeps_all_hits(spark, tmp_table):
    t = LakeTable(spark, tmp_table, bloom_cols=["k"], bloom_bits=4096)
    # 4 units of disjoint high-cardinality keys (ranges overlap in
    # min/max terms would still be useless for random ids; here they are
    # disjoint so the test can assert exact pruning counts)
    for base in (0, 1000, 2000, 3000):
        t.append(
            spark.createDataFrame(
                [(base + i, f"v{base + i}") for i in range(50)],
                "k long, v string",
            )
        )
    units = t._read_manifest(t.latest_version())
    assert all(u.bloom for u in units)
    # a key present in exactly one unit: bloom must keep that unit and
    # (with high probability at 4096 bits / 50 keys) drop most others
    pruned, _subs = t._bloom_prune(units, {"k": 2025})
    kept_paths = {u.path for u in pruned}
    assert len(pruned) < len(units)
    rows = t.read(bloom_eq={"k": 2025}).filter(F.col("k") == 2025).collect()
    assert [(r.k, r.v) for r in rows] == [(2025, "v2025")]
    # no-false-negative property: every present key must survive pruning
    for probe in (0, 1049, 2049, 3000):
        got = t.read(bloom_eq={"k": probe}).filter(F.col("k") == probe).count()
        assert got == 1, f"bloom dropped present key {probe}"
    assert kept_paths  # sanity


def test_bloom_index_absent_key_reads_nothing(spark, tmp_table):
    t = LakeTable(spark, tmp_table, bloom_cols=["k"], bloom_bits=4096)
    t.append(spark.createDataFrame([(i, i) for i in range(100)], "k long, x long"))
    t.append(
        spark.createDataFrame([(1000 + i, i) for i in range(100)], "k long, x long")
    )
    units = t._read_manifest(t.latest_version())
    pruned, _ = t._bloom_prune(units, {"k": 555_555})
    # absent key: with 4096 bits / 100 keys the filter should prove
    # absence in both units (fp rate ~ (1-e^-0.1)^4 ~ 1e-4)
    assert pruned == []
    assert t.read(bloom_eq={"k": 555_555}).count() == 0


def test_bloom_index_survives_column_rename(spark, tmp_table):
    t = LakeTable(spark, tmp_table, bloom_cols=["k"], bloom_bits=4096)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.rename_column("k", "key_id")
    t2 = LakeTable(spark, tmp_table, bloom_cols=["key_id"], bloom_bits=4096)
    t2.append(spark.createDataFrame([(3, "c"), (4, "d")], "key_id long, v string"))
    # probe by the LOGICAL name resolves to the stable physical column
    # for both pre- and post-rename units
    for probe, v in ((1, "a"), (4, "d")):
        rows = (
            t2.read(bloom_eq={"key_id": probe})
            .filter(F.col("key_id") == probe)
            .collect()
        )
        assert [(r.key_id, r.v) for r in rows] == [(probe, v)]


def test_count_rows_metadata_only(spark, tmp_table):
    t = LakeTable(spark, tmp_table)
    t.overwrite(spark.createDataFrame([(i,) for i in range(100)], "id long"))
    t.append(spark.createDataFrame([(100 + i,) for i in range(20)], "id long"))
    assert t.count_rows() == 120 == t.read().count()
    v2 = t.latest_version()
    t.delete(F.col("id") < 10, mode="mor")  # tombstones, no rewrite
    assert t.count_rows() == 110 == t.read().count()
    assert t.count_rows(version=v2) == 120  # time travel count
    t.compact()  # materializes the deletes, clears DVs
    assert t.count_rows() == 110 == t.read().count()


def test_catalog_time_travel_view(spark, tmp_path):
    from real_time_e_commerce_analytics_lakehouse_spark.catalog import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path))
    t = LakeTable(spark, str(tmp_path / "tv"))
    v1 = t.overwrite(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))
    cat.register("tv")
    cat.register("tv_v1", path=str(tmp_path / "tv"), version=v1)
    got = cat.sql("""
        SELECT (SELECT count(*) FROM tv) AS now_n,
               (SELECT count(*) FROM tv_v1) AS then_n
    """).collect()[0]
    assert (got.now_n, got.then_n) == (2, 1)


def test_insert_only_merge_key_range_prunes_target_read(spark, tmp_table):
    """Monotonic-key stream ingest: a new batch whose key range lies
    beyond every existing unit must anti-join against NOTHING (the
    manifest key stats prove freshness), and replays must still no-op."""
    t = LakeTable(spark, tmp_table, stats_cols=["id"])
    for base in (0, 100, 200):
        t.merge_insert_only(
            spark.createDataFrame(
                [(base + i, "x") for i in range(100)], "id long, v string"
            ),
            keys="id",
        )
    read_calls = []
    orig = t._read_units

    def spying(units, *a, **kw):
        read_calls.append(list(units))
        return orig(units, *a, **kw)

    t._read_units = spying
    # disjoint new range: stats prune every target unit -> no target read
    t.merge_insert_only(
        spark.createDataFrame([(300 + i, "y") for i in range(50)], "id long, v string"),
        keys="id",
    )
    assert read_calls == []  # anti-join side never built
    # overlapping replay: target read happens, nothing re-inserted
    read_calls.clear()
    t.merge_insert_only(
        spark.createDataFrame([(300 + i, "y") for i in range(50)], "id long, v string"),
        keys="id",
    )
    assert any(read_calls)  # overlap forced a real anti-join probe
    # and pruning kept it to the overlapping unit only
    assert all(len(units) == 1 for units in read_calls)
    t._read_units = orig
    assert t.read().count() == 350


# ------------------------------------------- hidden partitioning (Iceberg transforms)


def test_partition_transform_hidden_partitioning(spark, tmp_path):
    """Iceberg-style transforms as sugar over generated columns: writers
    never supply the partition column, pruning works on the transform
    value, and bucket/days derivations are deterministic."""
    import pytest as _pytest

    from real_time_e_commerce_analytics_lakehouse_spark.tables import (
        LakeTable,
        partition_transform,
    )

    name, expr = partition_transform("ts", "days")
    t = LakeTable(
        spark, str(tmp_path / "days"), partition_by=[name],
        generated={name: expr},
    )
    df = spark.sql(
        "SELECT id, timestamp_micros(cast(id * 43200000000 as bigint)) AS ts "
        "FROM range(10)"
    )
    t.overwrite(df)
    # 10 half-day points -> 5 distinct dates; pruning reads exactly one
    got = t.read(partitions={name: ["1970-01-02"]})
    assert sorted(r.id for r in got.collect()) == [2, 3]
    # hidden col is restored on read but writers never provided it
    assert name in t.read().columns

    bname, bexpr = partition_transform("id", "bucket", 4)
    b = LakeTable(
        spark, str(tmp_path / "bucket"), partition_by=[bname],
        generated={bname: bexpr},
    )
    b.overwrite(spark.range(100).selectExpr("id"))
    buckets = {r[bname] for r in b.read().select(bname).distinct().collect()}
    assert buckets == {"0", "1", "2", "3"} or buckets == {0, 1, 2, 3}
    # same key always lands in the same bucket (deterministic hash)
    one = b.read().filter("id = 7").select(bname).collect()[0][0]
    b.append(spark.range(7, 8).selectExpr("id"))
    two = [r[0] for r in b.read().filter("id = 7").select(bname).collect()]
    assert set(two) == {one}

    with _pytest.raises(ValueError):
        partition_transform("x", "bucket")
    with _pytest.raises(ValueError):
        partition_transform("x", "hourly")


def test_maybe_compact_policy(spark, tmp_path):
    """Auto-compaction fires only past the unit threshold, is
    manifest-only when it declines, and preserves content when it runs."""
    from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable

    t = LakeTable(spark, str(tmp_path / "ac"))
    for i in range(5):
        t.append(spark.range(i * 10, i * 10 + 10).selectExpr("id"))
    assert t.maybe_compact(max_units=16) is None  # below threshold
    for i in range(5, 20):
        t.append(spark.range(i * 10, i * 10 + 10).selectExpr("id"))
    v = t.maybe_compact(max_units=16)
    assert v is not None
    assert len(t._read_manifest(t.latest_version())) == 1
    assert t.read().count() == 200
    # idempotent: immediately after compaction it declines again
    assert t.maybe_compact(max_units=16) is None


def test_overwrite_txn_markers_replay_and_conflict(spark, tmp_path):
    """overwrite(txn=...) has append_once's ledger semantics (r4
    review): a stale marker (<= recorded watermark) is an idempotent
    replay — skipped, returns None, data untouched; fresh markers merge
    into the carried ledger atomically; and the ledger decision is
    pinned to the version it was read at, so a commit racing in
    between surfaces as a conflict instead of silently dropping the
    other writer's ledger entry. last_txn_version is the public
    reader."""
    from real_time_e_commerce_analytics_lakehouse_spark.tables import (
        ConcurrentWriteError,
        LakeTable,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    t.overwrite(df1, txn={"refresh": 5})
    assert t.last_txn_version("refresh") == 5

    # stale replay: no commit, no data change
    v_before = t.latest_version()
    df2 = spark.createDataFrame([(9, "z")], "id long, v string")
    assert t.overwrite(df2, txn={"refresh": 5}) is None
    assert t.overwrite(df2, txn={"refresh": 4}) is None
    assert t.latest_version() == v_before
    assert [tuple(r) for r in t.read().collect()] == [(1, "a")]

    # fresh marker merges with other apps' watermarks
    t.append_once(df2, "ingest", 12)
    t.overwrite(df1, txn={"refresh": 6})
    assert t.last_txn_version("refresh") == 6
    assert t.last_txn_version("ingest") == 12  # carried, not dropped

    # ledger read pinned to its version: a racing commit conflicts
    racer = LakeTable(spark, t.path)
    base = t.latest_version()
    import json as _json
    import os

    # simulate the race by committing between the ledger read and the
    # overwrite's commit: bump the manifest under the same base
    doc = _json.load(open(os.path.join(t.path, "_log", f"{base:08d}.json")))
    doc["version"] = base + 1
    with open(os.path.join(t.path, "_log", f"{base + 1:08d}.json"), "w") as f:
        _json.dump(doc, f)
    # pin the racer's view at `base` so its ledger snapshot predates the
    # fake commit — the strict-base commit must then conflict
    import unittest.mock as _mock

    with pytest.raises(ConcurrentWriteError):
        with _mock.patch.object(
            LakeTable, "latest_version", return_value=base
        ):
            racer.overwrite(df1, txn={"refresh": 7})


def test_zorder_survives_nan_and_inf_values(spark, tmp_table):
    """r5 review: one NaN in a double clustering column made the global
    max NaN, every scaled cell NaN, and the whole z-order dimension
    collapsed to a single grid cell — skipping silently vanished. With
    finite bounds, NaN/±Inf rows clamp to edge cells and all finite
    rows keep their real grid."""
    from real_time_e_commerce_analytics_lakehouse_spark.functions.zorder import zorder_key

    rows = [(float(i), float(100 - i)) for i in range(50)]
    rows += [(float("nan"), 1.0), (float("inf"), 2.0), (float("-inf"), 3.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    keyed = df.withColumn("z", zorder_key(df, ["x", "y"], bits=8))
    vals = [r.z for r in keyed.collect()]
    assert all(v is not None for v in vals)
    finite = keyed.where(~F.isnan("x") & (F.abs("x") != float("inf")))
    # finite rows spread across many cells (dimension NOT collapsed)
    assert finite.select("z").distinct().count() > 10


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
