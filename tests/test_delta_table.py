"""The ``delta`` Spark format (sources/delta_table): the reference's
native table API — ``format("delta")`` batch/stream read and write
(db_notebooks/01_bronze_csv_to_delta.py writes it,
02_bronze_to_silver.py stream-reads it) — served through the Python
DataSource API over plain `_delta_log`s, no delta-spark needed. Writes
must be foreign-readable (pinned against the independent
`read_delta_log` replay) and the streaming sink exactly-once via
SetTransaction; reads must apply DVs and column mapping."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
    DeltaSnapshot,
    export_delta_log,
    read_delta_log,
    write_delta_checkpoint,
)
from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_table import (
    DeltaBatchWriter,
    DeltaStreamWriter,
    _AddedFile,
    register,
)
from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_batch_write_read_roundtrip_partitioned(spark, tmp_path):
    """overwrite + append through the format; partition layout
    inherited on append; Hive-style dirs; typed partition restore; time
    travel; and the INDEPENDENT log replay (read_delta_log) agrees —
    i.e. the commit is real Delta, not a private convention."""
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 7), (2, "b", 8)], "id long, v string, p long"
    ).write.format("delta").option("partition_by", "p").mode(
        "overwrite"
    ).save(p)
    spark.createDataFrame(
        [(3, "c", 7)], "id long, v string, p long"
    ).write.format("delta").mode("append").save(p)

    got = spark.read.format("delta").load(p)
    assert dict(got.dtypes) == {"id": "bigint", "v": "string", "p": "bigint"}
    assert _rows(got) == [(1, "a", 7), (2, "b", 8), (3, "c", 7)]
    assert _rows(
        spark.read.format("delta").option("versionAsOf", 0).load(p)
    ) == [(1, "a", 7), (2, "b", 8)]
    assert _rows(read_delta_log(spark, p).select("id", "v", "p")) == _rows(
        got
    )
    assert {d for d in os.listdir(p) if not d.startswith("_")} == {
        "p=7", "p=8",
    }
    # partition pruning happens at planning: only p=7 files are listed
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_table import (
        DeltaBatchReader,
    )
    from pyspark.sql.datasource import EqualTo

    r = DeltaBatchReader(p, got.schema, None)
    list(r.pushFilters([EqualTo(("p",), 7)]))
    files = [s.file for s in r.partitions()]
    assert files and all("p=7" in f for f in files)
    assert _rows(got.filter("p = 7")) == [(1, "a", 7), (3, "c", 7)]


def test_batch_writer_guards(spark, tmp_path):
    """Loud protocol-tier refusals: schema type clash, mismatched
    append layout, appendOnly overwrite, unknown writer features."""
    p = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, v string").write.format(
        "delta"
    ).mode("append").save(p)
    with pytest.raises(Exception, match="schema mismatch"):
        spark.createDataFrame([("x", "a")], "id string, v string").write.format(
            "delta"
        ).mode("append").save(p)
    with pytest.raises(Exception, match="partition layout"):
        spark.createDataFrame([(1, "a")], "id long, v string").write.format(
            "delta"
        ).option("partition_by", "v").mode("append").save(p)
    # patch protocol: appendOnly ENABLED (feature listed AND the
    # delta.appendOnly table property true — PROTOCOL.md enablement;
    # the feature listing alone only means "supported", ADVICE r8),
    # then an unknown writer feature
    log = os.path.join(p, "_delta_log", f"{0:020d}.json")
    lines = [json.loads(x) for x in open(log) if x.strip()]
    for a in lines:
        if "protocol" in a:
            a["protocol"].update(
                minWriterVersion=7,
                writerFeatures=["appendOnly"],
            )
        if "metaData" in a:
            a["metaData"].setdefault("configuration", {})[
                "delta.appendOnly"
            ] = "true"
    with open(log, "w") as f:
        for a in lines:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(Exception, match="appendOnly"):
        spark.createDataFrame([(9, "z")], "id long, v string").write.format(
            "delta"
        ).mode("overwrite").save(p)
    # a writer feature this engine genuinely does not implement still
    # refuses (identityColumns/checkConstraints/generatedColumns are
    # ENFORCED on the arrow tier since r9 — arrow_enforce.py — so they
    # no longer refuse)
    for a in lines:
        if "protocol" in a:
            a["protocol"]["writerFeatures"] = ["icebergCompatV3"]
    with open(log, "w") as f:
        for a in lines:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(Exception, match="icebergCompatV3"):
        spark.createDataFrame([(9, "z")], "id long, v string").write.format(
            "delta"
        ).mode("append").save(p)


def test_batch_append_additive_schema_evolution(spark, tmp_path):
    """Appending a frame with a NEW column re-emits metaData with the
    union schema; rows from pre-evolution files read the column NULL."""
    p = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, v string").write.format(
        "delta"
    ).mode("append").save(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, w double"
    ).write.format("delta").mode("append").save(p)
    got = spark.read.format("delta").load(p)
    assert got.columns == ["id", "v", "w"]
    assert _rows(got) == [(1, "a", None), (2, "b", 9.5)]
    assert _rows(read_delta_log(spark, p).select("id", "v", "w")) == _rows(got)


def test_batch_read_applies_dv_and_column_mapping(spark, tmp_path):
    """format('delta') reads a DV-bearing export row-exact (tombstoned
    rows skipped) and resolves name-mode column mapping with physical
    partitionValues keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # DV table: laketable MoR delete exported as real deletion vectors
    t = LakeTable(spark, str(tmp_path / "dv"))
    t.overwrite(
        spark.createDataFrame(
            [(i, "x") for i in range(10)], "id long, v string"
        )
    )
    t.delete(F.col("id").isin(2, 5), mode="mor")
    export_delta_log(t)
    got = spark.read.format("delta").load(t.path)
    assert _rows(got.select("id")) == [(i,) for i in range(10) if i not in (2, 5)]

    # name-mode mapped table (physical col names in files)
    path = str(tmp_path / "mapped")
    os.makedirs(os.path.join(path, "_delta_log"))
    os.makedirs(os.path.join(path, "d1"))
    pq.write_table(
        pa.table({"col-aaa": [1, 2], "col-bbb": ["x", "y"]}),
        os.path.join(path, "d1", "f1.parquet"),
    )
    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 1,
                              "delta.columnMapping.physicalName": "col-aaa"}},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName": "col-bbb"}},
                {"name": "part", "type": "integer", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 3,
                              "delta.columnMapping.physicalName": "col-ppp"}},
            ],
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping"],
                      "writerFeatures": ["columnMapping"]}},
        {"metaData": {"id": "m", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema_str,
                      "partitionColumns": ["part"],
                      "configuration": {"delta.columnMapping.mode": "name"}}},
        {"add": {"path": "d1/f1.parquet",
                 "partitionValues": {"col-ppp": "10"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    m = spark.read.format("delta").load(path)
    assert m.columns == ["id", "v", "part"]
    assert _rows(m) == [(1, "x", 10), (2, "y", 10)]
    # mapped tables accept WRITES since r8: physical names + field ids
    # (tests/test_colmap.py covers the written-file shape)
    spark.createDataFrame([(3, "z", 10)], "id long, v string, part int"
                          ).write.format("delta").mode("append").save(path)
    assert _rows(spark.read.format("delta").load(path)) == [
        (1, "x", 10), (2, "y", 10), (3, "z", 10)
    ]


def _drain(spark, src, sink, ckpt, **opts):
    reader = spark.readStream.format("delta")
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load(src)
        .writeStream.format("delta")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(sink)
    )
    q.awaitTermination(120)
    time.sleep(0.2)


def test_stream_delta_to_delta_exactly_once(spark, tmp_path):
    """readStream.format('delta') -> writeStream.format('delta'): the
    reference's bronze->silver shape. Checkpoint restart re-reads
    nothing; the sink's log carries the SetTransaction ledger; the
    ledger survives a checkpoint+expiry cycle."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    for i in range(2):
        spark.createDataFrame(
            [(i, f"v{i}")], "id long, v string"
        ).write.format("delta").mode("append").save(src)

    _drain(spark, src, sink, ck)
    assert _rows(spark.read.format("delta").load(sink)) == [
        (0, "v0"), (1, "v1"),
    ]
    spark.createDataFrame([(2, "v2")], "id long, v string").write.format(
        "delta"
    ).mode("append").save(src)
    _drain(spark, src, sink, ck)
    _drain(spark, src, sink, ck)  # nothing new: zero duplicates
    assert _rows(spark.read.format("delta").load(sink)) == [
        (0, "v0"), (1, "v1"), (2, "v2"),
    ]
    snap = DeltaSnapshot(sink)
    assert len(snap.txns) == 1 and list(snap.txns.values())[0] >= 1

    # ledger survives checkpoint + commit expiry
    write_delta_checkpoint(sink)
    app, ver = next(iter(snap.txns.items()))
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        expire_delta_commits,
    )

    expire_delta_commits(sink, honor_retention=False)
    assert DeltaSnapshot(sink).txns.get(app) == ver


def test_stream_sink_replay_guard_unit(spark, tmp_path):
    """Direct writer-protocol exercise (the crash window Spark can't
    easily simulate): re-committing an already-committed batchId drops
    the staged files and publishes nothing; a batchId BELOW the
    watermark raises (colliding txn app / fresh checkpoint)."""
    p = str(tmp_path / "t")
    schema = spark.createDataFrame([(1,)], "id long").schema
    w = DeltaStreamWriter(p, schema, {"txn_app_id": "q1"})

    import pyarrow as pa
    import pyarrow.parquet as pq

    def stage(val):
        rel = f"part-manual-{val}.parquet"
        pq.write_table(pa.table({"id": [val]}), os.path.join(p, rel))
        return _AddedFile(files=((rel, (), 1),), n_rows=1)

    w.commit([stage(1)], batchId=0)
    w.commit([stage(2)], batchId=1)
    assert _rows(spark.read.format("delta").load(p)) == [(1,), (2,)]
    # replay of batch 1: staged file dropped, no new version
    m = stage(99)
    v_before = DeltaSnapshot(p).version
    w.commit([m], batchId=1)
    assert DeltaSnapshot(p).version == v_before
    assert not os.path.exists(os.path.join(p, m.files[0][0]))
    assert _rows(spark.read.format("delta").load(p)) == [(1,), (2,)]
    # below the watermark: loud
    with pytest.raises(ValueError, match="watermark"):
        w.commit([stage(3)], batchId=0)


def test_stream_read_refuses_or_skips_change_commits(spark, tmp_path):
    """A non-append commit (delete) raises by default — upstream Delta
    source's contract — and is skipped wholesale with
    skipChangeCommits; inserts before/after still stream."""
    t = LakeTable(spark, str(tmp_path / "src"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    export_delta_log(t)  # v0 insert
    t.delete(F.col("id") == 1, mode="mor")
    export_delta_log(t)  # v1 DV delete (change commit)
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    export_delta_log(t)  # v2 insert

    sink1 = str(tmp_path / "s1")
    with pytest.raises(Exception, match="not append-only|skipChangeCommits"):
        _drain(spark, t.path, sink1, str(tmp_path / "ck1"))

    sink2 = str(tmp_path / "s2")
    _drain(
        spark, t.path, sink2, str(tmp_path / "ck2"),
        skipChangeCommits="true",
    )
    assert _rows(spark.read.format("delta").load(sink2)) == [
        (1, "a"), (2, "b"),
    ]


def test_batch_writer_concurrency(spark, tmp_path):
    """Sequentialized concurrent appends BOTH land (appends commute —
    each commit re-reads the log and claims the next version), while
    the raw version claim itself is exclusive-create: a racing writer
    that lost the claim gets a conflict, never a clobber."""
    p = str(tmp_path / "t")
    schema = spark.createDataFrame([(1,)], "id long").schema
    spark.createDataFrame([(0,)], "id long").write.format("delta").mode(
        "append"
    ).save(p)

    import pyarrow as pa
    import pyarrow.parquet as pq

    def stage(val):
        rel = f"part-manual-{val}.parquet"
        pq.write_table(pa.table({"id": [val]}), os.path.join(p, rel))
        return _AddedFile(files=((rel, (), 1),), n_rows=1)

    w1 = DeltaBatchWriter(p, schema, False, None)
    w2 = DeltaBatchWriter(p, schema, False, None)
    w1.commit([stage(1)])
    w2.commit([stage(2)])  # rebases onto w1's version: both appends land
    assert _rows(spark.read.format("delta").load(p)) == [(0,), (1,), (2,)]
    assert DeltaSnapshot(p).version == 2

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        DeltaCommitConflict,
        commit_delta,
    )

    with pytest.raises(DeltaCommitConflict):
        commit_delta(p, 2, [], "WRITE")


def test_optimize_delta_compacts_small_files(spark, tmp_path):
    """optimize_delta bin-packs a partition's small files into one and
    commits dataChange=false swaps: rows identical, file count drops,
    time travel to the pre-optimize version still works, and the change
    feed sees NO row-level change for the optimize version."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        delta_changes,
        optimize_delta,
    )

    p = str(tmp_path / "t")
    for i in range(3):
        spark.createDataFrame(
            [(i, "x", 7), (100 + i, "y", 8)], "id long, v string, p long"
        ).write.format("delta").option("partition_by", "p").mode(
            "append" if i else "overwrite"
        ).save(p)
    before = _rows(spark.read.format("delta").load(p))
    v_pre = DeltaSnapshot(p).version
    n_files_pre = len(DeltaSnapshot(p).files)
    assert n_files_pre == 6  # 3 commits x 2 partitions

    res = optimize_delta(spark, p)
    assert res["version"] == v_pre + 1
    assert res["rewritten"] == 6 and res["written"] == 2
    snap = DeltaSnapshot(p)
    assert len(snap.files) == 2  # one per partition
    assert _rows(spark.read.format("delta").load(p)) == before
    assert _rows(
        spark.read.format("delta").option("versionAsOf", v_pre).load(p)
    ) == before
    # dataChange=false: the optimize version contributes NO changes
    assert delta_changes(spark, p, res["version"]).count() == 0
    # idempotent: nothing left to compact
    assert optimize_delta(spark, p)["rewritten"] == 0


def test_optimize_delta_materializes_deletion_vectors(spark, tmp_path):
    """A DV-carrying file is rewritten without its tombstoned rows and
    the new add carries no deletionVector (Delta's PURGE)."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        optimize_delta,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, "x") for i in range(10)], "id long, v string"
        )
    )
    t.delete(F.col("id").isin(2, 5), mode="mor")
    export_delta_log(t)
    assert DeltaSnapshot(t.path).dvs  # DV present pre-optimize
    live = _rows(spark.read.format("delta").load(t.path))

    res = optimize_delta(spark, t.path)
    assert res["rewritten"] >= 1
    snap = DeltaSnapshot(t.path)
    assert not snap.dvs  # purged
    assert _rows(spark.read.format("delta").load(t.path)) == live
    # physical rows now equal logical rows (DV materialized)
    import pyarrow.parquet as pq

    phys = sum(
        pq.ParquetFile(os.path.join(t.path, r)).metadata.num_rows
        for r in snap.files
    )
    assert phys == 8


def test_vacuum_delta_unreachable_and_retention(spark, tmp_path):
    """vacuum deletes only files no retained snapshot can reach AND
    older than retention; the 168h floor refuses unless explicitly
    overridden; files referenced by retained commits survive for time
    travel until the commits expire."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        expire_delta_commits,
        vacuum_delta,
    )

    p = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, v string").write.format(
        "delta"
    ).mode("overwrite").save(p)
    old_file = next(iter(DeltaSnapshot(p).files))
    spark.createDataFrame([(2, "b")], "id long, v string").write.format(
        "delta"
    ).mode("overwrite").save(p)  # old_file tombstoned, still on disk

    with pytest.raises(ValueError, match="168h"):
        vacuum_delta(p, retention_hours=0)

    # an orphan from a failed write, plus ancient mtimes everywhere
    orphan = "part-orphan.parquet"
    import shutil

    shutil.copy(
        os.path.join(p, next(iter(DeltaSnapshot(p).files))),
        os.path.join(p, orphan),
    )
    ancient = time.time() - 10 * 24 * 3600
    for fn in os.listdir(p):
        fp = os.path.join(p, fn)
        if os.path.isfile(fp):
            os.utime(fp, (ancient, ancient))

    got = vacuum_delta(p, retention_hours=0, enforce_retention=False,
                       dry_run=True)
    # orphan is vacuumable; old_file is still referenced by the
    # retained v0 commit (time travel), so it survives
    assert got == [orphan]
    assert os.path.exists(os.path.join(p, orphan))  # dry run
    vacuum_delta(p, retention_hours=0, enforce_retention=False)
    assert not os.path.exists(os.path.join(p, orphan))
    assert os.path.exists(os.path.join(p, old_file))
    assert _rows(
        spark.read.format("delta").option("versionAsOf", 0).load(p)
    ) == [(1, "a")]

    # expire the old commits behind a checkpoint: old_file becomes
    # unreachable and vacuumable; the current snapshot is untouched
    write_delta_checkpoint(p)
    expire_delta_commits(p, honor_retention=False)
    os.utime(os.path.join(p, old_file), (ancient, ancient))
    assert vacuum_delta(
        p, retention_hours=0, enforce_retention=False
    ) == [old_file]
    assert _rows(spark.read.format("delta").load(p)) == [(2, "b")]


def test_time_travel_by_timestamp_and_restore(spark, tmp_path):
    """timestampAsOf resolves via commitInfo timestamps (mtime
    fallback); restore_delta re-adds the old snapshot as a NEW commit
    whose changes the change feed sees (dataChange=true)."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        delta_changes,
        restore_delta,
    )

    p = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, v string").write.format(
        "delta"
    ).mode("overwrite").save(p)
    # pin distinct commitInfo timestamps (writes within one ms tie)
    log = os.path.join(p, "_delta_log")

    def set_ts(ver, ts):
        fp = os.path.join(log, f"{ver:020d}.json")
        lines = [json.loads(x) for x in open(fp) if x.strip()]
        for a in lines:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
        with open(fp, "w") as f:
            for a in lines:
                f.write(json.dumps(a) + "\n")

    spark.createDataFrame([(2, "b")], "id long, v string").write.format(
        "delta"
    ).mode("overwrite").save(p)
    set_ts(0, 1_000_000)
    set_ts(1, 2_000_000)

    assert _rows(
        spark.read.format("delta").option("timestampAsOf", "1500000").load(p)
    ) == [(1, "a")]
    assert _rows(
        spark.read.format("delta").option("timestampAsOf", "2000000").load(p)
    ) == [(2, "b")]
    with pytest.raises(Exception, match="predates"):
        spark.read.format("delta").option(
            "timestampAsOf", "999999"
        ).load(p).collect()

    v = restore_delta(p, 0)
    assert v == 2
    assert _rows(spark.read.format("delta").load(p)) == [(1, "a")]
    # the restore commit IS a data change: delete (2,b), insert (1,a)
    ch = sorted(
        (r._change_type, r.id, r.v)
        for r in delta_changes(spark, p, v, v).collect()
    )
    assert ch == [("delete", 2, "b"), ("insert", 1, "a")]
    # and history is preserved: travel back to the pre-restore version
    assert _rows(
        spark.read.format("delta").option("versionAsOf", 1).load(p)
    ) == [(2, "b")]


def test_batch_read_change_feed_option(spark, tmp_path):
    """readChangeFeed=true: batch CDF through the format equals
    delta_changes over the same window, update images included."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        delta_changes,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, "a") for i in range(5)], "id long, v string"
        )
    )
    export_delta_log(t)
    t.delete(F.col("id") == 3, mode="mor")
    export_delta_log(t)
    t.append(spark.createDataFrame([(9, "z")], "id long, v string"))
    export_delta_log(t)

    got = spark.read.format("delta").option("readChangeFeed", "true").load(
        t.path
    )
    want = delta_changes(spark, t.path, 0)
    cols = ["id", "v", "_change_type", "_commit_version"]
    assert _rows(got.select(*cols)) == _rows(want.select(*cols))
    # window selection
    got1 = (
        spark.read.format("delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("endingVersion", "1")
        .load(t.path)
    )
    assert _rows(got1.select("id", "_change_type")) == [(3, "delete")]


def test_optimize_delta_zorder_clusters_files(spark, tmp_path):
    """zorder_by rewrites every file range-clustered on the Morton key:
    rows identical, and each output file covers a DISJOINT narrow range
    of each z-ordered column (the data-skipping win)."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        optimize_delta,
    )
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    # interleave x/y so pre-optimize files all span the full range
    rows = [(i, (i * 37) % 100, (i * 61) % 100) for i in range(400)]
    for chunk in range(4):
        spark.createDataFrame(
            rows[chunk * 100:(chunk + 1) * 100], "id long, x long, y long"
        ).write.format("delta").mode(
            "append" if chunk else "overwrite"
        ).save(p)
    before = _rows(spark.read.format("delta").load(p))
    n_files_pre = len(DeltaSnapshot(p).files)

    res = optimize_delta(
        spark, p, target_file_bytes=4 * 1024, zorder_by=["x", "y"]
    )
    assert res["rewritten"] == n_files_pre  # clustering rewrites all
    assert res["written"] >= 2  # 4 KB target forces a split
    assert _rows(spark.read.format("delta").load(p)) == before
    spans = []
    for rel in DeltaSnapshot(p).files:
        t_ = pq.read_table(os.path.join(p, rel), columns=["x"])
        xs = t_.column("x").to_pylist()
        spans.append((min(xs), max(xs)))
    spans.sort()
    # clustered: at least one pair of files has non-overlapping x spans
    # (pre-optimize every file spanned [0,99])
    assert any(
        spans[i][1] < spans[i + 1][0] or spans[i][1] - spans[i][0] < 99
        for i in range(len(spans) - 1)
    )


def test_writer_emits_stats_and_reader_skips_files(spark, tmp_path):
    """Writers emit add.stats (numRecords + footer minValues/maxValues/
    nullCount); the batch reader prunes whole files on comparison /
    null-ness filters driver-side (zero I/O) while results stay exact.
    DV-bearing files keep valid OUTER bounds (tightBounds=false)."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, IsNull

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_table import (
        DeltaBatchReader,
    )

    p = str(tmp_path / "t")
    for i in range(4):  # 4 files with disjoint id ranges
        spark.createDataFrame(
            [(i * 100 + j, f"v{j}") for j in range(100)],
            "id long, v string",
        ).coalesce(1).write.format("delta").mode(
            "append" if i else "overwrite"
        ).save(p)
    snap = DeltaSnapshot(p)
    st = snap.stats[sorted(snap.stats)[0]]
    assert st["numRecords"] == 100
    assert set(st["minValues"]) == {"id", "v"}
    assert st["nullCount"] == {"id": 0, "v": 0}

    df = spark.read.format("delta").load(p)
    r = DeltaBatchReader(p, df.schema, None)
    list(r.pushFilters([GreaterThan(("id",), 350)]))
    assert len(r.partitions()) == 1  # 3 of 4 files skipped
    assert sorted(x.id for x in df.filter("id > 350").collect()) == list(
        range(351, 400)
    )
    r2 = DeltaBatchReader(p, df.schema, None)
    list(r2.pushFilters([EqualTo(("id",), 150)]))
    assert len(r2.partitions()) == 1
    r3 = DeltaBatchReader(p, df.schema, None)
    list(r3.pushFilters([IsNull(("v",))]))
    # nullCount 0 everywhere: every real file pruned (one no-row
    # sentinel remains — Spark needs >= 1 input partition)
    assert [s.file for s in r3.partitions()] == [""]
    assert df.filter("v IS NULL").count() == 0

    # export path: a DV-bearing laketable mirror carries outer-bound
    # stats with tightBounds=false and still reads row-exact
    t = LakeTable(spark, str(tmp_path / "dv"))
    t.overwrite(
        spark.createDataFrame(
            [(i, "x") for i in range(10)], "id long, v string"
        )
    )
    t.delete(F.col("id") == 0, mode="mor")
    export_delta_log(t)
    dv_snap = DeltaSnapshot(t.path)
    dv_rel = next(iter(dv_snap.dvs))  # the file carrying the DV
    dv_st = dv_snap.stats[dv_rel]
    assert dv_st["tightBounds"] is False
    assert "minValues" in dv_st  # physical outer bounds present
    got = spark.read.format("delta").load(t.path)
    assert sorted(x.id for x in got.collect()) == list(range(1, 10))
    # pruning on the outer bounds never loses the id=5 row (ranges of
    # the laketable's shuffle-written files may overlap, so only
    # exactness — not a specific file count — is asserted)
    r4 = DeltaBatchReader(t.path, got.schema, None)
    list(r4.pushFilters([EqualTo(("id",), 5)]))
    kept = [s.file for s in r4.partitions() if s.file]
    assert kept
    assert [x.id for x in got.filter("id = 5").collect()] == [5]


def test_register_self_pins_pushdown_conf(spark):
    """The driver hands the engine a VANILLA session (no engine
    configs): register() must self-pin
    spark.sql.python.filterPushdown.enabled, or Spark refuses to plan
    DeltaBatchReader.pushFilters at all (caught live: the r7 gate
    queries failed on a bare local[8] session before this pin)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        register(spark)
        assert (
            spark.conf.get("spark.sql.python.filterPushdown.enabled")
            == "true"
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def test_starting_timestamp_and_latest_options(spark, tmp_path):
    """startingTimestamp (commits AT OR AFTER — the asymmetric twin of
    timestampAsOf), startingVersion='latest' (future commits only) and
    endingTimestamp on batch CDF — upstream's option semantics."""
    import json as _json

    p = str(tmp_path / "t")
    for i, mode in ((0, "overwrite"), (1, "append"), (2, "append")):
        spark.createDataFrame(
            [(i, f"v{i}")], "id long, v string"
        ).write.format("delta").mode(mode).save(p)
    # pin commitInfo timestamps to a known clock: v0=1000, v1=2000, v2=3000
    for v in range(3):
        log = os.path.join(p, "_delta_log", f"{v:020d}.json")
        lines = [_json.loads(x) for x in open(log) if x.strip()]
        for a in lines:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = 1000 * (v + 1)
        with open(log, "w") as f:
            for a in lines:
                f.write(_json.dumps(a) + "\n")

    # batch CDF: startingTimestamp 1500 -> versions 1..2 only
    got = (
        spark.read.format("delta")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", "1500")
        .load(p)
    )
    assert sorted((r.id, r._commit_version) for r in got.collect()) == [
        (1, 1), (2, 2),
    ]
    # endingTimestamp 2999 -> largest version at or before = 1
    got = (
        spark.read.format("delta")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", "1500")
        .option("endingTimestamp", "2999")
        .load(p)
    )
    assert [(r.id, r._commit_version) for r in got.collect()] == [(1, 1)]

    # a startingTimestamp past every commit = only future commits
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")
    _drain(spark, p, sink, ckpt, startingTimestamp="99999")
    import pyspark.errors

    try:
        n0 = spark.read.format("delta").load(sink).count()
    except Exception:
        n0 = 0  # sink never created: nothing drained
    assert n0 == 0

    # startingVersion=latest: nothing now, only the NEXT commit later
    sink2, ckpt2 = str(tmp_path / "sink2"), str(tmp_path / "ck2")
    _drain(spark, p, sink2, ckpt2, startingVersion="latest")
    spark.createDataFrame([(9, "new")], "id long, v string").write.format(
        "delta"
    ).mode("append").save(p)
    _drain(spark, p, sink2, ckpt2, startingVersion="latest")
    assert [
        (r.id, r.v)
        for r in spark.read.format("delta").load(sink2).collect()
    ] == [(9, "new")]


def test_batch_writer_idempotent_txn(spark, tmp_path):
    """Idempotent batch writes (delta-spark's txnAppId/txnVersion
    writer options): replaying a (appId, version) at-or-below the
    table's SetTransaction watermark commits nothing; a higher version
    appends; a LOWER one errors (two writers sharing an app id)."""
    import pytest as _pytest

    p = str(tmp_path / "t")

    def write(lo, hi, ver):
        (
            spark.range(lo, hi)
            .selectExpr("id", "id as v")
            .write.format("delta")
            .option("txnAppId", "loader-1")
            .option("txnVersion", str(ver))
            .mode("append")
            .save(p)
        )

    write(0, 5, 1)
    write(0, 5, 1)  # exact replay: no-op
    assert spark.read.format("delta").load(p).count() == 5
    write(5, 8, 2)
    assert spark.read.format("delta").load(p).count() == 8
    with _pytest.raises(Exception, match="below the committed"):
        write(8, 9, 1)
    # staged files of the replayed batch were dropped, not leaked
    import os as _os

    orphans = [
        f
        for f in _os.listdir(p)
        if f.endswith(".parquet")
    ]
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        DeltaSnapshot,
    )

    assert len(orphans) == len(DeltaSnapshot(p).files)


def test_replace_where_partition_overwrite(spark, tmp_path):
    """option('replaceWhere', 'g = ...') on mode('overwrite'): only the
    matching partitions' files are replaced (removes carry their DV
    descriptors), rows outside the predicate refuse, non-partition
    predicates refuse."""
    import pytest as _pytest

    p = str(tmp_path / "t")
    (
        spark.range(0, 12)
        .selectExpr("id", "cast(id % 3 as string) as g")
        .write.format("delta")
        .option("partition_by", "g")
        .mode("append")
        .save(p)
    )
    fresh = spark.createDataFrame(
        [(100, "1"), (101, "1")], "id long, g string"
    )
    (
        fresh.write.format("delta")
        .option("replaceWhere", "g = '1'")
        .mode("overwrite")
        .save(p)
    )
    got = {r["id"] for r in spark.read.format("delta").load(p).collect()}
    assert got == {i for i in range(12) if i % 3 != 1} | {100, 101}
    # a written row outside the predicate refuses
    with _pytest.raises(Exception, match="outside the predicate"):
        spark.createDataFrame([(7, "2")], "id long, g string").write.format(
            "delta"
        ).option("replaceWhere", "g = '1'").mode("overwrite").save(p)
    # non-partition predicate refuses (classic tier)
    with _pytest.raises(Exception, match="not partition columns"):
        fresh.write.format("delta").option(
            "replaceWhere", "id = 5"
        ).mode("overwrite").save(p)
    # IN-list spelling
    (
        spark.createDataFrame(
            [(200, "0"), (201, "2")], "id long, g string"
        )
        .write.format("delta")
        .option("replaceWhere", "g IN ('0', '2')")
        .mode("overwrite")
        .save(p)
    )
    got = {r["id"] for r in spark.read.format("delta").load(p).collect()}
    assert got == {100, 101, 200, 201}
