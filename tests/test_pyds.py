"""LakeTable as a Spark Python DataSource (`format("laketable")`):
interop parity with the JVM read path — snapshot/time travel, partition
restore, column mapping, merge-on-read deletes, and metadata pruning."""

from __future__ import annotations

import os
import pickle

import pytest
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.sources import pyds
from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import LakeTableReader
from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    pyds.register(spark)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_format_read_matches_jvm_snapshot(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")], "id long, v string, p string"
    )
    t.overwrite(df)
    got = spark.read.format("laketable").load(t.path)
    assert sorted(got.columns) == ["id", "p", "v"]
    assert _rows(got.select("id", "v", "p")) == _rows(t.read().select("id", "v", "p"))


def test_format_time_travel_and_evolution(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    v1 = t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.append(spark.createDataFrame([(2, "b", 9.5)], "id long, v string, w double"))
    old = spark.read.format("laketable").option("version", v1).load(t.path)
    assert _rows(old) == [(1, "a")]
    cur = spark.read.format("laketable").load(t.path)
    # additive evolution: the old file reads NULL for the new column
    assert _rows(cur.select("id", "w")) == [(1, None), (2, 9.5)]


def test_format_sees_mor_deletes_and_column_rename(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, v string")
    )
    t.delete(F.col("id") % 3 == 0, mode="mor")
    t.rename_column("v", "label")
    got = spark.read.format("laketable").load(t.path)
    assert _rows(got) == _rows(t.read())
    assert set(got.columns) == {"id", "label"}
    assert sorted(r.id for r in got.collect()) == [1, 2, 4, 5, 7, 8]


def test_reader_prunes_partitions_and_files(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo, GreaterThan

    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"], stats_cols=["id"])
    t.overwrite(
        spark.createDataFrame(
            [(i, "x" if i < 50 else "y") for i in range(100)], "id long, p string"
        )
    )
    schema = spark.read.format("laketable").load(t.path).schema
    base = LakeTableReader(t.path, None, schema)
    all_parts = base.partitions()

    pruned = LakeTableReader(t.path, None, schema)
    leftover = list(pruned.pushFilters([EqualTo(("p",), "x")]))
    assert len(leftover) == 1  # every filter reported back to Spark
    kept = pruned.partitions()
    assert 0 < len(kept) < len(all_parts)

    stats = LakeTableReader(t.path, None, schema)
    list(stats.pushFilters([GreaterThan(("id",), 1_000_000)]))
    assert len(stats.partitions()) == 0  # stats range excludes everything

    # pruning + full query agree with the JVM path
    got = spark.read.format("laketable").load(t.path).where("p = 'x' AND id >= 40")
    assert sorted(r.id for r in got.collect()) == list(range(40, 50))


def test_stream_reader_versions_as_offsets(spark, tmp_path):
    """readStream.format('laketable'): manifest versions are the stream
    offsets — batch 1 drains the existing snapshot, appended commits
    arrive incrementally, and a checkpoint restart re-reads nothing."""
    import time

    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame([(1, "x"), (2, "y")], "id long, p string")
    )
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("laketable")
            .load(t.path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        time.sleep(0.2)

    drain()
    got = lambda: sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got() == [(1, "x"), (2, "y")]

    t.append(spark.createDataFrame([(3, "x")], "id long, p string"))
    drain()
    assert got() == [(1, "x"), (2, "y"), (3, "x")]

    drain()  # no new commits: restart must deliver zero duplicate rows
    assert got() == [(1, "x"), (2, "y"), (3, "x")]


def test_writer_roundtrips_through_engine_api(spark, tmp_path):
    """df.write.format('laketable'): the written manifest is readable by
    BOTH the format reader and the full LakeTable API (time travel,
    append carrying prior units by reference)."""
    p = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df1.write.format("laketable").mode("overwrite").save(p)
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    df2.write.format("laketable").mode("append").save(p)

    t = LakeTable(spark, p)
    assert t.latest_version() == 2
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(t.read(version=1)) == [(1, "a"), (2, "b")]
    assert _rows(spark.read.format("laketable").load(p)) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    # engine API writes compose onto the format-written table
    t.append(spark.createDataFrame([(4, "d")], "id long, v string"))
    assert _rows(spark.read.format("laketable").load(p))[-1] == (4, "d")


def test_writer_partitioned_layout(spark, tmp_path):
    """Partitioned format writes: option('partition_by') splits tasks'
    batches into Hive col=value subdirs, one unit per combination;
    appends to a partitioned table inherit its layout, and a mismatched
    explicit layout is rejected."""
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x")], "id long, p string"
    )
    df.write.format("laketable").option("partition_by", "p").mode(
        "overwrite"
    ).save(p)
    # append WITHOUT the option: layout inherited from the manifest
    spark.createDataFrame([(4, "z")], "id long, p string").write.format(
        "laketable"
    ).mode("append").save(p)

    t = LakeTable(spark, p, partition_by=["p"])
    assert _rows(t.read().select("id", "p")) == [
        (1, "x"), (2, "y"), (3, "x"), (4, "z")
    ]
    # manifest-level partition pruning works on the format-written table
    assert sorted(r.id for r in t.read(partitions={"p": ["x"]}).collect()) == [1, 3]
    # and the format reader prunes via pushFilters on the same metadata
    got = spark.read.format("laketable").load(p).where("p = 'z'")
    assert [r.id for r in got.collect()] == [4]

    bad = spark.createDataFrame([(5, "w")], "id long, p string")
    with pytest.raises(Exception, match="partition layout|does not match"):
        bad.write.format("laketable").option("partition_by", "id").mode(
            "append"
        ).save(p)


def test_partitioned_format_write_records_committed_at(spark, tmp_path):
    """A partitioned format write records committed_at like every other
    manifest: TIMESTAMP AS OF resolution and vacuum(retain_hours) index
    that field on each manifest they walk."""
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "x"), (2, "y")], "id long, p string"
    ).write.format("laketable").option("partition_by", "p").mode(
        "overwrite"
    ).save(p)
    t = LakeTable(spark, p, partition_by=["p"])
    v = t.latest_version()
    assert t.version_at_timestamp("2999-01-01T00:00:00") == v
    t.vacuum(retain_hours=0.0)
    assert _rows(t.read().select("id", "p")) == [(1, "x"), (2, "y")]


def test_stream_rate_limit_bounds_batches(spark, tmp_path):
    """maxVersionsPerTrigger: after the first commit, each batch
    advances at most N manifest versions (bounded backlog drain); the
    clamp never engages before a commit is observed, so a checkpoint
    restart cannot regress offsets."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableStreamReader,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1,)], "id long"))  # v1
    for i in range(2, 5):  # v2..v4
        t.append(spark.createDataFrame([(i,)], "id long"))

    schema = spark.read.format("laketable").load(t.path).schema
    r = LakeTableStreamReader(t.path, schema, max_versions=1)
    assert r.latestOffset() == {"version": 4}  # pre-commit: unbounded
    r.commit({"version": 1})
    assert r.latestOffset() == {"version": 2}  # clamped to +1
    parts = r.partitions({"version": 1}, {"version": 2})
    rows = [row for p in parts for b in r.read(p) for row in b.to_pylist()]
    assert [x["id"] for x in rows] == [2]  # exactly the v2 commit
    r.commit({"version": 2})
    assert r.latestOffset() == {"version": 3}


def test_writer_conflicts_with_engine_commit(spark, tmp_path):
    """Optimistic concurrency across surfaces: a format write whose base
    snapshot was invalidated by an engine commit must error on publish
    (exclusive manifest create), never clobber the winner."""
    from pyspark.sql.types import StructType

    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableWriter,
        _WrittenFile,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    schema = spark.read.format("laketable").load(t.path).schema
    w = LakeTableWriter(t.path, schema, overwrite=False)  # base = v1
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))  # v2 wins
    with pytest.raises(RuntimeError, match="already committed"):
        w.commit([_WrittenFile(filename="", n_rows=0)])
    assert sorted(r.id for r in t.read().collect()) == [1, 2]  # winner intact


def test_format_reads_compacted_and_clustered_tables(spark, tmp_path):
    """Maintenance ops don't break the interop path: after appends and
    compact() the format reader sees the identical snapshot the engine
    does (units rewritten into clustered multi-file layouts included)."""
    t = LakeTable(spark, str(tmp_path / "t"), stats_cols=["id"])
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(50)], "id long, v string"))
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(50, 100)], "id long, v string"))
    t.compact(cluster_by=["id"], target_files=4)
    got = spark.read.format("laketable").load(t.path)
    assert _rows(got) == _rows(t.read())
    assert got.count() == 100


def test_unknown_filter_types_never_prune(spark, tmp_path):
    """Pruning collects only known-semantics filter types: an
    EqualNullSafe(col, None) pushed against a NULL partition must NOT
    prune the unit holding the matching rows (regression: it previously
    pattern-matched as a non-IsNull filter and dropped live data)."""
    from pyspark.sql.datasource import EqualNullSafe

    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame([(1, None), (2, "x")], "id long, p string")
    )
    schema = spark.read.format("laketable").load(t.path).schema
    r = LakeTableReader(t.path, None, schema)
    leftover = list(r.pushFilters([EqualNullSafe(("p",), None)]))
    assert len(leftover) == 1
    assert len(r.partitions()) == len(LakeTableReader(t.path, None, schema).partitions())
    # end-to-end: the null-safe predicate still finds its row
    got = spark.read.format("laketable").load(t.path).where("p <=> NULL")
    assert [row.id for row in got.collect()] == [1]


def test_stream_applies_active_deletion_vectors(spark, tmp_path):
    """ADVICE r3 #2: streamed slices must resolve tombstones — a table
    with MoR deletes streams its SURVIVING rows, not the raw files; a
    later MoR delete of already-streamed rows refuses (retraction)."""
    import time

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        )
    )
    t.delete(F.col("id") % 3 == 0, mode="mor")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("laketable")
            .load(t.path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        time.sleep(0.2)

    drain()
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [
        1, 2, 4, 5, 7, 8,
    ]

    # new unit arriving WITH a pre-existing DV set: still streams fine
    t.append(spark.createDataFrame([(20, "w")], "id long, v string"))
    drain()
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [
        1, 2, 4, 5, 7, 8, 20,
    ]

    # MoR-delete a row that was already delivered: the stream must
    # refuse (no silent re-delivery, no silent drop)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t.delete(F.col("id") == 1, mode="mor")
    t.append(spark.createDataFrame([(30, "z")], "id long, v string"))
    with pytest.raises(StreamingQueryException, match="already-streamed"):
        q = (
            spark.readStream.format("laketable")
            .load(t.path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)


def test_writer_respects_declared_layout_of_empty_table(spark, tmp_path):
    """ADVICE r3 #4: appending unpartitioned data to a partitioned
    table that currently has ZERO data units must fail layout
    validation (layout comes from the manifest, not from aggregating
    unit partition_types)."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(spark.createDataFrame([(1, "x")], "id long, p string"))
    t.delete(F.col("id") == 1)  # copy-on-write: table now has no units

    df = spark.createDataFrame([(2,)], "id long")
    with pytest.raises(Exception, match="partition"):
        df.write.format("laketable").mode("append").save(t.path)

    # partitioned data with the declared layout still lands correctly
    ok = spark.createDataFrame([(3, "y")], "id long, p string")
    ok.write.format("laketable").mode("append").save(t.path)
    assert [tuple(r) for r in t.read().select("id", "p").collect()] == [(3, "y")]


def test_datasource_pins_one_snapshot_for_schema_and_scan(spark, tmp_path):
    """ADVICE r3 #3: schema() and reader() resolve `latest` once — a
    commit landing between schema inference and scan planning must not
    move the scanned snapshot past the compiled schema."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableDataSource,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))

    ds = LakeTableDataSource(options={"path": t.path})
    ddl = ds.schema()
    # a concurrent commit lands between schema inference and planning
    t.append(spark.createDataFrame([(2, "b", 9.5)], "id long, v string, w double"))
    from pyspark.sql.types import StructType

    reader = ds.reader(StructType.fromDDL(ddl))
    assert reader.snap.version == 1  # pinned, not the new latest
    # and a FRESH load sees the new snapshot
    ds2 = LakeTableDataSource(options={"path": t.path})
    assert "w" in ds2.schema()


def test_stream_writer_end_to_end_exactly_once(spark, tmp_path):
    """`writeStream.format("laketable")`: a file-source stream lands in
    the table through the Python DataSource sink; a SECOND availableNow
    run over the same checkpoint re-delivers nothing (offsets consumed),
    and a third run with NEW source files appends exactly those rows.
    The manifest's txn ledger carries the sink's batch watermark."""
    import json as _json
    import os

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "t")

    def put(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def drain():
        q = (
            spark.readStream.schema("id long, v string")
            .json(str(src))
            .writeStream.format("laketable")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(target)
        )
        q.awaitTermination()

    put("a.jsonl", [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    drain()
    t = LakeTable(spark, target)
    assert _rows(t.read()) == [(1, "a"), (2, "b")]

    drain()  # same checkpoint, no new files: nothing re-delivered
    assert _rows(t.read()) == [(1, "a"), (2, "b")]

    put("b.jsonl", [{"id": 3, "v": "c"}])
    drain()
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]

    # the format's own reader sees the streamed table too
    assert _rows(spark.read.format("laketable").load(target)) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    log = os.path.join(target, "_log")
    latest = sorted(f for f in os.listdir(log) if f.endswith(".json"))[-1]
    with open(os.path.join(log, latest)) as f:
        doc = _json.load(f)
    # default txn app derives from checkpointLocation (collision-free
    # across independent queries, ADVICE r4 #1)
    assert any(k.startswith("pyds-stream") for k in doc["txn"])
    assert any(ckpt in k for k in doc["txn"])


def test_stream_writer_commit_replay_is_idempotent(spark, tmp_path):
    """Driver-level exactly-once: replaying commit() for an
    already-committed batchId publishes no new manifest and removes the
    re-staged files (the failure window between executor writes and the
    manifest claim cannot double-append)."""
    import os

    import pyarrow as pa

    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableStreamWriter,
        _WrittenFile,
    )

    target = str(tmp_path / "t")
    schema = spark.createDataFrame([], "id long").schema
    w = LakeTableStreamWriter(target, schema, {})

    def staged(ids):
        batch = pa.record_batch({"id": pa.array(ids, type=pa.int64())})
        return w.write(iter([batch]))

    m1 = staged([1, 2])
    w.commit([m1], batchId=0)
    m2 = staged([3])
    w.commit([m2], batchId=1)
    log = os.path.join(target, "_log")
    assert len(os.listdir(log)) == 2

    # replay batch 1 (checkpoint recovered mid-commit): re-staged unit
    # must be dropped, no third manifest
    m3 = staged([3])
    staged_dir = os.path.join(target, m3.filename)
    assert os.path.isdir(staged_dir)
    w.commit([m3], batchId=1)
    assert len(os.listdir(log)) == 2
    assert not os.path.isdir(staged_dir)

    got = sorted(r.id for r in spark.read.format("laketable").load(target).collect())
    assert got == [1, 2, 3]

    # abort removes staged files as well
    m4 = staged([9])
    w.abort([m4], batchId=2)
    assert not os.path.isdir(os.path.join(target, m4.filename))

    # append-only contract: overwrite output mode is refused
    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableDataSource,
    )

    ds = LakeTableDataSource({"path": target})
    with pytest.raises(ValueError):
        ds.streamWriter(schema, overwrite=True)


def test_batch_writer_prunes_uncommitted_task_attempts(spark, tmp_path):
    """Spark may run a task twice (retry/speculation); both attempts
    write into the shared staged unit, but only the committed attempt's
    message reaches the driver. Commit must publish ONLY files named in
    messages — the orphan attempt's file (including a truncated one) is
    pruned, not silently included."""
    import os

    import pyarrow as pa

    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableWriter,
    )

    target = str(tmp_path / "t")
    schema = spark.createDataFrame([], "id long").schema
    w = LakeTableWriter(target, schema, overwrite=False)

    def attempt(ids):
        batch = pa.record_batch({"id": pa.array(ids, type=pa.int64())})
        return w.write(iter([batch]))

    kept = attempt([1, 2])
    lost = attempt([1, 2])  # first attempt of the same split: no message
    # plus a truncated file from a killed attempt
    unit_dir = os.path.join(target, w.unit_rel)
    with open(os.path.join(unit_dir, "part-truncated.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x00garbage")
    w.commit([kept])

    got = sorted(r.id for r in spark.read.format("laketable").load(target).collect())
    assert got == [1, 2]  # not [1,1,2,2], and no read error
    files = [
        f for f in os.listdir(unit_dir) if f.endswith(".parquet")
    ]
    assert files == [kept.filename]
    assert lost.filename not in files


def test_batch_writer_carries_txn_and_identity_ledgers(spark, tmp_path):
    """A pyds batch append between stream-sink batches must not drop
    the manifest's sticky fields: the txn ledger (or a checkpoint
    replay would double-append) and identity_high (or the engine would
    re-issue identity values)."""
    import json as _json
    import os

    import pyarrow as pa

    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableStreamWriter,
        LakeTableWriter,
    )

    target = str(tmp_path / "t")
    schema = spark.createDataFrame([], "id long").schema
    sw = LakeTableStreamWriter(target, schema, {})

    def staged(writer, ids):
        batch = pa.record_batch({"id": pa.array(ids, type=pa.int64())})
        return writer.write(iter([batch]))

    sw.commit([staged(sw, [1])], batchId=0)

    bw = LakeTableWriter(target, schema, overwrite=False)
    bw.commit([staged(bw, [2])])

    log = os.path.join(target, "_log")
    latest = sorted(f for f in os.listdir(log) if f.endswith(".json"))[-1]
    with open(os.path.join(log, latest)) as f:
        doc = _json.load(f)
    assert doc["txn"] == {"pyds-stream": 0}

    # a replayed stream batch 0 after the interleaved append still
    # publishes nothing
    m = staged(sw, [1])
    sw.commit([m], batchId=0)
    got = sorted(r.id for r in spark.read.format("laketable").load(target).collect())
    assert got == [1, 2]


def test_stream_writer_partitioned_layout(spark, tmp_path):
    """Partitioned streaming sink: tasks write Hive col=value subdirs,
    each commit publishes one unit per partition combo, the engine and
    format readers agree, and a mismatched partition_by option is
    refused instead of corrupting the declared layout."""
    import json as _json
    import os

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "t")

    def put(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def drain():
        q = (
            spark.readStream.schema("id long, v string, p string")
            .json(str(src))
            .writeStream.format("laketable")
            .option("checkpointLocation", ckpt)
            .option("partition_by", "p")
            .trigger(availableNow=True)
            .start(target)
        )
        q.awaitTermination()

    put("a.jsonl", [
        {"id": 1, "v": "a", "p": "x"},
        {"id": 2, "v": "b", "p": "y"},
    ])
    drain()
    put("b.jsonl", [{"id": 3, "v": "c", "p": "x"}])
    drain()

    got = spark.read.format("laketable").load(target)
    assert _rows(got.select("id", "v", "p")) == [
        (1, "a", "x"), (2, "b", "y"), (3, "c", "x"),
    ]
    t = LakeTable(spark, target)
    assert _rows(t.read().select("id", "v", "p")) == [
        (1, "a", "x"), (2, "b", "y"), (3, "c", "x"),
    ]
    # Hive layout on disk: partition values live in dir names
    part_dirs = set()
    for dirpath, dirs, _files in os.walk(os.path.join(target, "data")):
        part_dirs.update(d for d in dirs if "=" in d)
    assert part_dirs == {"p=x", "p=y"}

    # mismatched layout is refused at commit
    import pyarrow as pa

    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableStreamWriter,
    )

    schema = spark.createDataFrame([], "id long, v string, p string").schema
    w = LakeTableStreamWriter(target, schema, {})  # no partition_by option
    batch = pa.record_batch(
        {"id": pa.array([9], type=pa.int64()),
         "v": pa.array(["z"]), "p": pa.array(["x"])}
    )
    m = w.write(iter([batch]))
    with pytest.raises(ValueError, match="declared layout"):
        w.commit([m], batchId=99)


def test_format_written_tables_carry_footer_stats_and_prune(spark, tmp_path):
    """Format WRITES are stats-skippable like engine writes (r4): each
    task harvests per-column [min,max] from the parquet footer it just
    wrote; commit publishes unit + per-file stats, so a later read with
    a disjoint range scans ZERO files — previously format-written units
    had empty stats and every query rescanned everything."""
    import json as _json
    import os

    from pyspark.sql.datasource import GreaterThan, LessThan

    target = str(tmp_path / "t")
    spark.range(0, 50).selectExpr("id", "id * 2 AS v").write.format(
        "laketable"
    ).mode("overwrite").save(target)
    spark.range(1000, 1050).selectExpr("id", "id * 2 AS v").write.format(
        "laketable"
    ).mode("append").save(target)

    log = os.path.join(target, "_log")
    latest = sorted(f for f in os.listdir(log) if f.endswith(".json"))[-1]
    with open(os.path.join(log, latest)) as f:
        doc = _json.load(f)
    unit_stats = [u["stats"] for u in doc["units"]]
    assert all("id" in s and "v" in s for s in unit_stats)
    ranges = sorted(tuple(s["id"]) for s in unit_stats)
    assert ranges == [[0, 49], [1000, 1049]] or ranges == [(0, 49), (1000, 1049)]

    schema = spark.read.format("laketable").load(target).schema
    full = LakeTableReader(target, None, schema).partitions()
    r = LakeTableReader(target, None, schema)
    list(r.pushFilters([GreaterThan(("id",), 2000)]))
    assert len(r.partitions()) == 0  # disjoint range: zero files scanned
    r2 = LakeTableReader(target, None, schema)
    list(r2.pushFilters([LessThan(("id",), 10)]))
    kept = r2.partitions()
    # only low-range files survive (per-file stats prune within the low
    # unit too), and the high unit contributes nothing
    assert 0 < len(kept) < len(full)
    high_unit = next(
        u["path"] for u in doc["units"] if u["stats"]["id"][0] >= 1000
    )
    assert all(high_unit not in p.file for p in kept)

    got = spark.read.format("laketable").load(target).where("id >= 1040")
    assert sorted(x.id for x in got.collect()) == list(range(1040, 1050))

    # streaming sink publishes stats too
    import pyarrow as pa

    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableStreamWriter,
    )

    starget = str(tmp_path / "s")
    sschema = spark.createDataFrame([], "id long").schema
    w = LakeTableStreamWriter(starget, sschema, {})
    batch = pa.record_batch({"id": pa.array([7, 8, 9], type=pa.int64())})
    w.commit([w.write(iter([batch]))], batchId=0)
    with open(os.path.join(starget, "_log", "00000001.json")) as f:
        sdoc = _json.load(f)
    assert sdoc["units"][0]["stats"]["id"] == [7, 9]


def test_stream_writer_txn_collision_raises_not_drops(spark, tmp_path):
    """ADVICE r4 #1: two writers sharing one txn app (explicit id
    collision, or a restart with a FRESH checkpoint so batchId resets
    to 0) must not silently suppress batches as replays. A batchId
    strictly below the recorded watermark raises; only batchId ==
    watermark (the one batch a crash can legitimately re-deliver) is
    dropped silently."""
    import os

    import pyarrow as pa

    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableStreamWriter,
    )

    target = str(tmp_path / "t")
    schema = spark.createDataFrame([], "id long").schema
    w1 = LakeTableStreamWriter(target, schema, {"txn_app_id": "app"})

    def staged(w, ids):
        batch = pa.record_batch({"id": pa.array(ids, type=pa.int64())})
        return w.write(iter([batch]))

    w1.commit([staged(w1, [1])], batchId=0)
    w1.commit([staged(w1, [2])], batchId=1)

    # a second query under the same app, starting from batch 0: its
    # batch is BELOW the watermark -> loud failure, staged files gone
    w2 = LakeTableStreamWriter(target, schema, {"txn_app_id": "app"})
    m = staged(w2, [99])
    staged_dir = os.path.join(target, m.filename)
    with pytest.raises(ValueError, match="below the committed watermark"):
        w2.commit([m], batchId=0)
    assert not os.path.isdir(staged_dir)
    got = sorted(
        r.id for r in spark.read.format("laketable").load(target).collect()
    )
    assert got == [1, 2]  # nothing lost, nothing ghost-appended

    # distinct checkpoint-derived defaults never collide: the same
    # batchId 0 under a different default app id commits fine
    w3 = LakeTableStreamWriter(
        target, schema, {"checkpointLocation": str(tmp_path / "ck3")}
    )
    w4 = LakeTableStreamWriter(
        target, schema, {"checkpointLocation": str(tmp_path / "ck4")}
    )
    assert w3.txn_app != w4.txn_app
    w3.commit([staged(w3, [3])], batchId=0)
    w4.commit([staged(w4, [4])], batchId=0)
    got = sorted(
        r.id for r in spark.read.format("laketable").load(target).collect()
    )
    assert got == [1, 2, 3, 4]


def test_reader_skips_zombie_files_when_manifest_lists_names(spark, tmp_path):
    """ADVICE r4 #3: a speculative/zombie task attempt that lands its
    parquet AFTER commit-time pruning leaves an unmanifested file in the
    unit dir. When the manifest records the unit's exact file names
    (file_stats), both readers (pyds format + LakeTable engine) must
    scan only the listed files — never the directory walk."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableWriter,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable

    target = str(tmp_path / "t")
    schema = spark.createDataFrame([], "id long").schema
    w = LakeTableWriter(target, schema, overwrite=False)
    batch = pa.record_batch({"id": pa.array([1, 2], type=pa.int64())})
    kept = w.write(iter([batch]))
    w.commit([kept])

    # zombie attempt finishes AFTER the commit's prune pass
    unit_dir = os.path.join(target, w.unit_rel)
    pq.write_table(
        pa.table({"id": pa.array([777], type=pa.int64())}),
        os.path.join(unit_dir, "part-zombie.parquet"),
    )

    got = sorted(
        r.id for r in spark.read.format("laketable").load(target).collect()
    )
    assert got == [1, 2]  # pyds reader ignores the unmanifested file
    t = LakeTable(spark, target)
    eng = sorted(r.id for r in t.read().collect())
    assert eng == [1, 2]  # engine reader too


def test_format_reads_struct_map_and_widened_decimal_like_the_engine(
    spark, tmp_path
):
    """The format's schema is the unit schemas the manifest records,
    folded as LakeTable.read folds them: a struct column, a map column
    and a decimal widened across two appends read through the format
    with the engine's schema and rows."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.sql(
            "SELECT 1L AS id, named_struct('a', 1L, 'b', 'x') AS st, "
            "map('k', 1L) AS m, CAST(1.5 AS DECIMAL(5,2)) AS d"
        )
    )
    t.append(
        spark.sql(
            "SELECT 2L AS id, named_struct('a', 2L, 'b', CAST(NULL AS STRING)) AS st, "
            "map('k', 2L, 'j', CAST(NULL AS BIGINT)) AS m, "
            "CAST(123456.25 AS DECIMAL(10,2)) AS d"
        )
    )
    engine = t.read()
    fmt = spark.read.format("laketable").load(t.path)
    assert dict(engine.dtypes)["d"] == "decimal(10,2)"
    assert fmt.schema == engine.schema
    assert sorted(map(str, fmt.collect())) == sorted(map(str, engine.collect()))


def test_pyds_commits_carry_committed_at_for_time_travel(spark, tmp_path):
    """pyds-written manifests must carry committed_at: TIMESTAMP AS OF
    and vacuum(retain_hours) index it on every manifest (r5 review:
    KeyError on mixed-writer tables)."""
    from datetime import datetime, timedelta, timezone

    p = str(tmp_path / "t")
    _mk(spark, [(1, "a")]).write.format("laketable").mode("overwrite").save(p)
    t = LakeTable(spark, p)
    t.append(_mk(spark, [(2, "b")]))  # engine commit on top
    future = datetime.now(timezone.utc) + timedelta(hours=1)
    assert t.version_at_timestamp(future) == t.latest_version()
    t.vacuum(retain_hours=24)  # must not KeyError
    assert t.read().count() == 2

    # streaming sink commits too
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.jsonl", "w") as f:
        f.write(_json.dumps({"id": 3, "v": "c"}) + "\n")
    q = (
        spark.readStream.schema("id long, v string")
        .json(str(src))
        .writeStream.format("laketable")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(p)
    )
    q.awaitTermination()
    assert t.version_at_timestamp(future) == t.latest_version()


def test_stream_reader_raises_on_rewrite_unless_ignore_changes(
    spark, tmp_path
):
    """A non-append commit between stream offsets re-delivers the whole
    rewrite; default is to fail like Delta's streaming source, with
    ignore_changes opting into at-least-once (r5 review)."""
    import time

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, "a"), (2, "b")]))
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain(extra_opts=None):
        r = spark.readStream.format("laketable")
        for k, v in (extra_opts or {}).items():
            r = r.option(k, v)
        q = (
            r.load(t.path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        time.sleep(0.2)

    drain()
    assert spark.read.parquet(out).count() == 2

    t.merge_upsert(_mk(spark, [(1, "rewritten")]), keys="id")  # non-append
    with pytest.raises(Exception, match="rewritten|ignore_changes"):
        drain()
    # opting in accepts at-least-once redelivery of the rewritten units
    drain({"ignore_changes": "true"})
    assert spark.read.parquet(out).count() >= 4


def test_batch_reader_pickles_without_the_unit_list(spark, tmp_path):
    """Scan tasks need only decode metadata; pickling the parsed
    manifest (all units + per-file stats) into every task is the 100 TB
    anti-pattern (r5 review)."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableReader,
    )

    t = LakeTable(spark, str(tmp_path / "t"), stats_cols=["id"])
    t.overwrite(_mk(spark, [(i, "v") for i in range(100)]))
    schema = spark.read.format("laketable").load(t.path).schema
    r = LakeTableReader(t.path, None, schema)
    parts = r.partitions()
    assert parts
    clone = pickle.loads(pickle.dumps(r))
    assert not hasattr(clone.snap, "units")  # manifest stripped
    # and the stripped reader still decodes a slice correctly
    batches = list(clone.read(parts[0]))
    assert sum(b.num_rows for b in batches) > 0


def test_stream_sink_validation_failure_drops_staged_files(spark, tmp_path):
    """A partition-layout mismatch must not leak a staged data dir per
    failed trigger (r5 review)."""
    import pyarrow as pa

    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        LakeTableStreamWriter,
    )

    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame([(1, "x")], "id long, p string")
    )
    schema = spark.createDataFrame([], "id long, p string").schema
    w = LakeTableStreamWriter(t.path, schema, {})  # missing partition_by
    batch = pa.record_batch(
        {"id": pa.array([9], type=pa.int64()), "p": pa.array(["z"])}
    )
    m = w.write(iter([batch]))
    staged = os.path.join(t.path, m.filename)
    assert os.path.isdir(staged)
    with pytest.raises(ValueError, match="partition_by"):
        w.commit([m], batchId=0)
    assert not os.path.isdir(staged)
