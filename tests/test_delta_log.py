"""Delta-protocol log interop (sources/delta_log): a laketable exported
to `_delta_log/` must be openable by any Delta reader — proven here by
an INDEPENDENT minimal replay (this module's own reader) plus raw
protocol-shape assertions on the JSON actions — and a Delta table must
convert in place to a laketable with hash-equal contents. Covers
VERDICT r4 next #3 / missing #1 (reference stores everything as Delta:
01_bronze_csv_to_delta.py:49-55)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
    DeltaSnapshot,
    convert_delta,
    export_delta_log,
    read_delta_log,
)
from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_export_actions_follow_delta_protocol_shape(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y"), (3, "c", None)],
            "id long, v string, p string",
        )
    )
    v = export_delta_log(t)
    assert v == 0
    log = os.path.join(t.path, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(l) for l in open(log) if l.strip()]
    protocol = [a["protocol"] for a in actions if "protocol" in a]
    meta = [a["metaData"] for a in actions if "metaData" in a]
    adds = [a["add"] for a in actions if "add" in a]
    assert protocol == [{"minReaderVersion": 1, "minWriterVersion": 2}]
    assert len(meta) == 1 and meta[0]["partitionColumns"] == ["p"]
    schema = json.loads(meta[0]["schemaString"])
    assert [f["name"] for f in schema["fields"]] == ["id", "v", "p"]
    assert meta[0]["format"]["provider"] == "parquet"
    assert len(adds) == 3  # one per partition file
    for a in adds:
        assert not os.path.isabs(a["path"])
        assert a["size"] > 0 and a["dataChange"] is True
        assert json.loads(a["stats"])["numRecords"] == 1
    # NULL partition value is a JSON null, not the Hive sentinel string
    null_adds = [a for a in adds if a["partitionValues"]["p"] is None]
    assert len(null_adds) == 1


def test_roundtrip_laketable_export_read_hash_equal(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    df = spark.createDataFrame(
        [(i, f"v{i}", ["x", "y", "z"][i % 3]) for i in range(30)],
        "id long, v string, p string",
    )
    t.overwrite(df)
    export_delta_log(t)
    got = read_delta_log(spark, t.path)
    assert dict(got.dtypes) == dict(t.read().dtypes)
    assert _rows(got.select("id", "v", "p")) == _rows(
        t.read().select("id", "v", "p")
    )


def test_reexport_is_incremental_and_idempotent(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    assert export_delta_log(t) == 0
    assert export_delta_log(t) == 0  # unchanged snapshot: no new version

    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert export_delta_log(t) == 1
    v1 = [
        json.loads(l)
        for l in open(
            os.path.join(t.path, "_delta_log", f"{1:020d}.json")
        )
        if l.strip()
    ]
    # diff only: no second protocol/metaData, adds but no removes
    assert not any("protocol" in a or "metaData" in a for a in v1)
    assert any("add" in a for a in v1)
    assert not any("remove" in a for a in v1)

    # overwrite: removes for the old files, adds for the new
    t.overwrite(spark.createDataFrame([(9, "z")], "id long, v string"))
    assert export_delta_log(t) == 2
    v2 = [
        json.loads(l)
        for l in open(
            os.path.join(t.path, "_delta_log", f"{2:020d}.json")
        )
        if l.strip()
    ]
    assert any("remove" in a for a in v2) and any("add" in a for a in v2)
    assert _rows(read_delta_log(spark, t.path)) == [(9, "z")]
    # VERSION AS OF replays to the pre-overwrite state
    assert _rows(read_delta_log(spark, t.path, version=1)) == [
        (1, "a"), (2, "b"),
    ]


def test_export_refuses_inexpressible_snapshots(spark, tmp_path):
    t2 = LakeTable(spark, str(tmp_path / "t2"))
    t2.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    t2.rename_column("v", "label")  # column mapping
    with pytest.raises(NotImplementedError, match="column mapping"):
        export_delta_log(t2)


def test_convert_delta_adopts_in_place_zero_copy(spark, tmp_path):
    src = LakeTable(spark, str(tmp_path / "src"), partition_by=["p"])
    df = spark.createDataFrame(
        [(i, float(i) / 4, "x" if i % 2 else "y") for i in range(20)],
        "id long, w double, p string",
    )
    src.overwrite(df)
    export_delta_log(src)

    # a pure-Delta clone: copy data files + _delta_log, NOT _log
    import shutil

    clone = str(tmp_path / "clone")
    shutil.copytree(src.path, clone)
    shutil.rmtree(os.path.join(clone, "_log"))

    t = convert_delta(spark, clone)
    assert sorted(t.partition_by) == ["p"]
    assert dict(t.read().dtypes) == dict(src.read().dtypes)
    assert _rows(t.read().select("id", "w", "p")) == _rows(
        src.read().select("id", "w", "p")
    )
    # the adopted table is a full laketable: DML + time travel work
    t.delete(F.col("id") == 0)
    assert t.count_rows() == 19
    assert t.count_rows(version=1) == 20
    # an unmanifested extra file in a data dir stays invisible (exact
    # file names came from the Delta add actions)
    some_unit = next(
        u for u in t._read_manifest(1) if u.file_stats
    )
    extra = os.path.join(t.path, some_unit.path, "part-zombie.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"id": pa.array([777])}), extra)
    assert t.count_rows(version=1) == 20


def test_reader_bootstraps_from_checkpoint(spark, tmp_path):
    """A Delta table whose older JSON commits were cleaned up after a
    checkpoint (the standard Delta maintenance shape) still opens: the
    reader replays checkpoint parquet + trailing JSON commits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    export_delta_log(t)
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    export_delta_log(t)

    # build a version-1 checkpoint equivalent to the replayed state,
    # then delete the JSON commits it covers
    snap = DeltaSnapshot(t.path)
    log = os.path.join(t.path, "_delta_log")
    meta_action = None
    for vf in sorted(os.listdir(log)):
        if vf.endswith(".json"):
            for line in open(os.path.join(log, vf)):
                if line.strip() and "metaData" in json.loads(line):
                    meta_action = json.loads(line)["metaData"]
    # pyarrow cannot infer empty-struct columns; drop empty maps the
    # reader treats as absent anyway
    meta_action.pop("configuration", None)
    meta_action["format"].pop("options", None)
    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
         "metaData": None, "add": None, "remove": None},
        {"protocol": None, "metaData": meta_action, "add": None,
         "remove": None},
    ]
    for rel, pvals in snap.files.items():
        rows.append(
            {"protocol": None, "metaData": None,
             "add": {"path": rel,
                     "partitionValues": pvals or None,
                     "size": 1, "modificationTime": 0,
                     "dataChange": True},
             "remove": None}
        )
    pq.write_table(
        pa.Table.from_pylist(rows),
        os.path.join(log, f"{1:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "size": len(rows)}, f)
    for vf in list(os.listdir(log)):
        if vf.endswith(".json") and vf.split(".")[0].isdigit():
            os.remove(os.path.join(log, vf))

    got = read_delta_log(spark, t.path)
    assert _rows(got) == [(1, "a"), (2, "b")]

    # and new JSON commits after the checkpoint still apply
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    export_delta_log(t)
    assert _rows(read_delta_log(spark, t.path)) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_checkpoint_writer_and_commit_expiry_roundtrip(spark, tmp_path):
    """write_delta_checkpoint + expire_delta_commits: after writing the
    checkpoint and deleting every covered JSON commit, the table still
    opens to the identical state, later exports append on top, and the
    whole log replays end-to-end."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        expire_delta_commits,
        write_delta_checkpoint,
    )

    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, None)], "id long, p string"
        )
    )
    export_delta_log(t)
    t.append(spark.createDataFrame([(4, "x")], "id long, p string"))
    export_delta_log(t)

    v = write_delta_checkpoint(t.path)
    assert v == 1
    assert expire_delta_commits(t.path, honor_retention=False) == 2  # both JSON commits covered

    got = read_delta_log(spark, t.path)
    assert sorted((r.id, r.p) for r in got.collect()) == [
        (1, "x"), (2, "y"), (3, None), (4, "x"),
    ]

    # exports resume past the checkpoint and replay on top of it
    t.append(spark.createDataFrame([(5, "z")], "id long, p string"))
    assert export_delta_log(t) == 2
    assert sorted(r.id for r in read_delta_log(spark, t.path).collect()) == [
        1, 2, 3, 4, 5,
    ]


def test_export_reemits_metadata_on_schema_evolution(spark, tmp_path):
    """Additive evolution between exports must re-emit metaData — a
    stale schemaString would make every Delta reader silently drop the
    new column (r5 review finding)."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    export_delta_log(t)
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, w double")
    )
    export_delta_log(t)
    got = read_delta_log(spark, t.path)
    assert "w" in got.columns
    assert sorted((r.id, r.w) for r in got.collect()) == [
        (1, None), (2, 9.5),
    ]
    # a pure data change after the schema change does NOT re-emit
    t.append(spark.createDataFrame([(3, "c", 1.0)], "id long, v string, w double"))
    v = export_delta_log(t)
    acts = [
        json.loads(l)
        for l in open(os.path.join(t.path, "_delta_log", f"{v:020d}.json"))
        if l.strip()
    ]
    assert not any("metaData" in a for a in acts)


def test_reader_rejects_nonexistent_version(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    export_delta_log(t)
    with pytest.raises(ValueError, match="does not exist"):
        read_delta_log(spark, t.path, version=99)


def test_reader_nullfills_metadata_only_columns(spark, tmp_path):
    """ALTER TABLE ADD COLUMN with no rewritten file: the column lives
    only in schemaString. Real Delta readers return NULL; so must
    read_delta_log (r5 review finding)."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    export_delta_log(t)
    # splice an extra column into the recorded schemaString, the way a
    # foreign writer's metadata-only ADD COLUMN would
    log = os.path.join(t.path, "_delta_log", f"{0:020d}.json")
    acts = [json.loads(l) for l in open(log) if l.strip()]
    for a in acts:
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            sch["fields"].append(
                {"name": "extra", "type": "double", "nullable": True,
                 "metadata": {}}
            )
            a["metaData"]["schemaString"] = json.dumps(sch)
    with open(log, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    got = read_delta_log(spark, t.path)
    assert [(r.id, r.extra) for r in got.collect()] == [(1, None)]


def test_checkpoint_partition_values_are_parquet_maps(spark, tmp_path):
    """The Delta checkpoint contract types add.partitionValues (and
    metaData.configuration) as map<string,string>; pylist struct
    inference would break foreign readers (r5 review finding)."""
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        write_delta_checkpoint,
    )

    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame([(1, "x"), (2, "y")], "id long, p string")
    )
    export_delta_log(t)
    v = write_delta_checkpoint(t.path)
    cp = os.path.join(t.path, "_delta_log", f"{v:020d}.checkpoint.parquet")
    sch = pq.read_schema(cp)
    add_t = sch.field("add").type
    pv = add_t.field("partitionValues").type
    assert pt.is_map(pv), pv
    # and our own reader replays it fine
    assert sorted(r.id for r in read_delta_log(spark, t.path).collect()) == [1, 2]


def test_export_and_convert_roundtrip_escaped_partition_values(
    spark, tmp_path
):
    """Partition values needing Hive %XX escaping (and NULL) must cross
    the Delta boundary as their LOGICAL values: add.partitionValues
    carries the unescaped string (Delta's contract), the reader restores
    it, and convert_delta re-escapes into the manifest the way native
    writers do."""
    import shutil

    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(1, "a:b"), (2, "plain"), (3, None), (4, "50%off")],
            "id long, p string",
        )
    )
    export_delta_log(t)

    # the add actions carry LOGICAL values, not dir-name escapes
    log = os.path.join(t.path, "_delta_log", f"{0:020d}.json")
    pvals = {
        a["add"]["partitionValues"]["p"]
        for a in (json.loads(l) for l in open(log) if l.strip())
        if "add" in a
    }
    assert pvals == {"a:b", "plain", None, "50%off"}

    got = read_delta_log(spark, t.path)
    assert sorted(
        ((r.id, r.p) for r in got.collect()), key=repr
    ) == sorted(
        ((r.id, r.p) for r in t.read().select("id", "p").collect()),
        key=repr,
    )

    clone = str(tmp_path / "clone")
    shutil.copytree(t.path, clone)
    shutil.rmtree(os.path.join(clone, "_log"))
    c = convert_delta(spark, clone)
    assert sorted(
        ((r.id, r.p) for r in c.read().select("id", "p").collect()),
        key=repr,
    ) == sorted(
        ((r.id, r.p) for r in t.read().select("id", "p").collect()),
        key=repr,
    )
    # partition pruning on the converted table resolves the escaped value
    assert sorted(
        r.id for r in c.read(partitions={"p": ["a:b"]}).collect()
    ) == [1]


# ---------------------------------------------------------------------------
# deletion vectors (VERDICT r5 next #4): reader v3 `deletionVectors`
# feature — laketable MoR deletes export as real roaring-bitmap DVs, the
# reader applies them, checkpoints and conversion preserve them
# ---------------------------------------------------------------------------


def test_mor_delete_exports_as_delta_dv_and_reads_row_exact(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(50)], "id long, v string"
        )
    )
    t.delete(F.col("id") % 7 == 0, mode="mor")
    v = export_delta_log(t)
    assert v == 0

    log = os.path.join(t.path, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(l) for l in open(log) if l.strip()]
    protocol = [a["protocol"] for a in actions if "protocol" in a][0]
    assert protocol["minReaderVersion"] == 3
    assert protocol["minWriterVersion"] == 7
    assert "deletionVectors" in protocol["readerFeatures"]
    assert "deletionVectors" in protocol["writerFeatures"]
    dv_adds = [
        a["add"] for a in actions
        if "add" in a and a["add"].get("deletionVector")
    ]
    assert dv_adds, "no add action carries a deletionVector descriptor"
    for a in dv_adds:
        d = a["deletionVector"]
        assert d["storageType"] == "u"
        assert d["cardinality"] > 0 and d["sizeInBytes"] > 0
        stats = json.loads(a["stats"])
        # physical row count + wide bounds, per PROTOCOL.md
        assert stats["tightBounds"] is False
    assert sum(d["deletionVector"]["cardinality"] for d in dv_adds) == 8
    # the DV .bin exists under the table root
    bins = [f for f in os.listdir(t.path) if f.startswith("deletion_vector_")]
    assert len(bins) == 1

    got = read_delta_log(spark, t.path)
    assert _rows(got.select("id", "v")) == _rows(t.read().select("id", "v"))
    assert got.count() == 42


def test_incremental_dv_export_and_version_travel(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(i, i * 10) for i in range(40)], "id long, w long")
    )
    export_delta_log(t)  # v0: plain tier (no DVs yet)
    log0 = os.path.join(t.path, "_delta_log", f"{0:020d}.json")
    p0 = next(
        a["protocol"]
        for a in (json.loads(l) for l in open(log0) if l.strip())
        if "protocol" in a
    )
    assert p0 == {"minReaderVersion": 1, "minWriterVersion": 2}

    t.delete(F.col("id") < 5, mode="mor")
    assert export_delta_log(t) == 1  # protocol upgrade + DV re-adds
    log1 = os.path.join(t.path, "_delta_log", f"{1:020d}.json")
    acts1 = [json.loads(l) for l in open(log1) if l.strip()]
    assert [a["protocol"] for a in acts1 if "protocol" in a][0][
        "minReaderVersion"
    ] == 3
    # the changed file is replaced: remove + add-with-DV in one commit
    assert any("remove" in a for a in acts1)

    t.delete(F.col("id") >= 35, mode="mor")
    assert export_delta_log(t) == 2
    # re-export with no change: idempotent
    assert export_delta_log(t) == 2

    got = read_delta_log(spark, t.path)
    assert sorted(r.id for r in got.collect()) == list(range(5, 35))
    # VERSION AS OF replays the intermediate DV state
    v1 = read_delta_log(spark, t.path, version=1)
    assert sorted(r.id for r in v1.collect()) == list(range(5, 40))
    v0 = read_delta_log(spark, t.path, version=0)
    assert v0.count() == 40


def test_dv_checkpoint_preserves_protocol_and_tombstones(spark, tmp_path):
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        expire_delta_commits,
        write_delta_checkpoint,
    )

    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(i, "x" if i % 2 else "y") for i in range(30)], "id long, p string"
        )
    )
    t.delete(F.col("id").isin(2, 3, 28), mode="mor")
    export_delta_log(t)
    expected = _rows(t.read().select("id", "p"))
    assert write_delta_checkpoint(t.path) == 0
    assert expire_delta_commits(t.path, honor_retention=False) == 1
    # reader now bootstraps purely from the checkpoint: protocol tier and
    # DV descriptors must both survive the round-trip
    snap = DeltaSnapshot(t.path)
    assert snap.protocol["minReaderVersion"] == 3
    assert snap.dvs
    got = read_delta_log(spark, t.path)
    assert _rows(got.select("id", "p")) == expected


def test_reader_applies_inline_and_path_dv_storage(spark, tmp_path):
    """Synthesized foreign Delta log: inline ('i', z85 payload, padded)
    and absolute-path ('p', framed .bin) descriptors both apply."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.roaring import (
        serialize_rba,
        write_dv_file,
        z85_encode,
    )

    path = str(tmp_path / "foreign")
    os.makedirs(os.path.join(path, "_delta_log"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"id": list(range(10))}), os.path.join(path, "part-0.parquet")
    )
    pq.write_table(
        pa.table({"id": list(range(10, 20))}), os.path.join(path, "part-1.parquet")
    )

    # inline: delete ids 2,5 from file 0 (payload happens to be 4-aligned)
    inline_payload = serialize_rba([2, 5])
    pad = (-len(inline_payload)) % 4
    inline_desc = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(inline_payload + b"\x00" * pad),
        "sizeInBytes": len(inline_payload),
        "cardinality": 2,
    }
    # absolute path: delete rows 0,9 of file 1
    p_payload = serialize_rba([0, 9])
    img, offs = write_dv_file([p_payload])
    dv_file = str(tmp_path / "external_dv.bin")
    with open(dv_file, "wb") as f:
        f.write(img)
    p_desc = {
        "storageType": "p",
        "pathOrInlineDv": dv_file,
        "offset": offs[0],
        "sizeInBytes": len(p_payload),
        "cardinality": 2,
    }
    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "metaData": {
                "id": "foreign-dv-test",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_str,
                "partitionColumns": [],
                "configuration": {},
            }
        },
        {
            "add": {
                "path": "part-0.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
                "deletionVector": inline_desc,
            }
        },
        {
            "add": {
                "path": "part-1.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
                "deletionVector": p_desc,
            }
        },
    ]
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")

    got = sorted(r.id for r in read_delta_log(spark, path).collect())
    assert got == sorted(set(range(20)) - {2, 5, 10, 19})

    # conversion translates the DVs into laketable tombstones in place
    c = convert_delta(spark, path)
    assert sorted(r.id for r in c.read().collect()) == got
    # and a subsequent export round-trips the translated tombstones
    v = export_delta_log(c)
    reread = sorted(r.id for r in read_delta_log(spark, path, version=v).collect())
    assert reread == got


def test_reader_applies_name_mode_column_mapping(spark, tmp_path):
    """Synthesized foreign Delta table with columnMapping.mode=name:
    files store physical col-<uuid> names, partitionValues are keyed by
    the physical partition name — the reader restores logical names and
    typed partition values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "mapped")
    os.makedirs(os.path.join(path, "_delta_log"))
    os.makedirs(os.path.join(path, "p1"))
    os.makedirs(os.path.join(path, "p2"))
    # physical names in the files; the partition column is NOT stored
    pq.write_table(
        pa.table({"col-aaa": [1, 2], "col-bbb": ["x", "y"]}),
        os.path.join(path, "p1", "f1.parquet"),
    )
    pq.write_table(
        pa.table({"col-aaa": [3], "col-bbb": ["z"]}),
        os.path.join(path, "p2", "f2.parquet"),
    )
    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id", "type": "long", "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-aaa",
                    },
                },
                {
                    "name": "v", "type": "string", "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-bbb",
                    },
                },
                {
                    "name": "part", "type": "integer", "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 3,
                        "delta.columnMapping.physicalName": "col-ppp",
                    },
                },
            ],
        }
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["columnMapping"],
                "writerFeatures": ["columnMapping"],
            }
        },
        {
            "metaData": {
                "id": "mapped-test",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_str,
                "partitionColumns": ["part"],
                "configuration": {"delta.columnMapping.mode": "name"},
            }
        },
        {
            "add": {
                "path": "p1/f1.parquet",
                "partitionValues": {"col-ppp": "10"},
                "size": 1, "modificationTime": 0, "dataChange": True,
            }
        },
        {
            "add": {
                "path": "p2/f2.parquet",
                "partitionValues": {"col-ppp": "20"},
                "size": 1, "modificationTime": 0, "dataChange": True,
            }
        },
    ]
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")

    got = read_delta_log(spark, path)
    assert got.columns == ["id", "v", "part"]
    assert dict(got.dtypes)["part"] == "int"
    assert _rows(got) == [(1, "x", 10), (2, "y", 10), (3, "z", 20)]

    # in-place conversion must refuse (physical names would leak into
    # the manifest); the named fix is copy-through
    with pytest.raises(NotImplementedError, match="read_delta_log"):
        convert_delta(spark, path)


def test_reader_applies_id_mode_column_mapping(spark, tmp_path):
    """columnMapping.mode=id (VERDICT r6 next #4): columns resolve by
    parquet FIELD ID from the file footers — proven by making the
    stored column names disagree with the metaData physicalNames, which
    a name-mode reader would mis-resolve; a renamed logical schema still
    reads the right data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "idmapped")
    os.makedirs(os.path.join(path, "_delta_log"))
    sch = pa.schema(
        [
            pa.field("c1", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
            pa.field("c2", pa.string(), metadata={b"PARQUET:field_id": b"2"}),
        ]
    )
    pq.write_table(
        pa.table({"c1": [1, 2], "c2": ["x", "y"]}, schema=sch),
        os.path.join(path, "f1.parquet"),
    )
    pq.write_table(
        pa.table({"c1": [3], "c2": ["z"]}, schema=sch),
        os.path.join(path, "f2.parquet"),
    )
    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    # logical name renamed after creation; physicalName
                    # deliberately NOT the stored footer name
                    "name": "renamed_id", "type": "long", "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-stale-a",
                    },
                },
                {
                    "name": "v", "type": "string", "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-stale-b",
                    },
                },
                {
                    # added by ALTER, in no footer: null-fill via the
                    # physicalName fallback
                    "name": "later", "type": "integer", "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 3,
                        "delta.columnMapping.physicalName": "col-ccc",
                    },
                },
            ],
        }
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["columnMapping"],
                "writerFeatures": ["columnMapping"],
            }
        },
        {
            "metaData": {
                "id": "id-mapped-test",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_str,
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "id"},
            }
        },
        {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "f2.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")

    got = read_delta_log(spark, path)
    assert got.columns == ["renamed_id", "v", "later"]
    assert _rows(got) == [(1, "x", None), (2, "y", None), (3, "z", None)]


def test_reader_applies_nested_column_mapping(spark, tmp_path):
    """VERDICT r7 next #4: struct / array<struct> / map<long,struct>
    fields rename recursively under name-mode column mapping — physical
    parquet names at EVERY nesting level resolve to the logical schema,
    a nested child missing from the file footprint null-fills, and the
    result is identical through read_delta_log AND format('delta')."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table as dtmod

    dtmod.register(spark)
    path = str(tmp_path / "nested")
    os.makedirs(os.path.join(path, "_delta_log"))
    phys_t = pa.struct([("col-a", pa.int64())])
    tbl = pa.table(
        {
            "col-s": pa.array(
                [{"col-a": 1}, None, {"col-a": 3}], type=phys_t
            ),
            "col-arr": pa.array(
                [[{"col-q": "x"}, {"col-q": "y"}], None, []],
                type=pa.list_(pa.struct([("col-q", pa.string())])),
            ),
            "col-m": pa.array(
                [[(7, {"col-v": "mv"})], None, []],
                type=pa.map_(pa.int64(), pa.struct([("col-v", pa.string())])),
            ),
        }
    )
    pq.write_table(tbl, os.path.join(path, "f1.parquet"))

    def fmeta(phys, fid):
        return {
            "delta.columnMapping.id": fid,
            "delta.columnMapping.physicalName": phys,
        }

    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "s",
                    "type": {
                        "type": "struct",
                        "fields": [
                            {"name": "a", "type": "long", "nullable": True,
                             "metadata": fmeta("col-a", 11)},
                            # ALTER-added nested child: in no file
                            {"name": "b", "type": "string", "nullable": True,
                             "metadata": fmeta("col-b", 12)},
                        ],
                    },
                    "nullable": True,
                    "metadata": fmeta("col-s", 1),
                },
                {
                    "name": "arr",
                    "type": {
                        "type": "array",
                        "elementType": {
                            "type": "struct",
                            "fields": [
                                {"name": "q", "type": "string",
                                 "nullable": True,
                                 "metadata": fmeta("col-q", 21)},
                            ],
                        },
                        "containsNull": True,
                    },
                    "nullable": True,
                    "metadata": fmeta("col-arr", 2),
                },
                {
                    "name": "m",
                    "type": {
                        "type": "map",
                        "keyType": "long",
                        "valueType": {
                            "type": "struct",
                            "fields": [
                                {"name": "v", "type": "string",
                                 "nullable": True,
                                 "metadata": fmeta("col-v", 31)},
                            ],
                        },
                        "valueContainsNull": True,
                    },
                    "nullable": True,
                    "metadata": fmeta("col-m", 3),
                },
            ],
        }
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 2,
                "minWriterVersion": 5,
            }
        },
        {
            "metaData": {
                "id": "nested-mapped",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_str,
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "name"},
            }
        },
        {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")

    want = [
        ({"a": 1, "b": None}, [{"q": "x"}, {"q": "y"}], {7: {"v": "mv"}}),
        (None, None, None),
        ({"a": 3, "b": None}, [], {}),
    ]

    def norm(df):
        return [
            (
                r.s.asDict() if r.s is not None else None,
                [e.asDict() for e in r.arr] if r.arr is not None else None,
                {k: v.asDict() for k, v in r.m.items()}
                if r.m is not None
                else None,
            )
            for r in df.orderBy(F.col("s.a").asc_nulls_last()).collect()
        ]

    eng = read_delta_log(spark, path)
    assert eng.columns == ["s", "arr", "m"]
    got_eng = norm(eng)
    # row order: s.a 1, 3, then the all-null row
    assert got_eng == [want[0], want[2], want[1]]
    pyds = spark.read.format("delta").load(path).select("s", "arr", "m")
    assert norm(pyds) == got_eng


def test_reader_applies_nested_id_mode_column_mapping(spark, tmp_path):
    """id-mode + nested: the top-level column resolves by parquet field
    id (stored name disagrees with physicalName); the struct's CHILDREN
    resolve by their physicalName metadata (the spec requires writers
    to stamp physicalName in both modes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table as dtmod

    dtmod.register(spark)
    path = str(tmp_path / "idnested")
    os.makedirs(os.path.join(path, "_delta_log"))
    sch = pa.schema(
        [
            pa.field(
                "stored-name-s",
                pa.struct([("col-a", pa.int64())]),
                metadata={b"PARQUET:field_id": b"1"},
            )
        ]
    )
    pq.write_table(
        pa.table(
            {"stored-name-s": pa.array([{"col-a": 5}], type=sch[0].type)},
            schema=sch,
        ),
        os.path.join(path, "f1.parquet"),
    )
    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "s",
                    "type": {
                        "type": "struct",
                        "fields": [
                            {"name": "a", "type": "long", "nullable": True,
                             "metadata": {
                                 "delta.columnMapping.id": 11,
                                 "delta.columnMapping.physicalName": "col-a",
                             }},
                        ],
                    },
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        # stale: id resolution must win at the top level
                        "delta.columnMapping.physicalName": "col-stale",
                    },
                }
            ],
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "id-nested-mapped",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_str,
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "id"},
            }
        },
        {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")

    eng = read_delta_log(spark, path)
    assert [r.s.asDict() for r in eng.collect()] == [{"a": 5}]
    pyds = spark.read.format("delta").load(path).select("s")
    assert [r.s.asDict() for r in pyds.collect()] == [{"a": 5}]


def test_delta_changes_batch_cdf_from_log(spark, tmp_path):
    """delta_changes derives row-level inserts/deletes per commit from
    the JSON log alone: appends -> inserts, overwrite -> deletes+
    inserts, MoR delete -> ONLY the DV-diff rows as deletes."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        delta_changes,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(i, "a") for i in range(10)], "id long, v string")
    )
    export_delta_log(t)  # delta v0: 10 inserts
    t.append(spark.createDataFrame([(10, "b"), (11, "b")], "id long, v string"))
    export_delta_log(t)  # delta v1: 2 inserts
    t.delete(F.col("id").isin(3, 10), mode="mor")
    export_delta_log(t)  # delta v2: DV re-add -> exactly 2 delete rows

    ch = delta_changes(spark, t.path, 0)
    by = {
        (r._commit_version, r._change_type, r.id, r.v) for r in ch.collect()
    }
    assert {(0, "insert", i, "a") for i in range(10)} <= by
    assert {(1, "insert", 10, "b"), (1, "insert", 11, "b")} <= by
    assert {(2, "delete", 3, "a"), (2, "delete", 10, "b")} <= by
    assert len(by) == 14  # nothing else: the DV diff is rows, not files

    # window selection: only v2
    ch2 = delta_changes(spark, t.path, 2)
    assert {(r._change_type, r.id) for r in ch2.collect()} == {
        ("delete", 3), ("delete", 10),
    }

    # overwrite: old live rows delete (tombstoned rows do NOT re-delete),
    # new rows insert
    t.overwrite(spark.createDataFrame([(99, "z")], "id long, v string"))
    export_delta_log(t)  # delta v3
    ch3 = delta_changes(spark, t.path, 3, 3)
    got3 = {(r._change_type, r.id) for r in ch3.collect()}
    assert ("insert", 99) in got3
    assert ("delete", 3) not in got3 and ("delete", 10) not in got3
    assert got3 == {("insert", 99)} | {
        ("delete", i) for i in range(12) if i not in (3, 10)
    }

    # compaction emits nothing: synthesize dataChange=false replace
    import json as _json

    log = os.path.join(t.path, "_delta_log")
    vmax = max(
        int(f.split(".")[0]) for f in os.listdir(log) if f.endswith(".json")
    )
    snap = DeltaSnapshot(t.path)
    rel = next(iter(snap.files))
    with open(os.path.join(log, f"{vmax + 1:020d}.json"), "w") as f:
        f.write(_json.dumps({"remove": {"path": rel, "dataChange": False}}) + "\n")
        f.write(
            _json.dumps(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {},
                        "size": 1,
                        "modificationTime": 0,
                        "dataChange": False,
                    }
                }
            )
            + "\n"
        )
    assert delta_changes(spark, t.path, vmax + 1).count() == 0

    # expired commits refuse with the retention contract named
    with pytest.raises(ValueError, match="starting_version"):
        delta_changes(spark, t.path, 99)


def test_dv_payload_defaults_offset_to_after_version_byte(tmp_path):
    """The descriptor's `offset` field is optional: when absent, the DV
    payload sits immediately after the 1-byte format version (offset 1)."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import dv_payload
    from real_time_e_commerce_analytics_lakehouse_spark.sources.roaring import (
        serialize_rba,
        write_dv_file,
    )

    payload = serialize_rba([0, 3, 7])
    img, offs = write_dv_file([payload])
    assert offs[0] == 1
    p = str(tmp_path / "dv.bin")
    with open(p, "wb") as f:
        f.write(img)
    desc = {"storageType": "p", "pathOrInlineDv": p,
            "sizeInBytes": len(payload), "cardinality": 3}  # no offset
    assert dv_payload(str(tmp_path), desc) == payload


def test_delta_changes_reconstructs_final_snapshot(spark, tmp_path):
    """Fold property: Σ inserts − Σ deletes over the full change window
    equals the final snapshot, row for row — the invariant that makes a
    change feed usable for downstream materialization."""
    from collections import Counter

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        delta_changes,
    )

    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(i, i % 3, "x" if i % 2 else "y") for i in range(40)],
            "id long, grp long, p string",
        )
    )
    export_delta_log(t)
    t.delete((F.col("id") % 4 == 0) & (F.col("p") == "y"), mode="mor")
    export_delta_log(t)
    t.append(
        spark.createDataFrame([(100, 1, "x"), (101, 2, "z")],
                              "id long, grp long, p string")
    )
    export_delta_log(t)
    t.delete(F.col("id") == 100, mode="mor")
    export_delta_log(t)

    ch = delta_changes(spark, t.path, 0)
    acc: Counter = Counter()
    for r in ch.collect():
        key = (r.id, r.grp, r.p)
        if r._change_type == "insert":
            acc[key] += 1
        else:
            acc[key] -= 1
    assert all(v in (0, 1) for v in acc.values())
    folded = sorted(k for k, v in acc.items() if v == 1)
    final = sorted(
        (r.id, r.grp, r.p)
        for r in read_delta_log(spark, t.path).collect()
    )
    assert folded == final
    # and the Delta view agrees with the laketable's own read
    assert final == sorted(
        (r.id, r.grp, r.p) for r in t.read().select("id", "grp", "p").collect()
    )


def test_reader_bootstraps_from_multipart_checkpoint(spark, tmp_path):
    """Large Delta tables ship classic MULTI-PART checkpoints
    (N.checkpoint.<i>.<parts>.parquet + `parts` in _last_checkpoint);
    the parts partition the action set arbitrarily, so the reader
    applies them all. Built by splitting a single-part checkpoint."""
    import pyarrow.parquet as pq

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        write_delta_checkpoint,
    )

    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(i, ["a", "b", "c"][i % 3]) for i in range(30)],
            "id long, p string",
        )
    )
    t.delete(F.col("id") < 4, mode="mor")
    export_delta_log(t)
    expected = _rows(t.read().select("id", "p"))
    v = write_delta_checkpoint(t.path)

    log = os.path.join(t.path, "_delta_log")
    single = os.path.join(log, f"{v:020d}.checkpoint.parquet")
    tbl = pq.read_table(single)
    half = max(1, tbl.num_rows // 2)
    pq.write_table(
        tbl.slice(0, half),
        os.path.join(log, f"{v:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    pq.write_table(
        tbl.slice(half),
        os.path.join(log, f"{v:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
    )
    os.remove(single)
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": v, "size": tbl.num_rows, "parts": 2}, f)
    # force a pure checkpoint bootstrap: drop the covered JSON commits
    for fn in list(os.listdir(log)):
        if fn.endswith(".json") and fn.split(".")[0].isdigit():
            os.remove(os.path.join(log, fn))

    got = read_delta_log(spark, t.path)
    assert _rows(got.select("id", "p")) == expected
    snap = DeltaSnapshot(t.path)
    assert snap.dvs  # the DV survived the multi-part split too

    # an incomplete part set refuses loudly instead of silently
    # dropping half the table
    os.remove(
        os.path.join(log, f"{v:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    )
    with pytest.raises(FileNotFoundError, match="incomplete"):
        DeltaSnapshot(t.path)


def test_clone_export_emits_absolute_uris_not_escaping_paths(spark, tmp_path):
    """A shallow clone's units reference the SOURCE table's files; the
    Delta spec allows table-relative paths or fully-qualified URIs —
    never `../`-escaping relatives (foreign readers resolve strictly
    inside the root). Export must emit file: URIs for such adds, and
    the reader must resolve them."""
    src = LakeTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.createDataFrame([(i, f"v{i}") for i in range(12)], "id long, v string")
    )
    clone = src.clone(str(tmp_path / "clone"))
    v = export_delta_log(clone)
    log = os.path.join(clone.path, "_delta_log", f"{v:020d}.json")
    adds = [
        json.loads(l)["add"] for l in open(log)
        if l.strip() and "add" in json.loads(l)
    ]
    assert adds
    for a in adds:
        assert ".." not in a["path"], f"escaping path leaked: {a['path']}"
        assert a["path"].startswith("file://")
    got = read_delta_log(spark, clone.path)
    assert _rows(got.select("id", "v")) == _rows(clone.read().select("id", "v"))
    # idempotent re-export (canonical keys stable across replay)
    assert export_delta_log(clone) == v
    # conversion refuses out-of-root references with the fix named
    import shutil as _sh

    foreign = str(tmp_path / "foreign")
    os.makedirs(foreign)
    _sh.copytree(
        os.path.join(clone.path, "_delta_log"),
        os.path.join(foreign, "_delta_log"),
    )
    with pytest.raises(NotImplementedError, match="OUTSIDE its root"):
        convert_delta(spark, foreign)


def test_delta_changes_since_cursor_resume_and_replay(spark, tmp_path):
    """Resumable CDF consumption: each poll returns only the commits
    since the last ACK; an un-acked batch replays (at-least-once); a
    caught-up cursor returns None."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        delta_ack,
        delta_changes_since,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    cur = str(tmp_path / "state" / "cursor.json")
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    export_delta_log(t)

    batch, v = delta_changes_since(spark, t.path, cur)
    assert v == 0 and {r.id for r in batch.collect()} == {1, 2}
    # crash before ack: the same window replays
    batch2, v2 = delta_changes_since(spark, t.path, cur)
    assert v2 == 0 and {r.id for r in batch2.collect()} == {1, 2}
    delta_ack(cur, v2)
    # caught up
    assert delta_changes_since(spark, t.path, cur) == (None, 0)

    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    export_delta_log(t)
    t.delete(F.col("id") == 1, mode="mor")
    export_delta_log(t)
    batch3, v3 = delta_changes_since(spark, t.path, cur)
    assert v3 == 2
    got = {(r._change_type, r.id) for r in batch3.collect()}
    assert got == {("insert", 3), ("delete", 1)}
    delta_ack(cur, v3)
    assert delta_changes_since(spark, t.path, cur) == (None, 2)


def test_read_delta_log_partition_pruning(spark, tmp_path):
    """read_delta_log(partitions=...) drops non-selected files from the
    scan LIST (driver-side, zero I/O) — verified via inputFiles(), and
    row-exact incl. a NULL-partition selection and DV interaction."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(i, ["x", "y", None][i % 3]) for i in range(30)],
            "id long, p string",
        )
    )
    t.delete((F.col("id") % 10 == 0) & (F.col("p") == "x"), mode="mor")
    export_delta_log(t)

    full = read_delta_log(spark, t.path)
    only_x = read_delta_log(spark, t.path, partitions={"p": ["x"]})
    assert len(only_x.inputFiles()) < len(full.inputFiles())
    assert sorted(r.id for r in only_x.collect()) == sorted(
        r.id for r in t.read(partitions={"p": ["x"]}).collect()
    )
    # NULL partition selectable; DV'd rows stay excluded in pruned reads
    nulls = read_delta_log(spark, t.path, partitions={"p": [None]})
    assert {r.p for r in nulls.collect()} == {None}
    assert all(r.id % 10 != 0 or r.p != "x" for r in only_x.collect())

    with pytest.raises(ValueError, match="not partition columns"):
        read_delta_log(spark, t.path, partitions={"nope": [1]})


@pytest.mark.parametrize("seed", [3, 11, 27])
def test_delta_changes_fold_invariant_random_lifecycles(spark, tmp_path, seed):
    """Randomized lifecycle pin (seeded, not hypothesis — each example
    costs several Spark jobs): any interleaving of append / overwrite /
    MoR-delete / compact commits, each mirrored to the Delta log, must
    satisfy the CDF fold invariant (Σinserts − Σdeletes == final
    snapshot, multiset-exact)."""
    import random as _random

    from collections import Counter

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        delta_changes,
    )

    rng = _random.Random(seed)
    t = LakeTable(spark, str(tmp_path / f"t{seed}"))
    next_id = 0

    def fresh(n):
        nonlocal next_id
        rows = [(next_id + i, rng.randrange(5)) for i in range(n)]
        next_id += n
        return spark.createDataFrame(rows, "id long, g long")

    t.overwrite(fresh(12))
    export_delta_log(t)
    for _ in range(4):
        op = rng.choice(["append", "overwrite", "mor", "compact"])
        if op == "append":
            t.append(fresh(rng.randrange(1, 6)))
        elif op == "overwrite":
            t.overwrite(fresh(rng.randrange(3, 8)))
        elif op == "mor":
            t.delete(F.col("g") == rng.randrange(5), mode="mor")
        else:
            t.compact()
        export_delta_log(t)

    acc: Counter = Counter()
    for r in delta_changes(spark, t.path, 0).collect():
        acc[(r.id, r.g)] += 1 if r._change_type == "insert" else -1
    assert all(v in (0, 1) for v in acc.values()), acc
    folded = sorted(k for k, v in acc.items() if v == 1)
    assert folded == sorted((r.id, r.g) for r in t.read().collect())


def _v2_meta_actions(schema_fields, partition_cols=(), features=("v2Checkpoint",)):
    return [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": list(features),
                "writerFeatures": list(features),
            }
        },
        {
            "metaData": {
                "id": "v2cp-test",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": list(schema_fields)}
                ),
                "partitionColumns": list(partition_cols),
                "configuration": {},
            }
        },
    ]


def test_reader_bootstraps_from_v2_checkpoint_with_sidecars(spark, tmp_path):
    """VERDICT r6 next #3: a v2 checkpoint (uuid-named parquet with one
    checkpointMetadata action and sidecar actions pointing at
    _delta_log/_sidecars parquet files holding the adds) bootstraps the
    snapshot row-exactly vs a JSON-replay of the same log — proven by
    DELETING the covered JSON commits so only the checkpoint can supply
    them — and later JSON commits still replay on top."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "v2cp")
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    fields = [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "p", "type": "string", "nullable": True, "metadata": {}},
    ]
    data = {
        "f1.parquet": ([1, 2], "a"),
        "f2.parquet": ([3, 4], "b"),
        "f3.parquet": ([5], "a"),
        "f4.parquet": ([6], "b"),
    }
    for fn, (ids, _) in data.items():
        pq.write_table(pa.table({"id": ids}), os.path.join(path, fn))

    def add(fn):
        return {
            "add": {
                "path": fn,
                "partitionValues": {"p": data[fn][1]},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        }

    def write_commit(v, actions):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")

    write_commit(0, _v2_meta_actions(fields, ["p"]) + [add("f1.parquet"),
                                                       add("f2.parquet")])
    write_commit(1, [add("f3.parquet")])
    write_commit(2, [add("f4.parquet")])

    json_twin = str(tmp_path / "twin")
    shutil.copytree(path, json_twin)
    expect = _rows(read_delta_log(spark, json_twin))
    assert expect == [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "a"), (6, "b")]

    # v2 checkpoint at version 1: metadata + protocol inline, file
    # actions split across two sidecars
    os.makedirs(os.path.join(log, "_sidecars"))
    pq.write_table(
        pa.Table.from_pylist([add("f1.parquet"), add("f3.parquet")]),
        os.path.join(log, "_sidecars", "sc-1111.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist([add("f2.parquet")]),
        os.path.join(log, "_sidecars", "sc-2222.parquet"),
    )
    cp_rows = (
        [{"checkpointMetadata": {"version": 1}}]
        + _v2_meta_actions(fields, ["p"])
        + [
            {"sidecar": {"path": "sc-1111.parquet", "sizeInBytes": 1,
                         "modificationTime": 0}},
            {"sidecar": {"path": "sc-2222.parquet", "sizeInBytes": 1,
                         "modificationTime": 0}},
        ]
    )
    # pyarrow's from_pylist infers the schema from the FIRST row, so
    # every row must carry every action column (None where absent), and
    # empty structs (configuration/options) are uninferable - drop them
    keys = ["checkpointMetadata", "protocol", "metaData", "sidecar"]
    for r in cp_rows:
        if r.get("metaData"):
            r["metaData"].pop("configuration", None)
            r["metaData"]["format"].pop("options", None)
        for k in keys:
            r.setdefault(k, None)
    pq.write_table(
        pa.Table.from_pylist(cp_rows),
        os.path.join(log, "00000000000000000001.checkpoint.80a083e8.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1}, f)
    # commits 0-1 are covered by the checkpoint: delete them so the only
    # way to see f1-f3 is through the sidecars
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    assert _rows(read_delta_log(spark, path)) == expect
    # time travel to the checkpoint version itself
    assert _rows(read_delta_log(spark, path, version=1)) == [
        r for r in expect if r[0] <= 5
    ]


def test_reader_accepts_json_v2_checkpoint_inline_actions(spark, tmp_path):
    """A v2 checkpoint in JSON format with the file actions INLINE (no
    sidecars) also bootstraps; a checkpointMetadata/version mismatch is
    refused loudly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "v2json")
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    pq.write_table(
        pa.table({"id": [7, 8]}), os.path.join(path, "f1.parquet")
    )
    fields = [{"name": "id", "type": "long", "nullable": True, "metadata": {}}]
    add = {
        "add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True}
    }
    cp = os.path.join(log, "00000000000000000000.checkpoint.deadbeef.json")
    with open(cp, "w") as f:
        for a in (
            [{"checkpointMetadata": {"version": 0}}]
            + _v2_meta_actions(fields)
            + [add]
        ):
            f.write(json.dumps(a) + "\n")
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 0}, f)

    assert _rows(read_delta_log(spark, path)) == [(7,), (8,)]

    # version mismatch inside checkpointMetadata -> loud refusal
    with open(cp, "w") as f:
        for a in (
            [{"checkpointMetadata": {"version": 5}}]
            + _v2_meta_actions(fields)
            + [add]
        ):
            f.write(json.dumps(a) + "\n")
    with pytest.raises(ValueError, match="checkpointMetadata"):
        read_delta_log(spark, path)


def test_delta_changes_prefers_cdc_actions_with_update_images(spark, tmp_path):
    """VERDICT r6 next #5: a commit carrying cdc actions is read from
    its _change_data files — update_preimage/update_postimage pairs
    survive (the log-derived diff can only say delete+insert), the
    commit's add/remove actions are NOT double-counted, and cdc-less
    commits in the same window still use the derived path."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        delta_changes,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "cdf")
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    os.makedirs(os.path.join(path, "_change_data"))
    fields = [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "string", "nullable": True, "metadata": {}},
    ]

    def write_commit(ver, actions):
        with open(os.path.join(log, f"{ver:020d}.json"), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")

    def add(fn):
        return {"add": {"path": fn, "partitionValues": {}, "size": 1,
                        "modificationTime": 0, "dataChange": True}}

    # v0: plain insert of f1 (no cdc -> derived insert)
    pq.write_table(
        pa.table({"id": [1, 2], "v": ["a", "b"]}),
        os.path.join(path, "f1.parquet"),
    )
    write_commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {
                "metaData": {
                    "id": "cdf-test",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(
                        {"type": "struct", "fields": fields}
                    ),
                    "partitionColumns": [],
                    "configuration": {
                        "delta.enableChangeDataFeed": "true"
                    },
                }
            },
            add("f1.parquet"),
        ],
    )
    # v1: UPDATE id=2 'b'->'B', rewriting f1 as f2, WITH a cdc file
    # carrying the paired images (what a real CDF writer emits)
    pq.write_table(
        pa.table({"id": [1, 2], "v": ["a", "B"]}),
        os.path.join(path, "f2.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "id": [2, 2],
                "v": ["b", "B"],
                "_change_type": ["update_preimage", "update_postimage"],
            }
        ),
        os.path.join(path, "_change_data", "cdc-0.parquet"),
    )
    write_commit(
        1,
        [
            add("f2.parquet"),
            {"remove": {"path": "f1.parquet", "dataChange": True}},
            {"cdc": {"path": "_change_data/cdc-0.parquet",
                     "partitionValues": {}, "size": 1,
                     "dataChange": False}},
        ],
    )
    # v2: cdc-less delete of f2 -> derived path again
    write_commit(2, [{"remove": {"path": "f2.parquet", "dataChange": True}}])

    got = sorted(
        (r._commit_version, r._change_type, r.id, r.v)
        for r in delta_changes(spark, path, 0, 2).collect()
    )
    # direct reconstruction oracle: v0 inserts from f1; v1 exactly the
    # cdc file (paired update images, NOT the add/remove diff which
    # would read delete(1,'a'),delete(2,'b'),insert(1,'a'),insert(2,'B'));
    # v2 derived deletes of f2's rows
    assert got == [
        (0, "insert", 1, "a"),
        (0, "insert", 2, "b"),
        (1, "update_postimage", 2, "B"),
        (1, "update_preimage", 2, "b"),
        (2, "delete", 1, "a"),
        (2, "delete", 2, "B"),
    ]
    # windowing still respects version bounds with cdc in the middle
    only_v1 = sorted(
        (r._change_type, r.id, r.v)
        for r in delta_changes(spark, path, 1, 1).collect()
    )
    assert only_v1 == [
        ("update_postimage", 2, "B"),
        ("update_preimage", 2, "b"),
    ]


# --------------------------------------------------------------------------
# checkpoint fidelity: stats + tombstones survive the bootstrap (r8)
# --------------------------------------------------------------------------


def test_checkpoint_carries_stats_and_tombstones(spark, tmp_path):
    """A checkpoint must not lose add.stats (data skipping would
    silently die for every reader bootstrapping from it) nor unexpired
    remove tombstones (strict (path, dvId)-keyed replayers and foreign
    VACUUMs need the deletion timestamps after JSON log cleanup)."""
    import pyarrow.parquet as pq

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        expire_delta_commits,
        write_delta_checkpoint,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    export_delta_log(t)
    # overwrite tombstones the v0 files
    t.overwrite(
        spark.createDataFrame([(3, "c"), (4, "d")], "id long, v string")
    )
    export_delta_log(t)

    pre = DeltaSnapshot(t.path)
    assert pre.stats and set(pre.stats) == set(pre.files)
    assert pre.tombstones  # v0 files are tombstoned, not re-added

    v = write_delta_checkpoint(t.path)
    cp = os.path.join(
        t.path, "_delta_log", f"{v:020d}.checkpoint.parquet"
    )
    rows = pq.read_table(cp).to_pylist()
    cp_adds = [r["add"] for r in rows if r.get("add")]
    cp_removes = [r["remove"] for r in rows if r.get("remove")]
    assert cp_adds and all(
        a["stats"] is not None
        and json.loads(a["stats"])["numRecords"] >= 0
        for a in cp_adds
    )
    assert sorted(r["path"] for r in cp_removes) == sorted(pre.tombstones)
    for r in cp_removes:
        assert r["deletionTimestamp"] is not None
        assert r["dataChange"] is False

    # bootstrap from the checkpoint alone: stats + tombstones intact
    assert expire_delta_commits(t.path, honor_retention=False) == 2
    post = DeltaSnapshot(t.path)
    assert post.files == pre.files
    assert {k: post.stats[k]["numRecords"] for k in post.stats} == {
        k: pre.stats[k]["numRecords"] for k in pre.stats
    }
    assert set(post.tombstones) == set(pre.tombstones)
    got = read_delta_log(spark, t.path)
    assert sorted(r.id for r in got.collect()) == [3, 4]


def test_checkpoint_omits_expired_tombstones(spark, tmp_path):
    """Tombstones older than delta.deletedFileRetentionDuration are
    eligible for omission — a table configured with a short retention
    checkpoints without its ancient removes, and re-adding a removed
    path cancels the tombstone entirely."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        write_delta_checkpoint,
    )

    path = str(tmp_path / "f")
    os.makedirs(os.path.join(path, "_delta_log"))
    for fn in ("f1.parquet", "f2.parquet"):
        pq.write_table(pa.table({"id": [1]}), os.path.join(path, fn))
    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
            ],
        }
    )
    commits = [
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {
                "id": "m", "format": {"provider": "parquet"},
                "schemaString": schema_str, "partitionColumns": [],
                "configuration": {
                    "delta.deletedFileRetentionDuration": "interval 1 second"
                },
            }},
            {"add": {"path": "f1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
            {"add": {"path": "f2.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ],
        [   # ancient remove of f1 (way past the 1 s retention),
            # remove+re-add of f2 (tombstone must cancel)
            {"remove": {"path": "f1.parquet", "deletionTimestamp": 1000,
                        "dataChange": True}},
            {"remove": {"path": "f2.parquet", "deletionTimestamp": 1000,
                        "dataChange": True}},
            {"add": {"path": "f2.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ],
    ]
    for v, acts in enumerate(commits):
        with open(
            os.path.join(path, "_delta_log", f"{v:020d}.json"), "w"
        ) as f:
            for a in acts:
                f.write(json.dumps(a) + "\n")

    snap = DeltaSnapshot(path)
    assert set(snap.files) == {"f2.parquet"}
    assert set(snap.tombstones) == {"f1.parquet"}  # f2 re-add cancelled

    v = write_delta_checkpoint(path)
    cp = os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.parquet")
    rows = pq.read_table(cp).to_pylist()
    assert [r["remove"] for r in rows if r.get("remove")] == []


def test_retention_interval_parsing():
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        _deleted_file_retention_ms,
    )

    assert _deleted_file_retention_ms({}) == 604_800_000
    assert _deleted_file_retention_ms(
        {"delta.deletedFileRetentionDuration": "interval 2 days"}
    ) == 2 * 86_400_000
    assert _deleted_file_retention_ms(
        {"delta.deletedFileRetentionDuration": "interval 1 hour 30 minutes"}
    ) == 5_400_000
    # unparseable never silently SHORTENS retention
    assert _deleted_file_retention_ms(
        {"delta.deletedFileRetentionDuration": "bogus"}
    ) == 604_800_000


def test_reader_tolerates_vacuum_protocol_check(spark, tmp_path):
    """vacuumProtocolCheck is a reader feature the spec defines as a
    reader NO-OP (it gates VACUUM implementations); a table carrying it
    must open, not refuse."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "vpc")
    os.makedirs(os.path.join(path, "_delta_log"))
    pq.write_table(pa.table({"id": [1, 2]}), os.path.join(path, "f.parquet"))
    schema_str = json.dumps(
        {"type": "struct",
         "fields": [{"name": "id", "type": "long", "nullable": True,
                     "metadata": {}}]}
    )
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["vacuumProtocolCheck"],
                      "writerFeatures": ["vacuumProtocolCheck"]}},
        {"metaData": {"id": "m", "format": {"provider": "parquet"},
                      "schemaString": schema_str, "partitionColumns": [],
                      "configuration": {}}},
        {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    got = read_delta_log(spark, path)
    assert sorted(r.id for r in got.collect()) == [1, 2]
    # an actually-unknown reader feature still refuses loudly
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(json.dumps(
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["madeUpFeature"],
                          "writerFeatures": ["madeUpFeature"]}}) + "\n")
    with pytest.raises(Exception, match="madeUpFeature"):
        DeltaSnapshot(path)


def test_timestamp_as_of_prefers_in_commit_timestamps(tmp_path):
    """With the inCommitTimestamp writer feature, commitInfo's
    inCommitTimestamp is the authoritative commit clock: version
    resolution must use it over the (possibly skewed) file-level
    timestamp."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        resolve_delta_version_at,
    )

    path = str(tmp_path / "ict")
    os.makedirs(os.path.join(path, "_delta_log"))
    pq.write_table(pa.table({"id": [1]}), os.path.join(path, "f.parquet"))
    schema_str = json.dumps(
        {"type": "struct",
         "fields": [{"name": "id", "type": "long", "nullable": True,
                     "metadata": {}}]}
    )
    commits = [
        [
            {"commitInfo": {"timestamp": 999_999,
                            "inCommitTimestamp": 10_000}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "m", "format": {"provider": "parquet"},
                          "schemaString": schema_str,
                          "partitionColumns": [],
                          "configuration": {
                              "delta.enableInCommitTimestamps": "true"}}},
            {"add": {"path": "f.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ],
        [
            # wall-clock skew: file timestamp BELOW v0's, ICT monotonic
            {"commitInfo": {"timestamp": 500_000,
                            "inCommitTimestamp": 20_000}},
        ],
    ]
    for v, acts in enumerate(commits):
        with open(
            os.path.join(path, "_delta_log", f"{v:020d}.json"), "w"
        ) as f:
            for a in acts:
                f.write(json.dumps(a) + "\n")

    assert resolve_delta_version_at(path, 10_000) == 0
    assert resolve_delta_version_at(path, 19_999) == 0
    assert resolve_delta_version_at(path, 20_000) == 1
    with pytest.raises(ValueError):
        resolve_delta_version_at(path, 9_999)


# --------------------------------------------------------------------------
# CONVERT TO DELTA / RESTORE TIMESTAMP AS OF / GENERATE manifest (r8)
# --------------------------------------------------------------------------


def test_convert_parquet_dir_to_delta(spark, tmp_path):
    """convert_parquet_to_delta adopts a Hive-partitioned parquet dir
    in place: dir values (escaped, incl. NULL sentinel) become
    canonical logical partitionValues, every add carries footer stats,
    and both read tiers return the original rows."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        convert_parquet_to_delta,
    )

    p = str(tmp_path / "plain")
    spark.createDataFrame(
        [(1, "a", "x y"), (2, "b", "50%2Boff"), (3, "c", None)],
        "id long, v string, part string",
    ).write.partitionBy("part").parquet(p)
    assert convert_parquet_to_delta(spark, p, "part string") == 0

    snap = DeltaSnapshot(p)
    assert snap.partition_cols == ["part"]
    assert snap.stats and set(snap.stats) == set(snap.files)
    # canonical (unescaped) logical strings in partitionValues
    vals = sorted(
        pv["part"] if pv["part"] is not None else "<null>"
        for pv in snap.files.values()
    )
    assert vals == ["50%2Boff", "<null>", "x y"]
    got = sorted(
        (r.id, r.v, r.part)
        for r in read_delta_log(spark, p).collect()
    )
    assert got == [(1, "a", "x y"), (2, "b", "50%2Boff"), (3, "c", None)]

    # a second convert refuses (the table is already Delta)
    with pytest.raises(FileExistsError):
        convert_parquet_to_delta(spark, p, "part string")


def test_convert_refuses_mixed_schemas_and_wrong_layout(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        convert_parquet_to_delta,
    )

    p = str(tmp_path / "mixed")
    os.makedirs(p)
    pq.write_table(pa.table({"id": [1]}), os.path.join(p, "a.parquet"))
    pq.write_table(pa.table({"id": ["s"]}), os.path.join(p, "b.parquet"))
    with pytest.raises(ValueError, match="mixed parquet schemas"):
        convert_parquet_to_delta(spark, p)

    # partitioned layout without partition_schema refuses
    q = str(tmp_path / "part")
    os.makedirs(os.path.join(q, "d=1"))
    pq.write_table(
        pa.table({"id": [1]}), os.path.join(q, "d=1", "a.parquet")
    )
    with pytest.raises(ValueError, match="partition"):
        convert_parquet_to_delta(spark, q)


def test_fluent_convert_detail_restore_timestamp_generate(spark, tmp_path):
    """The delta-spark verb spellings: convertToDelta('parquet.`p`'),
    detail(), restoreToTimestamp, generate('symlink_format_manifest')."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table as dtmod
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_fluent import (
        DeltaTable,
    )

    dtmod.register(spark)

    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.parquet(p)
    dt = DeltaTable.convertToDelta(spark, f"parquet.`{p}`")
    assert sorted(r.id for r in dt.toDF().collect()) == [1, 2]

    d = dt.detail().collect()[0]
    assert d.format == "delta" and d.numFiles >= 1
    assert d.sizeInBytes > 0 and d.minReaderVersion == 1

    # overwrite at v1, then restore to v0 BY TIMESTAMP (commitInfo
    # timestamps are written by the converter and the DML tier)
    import json as _json

    t0 = _json.loads(
        open(os.path.join(p, "_delta_log", f"{0:020d}.json")).readline()
    )["commitInfo"]["timestamp"]
    import time as _time

    _time.sleep(0.05)
    spark.createDataFrame([(9, "z")], "id long, v string").write.format(
        "delta"
    ).mode("overwrite").save(p)
    assert sorted(r.id for r in dt.toDF().collect()) == [9]
    v = dt.restoreToTimestamp(t0)
    assert v == 2
    assert sorted(r.id for r in dt.toDF().collect()) == [1, 2]

    # manifest generation: one manifest naming exactly the live files
    rels = dt.generate("symlink_format_manifest")
    assert rels == ["_symlink_format_manifest/manifest"]
    uris = open(os.path.join(p, rels[0])).read().strip().splitlines()
    snap = DeltaSnapshot(p)
    assert sorted(uris) == sorted(
        "file://" + os.path.join(os.path.abspath(p), rel)
        for rel in snap.files
    )


def test_generate_manifest_partitioned_and_dv_refusal(spark, tmp_path):
    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table as dtmod
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_fluent import (
        DeltaTable,
    )

    dtmod.register(spark)

    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "x"), (2, "y")], "id long, part string"
    ).write.format("delta").option("partition_by", "part").mode(
        "overwrite"
    ).save(p)
    dt = DeltaTable.forPath(spark, p)
    rels = dt.generate("symlink_format_manifest")
    assert sorted(os.path.dirname(r) for r in rels) == [
        "_symlink_format_manifest/part=x",
        "_symlink_format_manifest/part=y",
    ]
    # regeneration drops stale partitions (delete partition y)
    dt.delete("part = 'y'")
    rels2 = dt.generate("symlink_format_manifest")
    assert [os.path.dirname(r) for r in rels2] == [
        "_symlink_format_manifest/part=x"
    ]
    assert not os.path.isdir(
        os.path.join(p, "_symlink_format_manifest", "part=y")
    )

    # a DV-bearing snapshot refuses (manifest readers scan whole files)
    t = LakeTable(spark, str(tmp_path / "dv"))
    t.overwrite(
        spark.createDataFrame([(i,) for i in range(6)], "id long")
    )
    t.delete(F.col("id") == 3, mode="mor")
    export_delta_log(t)
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        generate_symlink_manifest,
    )

    with pytest.raises(NotImplementedError, match="deletion vectors"):
        generate_symlink_manifest(t.path)


def test_type_widening_reads_and_verbs(spark, tmp_path):
    """typeWidening reader feature: files written before an
    ALTER ... TYPE widening carry narrower footer types (int32 under a
    long schema, float under double); every tier must read them at the
    DECLARED width — mixed-width footprints included — and OPTIMIZE
    must compact across the width boundary."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table as dtmod
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        delta_changes,
        optimize_delta,
    )

    dtmod.register(spark)
    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "_delta_log"))
    pq.write_table(
        pa.table({"id": pa.array([1, 2], type=pa.int32()),
                  "x": pa.array([1.5, 2.5], type=pa.float32())}),
        os.path.join(p, "f1.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([3], type=pa.int64()),
                  "x": pa.array([3.5], type=pa.float64())}),
        os.path.join(p, "f2.parquet"),
    )
    schema_str = json.dumps(
        {"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "x", "type": "double", "nullable": True,
             "metadata": {}},
        ]}
    )
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"],
                      "writerFeatures": ["typeWidening"]}},
        {"metaData": {"id": "m", "format": {"provider": "parquet"},
                      "schemaString": schema_str, "partitionColumns": [],
                      "configuration": {}}},
        {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "f2.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")

    want = [(1, 1.5), (2, 2.5), (3, 3.5)]
    for df in (
        read_delta_log(spark, p),
        spark.read.format("delta").load(p),
    ):
        assert dict(df.dtypes) == {"id": "bigint", "x": "double"}
        assert sorted((r.id, r.x) for r in df.collect()) == want

    # the log-derived change feed scans the same mixed widths
    ch = delta_changes(spark, p, 0, 0)
    assert sorted((r.id, r._change_type) for r in ch.collect()) == [
        (1, "insert"), (2, "insert"), (3, "insert"),
    ]

    # OPTIMIZE compacts across the width boundary and the rewritten
    # footers carry the declared (wide) types
    res = optimize_delta(spark, p, target_file_bytes=1 << 30)
    assert res["rewritten"] == 2 and res["written"] == 1
    snap = DeltaSnapshot(p)
    (new_rel,) = list(snap.files)
    foot = pq.read_schema(os.path.join(p, new_rel))
    assert foot.field(foot.get_field_index("id")).type == pa.int64()
    assert sorted(
        (r.id, r.x) for r in read_delta_log(spark, p).collect()
    ) == want


def test_alter_properties_enables_cdf_and_protocol_floor(spark, tmp_path):
    """ALTER TABLE SET TBLPROPERTIES: enabling CDF on a plain table
    re-emits metaData with the property, raises the protocol floor to
    writer 4, and subsequent DML emits real cdc files (no more
    hand-editing the log to turn CDF on)."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table as dtmod
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_dml import (
        update_delta,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_fluent import (
        DeltaTable,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        delta_changes,
    )

    dtmod.register(spark)
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.format("delta").mode("overwrite").save(p)
    dt = DeltaTable.forPath(spark, p)
    v = dt.setProperties({"delta.enableChangeDataFeed": "true"})
    assert v == 1
    snap = DeltaSnapshot(p)
    assert snap.configuration["delta.enableChangeDataFeed"] == "true"
    assert snap.protocol["minWriterVersion"] >= 4
    res = update_delta(spark, p, "id = 2", {"v": "'B'"})
    ch = delta_changes(spark, p, res["version"], res["version"])
    assert sorted((r._change_type, r.v) for r in ch.collect()) == [
        ("update_postimage", "B"), ("update_preimage", "b"),
    ]
    # unset round-trips
    dt.unsetProperties(["delta.enableChangeDataFeed"])
    assert "delta.enableChangeDataFeed" not in DeltaSnapshot(p).configuration


def test_alter_properties_column_mapping_upgrade(spark, tmp_path):
    """'none' -> 'name' mapping upgrade: every field gets physicalName
    = its CURRENT name (existing files keep resolving) and a fresh id,
    maxColumnId recorded, protocol floor (2,5); a post-upgrade append
    through format('delta') and a post-upgrade read both work; other
    transitions refuse."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table as dtmod
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_fluent import (
        DeltaTable,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        alter_delta_properties,
    )

    dtmod.register(spark)
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [((1,), "a")], "s struct<a: long>, v string"
    ).write.format("delta").mode("overwrite").save(p)
    DeltaTable.forPath(spark, p).setProperties(
        {"delta.columnMapping.mode": "name"}
    )
    snap = DeltaSnapshot(p)
    assert snap.column_mapping_mode == "name"
    by = {f["name"]: f for f in snap.schema_json["fields"]}
    assert by["s"]["metadata"]["delta.columnMapping.physicalName"] == "s"
    nested = by["s"]["type"]["fields"][0]
    assert nested["metadata"]["delta.columnMapping.physicalName"] == "a"
    ids = {
        by["s"]["metadata"]["delta.columnMapping.id"],
        by["v"]["metadata"]["delta.columnMapping.id"],
        nested["metadata"]["delta.columnMapping.id"],
    }
    assert ids == {1, 2, 3}
    assert snap.configuration["delta.columnMapping.maxColumnId"] == "3"
    assert snap.protocol["minReaderVersion"] >= 2
    assert snap.protocol["minWriterVersion"] >= 5

    # pre-upgrade file still reads; post-upgrade append + evolution work
    spark.createDataFrame(
        [((2,), "b")], "s struct<a: long>, v string"
    ).write.format("delta").mode("append").save(p)
    got = sorted(
        (r.s.a, r.v) for r in read_delta_log(spark, p).collect()
    )
    assert got == [(1, "a"), (2, "b")]

    with pytest.raises(NotImplementedError, match="transitions"):
        alter_delta_properties(
            p, {"delta.columnMapping.mode": "id"}
        )


def test_upgrade_protocol_carries_legacy_features(spark, tmp_path):
    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table as dtmod
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_fluent import (
        DeltaTable,
    )

    dtmod.register(spark)
    p = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "id long").write.format("delta").mode(
        "overwrite"
    ).save(p)
    dt = DeltaTable.forPath(spark, p)
    dt.upgradeTableProtocol(1, 4)
    dt.upgradeTableProtocol(3, 7)
    proto = DeltaSnapshot(p).protocol
    assert proto["minReaderVersion"] == 3
    assert "changeDataFeed" in proto["writerFeatures"]  # writer-4 legacy
    assert "appendOnly" in proto["writerFeatures"]
    with pytest.raises(ValueError, match="downgrade"):
        dt.upgradeTableProtocol(1, 2)
    # the table still reads through both tiers after the upgrade
    assert read_delta_log(spark, p).count() == 1


def test_expire_honors_log_retention(spark, tmp_path):
    """Default log cleanup keeps commits younger than
    delta.logRetentionDuration even when the checkpoint covers them
    (time travel / streams may still need them); a short configured
    retention lets them expire."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        alter_delta_properties,
        expire_delta_commits,
        write_delta_checkpoint,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1,)], "id long"))
    export_delta_log(t)
    write_delta_checkpoint(t.path)
    # fresh commits stay under the default 30-day retention
    assert expire_delta_commits(t.path) == 0
    assert read_delta_log(spark, t.path).count() == 1

    # a 1-second retention lets the covered commits expire
    alter_delta_properties(
        t.path, {"delta.logRetentionDuration": "interval 1 second"}
    )
    import time as _time

    write_delta_checkpoint(t.path)
    _time.sleep(1.1)
    assert expire_delta_commits(t.path) >= 1
    assert read_delta_log(spark, t.path).count() == 1


def test_in_commit_timestamps_written_and_monotonic(spark, tmp_path):
    """Write-side ICT: enabling delta.enableInCommitTimestamps raises
    the protocol to writer 7 with the inCommitTimestamp feature,
    records the enablement provenance properties, and every subsequent
    commit (format write, DML, OPTIMIZE) carries a MONOTONIC
    commitInfo.inCommitTimestamp that timestampAsOf resolution
    prefers."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table as dtmod
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_dml import (
        update_delta,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_fluent import (
        DeltaTable,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        optimize_delta,
    )

    dtmod.register(spark)
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a")], "id long, v string"
    ).write.format("delta").mode("overwrite").save(p)
    dt = DeltaTable.forPath(spark, p)
    v1 = dt.setProperties({"delta.enableInCommitTimestamps": "true"})
    snap = DeltaSnapshot(p)
    assert snap.protocol["minWriterVersion"] == 7
    assert "inCommitTimestamp" in snap.protocol["writerFeatures"]
    assert snap.configuration[
        "delta.inCommitTimestampEnablementVersion"
    ] == str(v1)

    spark.createDataFrame([(2, "b")], "id long, v string").write.format(
        "delta"
    ).mode("append").save(p)
    update_delta(spark, p, "id = 1", {"v": "'A'"})
    optimize_delta(spark, p, target_file_bytes=1 << 30)

    def icts():
        out = []
        log = os.path.join(p, "_delta_log")
        for fn in sorted(os.listdir(log)):
            if not (fn.endswith(".json") and fn.split(".")[0].isdigit()):
                continue
            for line in open(os.path.join(log, fn)):
                a = json.loads(line)
                if a.get("commitInfo"):
                    out.append(
                        (int(fn.split(".")[0]),
                         a["commitInfo"].get("inCommitTimestamp"))
                    )
                    break
        return out

    seq = icts()
    # versions from the enablement commit onward all carry an ICT,
    # strictly increasing
    with_ict = [(v, t) for v, t in seq if v >= v1]
    assert all(t is not None for _v, t in with_ict)
    ts = [t for _v, t in with_ict]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    # and commitInfo is the first action of each of those commits, as
    # PROTOCOL.md requires once in-commit timestamps are enabled
    assert all(
        "commitInfo" in json.loads(
            open(os.path.join(p, "_delta_log", f"{v:020d}.json")).readline()
        )
        for v, _t in with_ict
    )
    # the table still reads and time travel uses the ICT clock
    assert sorted(
        (r.id, r.v) for r in read_delta_log(spark, p).collect()
    ) == [(1, "A"), (2, "b")]
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        resolve_delta_version_at,
    )

    assert resolve_delta_version_at(p, ts[-1]) == with_ict[-1][0]


def test_v2_checkpoint_writer_roundtrip(spark, tmp_path):
    """format='v2' checkpoint: uuid-named top-level file with
    checkpointMetadata + sidecar pointers, file actions sharded into
    _sidecars/ parquet — the engine's own v2 reader bootstraps from it
    after every JSON commit expires, stats and tombstones intact."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        expire_delta_commits,
        upgrade_delta_protocol,
        write_delta_checkpoint,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    export_delta_log(t)
    t.overwrite(
        spark.createDataFrame([(3, "c")], "id long, v string")
    )
    export_delta_log(t)

    # v2 needs the reader feature — refusal first, then upgrade
    with pytest.raises(ValueError, match="v2Checkpoint"):
        write_delta_checkpoint(t.path, format="v2")
    upgrade_delta_protocol(
        t.path, 3, 7, add_reader_features=["v2Checkpoint"],
        add_writer_features=["v2Checkpoint"],
    )
    v = write_delta_checkpoint(t.path, format="v2")
    log = os.path.join(t.path, "_delta_log")
    tops = [
        f for f in os.listdir(log)
        if f.startswith(f"{v:020d}.checkpoint.") and f.endswith(".parquet")
    ]
    assert len(tops) == 1 and len(tops[0].split(".")) == 4  # uuid-named
    assert os.listdir(os.path.join(log, "_sidecars"))

    pre = DeltaSnapshot(t.path)
    assert expire_delta_commits(t.path, honor_retention=False) == 3
    post = DeltaSnapshot(t.path)
    assert post.files == pre.files
    assert set(post.tombstones) == set(pre.tombstones) != set()
    assert {k: post.stats[k]["numRecords"] for k in post.stats} == {
        k: pre.stats[k]["numRecords"] for k in pre.stats
    }
    assert sorted(
        r.id for r in read_delta_log(spark, t.path).collect()
    ) == [3]
    # commits after the v2 checkpoint keep applying on top
    t.append(spark.createDataFrame([(4, "d")], "id long, v string"))
    export_delta_log(t)
    assert sorted(
        r.id for r in read_delta_log(spark, t.path).collect()
    ) == [3, 4]


def test_upgrade_protocol_carries_legacy_reader_features(spark, tmp_path):
    """A reader-2 table (legacy columnMapping tier) upgraded to (3,7)
    must list columnMapping in readerFeatures — dropping it would
    un-gate the mapping for feature-aware readers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        upgrade_delta_protocol,
    )

    path = str(tmp_path / "m")
    os.makedirs(os.path.join(path, "_delta_log"))
    pq.write_table(pa.table({"col-a": [1]}), os.path.join(path, "f.parquet"))
    schema_str = json.dumps(
        {"type": "struct", "fields": [
            {"name": "a", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-a"}},
        ]}
    )
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "m", "format": {"provider": "parquet"},
                      "schemaString": schema_str, "partitionColumns": [],
                      "configuration": {
                          "delta.columnMapping.mode": "name"}}},
        {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    upgrade_delta_protocol(path, 3, 7)
    proto = DeltaSnapshot(path).protocol
    assert "columnMapping" in proto["readerFeatures"]
    assert "columnMapping" in proto["writerFeatures"]
    assert sorted(r.a for r in read_delta_log(spark, path).collect()) == [1]


def test_log_compaction_roundtrip(spark, tmp_path):
    """Log compaction files ({s}.{e}.compacted.json): the reconciled
    span replays to the IDENTICAL snapshot state — files, DVs, stats,
    row ids, domains, protocol, config — and replaces the span's JSON
    commits (replay works with a mid-span json gone); mid-span time
    travel and timestamp resolution keep using the raw commits."""
    import os as _os

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_dml import (
        delete_delta,
        update_delta,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        alter_delta_properties,
        compact_delta_log,
        delta_commit_timestamp_ms,
        resolve_delta_version_at,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table

    delta_table.register(spark)
    p = str(tmp_path / "t")
    for i in range(4):
        (
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("id", "id as v")
            .coalesce(1)
            .write.format("delta")
            .mode("append")
            .save(p)
        )
    delete_delta(spark, p, "id % 7 = 0", mode="mor")
    update_delta(spark, p, "id = 11", {"v": "999"})
    alter_delta_properties(p, {"delta.enableRowTracking": "true"})
    ref = DeltaSnapshot(p)
    want = sorted(tuple(r) for r in read_delta_log(spark, p).collect())

    compact_delta_log(p, 0, ref.version)
    snap = DeltaSnapshot(p)
    assert snap.files == ref.files
    assert snap.dvs == ref.dvs
    assert snap.stats == ref.stats
    assert snap.row_ids == ref.row_ids
    assert snap.domain_metadata.keys() == ref.domain_metadata.keys()
    assert snap.protocol == ref.protocol
    assert snap.configuration == ref.configuration
    assert sorted(tuple(r) for r in read_delta_log(spark, p).collect()) == want
    # mid-span time travel bypasses the compaction (span end > request)
    assert read_delta_log(spark, p, version=2).count() == 30
    # timestampAsOf resolution ignores the compacted file
    assert (
        resolve_delta_version_at(
            p, delta_commit_timestamp_ms(p, ref.version) + 1
        )
        == ref.version
    )
    # a reader that knows compaction needs only the file, not the span
    moved = str(tmp_path / "moved.json")
    _os.rename(_os.path.join(p, "_delta_log", f"{2:020d}.json"), moved)
    assert DeltaSnapshot(p).files == ref.files
    _os.rename(moved, _os.path.join(p, "_delta_log", f"{2:020d}.json"))
    # later commits apply on top of the compacted span
    (
        spark.range(100, 105)
        .selectExpr("id", "id as v")
        .write.format("delta")
        .mode("append")
        .save(p)
    )
    assert read_delta_log(spark, p).count() == len(want) + 5


def test_multipart_checkpoint_write_and_crc(spark, tmp_path):
    """Multi-part classic checkpoint WRITING (N.checkpoint.<i>.<parts>
    .parquet — reading existed since r6) bootstraps to the identical
    snapshot after log cleanup, row tracking and DVs included; .crc
    version checksums verify a replay and catch tampering."""
    import json as _json
    import os as _os

    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_dml import (
        delete_delta,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        alter_delta_properties,
        expire_delta_commits,
        verify_delta_crc,
        write_delta_checkpoint,
        write_delta_crc,
    )

    delta_table.register(spark)
    p = str(tmp_path / "t")
    for i in range(3):
        (
            spark.range(i * 100, i * 100 + 100)
            .selectExpr("id", "id as v")
            .coalesce(2)
            .write.format("delta")
            .mode("append")
            .save(p)
        )
    alter_delta_properties(p, {"delta.enableRowTracking": "true"})
    delete_delta(spark, p, "id % 7 = 0", mode="mor")
    for v in range(DeltaSnapshot(p).version + 1):
        write_delta_crc(p, v)
    assert verify_delta_crc(p) == []
    # tampering with a recorded count is detected
    fn = _os.path.join(p, "_delta_log", f"{2:020d}.crc")
    d = _json.load(open(fn))
    d["numFiles"] += 1
    _json.dump(d, open(fn, "w"))
    probs = verify_delta_crc(p)
    assert probs and "numFiles" in probs[0]

    ref = DeltaSnapshot(p)
    want = sorted(
        tuple(r)
        for r in read_delta_log(spark, p, with_row_ids=True).collect()
    )
    write_delta_checkpoint(p, parts=3)
    log = _os.path.join(p, "_delta_log")
    parts = [
        f
        for f in _os.listdir(log)
        if ".checkpoint." in f and f.endswith(".parquet")
    ]
    assert len(parts) == 3, parts
    expire_delta_commits(p, honor_retention=False)
    snap = DeltaSnapshot(p)
    assert snap.files == ref.files
    assert snap.dvs == ref.dvs
    assert snap.row_ids == ref.row_ids
    assert snap.stats == ref.stats
    assert "delta.rowTracking" in snap.domain_metadata
    assert (
        sorted(
            tuple(r)
            for r in read_delta_log(spark, p, with_row_ids=True).collect()
        )
        == want
    )


def test_alter_schema_add_rename_drop(spark, tmp_path):
    """ALTER TABLE ADD / RENAME / DROP COLUMN, metadata-only
    (alter_delta_schema + the fluent spellings): ADD null-fills old
    files; RENAME/DROP need column mapping and keep old files resolving
    via physicalName; constraint-referencing columns refuse; partition
    columns rename but never drop."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources import delta_table
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_fluent import (
        DeltaTable,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        alter_delta_properties,
        alter_delta_schema,
    )

    delta_table.register(spark)
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, k string, v long"
    ).write.format("delta").option("partition_by", "k").mode(
        "append"
    ).save(p)
    dt = DeltaTable.forPath(spark, p)
    dt.addColumns("w double")
    df = read_delta_log(spark, p)
    assert df.columns == ["id", "v", "w", "k"] or set(df.columns) == {
        "id", "k", "v", "w"
    }
    assert df.where("w IS NULL").count() == 2
    with pytest.raises(NotImplementedError, match="column mapping"):
        dt.renameColumn("v", "value")
    alter_delta_properties(p, {"delta.columnMapping.mode": "name"})
    dt.renameColumn("v", "value")
    dt.dropColumns("w")
    # partition column renames (logical); never drops
    dt.renameColumn("k", "bucket")
    snap = DeltaSnapshot(p)
    assert snap.partition_cols == ["bucket"]
    with pytest.raises(ValueError, match="partition"):
        dt.dropColumns("bucket")
    got = spark.read.format("delta").load(p)
    rows = {r["id"]: (r["value"], r["bucket"]) for r in got.collect()}
    assert rows == {1: (10, "a"), 2: (20, "b")}
    # constraint-referencing column refuses rename
    alter_delta_properties(p, {"delta.constraints.pos": "value > 0"})
    with pytest.raises(ValueError, match="constraint"):
        dt.renameColumn("value", "v2")
    # mapped ADD allocates fresh ids
    alter_delta_schema(p, add="extra int")
    md = {
        f["name"]: f.get("metadata") or {}
        for f in DeltaSnapshot(p).schema_json["fields"]
    }
    assert "delta.columnMapping.id" in md["extra"]


_SCHEMA_ID = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}}
        ],
    }
)


def _write_commit(path: str, version: int, actions: list[dict]) -> None:
    with open(
        os.path.join(path, "_delta_log", f"{version:020d}.json"), "w"
    ) as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _bootstrap_actions() -> list[dict]:
    return [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "metaData": {
                "id": "foreign-writer-test",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _SCHEMA_ID,
                "partitionColumns": [],
                "configuration": {},
            }
        },
    ]


def _inline_dv(ids: list[int]) -> dict:
    from real_time_e_commerce_analytics_lakehouse_spark.sources.roaring import (
        serialize_rba,
        z85_encode,
    )

    payload = serialize_rba(ids)
    pad = (-len(payload)) % 4
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(payload + b"\x00" * pad),
        "sizeInBytes": len(payload),
        "cardinality": len(ids),
    }


def _add(path: str, dv: dict | None = None) -> dict:
    a = {
        "path": path,
        "partitionValues": {},
        "size": 1,
        "modificationTime": 0,
        "dataChange": True,
    }
    if dv is not None:
        a["deletionVector"] = dv
    return {"add": a}


def test_add_before_remove_same_commit_keeps_file(spark, tmp_path):
    """Snapshot replay reconciles a commit's file actions as a set: a
    DV-delete commit emitting the add line before the remove line of the
    SAME path must replay to 'file live with the new DV', not 'file
    gone' — the spec keys logical files by (path, dvId), so the remove
    targets the OLD logical file only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "foreign")
    os.makedirs(os.path.join(path, "_delta_log"))
    pq.write_table(
        pa.table({"id": list(range(10))}),
        os.path.join(path, "part-0.parquet"),
    )
    _write_commit(
        path, 0, _bootstrap_actions() + [_add("part-0.parquet", _inline_dv([2]))]
    )
    # foreign writer deepens the DV: ADD (new DV {2,5}) serialized
    # BEFORE the REMOVE (old DV {2}) — line-order replay dropped part-0
    _write_commit(
        path,
        1,
        [
            _add("part-0.parquet", _inline_dv([2, 5])),
            {
                "remove": {
                    "path": "part-0.parquet",
                    "dataChange": True,
                    "deletionVector": _inline_dv([2]),
                }
            },
        ],
    )
    got = sorted(r.id for r in read_delta_log(spark, path).collect())
    assert got == sorted(set(range(10)) - {2, 5})
    # the reverse order (remove first, add second) must agree
    _write_commit(
        path,
        2,
        [
            {
                "remove": {
                    "path": "part-0.parquet",
                    "dataChange": True,
                    "deletionVector": _inline_dv([2, 5]),
                }
            },
            _add("part-0.parquet", _inline_dv([2, 5, 7])),
        ],
    )
    got2 = sorted(r.id for r in read_delta_log(spark, path).collect())
    assert got2 == sorted(set(range(10)) - {2, 5, 7})
    # a plain remove (no re-add in the commit) still removes
    _write_commit(
        path, 3, [{"remove": {"path": "part-0.parquet", "dataChange": True}}]
    )
    assert read_delta_log(spark, path).count() == 0


def test_dv_storage_p_accepts_file_uri(spark, tmp_path):
    """storageType='p' pathOrInlineDv as a file:/// URI (as foreign
    writers commonly serialize it)
    resolves like add/remove paths do (plain absolute path still works —
    covered by test_reader_applies_inline_and_path_dv_storage)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_e_commerce_analytics_lakehouse_spark.sources.roaring import (
        serialize_rba,
        write_dv_file,
    )

    path = str(tmp_path / "foreign")
    os.makedirs(os.path.join(path, "_delta_log"))
    pq.write_table(
        pa.table({"id": list(range(10))}),
        os.path.join(path, "part-0.parquet"),
    )
    payload = serialize_rba([1, 8])
    img, offs = write_dv_file([payload])
    dv_file = str(tmp_path / "external_dv.bin")
    with open(dv_file, "wb") as f:
        f.write(img)
    desc = {
        "storageType": "p",
        "pathOrInlineDv": "file://" + dv_file,
        "offset": offs[0],
        "sizeInBytes": len(payload),
        "cardinality": 2,
    }
    _write_commit(
        path, 0, _bootstrap_actions() + [_add("part-0.parquet", desc)]
    )
    got = sorted(r.id for r in read_delta_log(spark, path).collect())
    assert got == sorted(set(range(10)) - {1, 8})


def test_partition_pruning_canonicalizes_bools(spark, tmp_path):
    """partitions={'flag': [True]} must match the stored
    canonical 'true' (str(True) == 'True' pruned every file), and a
    writer-sensitive type (float) is rejected loudly."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["flag"])
    t.overwrite(
        spark.createDataFrame(
            [(i, i % 2 == 0) for i in range(10)], "id long, flag boolean"
        )
    )
    export_delta_log(t)
    got = read_delta_log(spark, t.path, partitions={"flag": [True]})
    assert sorted(r.id for r in got.collect()) == [0, 2, 4, 6, 8]
    # int filters canonicalize too (str(int) is already canonical)
    t2 = LakeTable(spark, str(tmp_path / "t2"), partition_by=["k"])
    t2.overwrite(
        spark.createDataFrame([(i, i % 3) for i in range(9)], "id long, k int")
    )
    export_delta_log(t2)
    got2 = read_delta_log(spark, t2.path, partitions={"k": [1]})
    assert sorted(r.id for r in got2.collect()) == [1, 4, 7]
    with pytest.raises(TypeError, match="canonical Delta string"):
        read_delta_log(spark, t.path, partitions={"flag": [1.5]})
