"""Multi-writer hardening for the exclusive-create manifest protocol
(VERDICT r3 next #7): blind appends rebase-retry and lose no units;
snapshot-dependent ops (merge) refuse instead of silently clobbering;
cross-process commits serialize through os.link atomicity. The Delta
tier's one commit function gets the same race pinned."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.tables import (
    ConcurrentWriteError,
    LakeTable,
)

REPO = os.path.join(os.path.dirname(__file__), "..")


def _racy_latest_version(victim: LakeTable, competitor_commit):
    """Wrap victim.latest_version so a competing commit lands exactly
    once, right after the victim reads its base snapshot — the
    deterministic spelling of 'two writers race'."""
    orig = victim.latest_version
    fired = {"done": False}

    def wrapped():
        v = orig()
        if not fired["done"]:
            fired["done"] = True
            competitor_commit()
        return v

    victim.latest_version = wrapped
    return fired


def test_append_race_rebases_and_loses_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    t1 = LakeTable(spark, path)
    t2 = LakeTable(spark, path)
    t1.overwrite(spark.createDataFrame([(0, "init")], "id long, w string"))

    fired = _racy_latest_version(
        t1,
        lambda: t2.append(
            spark.createDataFrame([(2, "t2")], "id long, w string")
        ),
    )
    t1.append(spark.createDataFrame([(1, "t1")], "id long, w string"))
    assert fired["done"]  # the race actually happened
    # both appends present, no lost units, versions strictly sequential
    rows = sorted((r.id, r.w) for r in LakeTable(spark, path).read().collect())
    assert rows == [(0, "init"), (1, "t1"), (2, "t2")]
    assert LakeTable(spark, path).latest_version() == 3


def test_merge_race_refuses_instead_of_clobbering(spark, tmp_path):
    path = str(tmp_path / "t")
    t1 = LakeTable(spark, path)
    t2 = LakeTable(spark, path)
    t1.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))

    # inject the competitor right before t1 publishes its manifest —
    # strictly after the merge read its base snapshot
    orig_commit = t1._commit
    fired = {"done": False}

    def racy_commit(*a, **kw):
        if not fired["done"]:
            fired["done"] = True
            t2.append(spark.createDataFrame([(2, "b")], "id long, v string"))
        return orig_commit(*a, **kw)

    t1._commit = racy_commit
    with pytest.raises(ConcurrentWriteError):
        t1.merge_upsert(
            spark.createDataFrame([(1, "a2")], "id long, v string"), keys="id"
        )
    assert fired["done"]
    # the competitor's commit is intact; the failed merge left no trace
    rows = sorted((r.id, r.v) for r in LakeTable(spark, path).read().collect())
    assert rows == [(1, "a"), (2, "b")]


_WORKER = """
import os, sys, time
sys.path.insert(0, sys.argv[4])
from pyspark.sql import SparkSession
from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable

path, tag, barrier = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .appName(f"writer-{tag}")
    .getOrCreate()
)
t = LakeTable(spark, path)
open(barrier + ".ready" + tag, "w").close()
while not os.path.exists(barrier):
    time.sleep(0.02)
for i in range(5):
    t.append(
        spark.createDataFrame(
            [(int(tag) * 1000 + i, "w" + tag)], "id long, w string"
        )
    )
print("WORKER_OK")
"""


@pytest.mark.soak  # r12: soak-style; default run deselects (pytest.ini)
def test_cross_process_appends_serialize(spark, tmp_path):
    """Two separate driver PROCESSES append concurrently to one table:
    os.link exclusivity + rebase-retry must serialize all 10 commits
    with zero lost units and strictly sequential versions."""
    path = str(tmp_path / "t")
    LakeTable(spark, path).overwrite(
        spark.createDataFrame([(0, "init")], "id long, w string")
    )
    barrier = str(tmp_path / "go")
    script = str(tmp_path / "worker.py")
    with open(script, "w") as f:
        f.write(_WORKER)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    procs = [
        subprocess.Popen(
            [sys.executable, script, path, tag, barrier, REPO],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            env=env,
            text=True,
        )
        for tag in ("1", "2")
    ]
    deadline = time.time() + 120
    while time.time() < deadline and not all(
        os.path.exists(barrier + ".ready" + tag) for tag in ("1", "2")
    ):
        time.sleep(0.1)
    open(barrier, "w").close()  # release both writers at once
    outs = [p.communicate(timeout=240)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert all("WORKER_OK" in o for o in outs), outs

    t = LakeTable(spark, path)
    rows = sorted(r.id for r in t.read().collect())
    assert rows == [0] + [1000 + i for i in range(5)] + [2000 + i for i in range(5)]
    assert t.latest_version() == 11  # 1 overwrite + 10 appends, none lost


# ---------------------------------------------------------------------------
# Crash recovery (VERDICT r4 next #5): kill-mid-commit at every step of
# the protocol. The invariants: a reader NEVER sees a partial commit,
# the next writer is never blocked, and vacuum reclaims the wreckage —
# but never a possibly-in-flight stage inside the grace window.
# ---------------------------------------------------------------------------


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def test_torn_manifest_tmp_is_invisible_and_reclaimed(spark, tmp_path):
    """Crash between staging the manifest tmp file and os.link: the
    half-written `NNNNNNNN.json.tmp-*` must be invisible to readers
    (version listing matches only *.json), must not block the next
    commit of the same version number, and is reclaimed by vacuum."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, "a")]))
    log = t._log_path()
    torn = os.path.join(log, f"{2:08d}.json.tmp-deadbeef")
    with open(torn, "w") as f:
        f.write('{"version": 2, "units": [')  # truncated mid-document

    assert t.latest_version() == 1
    assert sorted(r.id for r in t.read().collect()) == [1]
    # next commit takes version 2 without interference
    t.append(_mk(spark, [(2, "b")]))
    assert t.latest_version() == 2
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    assert os.path.exists(torn)
    t.vacuum(keep_last_n=2)
    assert not os.path.exists(torn)


def test_staged_data_without_manifest_is_invisible_then_vacuumed(
    spark, tmp_path
):
    """Crash after the data write but before the manifest link: the
    staged data/<uuid> dir is unreferenced. Readers (and metadata
    count_rows) never see it; vacuum with default grace reclaims it;
    vacuum with a grace window KEEPS it (it could be an in-flight
    commit) and the commit can then land."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, "a"), (2, "b")]))

    # simulate the crashed writer: stage units, never commit
    staged = t._write_units(_mk(spark, [(99, "zz")]))
    staged_dir = os.path.join(t.path, staged[0].path)
    assert os.path.isdir(staged_dir)
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    assert t.count_rows() == 2

    # a grace-window vacuum refuses to touch the fresh stage...
    stats = t.vacuum(keep_last_n=1, orphan_grace_hours=1.0)
    assert os.path.isdir(staged_dir)
    assert stats["removed_commit_dirs"] == 0

    # ...so the in-flight commit can still land afterwards
    v = t._commit(t._read_manifest(t.latest_version()) + staged, op="late-commit")
    assert sorted(r.id for r in t.read(version=v).collect()) == [1, 2, 99]

    # a SECOND crashed stage, this time truly abandoned: age it out of
    # the grace window and vacuum reclaims exactly that one dir
    dead = t._write_units(_mk(spark, [(100, "dead")]))
    dead_dir = os.path.join(t.path, dead[0].path)
    old = time.time() - 7200
    for dp, _ds, fs in os.walk(dead_dir):
        os.utime(dp, (old, old))
        for f in fs:
            os.utime(os.path.join(dp, f), (old, old))
    stats = t.vacuum(keep_last_n=1, orphan_grace_hours=1.0)
    assert not os.path.isdir(dead_dir)
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 99]


def test_vacuum_racing_inflight_commit_with_grace_preserves_data(
    spark, tmp_path
):
    """The deterministic spelling of 'vacuum runs while another writer
    is between data-write and manifest-link': inject the vacuum into
    that exact window. With a grace window the staged dir survives and
    the commit completes with its data intact."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_mk(spark, [(1, "a")]))
    janitor = LakeTable(spark, t.path)

    staged = t._write_units(_mk(spark, [(7, "g")]))  # in-flight: staged...
    janitor.vacuum(keep_last_n=1, orphan_grace_hours=1.0)  # ...vacuum races
    v = t._commit(  # ...then the commit lands
        t._read_manifest(t.latest_version()) + staged, op="append"
    )
    assert sorted(r.id for r in t.read(version=v).collect()) == [1, 7]


def test_reader_never_sees_partial_state_under_kill_midway(spark, tmp_path):
    """End-to-end kill simulation: a subprocess writer is killed at a
    random point of an append; whatever the kill point, a fresh reader
    sees either the old snapshot or the full new one — never a torn
    mix. (The protocol guarantees this structurally: data first, then
    one atomic link; this test documents and pins it.)"""
    path = str(tmp_path / "t")
    t = LakeTable(spark, path)
    t.overwrite(_mk(spark, [(1, "a")]))

    # stage the new unit AND a torn manifest tmp — the on-disk state an
    # arbitrary mid-commit kill leaves behind
    staged = t._write_units(_mk(spark, [(2, "b")]))
    with open(
        os.path.join(t._log_path(), f"{2:08d}.json.tmp-kill"), "w"
    ) as f:
        f.write('{"version": 2')

    fresh = LakeTable(spark, path)
    assert fresh.latest_version() == 1
    assert sorted(r.id for r in fresh.read().collect()) == [1]
    assert fresh.count_rows() == 1

    # recovery path A: the writer retries and completes
    v = fresh._commit(
        fresh._read_manifest(1) + staged, op="append-retry"
    )
    assert sorted(r.id for r in fresh.read(version=v).collect()) == [1, 2]


def test_racing_delta_commits_never_tear_a_version(spark, tmp_path, monkeypatch):
    """Two ALTER TBLPROPERTIES writers read the same base version and
    race for the next one: writer B commits in full while writer A sits
    at its claim. A must lose with the conflict type, the version must
    hold exactly B's actions, and no staged temp file may be left. (A
    temp name shared by both writers lets B truncate the file A staged
    and A's claim fail with FileNotFoundError.)"""
    import json

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_dml import (
        create_delta_table,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        DeltaCommitConflict,
        DeltaSnapshot,
        alter_delta_properties,
    )

    p = str(tmp_path / "t")
    create_delta_table(p, "k string, n long")
    real_link = os.link
    raced = []

    def link(src, dst):
        if not raced:  # A's claim: B runs its whole commit first
            raced.append("B")
            raced.append(alter_delta_properties(p, {"owner.b": "B"}))
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", link)
    with pytest.raises(DeltaCommitConflict):
        alter_delta_properties(p, {"owner.a": "A"})
    monkeypatch.undo()

    assert raced == ["B", 1]  # B returned, targeting A's version
    log = os.path.join(p, "_delta_log")
    with open(os.path.join(log, f"{1:020d}.json")) as f:
        acts = [json.loads(line) for line in f if line.strip()]
    assert acts[0]["commitInfo"]["operationParameters"] == {
        "properties": json.dumps({"owner.b": "B"})
    }
    cfg = next(a["metaData"] for a in acts if "metaData" in a)["configuration"]
    assert cfg["owner.b"] == "B" and "owner.a" not in cfg
    assert DeltaSnapshot(p).version == 1
    assert not [f for f in os.listdir(log) if ".tmp" in f]


def test_each_log_format_has_one_commit_function():
    """Every laketable manifest and every Delta version is claimed in
    one place: os.link (the exclusive claim) is called only inside
    tables.commit_manifest and delta_log.commit_delta, so a private copy
    of the commit recipe cannot grow back."""
    import ast
    import glob

    pkg = os.path.join(REPO, "real_time_e_commerce_analytics_lakehouse_spark")
    sites = set()
    for fn in [os.path.join(pkg, "tables.py")] + sorted(
        glob.glob(os.path.join(pkg, "sources", "*.py"))
    ):
        tree = ast.parse(open(fn).read())
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "link"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "os"
                ):
                    sites.add(
                        (os.path.relpath(fn, pkg), getattr(top, "name", None))
                    )
    assert sites == {
        ("tables.py", "commit_manifest"),
        (os.path.join("sources", "delta_log.py"), "commit_delta"),
    }


def test_python_datasource_reads_emit_batches_only_through_the_scan_kernel():
    """Every Python-DataSource format in sources/ turns a file into
    batches in one place, pyds._scan_file: no reader's `read` method
    builds output batches itself (pa.Table.from_arrays / pa.nulls), and
    each one calls the kernel (laketable through its `_scan_slice`) or
    delegates to a reader that does, so a private copy of the scan
    cannot grow back."""
    import ast
    import glob

    pkg = os.path.join(REPO, "real_time_e_commerce_analytics_lakehouse_spark")
    hand_built, readers = [], {}
    for fn in sorted(glob.glob(os.path.join(pkg, "sources", "*.py"))):
        for cls in ast.walk(ast.parse(open(fn).read())):
            if not isinstance(cls, ast.ClassDef):
                continue
            for fdef in cls.body:
                if not (isinstance(fdef, ast.FunctionDef) and fdef.name == "read"):
                    continue
                names = {
                    n.attr if isinstance(n, ast.Attribute) else n.id
                    for n in ast.walk(fdef)
                    if isinstance(n, (ast.Attribute, ast.Name))
                }
                if names & {"from_arrays", "nulls"}:
                    hand_built.append(cls.name)
                readers[cls.name] = (
                    "_scan_file" in names or "_scan_slice" in names or "read" in names
                )
    assert hand_built == []
    assert readers == {
        "LakeTableReader": True,
        "LakeTableStreamReader": True,
        "_SliceScanMixin": True,  # DeltaBatchReader, DeltaTableStreamReader
        "DeltaCdfBatchReader": True,  # delegates to DeltaCdfStreamReader
        "DeltaCdfStreamReader": True,
        "CloudFilesStreamReader": True,
    }


def test_log_files_stage_through_temp_names_unique_per_writer():
    """A fixed `<file>.tmp` staging name lets two writers of one file
    truncate each other's half-written temp; every staged write in the
    engine uses a `.tmp-<uuid>` name, as commit_delta does."""
    import ast
    import glob

    pkg = os.path.join(REPO, "real_time_e_commerce_analytics_lakehouse_spark")
    fixed = []
    for fn in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        for node in ast.walk(ast.parse(open(fn).read())):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.endswith(".tmp")
            ):
                fixed.append((os.path.relpath(fn, pkg), node.lineno))
    assert fixed == []
