"""Structured-Streaming source over a FOREIGN Delta transaction log.

``spark.readStream.format("delta_cdf").load(path)`` drains any Delta
table's change feed as micro-batches with checkpoint resume (VERDICT r6
next #9): the reference's S6 shape (streaming read of a Delta table,
db_notebooks/02_bronze_to_silver.py) pointed at tables this engine did
not write; the batch interop layer (sources/delta_log) already replays
foreign logs, and this module lifts it into Spark's own streaming
offset/commit protocol, replacing the manual
``delta_changes_since``/``delta_ack`` cursor with the engine-standard
checkpoint:

- The OFFSET is the Delta version ({"version": v} = all commits <= v
  delivered), so a checkpoint restart re-reads nothing — versions are
  immutable and a (start, end] window always resolves to the same
  change set. ``startingVersion`` option for mid-log subscription;
  ``maxVersionsPerTrigger`` bounds a backlog drain.
- Planning (driver): each commit in the window is classified by the
  SAME ``classify_commit_changes`` the batch change feed uses — cdc
  actions win (full CDF semantics incl. update pre/post images),
  otherwise derived insert/delete/DV-diff. DV bitmaps are decoded at
  planning time (the descriptors carry exact cardinality; same
  planning-time resolution the laketable stream reader uses for
  tombstones) and ride the slices as index tuples.
- Reading (executors): one slice per (file, change kind), scanned by
  the package's one file kernel (``pyds._scan_file``); this reader only
  supplies the constants — partition columns typed from the add/cdc
  action's partitionValues, ``_change_type`` (a literal, except for
  cdc files, which store it), ``_commit_version`` and
  ``_commit_timestamp`` — and the column-mapping names.

Output schema: the table's logical columns + ``_change_type`` string +
``_commit_version`` long + ``_commit_timestamp`` — the rows of
``delta_changes``, and pinned row-equal to it in
tests/test_delta_stream.py, including after a checkpoint restart
(availableNow drain twice = second drain empty). Column-mapped tables
read under their logical names, nested types included.

Protocol-tier limit (loud, not silent): a version window whose JSON
commits were expired raises — same retention contract as Delta CDF
after VACUUM.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
    DeltaSnapshot,
    _commit_file,
    classify_commit_changes,
    dv_payload,
)


@dataclass
class _ChangeSlice(InputPartition):
    """One parquet file contributing rows of one change kind to one
    commit. ``mode``: 'cdc' (file stores _change_type), 'insert' /
    'delete' (whole file minus ``exclude`` row indexes), 'dv_rows'
    (ONLY the ``include`` row indexes, labeled ``label`` — the DV-diff
    deletes/restores). Picklable by construction."""

    file: str
    partition: tuple  # ((col, value-or-None), ...) physical names
    version: int
    mode: str
    label: str = ""
    exclude: tuple = ()
    include: tuple = ()
    ts_ms: int = 0  # the commit's timestamp (ICT-preferring clock)


def _dv_indexes(table_path: str, desc: dict | None) -> frozenset[int]:
    if not desc or not int(desc.get("cardinality") or 0):
        return frozenset()
    from real_time_e_commerce_analytics_lakehouse_spark.sources.roaring import (
        deserialize_rba,
    )

    return frozenset(int(i) for i in deserialize_rba(dv_payload(table_path, desc)))


def _scan_meta(snap: DeltaSnapshot, path: str) -> tuple[dict, dict, list, dict]:
    """What a Delta reader's scan needs of its snapshot: logical ->
    physical column names, the nested types to relabel under column
    mapping (VERDICT r7 next #5; none when the table is unmapped), the
    logical partition columns, and every column's simpleString type."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.colmap import (
        is_nested,
    )

    nested = {
        f["name"]: f["type"]
        for f in snap.schema_json.get("fields", [])
        if snap.column_mapping_mode != "none" and is_nested(f.get("type"))
    }
    dtypes = {f.name: f.dataType.simpleString() for f in snap.spark_schema().fields}
    return snap.resolved_physical_names(path), nested, list(snap.partition_cols), dtypes


def _partition_consts(partition: tuple, dtypes: dict) -> dict:
    """A slice's partition values, typed, as scan-kernel constants.
    Canonical Delta partitionValues are logical strings — no Hive
    percent-unquote (ADVICE r8 #4)."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
        _parse_partition_value,
    )

    return {
        c: _parse_partition_value(raw, dtypes.get(c, "string"), unescape=False)
        for c, raw in partition
    }


class DeltaCdfStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        path: str,
        schema: StructType,
        starting_version: int = 0,
        max_versions: int | None = None,
    ):
        self.path = path
        self.schema = schema
        self.starting_version = starting_version
        self.max_versions = max_versions
        # add.partitionValues key by PHYSICAL partition names
        self._phys, self._nested, self._pcols, self._dtypes = _scan_meta(
            DeltaSnapshot(path), path
        )
        self._pphys = {c: self._phys.get(c, c) for c in self._pcols}

    # ---------------------------------------------------------- offsets
    def _latest_version(self) -> int:
        log = os.path.join(self.path, "_delta_log")
        vs = [
            int(f.split(".")[0])
            for f in os.listdir(log)
            if f.endswith(".json")
            and f.split(".")[0].isdigit()
            and len(f.split(".")) == 2
        ]
        return max(vs) if vs else -1

    def initialOffset(self) -> dict:
        return {"version": self.starting_version - 1}

    _committed: int | None = None

    def latestOffset(self) -> dict:
        v = self._latest_version()
        # bound the very first trigger too: before any commit() the
        # consumed watermark is the initial offset, not None
        base = (
            self._committed
            if self._committed is not None
            else self.starting_version - 1
        )
        if self.max_versions is not None:
            v = min(v, base + self.max_versions)
        # never regress below the consumed watermark after a checkpoint
        # restart (ADVICE r8 #3; see delta_table.py)
        return {"version": max(v, base)}

    def commit(self, end: dict) -> None:
        if self._committed is None or end["version"] > self._committed:
            self._committed = end["version"]

    # --------------------------------------------------------- planning
    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # never re-serve versions at or below the COMMITTED watermark;
        # commit() alone advances it (ADVICE r8 #3, see delta_table.py)
        v0, v1 = start["version"] + 1, end["version"]
        if self._committed is not None:
            v0 = max(v0, self._committed + 1)
        if v1 < v0:
            return []
        missing = [
            v
            for v in range(v0, v1 + 1)
            if not os.path.exists(_commit_file(self.path, v))
        ]
        if missing:
            raise ValueError(
                f"delta_cdf stream: JSON commits for versions {missing} "
                "were expired — a change stream cannot span a cleaned-up "
                "window (same retention contract as Delta CDF)"
            )
        if v0 > 0:
            pre = DeltaSnapshot(self.path, v0 - 1)
            files_state, dvs_state = dict(pre.files), dict(pre.dvs)
        else:
            files_state, dvs_state = {}, {}
        from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
            delta_commit_timestamp_ms,
        )

        out: list[InputPartition] = []
        for v in range(v0, v1 + 1):
            # state BEFORE this commit, needed for delete/diff slices
            pre_dvs = dict(dvs_state)
            ch = classify_commit_changes(self.path, v, files_state, dvs_state)
            ts_ms = delta_commit_timestamp_ms(self.path, v)

            def slice_for(rel, pvals, **kw):
                return _ChangeSlice(
                    file=os.path.join(self.path, rel),
                    partition=tuple(
                        (c, pvals.get(self._pphys[c])) for c in self._pcols
                    ),
                    version=v,
                    ts_ms=ts_ms,
                    **kw,
                )

            if ch["cdcs"]:
                out.extend(
                    slice_for(rel, pvals, mode="cdc")
                    for rel, pvals in ch["cdcs"].items()
                )
                continue
            for rel, pvals in ch["ins_files"].items():
                out.append(
                    slice_for(
                        rel, pvals, mode="insert",
                        exclude=tuple(
                            sorted(_dv_indexes(self.path, ch["ins_dvs"].get(rel)))
                        ),
                    )
                )
            for rel, pvals in ch["del_files"].items():
                out.append(
                    slice_for(
                        rel, pvals, mode="delete",
                        exclude=tuple(
                            sorted(_dv_indexes(self.path, ch["del_dvs"].get(rel)))
                        ),
                    )
                )
            for rel, old, new in ch["diffs"]:
                pvals = ch["diff_files"].get(rel, {})
                old_idx = _dv_indexes(self.path, old if old else None) or frozenset(
                    _dv_indexes(self.path, pre_dvs.get(rel))
                )
                new_idx = _dv_indexes(self.path, new)
                dels = tuple(sorted(new_idx - old_idx))
                restores = tuple(sorted(old_idx - new_idx))
                if dels:
                    out.append(
                        slice_for(
                            rel, pvals, mode="dv_rows", label="delete",
                            include=dels,
                        )
                    )
                if restores:
                    out.append(
                        slice_for(
                            rel, pvals, mode="dv_rows", label="insert",
                            include=restores,
                        )
                    )
        return out

    # ---------------------------------------------------------- reading
    def read(self, partition: _ChangeSlice) -> Iterator:
        import pyarrow as pa

        from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
            _scan_file,
        )

        consts = _partition_consts(partition.partition, self._dtypes)
        consts["_commit_version"] = partition.version
        consts["_commit_timestamp"] = pa.scalar(partition.ts_ms * 1000, pa.int64())
        if partition.mode != "cdc":  # cdc files store _change_type
            consts["_change_type"] = (
                partition.label if partition.mode == "dv_rows" else partition.mode
            )
        return _scan_file(
            partition.file,
            self.schema,
            consts=consts,
            phys=self._phys,
            nested=self._nested,
            drop=partition.exclude,
            keep=partition.include if partition.mode == "dv_rows" else None,
        )


class DeltaCdfDataSource(DataSource):
    """``spark.readStream.format("delta_cdf").load(<delta table path>)``
    — register with :func:`register` (or spark.dataSource.register)."""

    @classmethod
    def name(cls) -> str:
        return "delta_cdf"

    def _path(self) -> str:
        path = self.options.get("path") or self.options.get("table_path")
        if not path:
            raise ValueError("delta_cdf source requires .load(<table path>)")
        from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import _fs_path

        return _fs_path(path)

    def schema(self) -> str:
        snap = DeltaSnapshot(self._path())
        parts = [
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in snap.spark_schema().fields
        ]
        parts += [
            "`_change_type` string",
            "`_commit_version` bigint",
            "`_commit_timestamp` timestamp",
        ]
        return ", ".join(parts)

    def streamReader(self, schema: StructType) -> DeltaCdfStreamReader:
        from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_table import (
            _opt_ts_ms,
        )

        sv_raw = self.options.get("startingversion")
        if sv_raw is not None and str(sv_raw).lower() == "latest":
            sv = DeltaSnapshot(self._path()).version + 1
        elif sv_raw is not None:
            sv = int(sv_raw)
        else:
            ts = self.options.get("startingtimestamp")
            if ts is not None:
                from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
                    resolve_delta_version_from,
                )

                sv = resolve_delta_version_from(
                    self._path(), _opt_ts_ms(ts)
                )
            else:
                sv = 0
        mv = self.options.get("maxversionspertrigger")
        return DeltaCdfStreamReader(
            self._path(), schema, sv, int(mv) if mv is not None else None
        )


def register(spark) -> None:
    spark.dataSource.register(DeltaCdfDataSource)
