"""LakeTable as a native Spark format via the Spark 4 Python DataSource
API: ``spark.read.format("laketable").option("version", 3).load(path)``.

This makes the engine's table layer consumable by ANY Spark job without
importing the engine — the reader walks the manifest on the driver,
prunes data units/files with the same metadata the JVM path uses
(partition values, per-unit AND per-file [min,max] stats), and streams
Arrow record batches from the parquet files on executors. Supported
through the format: snapshot + ``version`` time travel, Hive-escaped /
NULL partition values, column mapping (logical renames over stable
physical names), additive schema evolution (missing columns read NULL),
and merge-on-read deletion vectors (tombstoned rows filtered by file +
row index during the scan).

Filter pushdown (Spark 4.1 ``pushFilters``): comparison/equality/IN/
IS NULL predicates on partition columns prune whole units; range
predicates on stats columns prune units and then files inside surviving
units. All filters are returned as "still needs Spark" — pruning is a
strict subset operation, so double-application is safe and exactness is
never at risk.

The format's schema is the one ``LakeTable.read`` gives: the unit
schemas the manifest records, folded by the same mergeSchema rule
(``tables._merged_schema``), so struct, map and widened decimal columns
read through the format as they do through the engine.

The JVM scan path (``LakeTable.read``) remains the performance path —
whole-stage codegen, vectorized reader, DV anti-join in the plan. This
source is the interop path: at 100 TB its per-FILE input partitions
parallelize across executors like any file source, with batch-level
Arrow transfer (no per-row Python serde).

This module also holds what the package's four Python-DataSource
formats (``laketable``, ``delta``, ``delta_cdf``, ``cloudFiles``) share
on executors: ``_scan_file``, the one kernel that turns a file into
batches of a declared schema (each reader only builds its per-field
constants and column map), and ``_split_write``, the one
split-by-partition-and-write step of the laketable and delta writers.

Writes (``df.write`` / ``df.writeStream`` with ``format("laketable")``)
stage parquet on executors and record each unit's data-column schema;
the driver-side commit goes through ``tables.commit_manifest``, the one
function that claims a laketable version, imported lazily so executors
never load the table layer.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import date, datetime
from typing import Any, Iterator
from urllib.parse import quote, unquote, urlparse

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

# the reader's copy of tables.py's log dir (this module stays importable
# on executors without pulling the Spark-session-coupled table layer)
_LOG_DIR = "_log"
# Hive's NULL partition-value sentinel, shared by both table formats
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _unescape_hive(raw: str) -> str:
    """Undo Hive's %XX dir-name escaping (':', '%', '=', ... — space is
    NOT escaped); the NULL sentinel passes through."""
    return raw if raw == _HIVE_NULL else unquote(raw)


def _fs_path(path: str) -> str:
    """Normalize a table location to a filesystem path: the SQL surface
    (CREATE TABLE ... USING laketable) hands the reader a `file:` URI,
    the DataFrame surface a plain path."""
    if path.startswith("file:"):
        return unquote(urlparse(path).path)
    return path


def _parse_partition_value(
    raw: str | None, spark_type: str, *, unescape: bool = True
) -> Any:
    """Typed python value of a manifest partition string (None for the
    Hive NULL sentinel and for a Delta null). ``unescape=False`` for
    CANONICAL Delta ``add.partitionValues`` — those are already logical
    strings, and percent-unquoting them corrupts any value containing a
    literal %XX sequence, e.g. '50%2Boff' -> '50+off' (ADVICE r8 #4;
    this module's Hive-layout manifests DO escape and need the
    unquote)."""
    if raw is None or raw == _HIVE_NULL:
        return None
    if unescape:
        raw = _unescape_hive(raw)
    t = spark_type.lower()
    if t in ("int", "bigint", "long", "smallint", "tinyint"):
        return int(raw)
    if t in ("double", "float"):
        return float(raw)
    if t == "date":
        return date.fromisoformat(raw)
    if t.startswith("timestamp"):
        return datetime.fromisoformat(raw)
    if t == "boolean":
        return raw.lower() == "true"
    return raw


def _scan_file(
    src: Any,
    schema: StructType,
    *,
    consts: dict[str, Any] | None = None,
    phys: dict[str, str] | None = None,
    nested: dict[str, Any] | None = None,
    drop: tuple = (),
    keep: tuple | None = None,
    also: tuple = (),
) -> Iterator:
    """The one executor-side scan of every Python-DataSource format in
    this package: one file -> Arrow batches of the declared ``schema``.

    ``src`` is a parquet path (only the columns the schema needs, plus
    ``also``, are read) or an already-parsed Arrow table. ``drop`` are
    row indexes to remove (deletion-vector tombstones); ``keep``, when
    given, are the only row indexes kept (a DV-diff slice). A field in
    ``consts`` is a value broadcast over the surviving rows, or a
    callable ``(table, positions) -> array | scalar`` given the
    survivors' row positions in the file (row tracking). Every other
    field is the file column ``phys.get(name, name)``, relabelled
    through ``nested[name]`` (a column-mapped nested Delta type, see
    colmap.relabel_arrow), null when the file predates the column, and
    cast wherever its type differs from the schema's."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    from real_time_e_commerce_analytics_lakehouse_spark.sources.colmap import (
        relabel_arrow,
    )

    consts, phys, nested = consts or {}, phys or {}, nested or {}
    if isinstance(src, str):
        pf = pq.ParquetFile(src)
        have = set(pf.schema_arrow.names)
        want = [phys.get(f.name, f.name) for f in schema.fields if f.name not in consts]
        t = pf.read(columns=[c for c in dict.fromkeys([*want, *also]) if c in have])
    else:
        t = src
    pos = np.arange(t.num_rows, dtype=np.int64)
    if keep is not None:
        pos = np.asarray(keep, dtype=np.int64)
        t = t.take(pa.array(pos))
    elif drop:
        # vectorized survivor mask (a Python per-row loop dominates scan
        # time on multi-million-row files)
        mask = np.ones(t.num_rows, dtype=bool)
        idx = np.fromiter(drop, dtype=np.int64)
        mask[idx[idx < t.num_rows]] = False
        t, pos = t.filter(pa.array(mask)), pos[mask]
    arrays = []
    for f in schema.fields:
        pa_type = to_arrow_type(f.dataType)
        name = phys.get(f.name, f.name)
        if f.name in consts:
            v = consts[f.name]
            col = v(t, pos) if callable(v) else v
            if not isinstance(col, (pa.Array, pa.ChunkedArray)):
                if not isinstance(col, pa.Scalar):
                    col = pa.scalar(col, type=pa_type)
                col = pa.repeat(col, t.num_rows)
        elif name in t.column_names:
            col = t.column(name)
            if f.name in nested:
                col = relabel_arrow(col.combine_chunks(), nested[f.name])
        else:
            # additive evolution: column absent from older files
            col = pa.nulls(t.num_rows, type=pa_type)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        arrays.append(col if col.type == pa_type else col.cast(pa_type))
    yield from pa.Table.from_arrays(arrays, names=schema.fieldNames()).to_batches()


class _Snapshot:
    """Manifest state at one version, parsed without a SparkSession."""

    def __init__(self, path: str, version: int | None):
        log = os.path.join(path, _LOG_DIR)
        versions = sorted(
            int(f.split(".")[0]) for f in os.listdir(log) if f.endswith(".json")
        )
        if not versions:
            raise ValueError(f"{path} is not a LakeTable (empty log)")
        self.version = version if version is not None else versions[-1]
        if self.version not in versions:
            raise ValueError(f"version {self.version} not in {path}")
        with open(os.path.join(log, f"{self.version:08d}.json")) as f:
            doc = json.load(f)
        self.root = path
        self.units: list[dict] = doc["units"]
        self.dv: list[str] = list(doc.get("dv", []))
        self.colmap: dict[str, str] = dict(doc.get("column_map", {}))
        self.dropped: list[str] = list(doc.get("column_dropped", []))
        # declared layout, from the manifest document — NOT inferred
        # from unit partition_types (a partitioned table with zero data
        # units would read as unpartitioned, ADVICE r3 #4)
        self.partition_by: list[str] = list(doc.get("partition_by", []))
        self.ptypes: dict[str, str] = {}
        for u in self.units:
            self.ptypes.update(u.get("partition_types", {}))

    def unit_files(self, unit: dict) -> list[str]:
        base = os.path.join(self.root, unit["path"])
        listed = unit.get("file_stats") or {}
        if listed:
            # The manifest records this unit's exact file names — read
            # only those. A zombie/speculative task attempt that lands
            # its parquet after commit-time pruning leaves an
            # unmanifested file a directory walk would double-count.
            return sorted(os.path.join(base, fn) for fn in listed)
        out = []
        for dirpath, _dirs, files in os.walk(base):
            out.extend(
                os.path.join(dirpath, f)
                for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
        return sorted(out)

    def schema_ddl(self) -> str:
        """The schema ``LakeTable.read`` gives this snapshot: the unit
        schemas the manifest records, folded in file-path order by the
        same mergeSchema rule (a unit that records none — older
        manifests, ``convert_parquet`` — contributes its first footer's
        Arrow schema), physical names mapped to logical ones, dropped
        columns removed, partition columns appended. A DECLARED
        partition column with no data unit yet (partition_by is manifest
        truth, r3 ADVICE #4) is typed string, the Hive convention, so a
        zero-unit partitioned table reads as an empty frame with its
        declared layout."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type
        from pyspark.sql.types import StructField

        from real_time_e_commerce_analytics_lakehouse_spark.tables import (
            _merged_schema,
        )

        schemas = []
        for u in sorted(
            self.units,
            key=lambda u: os.path.abspath(os.path.join(self.root, u["path"])),
        ):
            schema = u.get("schema")
            if not schema:
                files = self.unit_files(u)
                if not files:
                    continue
                schema = StructType([
                    StructField(f.name, from_arrow_type(f.type))
                    for f in pq.read_schema(files[0])
                ]).json()
            schemas.append(schema)
        inv = {p: l for l, p in self.colmap.items()}
        cols = [
            f"`{inv.get(f.name, f.name)}` {f.dataType.simpleString()}"
            for f in (_merged_schema(schemas).fields if schemas else [])
            if f.name not in self.dropped
        ]
        pcols = dict.fromkeys([*self.partition_by, *self.ptypes])
        cols += [f"`{c}` {self.ptypes.get(c, 'string')}" for c in pcols]
        return ", ".join(cols)

    def tombstones(self) -> dict[str, set]:
        """{absolute file path: {row indices}} from the active deletion
        vectors (merge-on-read)."""
        import pyarrow.parquet as pq

        out: dict[str, set] = {}
        for rel in self.dv:
            base = os.path.join(self.root, rel)
            for dirpath, _dirs, files in os.walk(base):
                for f in files:
                    if not f.endswith(".parquet") or f.startswith(("_", ".")):
                        continue
                    t = pq.read_table(os.path.join(dirpath, f), columns=["fp", "ri"])
                    for fp, ri in zip(
                        t.column("fp").to_pylist(), t.column("ri").to_pylist()
                    ):
                        p = unquote(urlparse(fp).path)
                        out.setdefault(p, set()).add(ri)
        return out


@dataclass
class _FileSlice(InputPartition):
    """One parquet file plus its unit's partition values and the
    tombstoned row indices inside it. Picklable by construction.

    `meta` (streaming only): the batch's OWN decode metadata —
    ((colmap items), (ptypes items)) — resolved once on
    the driver at planning time, so executors neither re-parse the
    manifest log per partition nor decode an already-planned batch with
    metadata from a commit that landed after planning (e.g. a rename)."""

    file: str
    partition: tuple  # ((col, raw_manifest_string), ...)
    tomb: tuple  # sorted tombstoned row indices
    meta: tuple = ()


def _range_may_match(lo: Any, hi: Any, flt: Filter) -> bool:
    """Conservative [lo, hi] intersection test for one filter; True on
    any doubt (incomparable types, unsupported shape)."""
    try:
        if isinstance(flt, EqualTo):
            return not (flt.value < lo or flt.value > hi)
        if isinstance(flt, In):
            return any(not (v < lo or v > hi) for v in flt.value)
        if isinstance(flt, GreaterThan):
            return hi > flt.value
        if isinstance(flt, GreaterThanOrEqual):
            return hi >= flt.value
        if isinstance(flt, LessThan):
            return lo < flt.value
        if isinstance(flt, LessThanOrEqual):
            return lo <= flt.value
    except TypeError:
        return True
    return True


def _value_matches(v: Any, flt: Filter) -> bool:
    """Exact single-value predicate test (partition pruning). NULL
    partition values only satisfy IsNull."""
    if isinstance(flt, IsNull):
        return v is None
    if v is None:
        return False
    if isinstance(flt, IsNotNull):
        return True
    try:
        if isinstance(flt, EqualTo):
            return v == flt.value
        if isinstance(flt, In):
            return v in flt.value
        if isinstance(flt, GreaterThan):
            return v > flt.value
        if isinstance(flt, GreaterThanOrEqual):
            return v >= flt.value
        if isinstance(flt, LessThan):
            return v < flt.value
        if isinstance(flt, LessThanOrEqual):
            return v <= flt.value
    except TypeError:
        return True
    return True


class LakeTableReader(DataSourceReader):
    def __init__(self, path: str, version: int | None, schema: StructType):
        self.snap = _Snapshot(path, version)
        self.schema = schema
        self.filters: list[Filter] = []

    def __getstate__(self):
        """Executors need only the decode metadata (colmap, ptypes);
        the full parsed manifest — every unit dict with
        per-file stats — is multi-MB at large tables and would be
        pickled into EVERY scan task (r5 review). Planning
        (pushFilters/partitions) runs driver-side before serialization,
        so the stripped snapshot is sufficient on the other side; the
        streaming reader ships the same pair per slice."""
        from types import SimpleNamespace

        state = self.__dict__.copy()
        snap = state.get("snap")
        if isinstance(snap, _Snapshot):
            state["snap"] = SimpleNamespace(
                colmap=dict(snap.colmap), ptypes=dict(snap.ptypes)
            )
        return state

    # filter types _value_matches/_range_may_match understand; anything
    # else (EqualNullSafe, StringContains, Not, ...) must NOT reach the
    # pruners — _value_matches would treat it as a non-match on NULL
    # partitions and wrongly prune live data
    _PRUNABLE = (
        EqualTo, In, GreaterThan, GreaterThanOrEqual,
        LessThan, LessThanOrEqual, IsNull, IsNotNull,
    )

    # -------------------------------------------------------------- plan
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Record single-column predicates for unit/file pruning; report
        EVERY filter as still-needed (pruning is subset-only, so Spark
        re-applying them is correct and cheap). Only known-semantics
        filter types are collected — an unrecognized type must never
        influence pruning."""
        for flt in filters:
            attr = getattr(flt, "attribute", None)
            if (
                isinstance(flt, self._PRUNABLE)
                and attr is not None
                and len(attr) == 1
            ):
                self.filters.append(flt)
            yield flt

    def _unit_survives(self, unit: dict) -> bool:
        part = unit.get("partition", {})
        ptypes = unit.get("partition_types", {})
        stats = unit.get("stats", {})
        for flt in self.filters:
            col = flt.attribute[0]
            if col in part:
                v = _parse_partition_value(part[col], ptypes.get(col, "string"))
                if not _value_matches(v, flt):
                    return False
            phys = self.snap.colmap.get(col, col)
            if phys in stats:
                lo, hi = stats[phys]
                if lo is not None and not _range_may_match(lo, hi, flt):
                    return False
        return True

    def _file_survives(self, unit: dict, fname: str) -> bool:
        fstats = unit.get("file_stats", {}).get(fname, {})
        for flt in self.filters:
            phys = self.snap.colmap.get(flt.attribute[0], flt.attribute[0])
            if phys in fstats:
                lo, hi = fstats[phys]
                if lo is not None and not _range_may_match(lo, hi, flt):
                    return False
        return True

    def partitions(self) -> list[InputPartition]:
        tomb = self.snap.tombstones()
        out: list[InputPartition] = []
        for u in self.snap.units:
            if not self._unit_survives(u):
                continue
            pvals = tuple(sorted(u.get("partition", {}).items()))
            for f in self.snap.unit_files(u):
                if not self._file_survives(u, os.path.basename(f)):
                    continue
                ris = tuple(sorted(tomb.get(os.path.abspath(f), ())))
                out.append(_FileSlice(file=f, partition=pvals, tomb=ris))
        return out

    # -------------------------------------------------------------- scan
    def read(self, partition: _FileSlice) -> Iterator:
        return _scan_slice(partition, self.schema, self.snap.colmap, self.snap.ptypes)


def _scan_slice(
    partition: _FileSlice, schema: StructType, colmap: dict, ptypes: dict
) -> Iterator:
    """One laketable file through the scan kernel: its tombstones
    dropped, its unit's partition values restored typed, physical
    column names read under their logical ones. A partition column the
    unit has no value for reads from the file, else null."""
    return _scan_file(
        partition.file,
        schema,
        drop=partition.tomb,
        phys=colmap,
        consts={
            c: _parse_partition_value(raw, ptypes.get(c, "string"))
            for c, raw in partition.partition
        },
    )


class LakeTableStreamReader(DataSourceStreamReader):
    """Streaming change feed over a LakeTable: the OFFSET is the
    manifest version, a micro-batch is the data units ADDED between two
    versions (append-only CDC, mirroring ``LakeTable.read_stream`` /
    Delta's streaming source semantics: appends stream; rewriting
    commits must be handled by the maintenance job, not the stream).

    Version offsets make the source replayable and checkpointable for
    free — manifests are immutable, so (start, end] always resolves to
    the same files; a checkpoint resume re-reads nothing (proven in
    tests). Partition columns restore exactly as in the batch reader.

    Trigger.AvailableNow falls back to single-batch execution for
    Python stream sources (Spark logs the fallback); with version
    offsets the semantics coincide — one batch drains everything up to
    the version observed at start."""

    def __init__(
        self,
        path: str,
        schema: StructType,
        max_versions: int | None = None,
        ignore_changes: bool = False,
    ):
        self.path = path
        self.schema = schema
        # maxFilesPerTrigger analog at commit granularity: each batch
        # advances at most this many manifest versions, so a long
        # backlog drains in bounded micro-batches
        self.max_versions = max_versions
        # Delta ignoreChanges parity: rewritten units re-deliver their
        # rows (at-least-once); default False raises on non-append
        # commits instead of silently duplicating the whole rewrite
        self.ignore_changes = ignore_changes

    def _version(self) -> int:
        log = os.path.join(self.path, _LOG_DIR)
        if not os.path.isdir(log):
            return 0
        vs = [int(f.split(".")[0]) for f in os.listdir(log) if f.endswith(".json")]
        return max(vs) if vs else 0

    def initialOffset(self) -> dict:
        return {"version": 0}

    # Highest end-offset Spark committed THIS run, or None before the
    # first commit. The clamp only engages once known: on a checkpoint
    # restart the true committed offset lives in the checkpoint (not
    # visible here), and clamping below it would regress offsets and
    # re-deliver data — so the first post-(re)start batch is unbounded
    # and every subsequent one is rate-limited.
    _committed: int | None = None

    def latestOffset(self) -> dict:
        v = self._version()
        if self.max_versions is not None and self._committed is not None:
            v = min(v, self._committed + self.max_versions)
        return {"version": v}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        if end["version"] <= start["version"]:
            return []
        new = _Snapshot(self.path, end["version"])
        prev: _Snapshot | None = None
        seen: set[str] = set()
        if start["version"] > 0:
            prev = _Snapshot(self.path, start["version"])
            seen = {u["path"] for u in prev.units}
            removed = seen - {u["path"] for u in new.units}
            if removed and not self.ignore_changes:
                # a non-append commit (merge/compact/overwrite/delete)
                # rewrote already-streamed units; every "new" unit of
                # the rewrite holds historical rows, so continuing
                # would silently re-deliver the whole table (r5
                # review). Same contract as Delta's streaming source:
                # fail unless the consumer opts into at-least-once.
                raise ValueError(
                    "laketable stream: units were rewritten or removed "
                    "by a non-append commit between offsets "
                    f"{start['version']} and {end['version']} "
                    f"({sorted(removed)[:3]}...). A microbatch stream "
                    "cannot reconcile rewrites; set .option("
                    "'ignore_changes', 'true') to accept at-least-once "
                    "redelivery of rewritten units (Delta ignoreChanges "
                    "parity), or consume through read_cdf/apply_changes."
                )
        # merge-on-read deletion vectors (ADVICE r3 #2): tombstones are
        # resolved at planning time, as the batch reader does, and
        # applied to the units NEW in this batch (never delivered, so
        # filtering is exact). A DV that tombstones rows of a unit
        # already streamed in an earlier batch is a RETRACTION — a
        # microbatch stream cannot un-deliver rows — so that case
        # raises instead of silently re-delivering or dropping late.
        tomb = new.tombstones() if new.dv else {}
        if tomb and prev is not None and set(new.dv) != set(prev.dv):
            prev_tomb = prev.tombstones()
            new_paths = {u["path"] for u in new.units}
            for u in prev.units:
                if u["path"] not in new_paths:
                    # unit rewritten away (compact/purge): its files are
                    # gone, so no DV can newly tombstone delivered rows
                    continue
                for f in prev.unit_files(u):
                    p = os.path.abspath(f)
                    if tomb.get(p, set()) != prev_tomb.get(p, set()):
                        raise ValueError(
                            "laketable stream: deletion vector tombstones "
                            f"rows of already-streamed file {p} — "
                            "merge-on-read deletes of delivered rows "
                            "cannot be retracted from a stream; restage "
                            "via read_changes or rewrite (purge) the "
                            "deletes before streaming"
                        )
        # the batch's decode metadata rides in every slice (see
        # _FileSlice.meta) — resolved here, on the driver, exactly once
        meta = (tuple(sorted(new.colmap.items())), tuple(sorted(new.ptypes.items())))
        out: list[InputPartition] = []
        for u in new.units:
            if u["path"] in seen:
                continue
            pvals = tuple(sorted(u.get("partition", {}).items()))
            for f in new.unit_files(u):
                ris = tuple(sorted(tomb.get(os.path.abspath(f), ())))
                out.append(
                    _FileSlice(file=f, partition=pvals, tomb=ris, meta=meta)
                )
        return out

    def read(self, partition: _FileSlice) -> Iterator:
        # the batch reader's scan, INCLUDING the slice's tombstones
        # (planning resolved active DVs for new units); decode metadata
        # comes from the slice itself — no manifest access here
        cm, ptypes = partition.meta
        return _scan_slice(partition, self.schema, dict(cm), dict(ptypes))

    def commit(self, end: dict) -> None:
        # manifests are immutable — nothing to clean up; track the
        # committed offset so rate limiting advances batch by batch
        self._committed = end["version"]


def _footer_stats(path: str) -> dict[str, list]:
    """Per-column [min, max] from the parquet footer of a file the task
    just wrote — the engine's LakeTable._harvest_footers discipline:
    int/float/str only (bool and binary excluded; parquet writers adjust
    truncated string bounds so footer min/max are valid bounds), and a
    column whose stats are missing in any row group is omitted (no
    stats = no pruning = safe). Makes format-written units
    stats-skippable like engine-written ones."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict[str, list] = {}
    for i in range(md.num_columns):
        name = md.schema.column(i).name
        acc = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if (
                st is None
                or not st.has_min_max
                or not isinstance(st.min, (int, float, str))
                or isinstance(st.min, bool)
            ):
                acc = None
                break
            acc = (
                [st.min, st.max]
                if acc is None
                else [min(acc[0], st.min), max(acc[1], st.max)]
            )
        if acc is not None:
            out[name] = acc
    return out


def _merge_stats(per_file: dict[str, dict[str, list]]) -> dict[str, list]:
    """Unit-level [min, max] over per-file stats: only columns present
    in EVERY file (a file without bounds for a column makes the unit
    bound unknown — skipping stays conservative)."""
    if not per_file:
        return {}
    common = set.intersection(*(set(s) for s in per_file.values()))
    out: dict[str, list] = {}
    for s in per_file.values():
        for c in common:
            lo, hi = s[c]
            if c in out:
                out[c] = [min(out[c][0], lo), max(out[c][1], hi)]
            else:
                out[c] = [lo, hi]
    return out


def _hive_segment(col: str, canon: str | None) -> str:
    """Hive ``col=value`` directory segment: the value percent-escaped
    in the path, the Hive NULL sentinel for None."""
    return f"{col}={_HIVE_NULL if canon is None else quote(canon, safe='')}"


def _arrow_table(iterator) -> Any:
    """A write task's non-empty Arrow batches as one table (None when
    the task received no rows)."""
    import pyarrow as pa

    batches = [b for b in iterator if b.num_rows]
    return pa.Table.from_batches(batches) if batches else None


def _split_write(
    t, root: str, partition_by: list[str], part_value, transform=None
) -> list:
    """Write one task's Arrow table under ``root`` as one parquet file
    per partition combination — the step every writer of this package
    shares. ``part_value(col, value)`` gives a row's (key, canonical
    string or None) for one partition column; the keys name the Hive
    dirs (``_hive_segment``) and the partition columns leave the data.
    ``transform`` maps the data before it is written (column mapping's
    physical names). Returns [(combo, segs, filename, rows), ...] with
    combo = ((key, canonical), ...)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    groups: dict[tuple, Any] = {(): None}
    data = t
    if partition_by:
        groups = {}
        for i, row in enumerate(t.select(partition_by).to_pylist()):
            combo = tuple(part_value(c, row[c]) for c in partition_by)
            groups.setdefault(combo, []).append(i)
        data = t.drop_columns(partition_by)
    if transform is not None:
        data = transform(data)
    out = []
    for combo, idx in groups.items():
        segs = tuple(_hive_segment(k, v) for k, v in combo)
        os.makedirs(os.path.join(root, *segs), exist_ok=True)
        fname = f"part-{uuid_hex()}.parquet"
        part = data if idx is None else data.take(pa.array(idx, type=pa.int64()))
        pq.write_table(part, os.path.join(root, *segs, fname))
        out.append((combo, segs, fname, part.num_rows))
    return out


def _plain_value(col: str, v: Any) -> tuple[str, str | None]:
    """A laketable format partition value: plain values only (the
    engine escapes; this interop writer rejects instead)."""
    s = None if v is None else str(v)
    if s is not None and quote(s, safe="") != s:
        raise ValueError(
            f"partition value {s!r} needs Hive escaping; "
            "use the LakeTable API for such layouts"
        )
    return col, s


def _stage_unit(t, root: str, partition_by: list[str]) -> tuple:
    """Stage one task's rows in a laketable unit dir: ((segs, filename,
    footer stats), ...) per written file."""
    return tuple(
        (segs, fname, _footer_stats(os.path.join(root, *segs, fname)))
        for _combo, segs, fname, _n in _split_write(t, root, partition_by, _plain_value)
    )


def _data_schema(schema: StructType, partition_by: list[str]) -> str:
    """Spark schema JSON of the data columns a format-written unit
    holds, recorded in its manifest entry as the engine's writers
    record theirs."""
    return StructType([f for f in schema.fields if f.name not in partition_by]).json()


@dataclass
class _WrittenFile(WriterCommitMessage):
    filename: str
    n_rows: int
    # per written file: (dir-segment tuple, parquet filename, footer
    # [min,max] stats). Commit publishes ONLY files named here and
    # prunes everything else from the staged unit — files from failed
    # or speculative task attempts (Spark retries tasks; both attempts
    # land in the shared staged dir) must not reach the manifest.
    combos: tuple = ()


class LakeTableWriter(DataSourceArrowWriter):
    """``df.write.format("laketable").mode(...).save(path)``: each task
    streams its Arrow batches into one parquet file inside a staged
    ``data/<uuid>`` unit dir; ``commit`` then publishes the unit through
    ``tables.commit_manifest`` (the engine's own commit), so a racing
    writer errors instead of clobbering (and a failed job leaves only an
    unreferenced staging dir for vacuum). Append carries the previous
    snapshot's units and deletion vectors by reference.

    Partitioned writes: pass ``.option("partition_by", "col[,col2]")``
    (or append to an already-partitioned table, whose layout is
    inferred) — each task splits its batches by partition value and
    writes Hive ``col=value`` subdirs inside the staged unit; commit
    publishes ONE unit per partition combination, matching the engine's
    layout (partition columns live in the directory name, not the
    files). Partition values must be plain (no characters needing Hive
    escaping) — richer values go through the LakeTable API, which also
    remains the writer for column mapping, stats harvesting,
    constraints, identity, and clustering."""

    def __init__(
        self, path: str, schema: StructType, overwrite: bool,
        partition_by: list[str] | None = None,
    ):
        self.path = path
        self.schema = schema
        self.overwrite = overwrite
        self.unit_rel = os.path.join("data", uuid_hex())
        self.partition_by = list(partition_by or [])
        log = os.path.join(path, _LOG_DIR)
        if os.path.isdir(log) and any(
            f.endswith(".json") for f in os.listdir(log)
        ):
            snap = _Snapshot(path, None)
            existing = sorted(snap.partition_by)
            if not self.partition_by and existing:
                # inherit the table's declared layout (manifest order)
                self.partition_by = list(snap.partition_by)
            if sorted(self.partition_by) != existing and not (
                overwrite and not existing
            ):
                raise ValueError(
                    f"partition_by {self.partition_by} does not match the "
                    f"table's partition layout {existing}"
                )
            if snap.colmap or snap.dropped:
                raise ValueError(
                    "laketable writer does not support column-mapped "
                    "tables; use the LakeTable API"
                )
            self.base_version = snap.version
            self.carry_units = [] if overwrite else list(snap.units)
            self.carry_dv = [] if overwrite else list(snap.dv)
        else:
            self.base_version = 0
            self.carry_units = []
            self.carry_dv = []
        missing = [c for c in self.partition_by if c not in schema.fieldNames()]
        if missing:
            raise ValueError(f"partition columns {missing} absent from schema")
        self.ptype_ddl = {
            f.name: f.dataType.simpleString()
            for f in self.schema.fields
            if f.name in self.partition_by
        }

    # executors ------------------------------------------------------------
    def write(self, iterator) -> _WrittenFile:
        t = _arrow_table(iterator)
        if t is None:
            return _WrittenFile(filename="", n_rows=0)
        root = os.path.join(self.path, self.unit_rel)
        combos = _stage_unit(t, root, self.partition_by)
        # an unpartitioned task writes one file, named in the message
        fname = "" if self.partition_by else combos[0][1]
        return _WrittenFile(filename=fname, n_rows=t.num_rows, combos=combos)

    # driver ---------------------------------------------------------------
    def _prune_unlisted(self, messages) -> None:
        """Remove staged parquet files NOT named in any commit message:
        leftovers from failed or speculative task attempts (Spark may
        run a task twice; only the committed attempt's message reaches
        the driver). Without this, both attempts' files sit in the
        shared staged unit dir and readers — which walk the published
        directory — would double-count rows or trip over a truncated
        file from a killed attempt."""
        keep = {
            os.path.join(self.path, self.unit_rel, *segs, fname)
            for m in messages
            if m
            for segs, fname, _st in m.combos
        }
        base = os.path.join(self.path, self.unit_rel)
        if not os.path.isdir(base):
            return
        for dirpath, _dirs, files in os.walk(base):
            for f in files:
                p = os.path.join(dirpath, f)
                if f.endswith(".parquet") and p not in keep:
                    os.remove(p)

    def commit(self, messages) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        self._prune_unlisted(messages)
        n_rows = sum(m.n_rows for m in messages if m)
        if self.partition_by:
            by_segs: dict[tuple, dict[str, dict]] = {}
            for m in messages:
                if not m:
                    continue
                for segs, fname, st in m.combos:
                    by_segs.setdefault(segs, {})[fname] = st
            new_units = [
                {
                    "path": os.path.join(self.unit_rel, *segs),
                    "partition": {
                        s.split("=", 1)[0]: s.split("=", 1)[1] for s in segs
                    },
                    "partition_types": dict(self.ptype_ddl),
                    "stats": _merge_stats(files),
                    "file_stats": files,
                    "schema": _data_schema(self.schema, self.partition_by),
                }
                for segs, files in sorted(by_segs.items())
            ]
            if not new_units and self.overwrite:
                raise ValueError(
                    "empty overwrite of a partitioned table is not "
                    "supported through the format; use the LakeTable API"
                )
        else:
            out_dir = os.path.join(self.path, self.unit_rel)
            if n_rows == 0:
                # an empty relation is still a valid snapshot: one 0-row
                # file
                os.makedirs(out_dir, exist_ok=True)
                empty = pa.table(
                    {
                        f.name: pa.nulls(0, type=to_arrow_type(f.dataType))
                        for f in self.schema.fields
                    }
                )
                pq.write_table(
                    empty, os.path.join(out_dir, "part-empty.parquet")
                )
            files = {
                fname: st
                for m in messages
                if m
                for _segs, fname, st in m.combos
            }
            new_units = [
                {
                    "path": self.unit_rel,
                    "partition": {},
                    "partition_types": {},
                    "stats": _merge_stats(files),
                    "file_stats": files,
                    "schema": _data_schema(self.schema, self.partition_by),
                }
            ]
        from real_time_e_commerce_analytics_lakehouse_spark.tables import (
            commit_manifest,
        )

        commit_manifest(
            self.path,
            self.carry_units + new_units,
            "pyds-overwrite" if self.overwrite else "pyds-append",
            self.partition_by,
            base_version=self.base_version,
            dv=self.carry_dv,
        )

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.path, self.unit_rel), ignore_errors=True)


class LakeTableStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("laketable").start(path)``: the streaming
    sink side of the format, with EXACTLY-ONCE batch commits.

    Per micro-batch, every task streams its Arrow batches into one
    parquet file inside its own staged ``data/<uuid>`` unit dir;
    ``commit(messages, batchId)`` publishes all of that batch's units in
    ONE manifest whose ``txn`` map records {txn_app_id: batchId} — the
    same ledger LakeTable.append_once uses (Delta txnAppId/txnVersion
    parity). On checkpoint-replay of an already-committed batch the
    commit sees ``batchId == txn[app]``, deletes the re-staged files and
    publishes nothing, so failures between data-write and commit cannot
    double-append; a batchId strictly BELOW the watermark is never a
    legit replay (only the last committed batch can be re-delivered)
    and raises instead of silently dropping data — that shape means a
    colliding txn app (two queries sharing an id, or a fresh-checkpoint
    restart). The default txn app is derived from checkpointLocation so
    independent queries never collide by default. Concurrent writers are handled by rebase-retry:
    the snapshot (units, dv, txn) is re-read at commit time and the
    manifest is claimed through ``tables.commit_manifest``; a lost race
    re-reads and retries, carrying the winner's units forward.

    Partitioned streaming: pass ``.option("partition_by", "col[,col2]")``
    matching the table's declared layout (validated at every commit;
    the option is required because executors split batches before the
    driver ever reads the manifest). Tasks write Hive ``col=value``
    subdirs inside their staged unit, exactly like the batch writer;
    each commit publishes one unit per (staged-unit, partition-combo).
    Column-mapped tables go through the engine API (e.g.
    ``foreachBatch`` + ``LakeTable.merge``)."""

    def __init__(self, path: str, schema: StructType, options):
        self.path = path
        self.schema = schema
        # Ledger identity. Two INDEPENDENT queries writing one table
        # must use distinct txn apps, or the replay guard in commit()
        # suppresses the second query's batches as "replays". Default:
        # derive the id from the query's checkpointLocation (unique per
        # query by construction — Spark forbids checkpoint sharing), so
        # defaults never collide; an explicit txn_app_id still wins (and
        # is what keeps idempotency across an intentional
        # checkpoint-reset redeploy).
        explicit = options.get("txn_app_id")
        ckpt = options.get("checkpointlocation") or options.get(
            "checkpointLocation"
        )
        if explicit:
            self.txn_app = explicit
        elif ckpt:
            self.txn_app = "pyds-stream:" + os.path.normpath(ckpt)
        else:
            self.txn_app = "pyds-stream"
        pb = options.get("partition_by")
        self.partition_by = (
            [c.strip() for c in pb.split(",")] if pb else []
        )
        missing = [c for c in self.partition_by if c not in schema.fieldNames()]
        if missing:
            raise ValueError(f"partition columns {missing} absent from schema")
        self.ptype_ddl = {
            f.name: f.dataType.simpleString()
            for f in schema.fields
            if f.name in self.partition_by
        }

    # executors ------------------------------------------------------------
    def write(self, iterator) -> _WrittenFile:
        t = _arrow_table(iterator)
        if t is None:
            return _WrittenFile(filename="", n_rows=0)
        unit_rel = os.path.join("data", uuid_hex())
        combos = _stage_unit(t, os.path.join(self.path, unit_rel), self.partition_by)
        return _WrittenFile(filename=unit_rel, n_rows=t.num_rows, combos=combos)

    # driver ---------------------------------------------------------------
    def _drop_staged(self, messages) -> None:
        import shutil

        for m in messages:
            if m and m.filename:
                shutil.rmtree(
                    os.path.join(self.path, m.filename), ignore_errors=True
                )

    def commit(self, messages, batchId: int) -> None:
        if self.partition_by:
            new_units = [
                {
                    "path": os.path.join(m.filename, *segs),
                    "partition": {
                        s.split("=", 1)[0]: s.split("=", 1)[1] for s in segs
                    },
                    "partition_types": dict(self.ptype_ddl),
                    "stats": dict(st),
                    "file_stats": {fname: st},
                    "schema": _data_schema(self.schema, self.partition_by),
                }
                for m in messages
                if m and m.filename
                for segs, fname, st in m.combos
            ]
        else:
            new_units = [
                {
                    "path": m.filename,
                    "partition": {},
                    "partition_types": {},
                    "stats": _merge_stats(
                        {fname: st for _s, fname, st in m.combos}
                    ),
                    "file_stats": {fname: st for _s, fname, st in m.combos},
                    "schema": _data_schema(self.schema, self.partition_by),
                }
                for m in messages
                if m and m.filename
            ]
        if not new_units:
            return  # empty batch: nothing to publish, nothing to replay
        from real_time_e_commerce_analytics_lakehouse_spark.tables import (
            ConcurrentWriteError,
            _log_versions,
            commit_manifest,
            manifest_doc,
        )

        for _attempt in range(50):  # rebase-retry against racing writers
            versions = _log_versions(self.path)
            base = versions[-1] if versions else 0
            txns: dict[str, int] = {}
            units = new_units
            if versions:
                prev = manifest_doc(self.path, base)
                if prev.get("column_map") or prev.get("column_dropped"):
                    self._drop_staged(messages)  # no leak per retry
                    raise ValueError(
                        "laketable stream writer does not support "
                        "column-mapped tables; use foreachBatch + the "
                        "LakeTable API"
                    )
                if sorted(prev.get("partition_by", [])) != sorted(
                    self.partition_by
                ):
                    self._drop_staged(messages)  # no leak per retry
                    raise ValueError(
                        f"stream partition_by {self.partition_by} does not "
                        "match the table's declared layout "
                        f"{prev.get('partition_by', [])}; pass the matching "
                        '.option("partition_by", ...)'
                    )
                txns = dict(prev.get("txn", {}))
                recorded = int(txns.get(self.txn_app, -1))
                if batchId == recorded:
                    # checkpoint replay of the last committed batch —
                    # the only batch a crash between data-write and
                    # offset-commit can legitimately re-deliver: drop
                    # the re-staged files, publish nothing (exactly-once)
                    self._drop_staged(messages)
                    return
                if batchId < recorded:
                    # A legit replay can only re-deliver the LAST
                    # committed batch (== recorded). batchId strictly
                    # below the watermark means a different query run is
                    # sharing this txn app — a reset/fresh checkpoint
                    # (batchId restarted at 0) or two queries with a
                    # colliding txn_app_id. Silently dropping here is
                    # unreported data loss; fail loudly instead.
                    self._drop_staged(messages)
                    raise ValueError(
                        f"laketable stream sink: batch {batchId} is below "
                        f"the committed watermark {recorded} for txn app "
                        f"'{self.txn_app}'. This means a second query (or "
                        "a restart with a fresh checkpoint) is writing "
                        "under the same transaction id; its batches would "
                        "be silently suppressed as replays. Set a distinct "
                        '.option("txn_app_id", ...) per logical writer '
                        "(or keep the default, which derives the id from "
                        "checkpointLocation)."
                    )
                units = list(prev["units"]) + new_units
            txns[self.txn_app] = int(batchId)
            try:
                commit_manifest(
                    self.path,
                    units,
                    "pyds-stream-append",
                    self.partition_by,
                    base_version=base,
                    txn=txns,
                )
                return
            except ConcurrentWriteError:
                continue  # lost the race: re-read and rebase
        raise RuntimeError(
            f"could not commit batch {batchId} after 50 rebase attempts"
        )

    def abort(self, messages, batchId: int) -> None:
        self._drop_staged(messages)


def uuid_hex() -> str:
    import uuid

    return uuid.uuid4().hex


def register(spark) -> None:
    """Register the format and enable Python filter pushdown (an SQL
    conf, so it can be pinned on any caller-provided session)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LakeTableDataSource)


class LakeTableDataSource(DataSource):
    """``spark.read.format("laketable")`` — register with
    ``sources.pyds.register(spark)`` (or ``spark.dataSource.register``
    with ``spark.sql.python.filterPushdown.enabled`` set)."""

    @classmethod
    def name(cls) -> str:
        return "laketable"

    _pinned: int | None = None

    def _target(self) -> tuple[str, int | None]:
        path = self.options.get("path") or self.options.get("table_path")
        if not path:
            raise ValueError("laketable source requires .load(<table path>)")
        v = self.options.get("version")
        return _fs_path(path), (int(v) if v is not None else None)

    def _pin(self, path: str, version: int | None) -> int:
        """Resolve `latest` exactly once per DataSource instance, so
        schema() and reader() see the SAME snapshot — a commit landing
        between schema inference and scan planning must not make the
        scan read columns Spark never compiled (ADVICE r3 #3)."""
        if version is not None:
            return version
        if self._pinned is None:
            log = os.path.join(path, _LOG_DIR)
            vs = sorted(
                int(f.split(".")[0])
                for f in os.listdir(log)
                if f.endswith(".json")
            )
            if not vs:
                raise ValueError(f"{path} is not a LakeTable (empty log)")
            self._pinned = vs[-1]
        return self._pinned

    def schema(self) -> str:
        path, version = self._target()
        return _Snapshot(path, self._pin(path, version)).schema_ddl()

    def reader(self, schema: StructType) -> LakeTableReader:
        path, version = self._target()
        return LakeTableReader(path, self._pin(path, version), schema)

    def streamReader(self, schema: StructType) -> LakeTableStreamReader:
        path, _version = self._target()
        mv = self.options.get("maxversionspertrigger")
        ic = str(
            self.options.get("ignore_changes")
            or self.options.get("ignorechanges")
            or ""
        ).lower() in ("true", "1", "yes")
        return LakeTableStreamReader(
            path, schema, int(mv) if mv is not None else None,
            ignore_changes=ic,
        )

    def writer(self, schema: StructType, overwrite: bool) -> LakeTableWriter:
        path, _version = self._target()
        pb = self.options.get("partition_by")
        return LakeTableWriter(
            path, schema, overwrite,
            partition_by=[c.strip() for c in pb.split(",")] if pb else None,
        )

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> LakeTableStreamWriter:
        if overwrite:
            raise ValueError(
                "laketable streaming sink is append-only (complete/update "
                "output modes need MERGE semantics — use foreachBatch + "
                "the LakeTable API)"
            )
        path, _version = self._target()
        return LakeTableStreamWriter(path, schema, self.options)
