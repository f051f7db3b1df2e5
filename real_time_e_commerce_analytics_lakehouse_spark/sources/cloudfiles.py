"""Auto-Loader-shaped file streaming source: ``spark.readStream
.format("cloudFiles")`` — the reference's bronze ingestion API
(db_notebooks/01_bronze_csv_to_delta.py:33-44) served through the
Spark 4 Python DataSource API, so the notebook's reader block runs
against this engine with its options intact:

- ``cloudFiles.format``: csv (default) / json / parquet.
- ``cloudFiles.schemaLocation`` (required): directory holding the
  TRACKED schema (``schema_N.json``, Spark schema JSON) and the file
  LEDGER (``_ledger.jsonl`` — every discovered file gets a permanent
  sequence number; stream offsets are ledger positions, so a
  checkpoint restart re-reads nothing and late-arriving files that
  sort before already-processed ones are still picked up, which a
  plain sorted-directory-listing offset would silently skip).
- ``header`` / ``inferSchema``: the first discovered file seeds
  ``schema_0.json``; afterwards the tracked schema is authoritative
  (inference never flips types under a running stream).
- ``cloudFiles.schemaEvolutionMode``: ``addNewColumns`` (default —
  a file carrying unknown columns WIDENS the tracked schema on disk
  and fails the current batch, exactly Auto Loader's documented
  restart-to-pick-up-new-columns contract; the failed batch was never
  committed, so the restart reprocesses it under the wider schema),
  ``failOnNewColumns`` (fail without widening), or ``none`` (ignore
  unknown columns).
- ``cloudFiles.maxFilesPerTrigger``: backlog drain rate limit.

The reference's lineage line ``col("_metadata.file_path")`` is served
by emitting ``_metadata`` as a REAL struct column (file_path,
file_name, file_size, file_modification_time) — Python DataSources
cannot inject the hidden FileSourceStrategy metadata column. The
``delta`` writers emulate the hidden-column semantics by auto-excluding
the struct from writes (delta_table.strip_hidden_metadata; keep it with
.option('keep_metadata_column', 'true')), so the reference's bronze
block persists the same columns it would on Databricks.

At 100 TB: discovery is one directory listing per trigger (the ledger
makes it incremental-append only), each file is one InputPartition
(executors parse with pyarrow, Arrow-batch transfer), and the driver
holds file NAMES only."""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

_LEDGER = "_ledger.jsonl"
_META_FIELDS = (
    "`file_path` string, `file_name` string, `file_size` bigint, "
    "`file_modification_time` timestamp"
)


def _list_source_files(src: str, fmt: str) -> list[str]:
    exts = {"csv": (".csv",), "json": (".json", ".jsonl"),
            "parquet": (".parquet",)}[fmt]
    out = []
    for dirpath, dirs, files in os.walk(src):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if fn.lower().endswith(exts) and not fn.startswith(("_", ".")):
                out.append(os.path.join(dirpath, fn))
    # deterministic ingestion order for simultaneously-discovered files
    return sorted(out, key=lambda p: (os.stat(p).st_mtime_ns, p))


def _infer_arrow_schema(path: str, fmt: str, header: bool):
    import pyarrow as pa
    import pyarrow.csv as pcsv
    import pyarrow.json as pjson
    import pyarrow.parquet as pq

    if fmt == "parquet":
        return pq.read_schema(path)
    if fmt == "json":
        return pjson.read_json(path).schema
    return _read_csv(path, header).schema


def _read_csv(path: str, header: bool):
    import pyarrow.csv as pcsv

    # empty string -> NULL for string columns too (Spark CSV / Auto
    # Loader semantics; pyarrow's default keeps "" as a value)
    return pcsv.read_csv(
        path,
        read_options=pcsv.ReadOptions(
            autogenerate_column_names=not header
        ),
        convert_options=pcsv.ConvertOptions(strings_can_be_null=True),
    )


def _spark_fields(arrow_fields) -> list:
    """Arrow fields -> Spark StructFields, context-free (schema() runs
    in the DataSource helper process, which has no SparkContext —
    DDL-string parsing is unavailable there)."""
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import StructField

    return [
        StructField(f.name, from_arrow_type(f.type), True)
        for f in arrow_fields
    ]


class _SchemaTracker:
    """schema_N.json files under schemaLocation — Auto Loader's schema
    tracking: the highest N is authoritative; widening writes N+1."""

    def __init__(self, loc: str):
        self.loc = loc
        os.makedirs(loc, exist_ok=True)

    def latest(self) -> tuple[int, StructType] | None:
        best = None
        for fn in os.listdir(self.loc):
            if fn.startswith("schema_") and fn.endswith(".json"):
                try:
                    n = int(fn[len("schema_"):-len(".json")])
                except ValueError:
                    continue
                if best is None or n > best[0]:
                    best = (n, fn)
        if best is None:
            return None
        with open(os.path.join(self.loc, best[1])) as f:
            return best[0], StructType.fromJson(json.load(f))

    def write(self, n: int, schema: StructType) -> None:
        tmp = os.path.join(self.loc, f".schema_{n}.tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(schema.jsonValue(), f)
        os.replace(tmp, os.path.join(self.loc, f"schema_{n}.json"))


@dataclass
class _FileSlice(InputPartition):
    path: str
    seq: int


class CloudFilesStreamReader(DataSourceStreamReader):
    def __init__(self, src: str, schema: StructType, options):
        self.src = src
        self.schema = schema  # includes the _metadata struct column
        self.fmt = (options.get("cloudfiles.format") or "csv").lower()
        self.header = str(options.get("header", "true")).lower() == "true"
        loc = options.get("cloudfiles.schemalocation")
        if not loc:
            raise ValueError(
                "cloudFiles requires .option('cloudFiles.schemaLocation', "
                "<dir>) — it holds the tracked schema and the file ledger"
            )
        self.loc = loc
        os.makedirs(loc, exist_ok=True)
        self.evolution = (
            options.get("cloudfiles.schemaevolutionmode") or "addNewColumns"
        )
        mft = options.get("cloudfiles.maxfilespertrigger")
        self.max_files = int(mft) if mft is not None else None
        self._data_fields = [
            f for f in schema.fields if f.name != "_metadata"
        ]

    # ------------------------------------------------------------ ledger
    def _ledger_path(self) -> str:
        return os.path.join(self.loc, _LEDGER)

    def _ledger(self) -> list[str]:
        try:
            with open(self._ledger_path()) as f:
                return [json.loads(s)["path"] for s in f if s.strip()]
        except FileNotFoundError:
            return []

    def _discover(self) -> int:
        """Append newly-visible files to the ledger; returns its size."""
        known = self._ledger()
        seen = set(known)
        new = [p for p in _list_source_files(self.src, self.fmt)
               if p not in seen]
        if new:
            with open(self._ledger_path(), "a") as f:
                for i, p in enumerate(new):
                    f.write(
                        json.dumps({"seq": len(known) + i, "path": p}) + "\n"
                    )
        return len(known) + len(new)

    # ------------------------------------------------------------ offsets
    def initialOffset(self) -> dict:
        return {"seq": 0}

    # Highest offset ever COMMITTED, advanced only by commit() (Spark
    # re-issues commit(lastCommitted) when resuming from a checkpoint,
    # so a restarted reader re-learns it before new batches plan).
    # ADVICE r8 #3: with maxFilesPerTrigger set, a freshly-restarted
    # reader (=None) used to cap latestOffset at 0+max — BELOW the
    # checkpointed start — Spark then logs the regressed offset and the
    # following batch re-delivers already-committed files. latestOffset
    # never returns below the watermark, and partitions() never serves
    # at or below it. The batch START is NOT a usable watermark: Spark
    # legally re-plans an UNcommitted earlier batch from its WAL after
    # a later planning call (observed call order on restart), so only
    # commit() may advance this.
    _committed: int | None = None

    def latestOffset(self) -> dict:
        n = self._discover()
        base = self._committed if self._committed is not None else 0
        if self.max_files is not None:
            n = min(n, base + self.max_files)
        return {"seq": max(n, base)}

    def commit(self, end: dict) -> None:
        if self._committed is None or end["seq"] > self._committed:
            self._committed = end["seq"]

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        s, e = start["seq"], end["seq"]
        if self._committed is not None:
            s = max(s, self._committed)  # never re-serve committed files
        if e <= s:
            return []
        ledger = self._ledger()
        if e > len(ledger):
            raise ValueError(
                f"offset {e} beyond the ledger ({len(ledger)} files) — "
                "the schemaLocation ledger was deleted out from under a "
                "live checkpoint; use a fresh checkpoint + schemaLocation"
            )
        out = []
        for seq in range(s, e):
            path = ledger[seq]
            self._check_evolution(path)
            out.append(_FileSlice(path=path, seq=seq))
        return out

    def _check_evolution(self, path: str) -> None:
        """Auto Loader's new-column contract, applied at planning time:
        addNewColumns widens the tracked schema on disk THEN fails the
        batch (nothing committed — the restart reprocesses it under
        the wider schema); failOnNewColumns fails without widening;
        none ignores unknown columns at read."""
        if self.evolution == "none":
            return
        file_schema = _infer_arrow_schema(path, self.fmt, self.header)
        known = {f.name for f in self._data_fields}
        extra = [f for f in file_schema if f.name not in known]
        if not extra:
            return
        names = [f.name for f in extra]
        if self.evolution == "failOnNewColumns":
            raise ValueError(
                f"cloudFiles: {os.path.basename(path)} carries unknown "
                f"columns {names} (schemaEvolutionMode=failOnNewColumns)"
            )
        tracker = _SchemaTracker(self.loc)
        cur = tracker.latest()
        n = cur[0] if cur else 0
        widened = StructType(
            list(self._data_fields) + _spark_fields(extra)
        )
        tracker.write(n + 1, widened)
        raise RuntimeError(
            f"cloudFiles: new columns {names} in "
            f"{os.path.basename(path)} — the tracked schema was widened "
            f"(schema_{n + 1}.json); restart the stream to pick it up "
            "(addNewColumns contract; this batch was not committed and "
            "will be reprocessed)"
        )

    # ------------------------------------------------------------ reading
    def read(self, partition: _FileSlice) -> Iterator:
        from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
            _scan_file,
        )

        path = partition.path
        if self.fmt == "parquet":
            src = path  # the kernel reads only the schema's columns
        elif self.fmt == "json":
            import pyarrow.json as pjson

            src = pjson.read_json(path)
        else:
            src = _read_csv(path, self.header)
        st = os.stat(path)
        meta = {
            "file_path": "file://" + os.path.abspath(path),
            "file_name": os.path.basename(path),
            "file_size": st.st_size,
            "file_modification_time": int(st.st_mtime * 1_000_000),
        }
        return _scan_file(src, self.schema, consts={"_metadata": meta})


class CloudFilesDataSource(DataSource):
    """``spark.readStream.format("cloudFiles")`` — register with
    :func:`register` (or spark.dataSource.register)."""

    @classmethod
    def name(cls) -> str:
        return "cloudFiles"

    def _src(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("cloudFiles requires .load(<source dir>)")
        from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import _fs_path

        return _fs_path(path)

    def schema(self) -> str:
        loc = self.options.get("cloudfiles.schemalocation")
        if not loc:
            raise ValueError(
                "cloudFiles requires .option('cloudFiles.schemaLocation', "
                "<dir>)"
            )
        tracker = _SchemaTracker(loc)
        cur = tracker.latest()
        if cur is None:
            fmt = (self.options.get("cloudfiles.format") or "csv").lower()
            header = (
                str(self.options.get("header", "true")).lower() == "true"
            )
            files = _list_source_files(self._src(), fmt)
            if not files:
                raise ValueError(
                    f"cloudFiles: no {fmt} files under {self._src()} to "
                    "infer a schema from (and no tracked schema yet); "
                    "provide .schema(...) or add data"
                )
            inferred = _infer_arrow_schema(files[0], fmt, header)
            tracker.write(0, StructType(_spark_fields(inferred)))
            cur = tracker.latest()
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in cur[1].fields
            if f.name != "_metadata"
        )
        return f"{ddl}, `_metadata` struct<{_META_FIELDS}>"

    def streamReader(self, schema: StructType) -> CloudFilesStreamReader:
        return CloudFilesStreamReader(self._src(), schema, self.options)


def register(spark) -> None:
    spark.dataSource.register(CloudFilesDataSource)
