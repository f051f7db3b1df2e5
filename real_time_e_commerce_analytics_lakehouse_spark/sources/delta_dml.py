"""Row-level DML on FOREIGN Delta tables: MERGE / DELETE / UPDATE
committed straight to a plain `_delta_log` — the reference's central
silver-layer operation (db_notebooks/02_bronze_to_silver.py runs
``DeltaTable.forPath(...).merge(...).whenMatchedUpdateAll()
.whenNotMatchedInsertAll()`` per table) served without delta-spark and
without converting the table to the engine's own format first.

All three are COPY-ON-WRITE in the standard file-pruned shape:

1. attribute every target row to its parquet file (one scan),
2. find the files that actually contain affected rows (a distinct on
   FILE names — bounded by file count, never row count),
3. rewrite ONLY those files (kept rows + new row versions),
4. one atomic commit: remove(old, dataChange=true) + add(new) — plus,
   when the table sets ``delta.enableChangeDataFeed``, real ``cdc``
   actions over `_change_data/` files carrying insert /
   update_preimage / update_postimage / delete rows, so any CDF reader
   (including this engine's own ``delta_changes`` and the
   ``readChangeFeed`` format option) sees exact row-level images.

``delete_delta(mode="mor")`` is the merge-on-read alternative: instead
of rewriting files it WRITES deletion vectors (roaring bitmaps, the
same from-spec codec the export path uses) and re-adds the files with
their new DV descriptors — O(deleted rows) bitmap bytes, zero data
rewrite; compaction (`optimize_delta`) later materializes them.

At 100 TB: the scans and rewrites are executor-side Spark jobs; the
driver handles file NAMES, bounded DV bitmaps, and one JSON commit.
The one intentionally driver-held structure is a MoR delete's row-index
bitmaps — bounded by rows deleted in that statement, the same contract
as the engine's laketable MoR path.

Column-mapped tables ('name' and 'id', nested types included) are
fully DML-able: scans resolve logical names recursively
(sources/colmap.py) and rewrites stage physical names + parquet field
ids through Spark's fieldId.write path. Protocol-tier refusals (loud):
appendOnly tables (when the delta.appendOnly property enables it),
CHECK invariants, unknown writer features — same gate as the ``delta``
format writer.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
    release_frame,
)
from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
    _DELTA_DIR,
    DeltaSnapshot,
    _apply_deletion_vectors,
    _encode_path,
    _num_records,
    commit_delta,
)
from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_table import (
    _delta_pval,
    _guard_writable,
)
from real_time_e_commerce_analytics_lakehouse_spark.sources.pyds import (
    _HIVE_NULL,
    _unescape_hive,
    _hive_segment,
)

_FILE = "__dml_file"  # rel-path attribution column during planning


def _prune_files_by_source_keys(
    snap: DeltaSnapshot, source: DataFrame, keys: Sequence[str]
) -> None:
    """Drop files whose per-key [min, max] footer-stats range cannot
    intersect the SOURCE's key range — in place on ``snap``.

    Exact for MERGE both ways: a pruned file overlaps no source key, so
    it can contain no matched row (nothing to rewrite) AND none of its
    keys can equal a source key (the insert anti-join loses nothing by
    not seeing them). Files lacking stats for any key column are kept.
    This is what makes merge_delta cost ∝ matched-file bytes instead of
    table bytes at 100 TB: the common merge source (recent keys) spans
    a narrow key range, and every file outside it is skipped without a
    read. One bounded agg over the source computes the range."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_table import (
        _stat_typed,
    )

    if not snap.stats:
        return
    dtypes = {
        f.name: f.dataType.simpleString()
        for f in snap.spark_schema().fields
    }
    # stats keys use PHYSICAL column names under column mapping
    phys = snap.physical_names()
    agg = source.agg(
        *[F.min(k).alias(f"__lo_{k}") for k in keys],
        *[F.max(k).alias(f"__hi_{k}") for k in keys],
    ).collect()[0]
    bounds = {k: (agg[f"__lo_{k}"], agg[f"__hi_{k}"]) for k in keys}
    if any(lo is None or hi is None for lo, hi in bounds.values()):
        return  # empty source / all-NULL key: nothing safe to assume
    keep: dict[str, dict] = {}
    for rel, pvals in snap.files.items():
        st = snap.stats.get(rel) or {}
        mins, maxs = st.get("minValues") or {}, st.get("maxValues") or {}
        pruned = False
        for k in keys:
            pk = phys.get(k, k)
            if pk not in mins or pk not in maxs:
                continue
            try:
                f_lo = _stat_typed(mins[pk], dtypes.get(k))
                f_hi = _stat_typed(maxs[pk], dtypes.get(k))
                lo, hi = bounds[k]
                if f_lo > hi or f_hi < lo:
                    pruned = True
                    break
            except (TypeError, ValueError):
                continue  # incomparable stats: keep the file, exact
        if not pruned:
            keep[rel] = pvals
    snap.files = keep
    snap.dvs = {r: d for r, d in snap.dvs.items() if r in keep}
    snap.stats = {r: s for r, s in snap.stats.items() if r in keep}


def _prune_files_by_partitions(
    snap: DeltaSnapshot, partitions: dict[str, list]
) -> None:
    """Restrict ``snap`` to files whose add.partitionValues fall inside
    the selection — the same contract as read_delta_log(partitions=);
    driver-side, zero I/O. For DELETE/UPDATE this bounds the scan to
    the named partitions (the predicate is still applied in full)."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        _canon_partition_value,
    )

    unknown = set(partitions) - set(snap.partition_cols)
    if unknown:
        raise ValueError(
            f"not partition columns: {sorted(unknown)} "
            f"(table partitions: {snap.partition_cols})"
        )
    want = {
        c: {_canon_partition_value(c, v) for v in vals}
        for c, vals in partitions.items()
    }
    snap.files = {
        rel: pvals
        for rel, pvals in snap.files.items()
        if all(pvals.get(c) in vals for c, vals in want.items())
    }
    snap.dvs = {r: d for r, d in snap.dvs.items() if r in snap.files}
    snap.stats = {r: s for r, s in snap.stats.items() if r in snap.files}


def _rt_mat_names(snap: DeltaSnapshot) -> tuple[str, str] | None:
    """(row-id col, row-commit-version col) when row tracking is on AND
    the table names its materialized columns (set at enablement), else
    None — the DML preserved-id tier only engages with recorded names."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        row_tracking_enabled,
    )

    if not row_tracking_enabled(snap.configuration):
        return None
    mi = snap.configuration.get(
        "delta.rowTracking.materializedRowIdColumnName"
    )
    mv = snap.configuration.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    if not (mi and mv):
        return None
    return mi, mv


def _drop_mat(df: DataFrame, snap: DeltaSnapshot) -> DataFrame:
    """Strip the materialized row-tracking columns (cdc files and
    branch frames that must carry logical columns only)."""
    mat = _rt_mat_names(snap)
    return df.drop(*mat) if mat else df


def _scan_with_file(
    spark: SparkSession, path: str, snap: DeltaSnapshot
) -> DataFrame:
    """Snapshot scan with logical columns plus ``__dml_file`` (the
    table-relative parquet file each row lives in). DV tombstones are
    anti-joined out; partition columns restored typed via the same
    broadcast file->values join read_delta_log uses.

    Row-tracking tables additionally carry the two MATERIALIZED
    columns (config-named), each resolved to the row's CURRENT value —
    coalesce(stored materialized, baseRowId/defaultRowCommitVersion +
    position) — so a copy-on-write rewrite that keeps these columns in
    its staged files PRESERVES every surviving row's id (PROTOCOL.md's
    preserved tier; fresh-tier readers that ignore them still see
    valid, unique fresh ids)."""
    schema = snap.spark_schema()
    mat = _rt_mat_names(snap)
    if not snap.files:
        base = spark.createDataFrame([], schema.add(_FILE, "string"))
        if mat:
            base = base.withColumn(
                mat[0], F.lit(None).cast("long")
            ).withColumn(mat[1], F.lit(None).cast("long"))
        return base
    # explicit physical schema, not mergeSchema: widens pre-ALTER
    # narrower footers and null-fills absent columns instead of
    # throwing on mixed-width files (same contract as read_delta_log)
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        _physical_scan_schema,
    )

    scan_schema = _physical_scan_schema(
        snap, snap.resolved_physical_names(path)
    )
    if mat:
        from pyspark.sql.types import LongType, StructField

        for c in mat:
            if c not in scan_schema.fieldNames():
                scan_schema = scan_schema.add(StructField(c, LongType(), True))
    df = spark.read.schema(scan_schema).parquet(
        *[os.path.join(path, p) for p in snap.files]
    )
    decoded = F.url_decode(
        F.replace(F.col("_metadata.file_path"), F.lit("+"), F.lit("%2B"))
    )
    df = df.withColumn("__dml_fp", decoded)
    if mat:
        # physical position, captured before any join (hidden _metadata
        # stops resolving after one); DV apply is itself the first join
        df = df.withColumn("__dml_ri", F.col("_metadata.row_index"))
    if snap.dvs:
        df = _apply_deletion_vectors(df, snap, "__dml_fp")
    # column mapping: files store physical names; partitionValues key
    # physically; nested fields rename recursively (sources/colmap.py)
    phys = snap.resolved_physical_names(path)
    rows = [
        (os.path.abspath(os.path.join(path, rel)), rel)
        + tuple(
            (
                (snap.row_ids.get(rel) or {}).get("baseRowId"),
                (snap.row_ids.get(rel) or {}).get("defaultRowCommitVersion"),
            )
            if mat
            else ()
        )
        + tuple(pvals.get(phys.get(c, c)) for c in snap.partition_cols)
        for rel, pvals in snap.files.items()
    ]
    meta = spark.createDataFrame(
        rows,
        ", ".join(
            ["__dml_path string", f"`{_FILE}` string"]
            + (["__dml_base long", "__dml_rcv long"] if mat else [])
            + [f"`__dml_{c}` string" for c in snap.partition_cols]
        ),
    )
    joined = df.join(
        F.broadcast(meta),
        F.col("__dml_fp") == F.concat(F.lit("file:"), F.col("__dml_path")),
        "left",
    )
    if mat:
        joined = joined.withColumn(
            mat[0],
            F.coalesce(
                F.col(mat[0]), F.col("__dml_base") + F.col("__dml_ri")
            ),
        ).withColumn(
            mat[1], F.coalesce(F.col(mat[1]), F.col("__dml_rcv"))
        )
    ptypes = {
        f.name: f.dataType.simpleString()
        for f in schema.fields
        if f.name in snap.partition_cols
    }
    from real_time_e_commerce_analytics_lakehouse_spark.sources.colmap import (
        is_nested,
        logical_expr,
    )

    fjson = {f["name"]: f for f in snap.schema_json.get("fields", [])}
    actual = {x.name: x.dataType for x in df.schema.fields}
    out = []
    for f in schema.fields:
        pn = phys.get(f.name, f.name)
        if f.name in snap.partition_cols:
            out.append(
                F.col(f"__dml_{f.name}").cast(ptypes[f.name]).alias(f.name)
            )
        elif pn in df.columns:
            col = F.col(pn)
            fj = fjson.get(f.name)
            if (
                snap.column_mapping_mode != "none"
                and fj is not None
                and is_nested(fj.get("type"))
            ):
                col = logical_expr(col, fj["type"], actual.get(pn))
            out.append(col.alias(f.name))
        else:  # additive-evolution column absent from every file
            out.append(F.lit(None).cast(f.dataType).alias(f.name))
    if mat:
        out.extend([F.col(mat[0]), F.col(mat[1])])
    return joined.select(*out, F.col(_FILE))


def _cdf_enabled(snap: DeltaSnapshot) -> bool:
    cfg = getattr(snap, "configuration", None) or {}
    return str(cfg.get("delta.enableChangeDataFeed", "")).lower() == "true"


def _constraint_exprs(snap: DeltaSnapshot) -> list[tuple[str, str]]:
    """(name, boolean SQL expr) for every table CHECK constraint
    (``delta.constraints.<name>`` configuration, writer feature
    checkConstraints) and column invariant (``delta.invariants`` field
    metadata, legacy writer-2 feature). Unparseable invariants refuse
    loudly rather than write unvalidated."""
    out: list[tuple[str, str]] = []
    for k, v in (snap.configuration or {}).items():
        if k.startswith("delta.constraints."):
            out.append((k[len("delta.constraints."):], v))
    for f in snap.schema_json.get("fields", []):
        inv = (f.get("metadata") or {}).get("delta.invariants")
        if not inv:
            continue
        try:
            expr = json.loads(inv)["expression"]["expression"]
        except (ValueError, KeyError, TypeError):
            raise NotImplementedError(
                f"column {f['name']}: unparseable delta.invariants "
                f"payload {inv!r} — refusing to write unvalidated"
            ) from None
        out.append((f"invariant({f['name']})", expr))
    return out


def _generated_exprs(snap: DeltaSnapshot) -> list[tuple[str, str]]:
    """(column, SQL expr) for every generated column
    (``delta.generationExpression`` field metadata, writer feature
    generatedColumns / legacy writer 4)."""
    out: list[tuple[str, str]] = []
    for f in snap.schema_json.get("fields", []):
        gen = (f.get("metadata") or {}).get("delta.generationExpression")
        if gen:
            out.append((f["name"], gen))
    return out


def _apply_constraints(spark_df: DataFrame, snap: DeltaSnapshot) -> DataFrame:
    """In-plan CHECK validation on staged rows (delta-spark parity):
    a row fails only when the expression is FALSE — NULL passes (SQL
    CHECK semantics) — and the write job aborts naming the constraint
    before any file is adopted. Generated columns validate as the
    implied constraint ``col <=> (genExpr)`` (upstream's enforcement
    rule: a stored value must null-safe-equal its generation
    expression over the same row)."""
    for name, expr in _constraint_exprs(snap):
        spark_df = spark_df.where(
            F.assert_true(
                F.expr(f"({expr}) IS NOT FALSE"),
                F.lit(
                    f"CHECK constraint {name} violated: ({expr}) "
                    "is false for a written row"
                ),
            ).isNull()
        )
    for col, gen in _generated_exprs(snap):
        spark_df = spark_df.where(
            F.assert_true(
                F.expr(f"`{col}` <=> ({gen})"),
                F.lit(
                    f"generated column {col} violated: stored value "
                    f"does not equal ({gen}) for a written row"
                ),
            ).isNull()
        )
    return spark_df


# --------------------------------------------------------------------------
# identity columns (PROTOCOL.md "Identity Columns", legacy writer 6 /
# table feature identityColumns)
# --------------------------------------------------------------------------


def _identity_specs(snap: DeltaSnapshot) -> dict[str, dict]:
    """{column: {start, step, hwm, allow_explicit}} for every identity
    column (``delta.identity.*`` field metadata)."""
    out: dict[str, dict] = {}
    for f in snap.schema_json.get("fields", []):
        md = f.get("metadata") or {}
        if not any(k.startswith("delta.identity.") for k in md):
            continue
        out[f["name"]] = {
            "start": int(md.get("delta.identity.start", 1)),
            "step": int(md.get("delta.identity.step", 1)),
            "hwm": (
                int(md["delta.identity.highWaterMark"])
                if md.get("delta.identity.highWaterMark") is not None
                else None
            ),
            "allow_explicit": bool(
                md.get("delta.identity.allowExplicitInsert", False)
            ),
        }
        if out[f["name"]]["step"] == 0:
            raise ValueError(f"identity column {f['name']}: step 0")
    return out


def _generate_identity(
    df: DataFrame, name: str, dtype: str, base: int, step: int
) -> tuple[DataFrame, int]:
    """Assign ``base + k*step`` (k = 1..N, so the first value after an
    unset water mark is exactly ``start``) to every row, distributed:
    per-Spark-partition counts -> prefix offsets (driver sees one row
    per partition, never data) -> per-partition row_number. No global
    single-reducer window; the ids are contiguous and unique. Returns
    (df with the column, new high-water mark). The result leases the
    checkpointed frame it reads (`_cached_deps`): release it once the
    write that consumes the result has run.

    The tagged frame is ``localCheckpoint``-ed (eager) BEFORE the count
    job: both jobs then read the same materialized blocks, so the
    ``spark_partition_id`` values the offsets were computed from are
    byte-identical to the ones the row_number pass sees. Without the
    pin, AQE coalescing or a non-deterministic upstream (e.g. a merge's
    anti-join inserts) can re-plan between the two evaluations —
    shifted counts would mint duplicate ids and unmapped pids would
    silently NULL a GENERATED ALWAYS column. As a belt-and-braces
    guard the offset lookup also fails loudly in-plan on any pid
    absent from the map."""
    from pyspark.sql.window import Window as W

    tagged = df.withColumn(
        "__id_pid", F.spark_partition_id()
    ).localCheckpoint(eager=True)
    counts = {
        r["__id_pid"]: r["cnt"]
        for r in tagged.groupBy("__id_pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    total = sum(counts.values())
    offsets: dict[int, int] = {}
    acc = 0
    for i in sorted(counts):
        offsets[i] = acc
        acc += counts[i]
    if not offsets:
        release_frame(tagged)  # no rows: nothing will read it
        return df.withColumn(name, F.lit(None).cast(dtype)), base
    omap = F.create_map(
        *[x for i in offsets for x in (F.lit(i), F.lit(offsets[i]))]
    )
    # loud in-plan failure on a pid the count job never saw (would
    # otherwise NULL the identity value): assert_true returns NULL
    # when the condition holds, so coalesce-through keeps the plan
    # branch-free while still erroring on the impossible path
    off = omap[F.col("__id_pid")]
    off_checked = F.when(
        F.assert_true(
            off.isNotNull(),
            F.concat(
                F.lit("identity generation: partition id "),
                F.col("__id_pid").cast("string"),
                F.lit(
                    " missing from the offsets map — the plan "
                    "repartitioned between the count and assign jobs"
                ),
            ),
        ).isNull(),
        off,
    )
    w = W.partitionBy("__id_pid").orderBy(F.monotonically_increasing_id())
    k = F.row_number().over(w).cast("long") + off_checked
    out = tagged.withColumn(
        name, (F.lit(base) + k * F.lit(step)).cast(dtype)
    ).drop("__id_pid")
    out._cached_deps = [tagged]
    return out, base + total * step


def _apply_identity(
    df: DataFrame, snap: DeltaSnapshot
) -> tuple[DataFrame, dict[str, int], list[DataFrame]]:
    """Fill / validate identity columns on rows being INSERTED:
    a column absent from ``df`` is GENERATED (fresh values above the
    high-water mark, aligned to start/step); a column present must have
    ``allowExplicitInsert`` (GENERATED BY DEFAULT) — its water mark
    then SYNCs to the furthest explicit value in the step's direction.
    Returns (df covering every table column, {column: new hwm},
    checkpointed frames to release_frame after the consuming write)."""
    specs = _identity_specs(snap)
    if not specs:
        return df, {}, []
    dtypes = {
        f.name: f.dataType.simpleString()
        for f in snap.spark_schema().fields
    }
    new_hwm: dict[str, int] = {}
    leases: list[DataFrame] = []
    for name, sp in specs.items():
        step = sp["step"]
        if name in df.columns:
            if not sp["allow_explicit"]:
                raise ValueError(
                    f"identity column {name} is GENERATED ALWAYS "
                    "(allowExplicitInsert=false): explicit values are "
                    "forbidden — drop the column and let the engine "
                    "assign it"
                )
            agg = F.max(name) if step > 0 else F.min(name)
            ext = df.agg(agg).first()[0]
            if ext is not None:
                ext = int(ext)
                cur = sp["hwm"]
                if cur is None:
                    new_hwm[name] = ext
                else:
                    new_hwm[name] = (
                        max(cur, ext) if step > 0 else min(cur, ext)
                    )
            continue
        base = sp["hwm"] if sp["hwm"] is not None else sp["start"] - step
        df, hwm = _generate_identity(df, name, dtypes[name], base, step)
        leases += getattr(df, "_cached_deps", [])
        if hwm != base:
            new_hwm[name] = hwm
    return df, new_hwm, leases


def _identity_metadata_action(
    snap: DeltaSnapshot, new_hwms: dict[str, int]
) -> dict | None:
    """metaData re-emission carrying bumped identity high-water marks
    (None when nothing moved)."""
    if not new_hwms:
        return None
    fields = []
    for f in snap.schema_json.get("fields", []):
        if f["name"] in new_hwms:
            f = dict(f)
            md = dict(f.get("metadata") or {})
            md["delta.identity.highWaterMark"] = int(
                new_hwms[f["name"]]
            )
            f["metadata"] = md
        fields.append(f)
    return {
        "metaData": {
            "id": getattr(snap, "meta_id", None)
            or f"laketable-{os.path.basename(snap.path)}",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}
            ),
            "partitionColumns": list(snap.partition_cols),
            "configuration": dict(snap.configuration),
        }
    }


def create_delta_table(
    path: str,
    schema_ddl: str,
    partition_by: Sequence[str] = (),
    identity: dict[str, dict] | None = None,
    configuration: dict[str, str] | None = None,
    generated: dict[str, str] | None = None,
) -> None:
    """CREATE TABLE: commit version 0 of an empty foreign Delta table.
    ``identity``: {column: {"start": 1, "step": 1,
    "allow_explicit_insert": False}} marks BIGINT columns as identity
    (delta-spark's GENERATED ALWAYS/BY DEFAULT AS IDENTITY) — the
    protocol floor rises to legacy writer 6 and ``insert_delta`` /
    ``merge_delta`` generate their values."""
    from pyspark.sql.types import StructType

    if os.path.isdir(os.path.join(path, "_delta_log")):
        raise FileExistsError(f"{path} is already a Delta table")
    schema = StructType.fromDDL(schema_ddl)
    identity = identity or {}
    generated = generated or {}
    unknown = (set(identity) | set(generated)) - {
        f.name for f in schema.fields
    }
    if unknown:
        raise ValueError(f"identity on non-schema columns: {sorted(unknown)}")
    overlap = set(identity) & set(generated)
    if overlap:
        raise ValueError(
            f"columns cannot be both identity and generated: "
            f"{sorted(overlap)}"
        )
    fields = []
    for f in schema.fields:
        fj = f.jsonValue()
        if f.name in generated:
            md = dict(fj.get("metadata") or {})
            md["delta.generationExpression"] = generated[f.name]
            fj["metadata"] = md
        if f.name in identity:
            if f.dataType.simpleString() not in ("bigint", "long"):
                raise ValueError(
                    f"identity column {f.name} must be BIGINT, got "
                    f"{f.dataType.simpleString()} (upstream contract)"
                )
            sp = identity[f.name]
            md = dict(fj.get("metadata") or {})
            md["delta.identity.start"] = int(sp.get("start", 1))
            md["delta.identity.step"] = int(sp.get("step", 1))
            md["delta.identity.allowExplicitInsert"] = bool(
                sp.get("allow_explicit_insert", False)
            )
            fj["metadata"] = md
        fields.append(fj)
    now = int(time.time() * 1000)
    cfg = dict(configuration or {})
    protocol: dict[str, Any] = {
        "minReaderVersion": 1,
        # identity -> legacy writer 6; generated columns -> legacy
        # writer 4 (PROTOCOL.md feature/version table)
        "minWriterVersion": (6 if identity else (4 if generated else 2)),
    }
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        ROW_TRACKING_DOMAIN,
        _rt_materialized_names,
        row_tracking_enabled,
    )

    rt_actions: list[dict] = []
    if row_tracking_enabled(cfg):
        # a table BORN with delta.enableRowTracking carries the feature
        # gate, the materialized column names, and an initial water
        # mark from version 0 — the property must never outrun the
        # protocol (same rule as the DV gate)
        from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
            _legacy_writer_features,
        )

        feats = _legacy_writer_features(
            int(protocol["minWriterVersion"])
        ) | {"rowTracking", "domainMetadata"}
        if identity:
            feats.add("identityColumns")
        protocol = {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": sorted(feats),
        }
        cfg.update(_rt_materialized_names(cfg)[2])
        rt_actions.append(
            {
                "domainMetadata": {
                    "domain": ROW_TRACKING_DOMAIN,
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": -1}
                    ),
                    "removed": False,
                }
            }
        )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        _legacy_writer_features as _lwf,
    )

    if cfg.get("delta.enableInCommitTimestamps", "").lower() == "true":
        # ICT at birth: the writer-7 feature must accompany the
        # property from version 0 (commit_time_fields stamps the clock)
        feats0 = set(protocol.get("writerFeatures") or []) or _lwf(
            int(protocol["minWriterVersion"])
        )
        if identity:
            feats0.add("identityColumns")
        protocol = {
            "minReaderVersion": int(protocol["minReaderVersion"]),
            "minWriterVersion": 7,
            "writerFeatures": sorted(feats0 | {"inCommitTimestamp"}),
        }
    actions = [
        {"protocol": protocol},
        {
            "metaData": {
                "id": f"pyds-delta-{os.path.basename(os.path.abspath(path))}",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": list(partition_by),
                "configuration": cfg,
                "createdTime": now,
            }
        },
        *rt_actions,
    ]
    commit_delta(path, 0, actions, "CREATE TABLE", {}, None, cfg)


def insert_delta(spark: SparkSession, path: str, df: DataFrame) -> dict:
    """INSERT INTO: staged append through the validated DML tier —
    CHECK constraints, column invariants and generated columns enforce
    in-plan, identity columns GENERATE (contiguous values above the
    high-water mark, no global reducer), and the commit re-emits
    metaData with the bumped marks. The arrow-path
    ``format('delta').mode('append')`` writer generates too
    (arrow_enforce.py) but with per-task disjoint id-blocks — gaps
    between tasks; this tier is the one that reserves a count-sized
    contiguous range."""
    snap = DeltaSnapshot(path)
    _guard_writable(snap, overwrite=False, enforce_constraints=True)
    df, new_hwms, id_leases = _apply_identity(df, snap)
    try:
        cols = [f.name for f in snap.spark_schema().fields]
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"insert lacks table columns {missing}")
        adds = _stage_data_files(
            df.select(*cols), path, list(snap.partition_cols), snap
        )
        cdcs = (
            _stage_cdc_files(
                df.select(*cols).withColumn("_change_type", F.lit("insert")),
                path,
                snap,
            )
            if _cdf_enabled(snap)
            else []
        )
    finally:
        for f in id_leases:
            release_frame(f)
    n = sum(a[2] for a in adds)
    v = _commit_dml(
        path,
        snap.version,
        [],
        adds,
        cdcs,
        "WRITE",
        {"mode": "Append"},
        configuration=snap.configuration,
        snap=snap,
        metadata_action=_identity_metadata_action(snap, new_hwms),
        metrics={"numOutputRows": n, "numFiles": len(adds)},
    )
    return {"version": v, "rows_inserted": n}


def _stage_data_files(
    spark_df: DataFrame,
    path: str,
    pcols: list[str],
    snap: DeltaSnapshot | None = None,
) -> list[tuple[str, dict, int]]:
    """Write a DataFrame's rows as new table data files (Hive layout
    for partitioned tables) and adopt them under uuid names; returns
    [(rel, partitionValues, numRecords)]. Executors write the bytes;
    the driver renames. Under column mapping (``snap`` given) the
    LOGICAL frame converts to the physical layout first — physical
    names at every level, parquet field ids via Spark's
    fieldId.write path — and pcols/partitionValues come out keyed
    physically, as the spec requires."""
    import uuid as _uuid

    if snap is not None:
        # constraints validate on LOGICAL names, before physical rename
        spark_df = _apply_constraints(spark_df, snap)
    if snap is not None and snap.column_mapping_mode != "none":
        from real_time_e_commerce_analytics_lakehouse_spark.sources.colmap import (
            to_physical_df,
        )

        phys = snap.physical_names()
        # the materialized row-tracking columns are NOT part of the
        # logical schema (fields_json) — pass them through by name so
        # a mapped + row-tracked table keeps preserved ids through
        # copy-on-write rewrites (same spelling _stage_cdc_files uses
        # for _change_type)
        mat = _rt_mat_names(snap) or ()
        spark_df = to_physical_df(
            spark_df,
            snap.schema_json.get("fields", []),
            passthrough=tuple(c for c in mat if c in spark_df.columns),
        )
        pcols = [phys.get(c, c) for c in pcols]
    stage = os.path.join(path, f"_dml_tmp_{_uuid.uuid4().hex}")
    w = spark_df.write
    if pcols:
        w = w.partitionBy(*pcols)
    w.parquet(stage)
    adds: list[tuple[str, dict, int]] = []
    for dirpath, _dirs, files in os.walk(stage):
        segs_raw = [
            s
            for s in os.path.relpath(dirpath, stage).split(os.sep)
            if s and s != "."
        ]
        pvals: dict[str, str | None] = {}
        for s in segs_raw:
            col, _, raw = s.partition("=")
            pvals[col] = None if raw == _HIVE_NULL else _unescape_hive(raw)
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            segs = [
                _hive_segment(c, pvals[c]) for c in pcols
            ]  # canonical escaping
            os.makedirs(os.path.join(path, *segs), exist_ok=True)
            rel = os.path.join(
                *segs, f"part-{_uuid.uuid4().hex}.parquet"
            ) if segs else f"part-{_uuid.uuid4().hex}.parquet"
            os.replace(os.path.join(dirpath, fn), os.path.join(path, rel))
            n = _num_records(os.path.join(path, rel))
            if n == 0:
                os.remove(os.path.join(path, rel))
                continue
            adds.append((rel, {c: pvals.get(c) for c in pcols}, n))
    import shutil

    shutil.rmtree(stage, ignore_errors=True)
    return adds


def _stage_cdc_files(
    cdc_df: DataFrame, path: str, snap: DeltaSnapshot | None = None
) -> list[tuple[str, dict]]:
    """Write `_change_data/` parquet files (rows carry _change_type)
    and return [(rel, partitionValues)] for the cdc actions. Partition
    values are left empty — cdc actions permit it and every reader
    takes row values from the stored columns. Under column mapping the
    data columns store physically, `_change_type` keeps its name (the
    spec exempts the CDF virtual columns from mapping)."""
    import shutil
    import uuid as _uuid

    if snap is not None and snap.column_mapping_mode != "none":
        from real_time_e_commerce_analytics_lakehouse_spark.sources.colmap import (
            to_physical_df,
        )

        cdc_df = to_physical_df(
            cdc_df,
            snap.schema_json.get("fields", []),
            passthrough=("_change_type",),
        )
    stage = os.path.join(path, f"_dml_cdc_tmp_{_uuid.uuid4().hex}")
    cdc_df.write.parquet(stage)
    os.makedirs(os.path.join(path, "_change_data"), exist_ok=True)
    out: list[tuple[str, dict]] = []
    for fn in sorted(os.listdir(stage)):
        if not fn.endswith(".parquet"):
            continue
        src = os.path.join(stage, fn)
        if _num_records(src) == 0:
            continue
        rel = os.path.join("_change_data", f"cdc-{_uuid.uuid4().hex}.parquet")
        os.replace(src, os.path.join(path, rel))
        out.append((rel, {}))
    shutil.rmtree(stage, ignore_errors=True)
    return out


def _commit_dml(
    path: str,
    base_version: int,
    removes: Sequence[tuple[str, dict | None]],
    adds: Sequence[tuple[str, dict, int]],
    cdcs: Sequence[tuple[str, dict]],
    operation: str,
    params: dict[str, str],
    dv_readds: Sequence[tuple[str, dict, dict]] = (),
    protocol_action: dict | None = None,
    configuration: dict | None = None,
    snap: "DeltaSnapshot | None" = None,
    metadata_action: dict | None = None,
    metrics: dict | None = None,
) -> int:
    """One atomic DML commit. ``removes``: (rel, old DV descriptor or
    None); ``dv_readds``: (rel, partitionValues, new DV descriptor) for
    MoR deletes (remove+add of the same path = the spec's DV-replace
    spelling); ``protocol_action``: a ``{"protocol": ...}`` action to
    prepend (first DV write on a table below reader 3 — ADVICE r7 #1)."""
    now = int(time.time() * 1000)
    actions: list[dict] = []
    if protocol_action is not None:
        actions.append(protocol_action)
    if metadata_action is not None:
        # identity high-water-mark bumps re-emit metaData in the same
        # commit (the spec keeps the mark in field metadata)
        actions.append(metadata_action)
    for rel, _dv in removes:
        rm = {
            "path": _encode_path(rel),
            "deletionTimestamp": now,
            "dataChange": True,
        }
        # The spec keys file actions by (path, deletionVector uniqueId):
        # a remove that omits the old descriptor does not cancel the
        # prior DV-bearing add under strict replay (delta-spark
        # InMemoryLogReplay), leaving the stale (path, oldDV) entry
        # live — a second MoR delete or a CoW rewrite of a DV-bearing
        # file would then resurrect/duplicate rows (ADVICE r7 #2).
        if _dv:
            rm["deletionVector"] = dict(_dv)
        actions.append({"remove": rm})
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_table import (
        delta_file_stats,
    )

    for rel, pvals, _n in adds:
        actions.append(
            {
                "add": {
                    "path": _encode_path(rel),
                    "partitionValues": dict(pvals),
                    "size": os.path.getsize(os.path.join(path, rel)),
                    "modificationTime": now,
                    "dataChange": True,
                    "stats": delta_file_stats(os.path.join(path, rel)),
                }
            }
        )
    for rel, pvals, dv in dv_readds:
        abs_p = os.path.join(path, rel)
        actions.append(
            {
                "add": {
                    "path": _encode_path(rel),
                    "partitionValues": dict(pvals),
                    "size": os.path.getsize(abs_p),
                    "modificationTime": int(os.stat(abs_p).st_mtime * 1000),
                    "dataChange": True,
                    "deletionVector": dict(dv),
                    "stats": json.dumps(
                        {"numRecords": _num_records(abs_p),
                         "tightBounds": False}
                    ),
                }
            }
        )
    for rel, pvals in cdcs:
        actions.append(
            {
                "cdc": {
                    "path": _encode_path(rel),
                    "partitionValues": dict(pvals),
                    "size": os.path.getsize(os.path.join(path, rel)),
                    "dataChange": False,
                }
            }
        )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        row_tracking_enabled,
        stamp_row_tracking,
    )

    # row tracking: fresh baseRowId on rewrite adds, PRESERVED ids on
    # MoR DV re-adds (same physical file -> stamp copies the prior
    # base), rowIdHighWaterMark domainMetadata advanced
    if row_tracking_enabled(configuration):
        if snap is None:
            snap = DeltaSnapshot(path)
        stamp_row_tracking(path, snap, actions, base_version + 1)
    return commit_delta(
        path,
        base_version + 1,
        actions,
        operation,
        params,
        metrics or {},
        configuration,
    )


# Legacy protocol versions imply named table features when upgrading to
# the feature-listing tier (PROTOCOL.md "Table Features"): carrying them
# forward on the reader-3/writer-7 bump keeps every capability the table
# already required.
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}


def _dv_protocol_upgrade(snap: "DeltaSnapshot") -> dict | None:
    """Protocol action enabling ``deletionVectors``, or None if the
    table already has the feature.

    A writer is forbidden from committing DV descriptors unless the
    protocol is reader 3 / writer 7 with the feature listed — without
    the gate, spec-conformant foreign readers see minReader 1, skip the
    descriptors entirely and silently resurrect deleted rows
    (ADVICE r7 #1)."""
    p = snap.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    rf = set(p.get("readerFeatures") or [])
    wf = set(p.get("writerFeatures") or [])
    mr = int(p.get("minReaderVersion", 1))
    mw = int(p.get("minWriterVersion", 2))
    if mr >= 3 and "deletionVectors" in rf:
        return None
    if mw < 7:
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if mw >= v:
                wf.update(feats)
    if 2 <= mr < 3:
        rf.add("columnMapping")
    rf.add("deletionVectors")
    wf.add("deletionVectors")
    return {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rf),
            "writerFeatures": sorted(wf),
        }
    }


def _prep(spark: SparkSession, path: str):
    snap = DeltaSnapshot(path)
    # DML removes files (=overwrite tier); CHECK constraints/invariants
    # are ENFORCED in-plan during staging rather than refused
    _guard_writable(snap, overwrite=True, enforce_constraints=True)
    # column-mapped tables are DML-able: scans resolve logical names
    # (_scan_with_file / the MoR raw scan), rewrites stage physically
    # with field ids (_stage_data_files via colmap.to_physical_df)
    return snap


def _parse_equi_keys(condition: str) -> list[str]:
    """Extract the key columns from an AND-chained equi-join condition
    string like ``"t.order_id = s.order_id AND t.item = s.item"`` —
    the only merge-condition shape the reference uses
    (02_bronze_to_silver.py:69-72,337-343). The column name must match
    on both sides; anything else refuses loudly."""
    import re

    pairs = re.findall(
        r"(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)", condition
    )
    residue = re.sub(
        r"(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)", "", condition
    )
    residue = re.sub(r"\bAND\b", "", residue, flags=re.I).strip()
    if not pairs or residue:
        raise NotImplementedError(
            f"merge condition {condition!r} is not an AND-chain of "
            "alias.col = alias.col equi-predicates; pass keys= "
            "explicitly for richer conditions"
        )
    keys = []
    for _a1, c1, _a2, c2 in pairs:
        if c1 != c2:
            raise NotImplementedError(
                f"merge condition equates differently-named columns "
                f"({c1} = {c2}); pass keys= explicitly"
            )
        keys.append(c1)
    return keys


def merge_delta(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: Sequence[str] | None = None,
    insert_only: bool = False,
    guard_col: str | None = None,
    *,
    condition: str | None = None,
    matched_condition: str | None = None,
    set_exprs: dict[str, str] | None = None,
    matched_delete: bool = False,
    target_alias: str = "t",
    insert_when_not_matched: bool = True,
    not_matched_by_source_delete: bool | str = False,
    not_matched_by_source_set: dict[str, str] | None = None,
    not_matched_by_source_condition: str | None = None,
) -> dict:
    """MERGE ``source`` into a foreign Delta table — the reference's
    silver shapes (db_notebooks/02_bronze_to_silver.py):

    - default: whenMatchedUpdateAll + whenNotMatchedInsertAll on
      ``keys``;
    - ``insert_only=True``: drop the update branch (bronze
      file-idempotency);
    - ``guard_col``: update only when ``source.g >= target.g``;
    - ``matched_condition``: an arbitrary boolean SQL condition over
      the target (qualified by ``target_alias``) and the source
      (qualified by ITS OWN DataFrame alias — pass
      ``source.alias("source")`` like the notebooks do), e.g.
      ``"source.ingestion_ts > target.ingestion_ts"``;
    - ``set_exprs``: whenMatchedUpdate(set=...) — {table column:
      SQL expr over both aliases}; unassigned columns keep the target
      value. Without it, a matched update takes ALL columns from the
      source row;
    - ``condition``: the equi-join condition string (keys parsed from
      it when ``keys`` is None);
    - ``insert_when_not_matched=False``: matched-only merge.
    - ``matched_delete=True``: WHEN MATCHED THEN DELETE — matched
      target rows (optionally gated by ``matched_condition``, target
      columns only: the keys-projected source loses its alias) vanish
      from the rewrite; CDF carries delete images.
    - ``not_matched_by_source_delete``: delete target rows whose keys
      appear in NO source row (Spark SQL MERGE's WHEN NOT MATCHED BY
      SOURCE THEN DELETE / delta-spark whenNotMatchedBySourceDelete);
      pass ``True`` or a boolean SQL condition over the target
      (qualified by ``target_alias``) — SQL semantics: a NULL
      condition keeps the row.
    - ``not_matched_by_source_set``: update those rows instead —
      {table column: SQL expr over the target row}, gated by
      ``not_matched_by_source_condition`` (delta-spark's
      whenNotMatchedBySourceUpdate(condition, set)).

    Only files containing rows a branch actually touches are rewritten
    — a purely-stale batch rewrites nothing. The source must be unique
    per key combination (checked with one count — duplicate-key merges
    are nondeterministic in any engine). Returns {"version",
    "files_rewritten", "rows_inserted", "rows_updated",
    "rows_deleted"}."""
    if keys is None:
        if condition is None:
            raise ValueError("pass keys= or condition=")
        keys = _parse_equi_keys(condition)
    keys = list(keys)
    nmbs_active = bool(not_matched_by_source_delete) or (
        not_matched_by_source_set is not None
    )
    if matched_delete and (set_exprs is not None or guard_col is not None):
        raise ValueError(
            "matched_delete is one whenMatched clause — it cannot "
            "combine with set_exprs/guard_col (also matched clauses)"
        )
    if (
        not_matched_by_source_set is not None
        and not_matched_by_source_delete is True
    ):
        raise ValueError(
            "not_matched_by_source: pass delete OR set, not both"
        )
    snap = _prep(spark, path)
    if not nmbs_active:
        # key-range file skipping: files whose footer stats cannot
        # overlap the source's key range never scan or rewrite (exact
        # for both the match probe and the insert anti-join — see the
        # helper's proof). MUST be disabled when a not-matched-by-
        # source branch exists: rows it touches live precisely in the
        # files the source's key range does NOT cover.
        _prune_files_by_source_keys(snap, source, keys)
    schema = snap.spark_schema()
    cols = [f.name for f in schema.fields]
    # identity columns the source does not carry are GENERATED on the
    # insert branch and PRESERVED from the target on update branches
    id_specs = _identity_specs(snap)
    gen_ids = [c for c in id_specs if c not in source.columns]
    if set(keys) & set(gen_ids):
        raise ValueError(
            f"merge keys {sorted(set(keys) & set(gen_ids))} are "
            "identity columns absent from the source — a merge cannot "
            "match on values it would have to invent"
        )
    always_ids = {
        c for c, sp in id_specs.items() if not sp["allow_explicit"]
    }
    for assigns, label in (
        (set_exprs, "set_exprs"),
        (not_matched_by_source_set, "not_matched_by_source_set"),
    ):
        bad = set(assigns or {}) & always_ids
        if bad:
            raise ValueError(
                f"{label} assigns GENERATED ALWAYS identity columns "
                f"{sorted(bad)}"
            )
    # the source must cover every table column only when a branch
    # takes whole rows from it (InsertAll, or matched UpdateAll);
    # keys-only sources are fine for set_exprs updates and for merges
    # that only delete/update BY SOURCE
    full = insert_when_not_matched or (
        set_exprs is None and not insert_only and not matched_delete
    )
    need = [
        c for c in (cols if full else keys) if c not in gen_ids
    ]
    missing = [c for c in need if c not in source.columns]
    if missing:
        raise ValueError(f"source lacks table columns {missing}")
    # NOTE: with set_exprs the source is used UN-projected — a select()
    # would strip the caller's DataFrame alias and break qualified
    # references like "source.ingestion_ts" in the exprs
    src = source.select(*need).persist() if set_exprs is None else source
    if not insert_only and not matched_delete:
        # updates need one source row per key; an insert-only merge is
        # well-defined for ANY source (the reference's bronze keys on
        # source_file, shared by every row of a file — 01:60-69)
        probe = src.select(*keys)
        dup = (
            probe.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
        )
        if dup.count():
            if set_exprs is None:
                src.unpersist()
            raise ValueError(
                f"source is not unique on {keys} — deduplicate first "
                "(e.g. keep-latest by event time)"
            )
    tgt = _scan_with_file(spark, path, snap)
    id_hwms: dict[str, int] = {}
    id_leases: list[DataFrame] = []
    ins_cols = [c for c in cols if c not in gen_ids]
    inserts = (
        src.select(*ins_cols).join(
            tgt.select(*keys).distinct(), keys, "leftanti"
        )
        if insert_when_not_matched
        else None
    )
    n_ins = inserts.count() if inserts is not None else 0
    if inserts is not None and id_specs:
        # generate absent identity values / validate+sync explicit ones
        inserts, id_hwms, id_leases = _apply_identity(inserts, snap)
        inserts = inserts.select(*cols)
    updated = kept = pre = post = None
    nmbs_upd = nmbs_cdc = None
    n_upd = 0
    n_del = 0
    affected: list[str] = []
    fresh_keys = None
    if not insert_only:
        if guard_col is not None:
            # keys whose source row is at-or-after the target row:
            # ONLY their files rewrite — a purely-stale batch touches
            # nothing (late data must not churn files)
            fresh_keys = (
                src.alias("s")
                .join(tgt.alias("t"), keys)
                .filter(
                    F.col(f"s.`{guard_col}`") >= F.col(f"t.`{guard_col}`")
                )
                .select(*keys)
                .distinct()
            )
        elif (
            matched_condition is not None
            or set_exprs is not None
            or matched_delete
        ):
            joined = tgt.alias(target_alias).join(src, keys)
            if matched_condition is not None:
                joined = joined.filter(F.expr(matched_condition))
            fresh_keys = joined.select(*keys).distinct()
        else:
            # matched keys only — insert keys must not reach the
            # update branch (they'd double-count in new_rows)
            fresh_keys = (
                src.select(*keys)
                .join(tgt.select(*keys).distinct(), keys, "leftsemi")
                .distinct()
            )
        affected = [
            r[_FILE]
            for r in tgt.join(fresh_keys, keys, "leftsemi")
            .select(_FILE)
            .distinct()
            .collect()
        ]
    # -- WHEN NOT MATCHED BY SOURCE: target rows whose keys appear in
    # NO source row (delete or update them) — their files rewrite too
    src_keys_d = None
    nmbs_cond = (
        not_matched_by_source_delete
        if isinstance(not_matched_by_source_delete, str)
        else not_matched_by_source_condition
    )
    if nmbs_active:
        src_keys_d = src.select(*keys).distinct()
        cand = tgt.join(src_keys_d, keys, "leftanti").alias(target_alias)
        if nmbs_cond is not None:
            # SQL branch semantics: a NULL condition keeps the row
            cand = cand.filter(
                F.coalesce(F.expr(nmbs_cond), F.lit(False))
            )
        nmbs_files = {
            r[_FILE] for r in cand.select(_FILE).distinct().collect()
        }
        affected = sorted(set(affected) | nmbs_files)
    if affected:
        tgt_aff = tgt.filter(F.col(_FILE).isin(affected))
        # kept = rows of rewritten files no branch touches
        kept = tgt_aff
        if fresh_keys is not None:
            kept = kept.join(fresh_keys, keys, "leftanti")
        if nmbs_active:
            stale = kept.join(src_keys_d, keys, "leftsemi")
            cand_aff = kept.join(
                src_keys_d, keys, "leftanti"
            ).alias(target_alias)
            if nmbs_cond is not None:
                cand_aff = cand_aff.withColumn(
                    "__nmbs_hit",
                    F.coalesce(F.expr(nmbs_cond), F.lit(False)),
                )
                hit = cand_aff.filter("__nmbs_hit").drop("__nmbs_hit")
                miss = cand_aff.filter("NOT __nmbs_hit").drop(
                    "__nmbs_hit"
                )
            else:
                hit, miss = cand_aff, cand_aff.limit(0)
            kept = stale.unionByName(miss)
            if not_matched_by_source_set is not None:
                unknown = set(not_matched_by_source_set) - set(cols)
                if unknown:
                    raise ValueError(
                        "not_matched_by_source_set assigns non-table "
                        f"columns: {sorted(unknown)}"
                    )
                types = {
                    f.name: f.dataType.simpleString()
                    for f in schema.fields
                }
                mat = _rt_mat_names(snap)
                nmbs_upd = hit.select(
                    *[
                        F.expr(not_matched_by_source_set[c])
                        .cast(types[c])
                        .alias(c)
                        if c in not_matched_by_source_set
                        else F.col(c)
                        for c in cols
                    ],
                    # updated rows KEEP their materialized row id;
                    # commit version re-nulls via the union alignment
                    *([F.col(mat[0])] if mat else []),
                )
                n_upd += nmbs_upd.count()
                nmbs_cdc = (
                    hit.select(*cols)
                    .withColumn(
                        "_change_type", F.lit("update_preimage")
                    )
                    .unionByName(
                        _drop_mat(nmbs_upd, snap).withColumn(
                            "_change_type", F.lit("update_postimage")
                        )
                    )
                )
            else:
                n_del = hit.count()
                nmbs_cdc = hit.select(*cols).withColumn(
                    "_change_type", F.lit("delete")
                )
        kept = kept.drop(_FILE)
        if fresh_keys is not None and matched_delete:
            # WHEN MATCHED THEN DELETE: the fresh-matched rows simply
            # do not reappear in the rewrite; count + CDC images
            doomed = tgt_aff.join(fresh_keys, keys, "leftsemi")
            n_del += doomed.count()
            del_cdc = _drop_mat(doomed.drop(_FILE), snap).withColumn(
                "_change_type", F.lit("delete")
            )
            nmbs_cdc = (
                del_cdc
                if nmbs_cdc is None
                else nmbs_cdc.unionByName(del_cdc)
            )
        elif fresh_keys is not None:
            if set_exprs is not None:
                unknown = set(set_exprs) - set(cols)
                if unknown:
                    raise ValueError(
                        f"set assigns non-table columns: {sorted(unknown)}"
                    )
                types = {f.name: f.dataType.simpleString()
                         for f in schema.fields}
                fresh_joined = (
                    tgt_aff.alias(target_alias)
                    .join(src, keys)
                    .join(fresh_keys, keys, "leftsemi")
                )
                if matched_condition is not None:
                    fresh_joined = fresh_joined.filter(
                        F.expr(matched_condition)
                    )
                mat = _rt_mat_names(snap)
                updated = fresh_joined.select(
                    *[
                        F.expr(set_exprs[c]).cast(types[c]).alias(c)
                        if c in set_exprs
                        else (
                            F.col(c)  # key cols: coalesced by the join
                            if c in keys
                            else F.expr(f"{target_alias}.`{c}`").alias(c)
                        )
                        for c in cols
                    ],
                    # updated rows KEEP their materialized row id
                    *(
                        [F.expr(f"{target_alias}.`{mat[0]}`").alias(mat[0])]
                        if mat
                        else []
                    ),
                )
            elif gen_ids:
                # UpdateAll on an identity table whose source does not
                # carry the identity column: the row KEEPS its id (an
                # update must never re-issue identity values)
                mat = _rt_mat_names(snap)
                updated = (
                    tgt_aff.alias("__mrg_t")
                    .join(src.alias("__mrg_s"), keys)
                    .join(fresh_keys, keys, "leftsemi")
                    .select(
                        *[
                            F.col(c)
                            if c in keys
                            else (
                                F.expr(f"__mrg_t.`{c}`").alias(c)
                                if c in gen_ids
                                else F.expr(f"__mrg_s.`{c}`").alias(c)
                            )
                            for c in cols
                        ],
                        *(
                            [F.expr(f"__mrg_t.`{mat[0]}`").alias(mat[0])]
                            if mat
                            else []
                        ),
                    )
                )
            else:
                updated = src.select(*cols).join(
                    fresh_keys, keys, "leftsemi"
                )
            n_upd += updated.count()
            pre_src = _drop_mat(
                tgt_aff.join(fresh_keys, keys, "leftsemi").drop(_FILE),
                snap,
            )
            pre = pre_src.withColumn(
                "_change_type", F.lit("update_preimage")
            )
            post = _drop_mat(updated, snap).withColumn(
                "_change_type", F.lit("update_postimage")
            )
    pieces = [
        p
        for p in (
            kept,
            updated,
            nmbs_upd,
            inserts if inserts is not None else None,
        )
        if p is not None
    ]
    if not pieces:
        pieces = [spark.createDataFrame([], schema)]
    mat = _rt_mat_names(snap)
    if mat:
        # align every branch with the scan's materialized row-tracking
        # columns: kept rows carry id+version, updated rows carry id
        # (version re-nulls -> readers fall back to this commit's
        # defaultRowCommitVersion), inserted rows carry neither (fresh)
        pieces = [
            p
            if set(mat) <= set(p.columns)
            else p.select(
                "*",
                *[
                    F.lit(None).cast("long").alias(c)
                    for c in mat
                    if c not in p.columns
                ],
            )
            for p in pieces
        ]
    new_rows = pieces[0]
    for p in pieces[1:]:
        new_rows = new_rows.unionByName(p)
    pcols = list(snap.partition_cols)
    adds = _stage_data_files(new_rows, path, pcols, snap)
    cdcs: list[tuple[str, dict]] = []
    if _cdf_enabled(snap):
        parts = []
        if inserts is not None:
            parts.append(
                inserts.withColumn("_change_type", F.lit("insert"))
            )
        if pre is not None:
            parts.extend([pre, post])
        if nmbs_cdc is not None:
            parts.append(nmbs_cdc)
        if parts:
            cdc = parts[0]
            for p in parts[1:]:
                cdc = cdc.unionByName(p)
            cdcs = _stage_cdc_files(cdc, path, snap)
    for f in id_leases:  # both writes that read the identity rows ran
        release_frame(f)
    v = _commit_dml(
        path,
        snap.version,
        [(rel, snap.dvs.get(rel)) for rel in affected],
        adds,
        cdcs,
        "MERGE",
        {"predicate": json.dumps(keys)},
        configuration=snap.configuration,
        snap=snap,
        metadata_action=_identity_metadata_action(snap, id_hwms),
        metrics={
            "numTargetRowsInserted": n_ins,
            "numTargetRowsUpdated": n_upd,
            "numTargetRowsDeleted": n_del,
            "numTargetFilesRemoved": len(affected),
            "numTargetFilesAdded": len(adds),
        },
    )
    if set_exprs is None:
        src.unpersist()
    return {
        "version": v,
        "files_rewritten": len(affected),
        "rows_inserted": n_ins,
        "rows_updated": n_upd,
        "rows_deleted": n_del,
    }


def delete_delta(
    spark: SparkSession,
    path: str,
    predicate,
    mode: str = "cow",
    partitions: dict[str, list] | None = None,
) -> dict:
    """DELETE rows matching ``predicate`` (a Column or SQL string).

    ``partitions``: {partition col: allowed values} — bounds the scan
    to the named partitions driver-side (zero I/O), the read_delta_log
    partition-pruning contract; the predicate still applies in full
    within them. Without it the scan is necessarily full-table (any
    engine must find every matching row).

    ``cow``: rewrite affected files without the matching rows.
    ``mor``: write roaring deletion vectors and re-add the files with
    their new descriptors — O(deleted rows) bitmap bytes, no rewrite;
    `optimize_delta` materializes later. Emits cdc delete rows when the
    table enables CDF (both modes)."""
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    snap = _prep(spark, path)
    if partitions:
        _prune_files_by_partitions(snap, partitions)
    pcols = list(snap.partition_cols)
    tgt = _scan_with_file(spark, path, snap)
    doomed = tgt.filter(predicate)
    if mode == "cow":
        affected = [
            r[_FILE] for r in doomed.select(_FILE).distinct().collect()
        ]
        if not affected:
            return {"version": None, "rows_deleted": 0, "files": 0}
        n_del = doomed.count()
        kept = (
            tgt.filter(F.col(_FILE).isin(affected))
            .filter(~predicate)
            .drop(_FILE)
        )
        adds = _stage_data_files(kept, path, pcols, snap)
        cdcs = (
            _stage_cdc_files(
                _drop_mat(doomed.drop(_FILE), snap).withColumn(
                    "_change_type", F.lit("delete")
                ),
                path,
                snap,
            )
            if _cdf_enabled(snap)
            else []
        )
        v = _commit_dml(
            path,
            snap.version,
            [(rel, snap.dvs.get(rel)) for rel in affected],
            adds,
            cdcs,
            "DELETE",
            {"mode": "cow"},
            configuration=snap.configuration,
            snap=snap,
            metrics={
                "numDeletedRows": n_del,
                "numRemovedFiles": len(affected),
                "numAddedFiles": len(adds),
            },
        )
        return {"version": v, "rows_deleted": n_del, "files": len(affected)}
    if mode != "mor":
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    # MoR: per-file deleted row indexes -> union with the existing DV
    import uuid as _uuid

    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        dv_payload,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.roaring import (
        deserialize_rba,
        serialize_rba,
        write_dv_file,
        z85_encode,
    )

    # re-scan with physical row indexes (the DV coordinate space)
    # explicit physical schema: widened tables' pre-ALTER footers read
    # at the declared width (mergeSchema throws on mixed widths)
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        _physical_scan_schema,
    )

    raw = spark.read.schema(
        _physical_scan_schema(snap, snap.resolved_physical_names(path))
    ).parquet(*[os.path.join(path, p) for p in snap.files])
    raw = raw.withColumn(
        "__fp",
        F.url_decode(
            F.replace(F.col("_metadata.file_path"), F.lit("+"), F.lit("%2B"))
        ),
    ).withColumn("__ridx", F.col("_metadata.row_index"))
    if snap.dvs:
        raw = _apply_deletion_vectors(raw, snap, "__fp")
    phys_mor = snap.resolved_physical_names(path)
    if snap.column_mapping_mode != "none":
        # physical -> logical for the predicate (sources/colmap.py)
        from real_time_e_commerce_analytics_lakehouse_spark.sources.colmap import (
            is_nested as _isn,
            logical_expr as _lexpr,
        )

        fj_mor = {f["name"]: f for f in snap.schema_json.get("fields", [])}
        act_mor = {x.name: x.dataType for x in raw.schema.fields}
        sel = [F.col("__fp"), F.col("__ridx")]
        for f in snap.spark_schema().fields:
            if f.name in pcols:
                continue  # restored from partitionValues below
            pn = phys_mor.get(f.name, f.name)
            if pn not in act_mor:
                sel.append(F.lit(None).cast(f.dataType).alias(f.name))
                continue
            col = F.col(pn)
            fj = fj_mor.get(f.name)
            if fj is not None and _isn(fj.get("type")):
                col = _lexpr(col, fj["type"], act_mor[pn])
            sel.append(col.alias(f.name))
        raw = raw.select(*sel)
    if pcols:  # restore typed partition cols so the predicate can use them
        rows = [
            (os.path.abspath(os.path.join(path, rel)), rel)
            + tuple(pvals.get(phys_mor.get(c, c)) for c in pcols)
            for rel, pvals in snap.files.items()
        ]
        meta = spark.createDataFrame(
            rows,
            ", ".join(
                ["__p string", "__rel string"]
                + [f"`__pm_{c}` string" for c in pcols]
            ),
        )
        raw = raw.join(
            F.broadcast(meta),
            F.col("__fp") == F.concat(F.lit("file:"), F.col("__p")),
            "left",
        )
        ptypes = {
            f.name: f.dataType.simpleString()
            for f in snap.spark_schema().fields
            if f.name in pcols
        }
        for c in pcols:
            raw = raw.withColumn(c, F.col(f"__pm_{c}").cast(ptypes[c]))
    else:
        rows = [
            (os.path.abspath(os.path.join(path, rel)), rel)
            for rel in snap.files
        ]
        meta = spark.createDataFrame(rows, "__p string, __rel string")
        raw = raw.join(
            F.broadcast(meta),
            F.col("__fp") == F.concat(F.lit("file:"), F.col("__p")),
            "left",
        )
    hit = (
        raw.filter(predicate)
        .groupBy("__rel")
        .agg(
            F.collect_list("__ridx").alias("idx"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    if not hit:
        return {"version": None, "rows_deleted": 0, "files": 0}
    n_del = sum(r["n"] for r in hit)
    payloads: list[bytes] = []
    per_file: list[tuple[str, int]] = []  # rel, cardinality
    for r in hit:
        rel = r["__rel"]
        old = set()
        if snap.dvs.get(rel):
            old = set(deserialize_rba(dv_payload(path, snap.dvs[rel])))
        new = sorted(old | {int(i) for i in r["idx"]})
        payloads.append(serialize_rba(new))
        per_file.append((rel, len(new)))
    img, offsets = write_dv_file(payloads)
    dvu = _uuid.uuid4()
    with open(
        os.path.join(path, f"deletion_vector_{dvu}.bin"), "wb"
    ) as f:
        f.write(img)
    poi = z85_encode(dvu.bytes)
    dv_readds = [
        (
            rel,
            dict(snap.files[rel]),
            {
                "storageType": "u",
                "pathOrInlineDv": poi,
                "offset": off,
                "sizeInBytes": len(pl),
                "cardinality": card,
            },
        )
        for (rel, card), off, pl in zip(per_file, offsets, payloads)
    ]
    cdcs = (
        _stage_cdc_files(
            tgt.filter(predicate)
            .drop(_FILE)
            .withColumn("_change_type", F.lit("delete")),
            path,
            snap,
        )
        if _cdf_enabled(snap)
        else []
    )
    v = _commit_dml(
        path,
        snap.version,
        [(rel, snap.dvs.get(rel)) for rel, _card in per_file],
        [],
        cdcs,
        "DELETE",
        {"mode": "mor"},
        dv_readds=dv_readds,
        protocol_action=_dv_protocol_upgrade(snap),
        configuration=snap.configuration,
        snap=snap,
        metrics={
            "numDeletedRows": n_del,
            "numDeletionVectorsAdded": len(dv_readds),
        },
    )
    return {"version": v, "rows_deleted": n_del, "files": len(per_file)}


def update_delta(
    spark: SparkSession,
    path: str,
    predicate,
    assignments: dict[str, Any],
    partitions: dict[str, list] | None = None,
) -> dict:
    """UPDATE SET col=expr WHERE predicate — copy-on-write rewrite of
    the affected files; cdc update pre/post images when CDF is on.
    ``partitions`` bounds the scan like delete_delta's."""
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    exprs = {
        c: (F.expr(e) if isinstance(e, str) else e)
        for c, e in assignments.items()
    }
    snap = _prep(spark, path)
    if partitions:
        _prune_files_by_partitions(snap, partitions)
    cols = [f.name for f in snap.spark_schema().fields]
    unknown = set(exprs) - set(cols)
    if unknown:
        raise ValueError(f"not table columns: {sorted(unknown)}")
    bad_ids = {
        c
        for c, sp in _identity_specs(snap).items()
        if c in exprs and not sp["allow_explicit"]
    }
    if bad_ids:
        raise ValueError(
            "UPDATE assigns GENERATED ALWAYS identity columns "
            f"{sorted(bad_ids)}"
        )
    tgt = _scan_with_file(spark, path, snap)
    hits = tgt.filter(predicate)
    affected = [r[_FILE] for r in hits.select(_FILE).distinct().collect()]
    if not affected:
        return {"version": None, "rows_updated": 0, "files": 0}
    n_upd = hits.count()
    aff = tgt.filter(F.col(_FILE).isin(affected))
    updated = aff.filter(predicate)
    for c, e in exprs.items():
        updated = updated.withColumn(c, e.cast(dict(tgt.dtypes)[c]))
    mat = _rt_mat_names(snap)
    if mat:
        # updated rows KEEP their materialized row id (an update is the
        # same logical row); the commit version resets to NULL so
        # readers fall back to the new add's defaultRowCommitVersion
        updated = updated.withColumn(mat[1], F.lit(None).cast("long"))
    new_rows = aff.filter(~predicate).unionByName(updated).drop(_FILE)
    adds = _stage_data_files(new_rows, path, list(snap.partition_cols), snap)
    cdcs: list[tuple[str, dict]] = []
    if _cdf_enabled(snap):
        pre = (
            _drop_mat(aff.filter(predicate).drop(_FILE), snap)
            .withColumn("_change_type", F.lit("update_preimage"))
        )
        post = _drop_mat(updated.drop(_FILE), snap).withColumn(
            "_change_type", F.lit("update_postimage")
        )
        cdcs = _stage_cdc_files(pre.unionByName(post), path, snap)
    v = _commit_dml(
        path,
        snap.version,
        [(rel, snap.dvs.get(rel)) for rel in affected],
        adds,
        cdcs,
        "UPDATE",
        {"columns": json.dumps(sorted(exprs))},
        configuration=snap.configuration,
        snap=snap,
        metrics={
            "numUpdatedRows": n_upd,
            "numRemovedFiles": len(affected),
            "numAddedFiles": len(adds),
        },
    )
    return {"version": v, "rows_updated": n_upd, "files": len(affected)}
