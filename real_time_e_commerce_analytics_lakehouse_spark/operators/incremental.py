"""Incremental aggregate maintenance over the Change Data Feed.

The materialized-view delta-maintenance pattern: a maintained SUM/COUNT
aggregate table is refreshed from `LakeTable.read_cdf` row changes
instead of rescanning the fact table. SUM and COUNT are self-invertible
(abelian-group aggregates): an insert/update_postimage contributes +x,
a delete/update_preimage contributes -x, so the refresh is

    new_agg = old_agg  (+)  signed aggregate of the change rows

— one groupBy over the DELTA (cost ∝ churn, never table size) merged
into the aggregate table (|groups| rows, small by construction). Groups
whose maintained row count reaches zero disappear, exactly as a full
recompute would drop them. AVG derives as sum/count downstream;
non-invertible aggregates (MIN/MAX under deletes, DISTINCT) need either
a sketch (see weekly_uniques_hll_rollup) or a group-scoped recompute
(see incremental_minmax_refresh) — this operator is the exact-delta tier
of that hierarchy.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable


def _nullsafe_cond(cols: Sequence[str]):
    """Null-safe equi-join condition over frames aliased L/R: a NULL
    group key is one group (as GROUP BY treats it), so the merge joins
    with eqNullSafe — plain `=` would leave the old NULL row and the
    delta NULL row both surviving a full_outer (ADVICE r3 #1)."""
    cond = None
    for c in cols:
        e = F.col(f"L.{c}").eqNullSafe(F.col(f"R.{c}"))
        cond = e if cond is None else cond & e
    return cond


def _sign():
    # built lazily: Column construction needs an active SparkContext
    return F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))


def signed_delta(
    cdf: DataFrame, group_cols: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame:
    """Per-group signed contribution of a CDF slice: d_<col> decimal
    sums (exact, order-independent), d_cnt_<col> signed NON-NULL counts,
    and d_rows row-count delta.

    The per-column non-null count is load-bearing for exactness (r5
    review): SQL SUM over a group whose non-null values were all
    deleted is NULL, but the maintained decimal fold would report the
    exactly-cancelled 0 — the count reaching 0 is the signal to emit
    NULL instead. It is also the correct denominator for AVG (n_rows
    counts NULL-valued rows; AVG ignores them)."""
    sign = _sign()
    aggs = (
        [
            F.sum(sign * F.col(c).cast("decimal(18,2)")).alias(f"d_{c}")
            for c in sum_cols
        ]
        + [
            F.sum(F.when(F.col(c).isNotNull(), sign).otherwise(0))
            .cast("long")
            .alias(f"d_cnt_{c}")
            for c in sum_cols
        ]
        + [F.sum(sign).cast("long").alias("d_rows")]
    )
    return cdf.groupBy(*group_cols).agg(*aggs)


_IVM_TXN_APP = "ivm_source_version"


def _applied_marker(agg_table: LakeTable) -> int | None:
    """Source version the aggregate table last recorded in its manifest
    txn ledger (written atomically with each refresh's overwrite)."""
    if not agg_table.exists():
        return None
    return agg_table.last_txn_version(_IVM_TXN_APP)


def incremental_agg_refresh(
    agg_table: LakeTable,
    source: LakeTable,
    since_version: int | None,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    keys: str | Sequence[str] | None = None,
) -> int | None:
    """Fold all source changes committed after `since_version` into
    `agg_table` (schema: group_cols + sum_<col> decimal per sum_col +
    n_rows). Returns the source version now reflected, or None if there
    was nothing to apply. First call (since_version=None, empty agg
    table) degenerates to the initial full build — same code path.

    The merge is an outer combine of the old aggregate with the signed
    delta: both sides are small (|groups|), so this is never the
    bottleneck; the only fact-sized work is the delta groupBy, bounded
    by the churn read_cdf reconstructs (cost ∝ touched units).

    REPLAY SAFETY (r4 review): SUM deltas are NOT idempotent, so the
    refresh records the applied source version in the agg table's
    manifest txn ledger ATOMICALLY with the overwrite; every refresh
    starts from max(since_version, that marker). A crash between the
    agg commit and the caller persisting the returned version therefore
    cannot re-fold the same delta — the marker already covers it.

    The returned version comes from the CDF rows THEMSELVES
    (max _commit_version), not a separate latest_version() probe — a
    commit landing between two metadata reads would otherwise be folded
    in now AND re-applied on the next refresh (double counting). A
    range holding only data-neutral commits (compaction/z-order)
    returns the pre-probed end version so the consumer ADVANCES past
    the rewrite instead of re-diffing the full table on every refresh
    (the probe happens before read_cdf, so a commit racing in between
    surfaces as CDF rows, never gets skipped)."""
    end0 = source.latest_version()
    marker = _applied_marker(agg_table)
    if marker is not None and (since_version is None or marker > since_version):
        since_version = marker  # crash-replay guard: never re-fold
    cdf = source.read_cdf(since_version, keys=keys)
    if cdf is None:
        return None
    cdf = cdf.persist()
    try:
        return _agg_refresh_body(
            agg_table, cdf, end0, group_cols, sum_cols
        )
    finally:
        cdf.unpersist()


def _agg_refresh_body(agg_table, cdf, end0, group_cols, sum_cols):
    applied = cdf.agg(F.max("_commit_version")).first()[0]
    if applied is None:
        return end0  # only data-neutral commits: advance past them
    gcols = list(group_cols)
    delta = signed_delta(cdf, gcols, sum_cols)
    if agg_table.exists():
        old = agg_table.read()
    else:
        old = None
    if old is None:
        combined = delta.select(
            *gcols,
            *[
                F.when(F.col(f"d_cnt_{c}") == 0, F.lit(None))
                .otherwise(F.col(f"d_{c}"))
                .alias(f"sum_{c}")
                for c in sum_cols
            ],
            *[F.col(f"d_cnt_{c}").alias(f"cnt_{c}") for c in sum_cols],
            F.col("d_rows").alias("n_rows"),
        )
    else:
        if any(f"cnt_{c}" not in old.columns for c in sum_cols):
            raise ValueError(
                f"aggregate table {agg_table.path} predates the "
                "per-column non-null counts (cnt_<col>) this refresh "
                "maintains — rebuild it once with since_version=None "
                "on an empty table"
            )
        joined = old.alias("L").join(
            delta.alias("R"), _nullsafe_cond(gcols), "full_outer"
        )
        new_cnt = {
            c: (
                F.coalesce(F.col(f"cnt_{c}"), F.lit(0))
                + F.coalesce(F.col(f"d_cnt_{c}"), F.lit(0))
            ).cast("long")
            for c in sum_cols
        }
        combined = joined.select(
            *[
                F.coalesce(F.col(f"L.{c}"), F.col(f"R.{c}")).alias(c)
                for c in gcols
            ],
            *[
                # zero non-null contributors => SUM is NULL, exactly as
                # a full recompute would report (r5 review: the decimal
                # fold alone cancels to 0, not NULL)
                F.when(new_cnt[c] == 0, F.lit(None))
                .otherwise(
                    F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"d_{c}"), F.lit(0))
                )
                .alias(f"sum_{c}")
                for c in sum_cols
            ],
            *[new_cnt[c].alias(f"cnt_{c}") for c in sum_cols],
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("d_rows"), F.lit(0))
            ).cast("long").alias("n_rows"),
        )
    agg_table.overwrite(
        combined.where(F.col("n_rows") > 0),
        txn={_IVM_TXN_APP: int(applied)},
    )
    return int(applied)


def incremental_minmax_refresh(
    agg_table: LakeTable,
    source: LakeTable,
    since_version: int | None,
    group_cols: Sequence[str],
    value_col: str,
    keys: str | Sequence[str] | None = None,
) -> int | None:
    """MIN/MAX maintenance (the non-invertible tier of the IVM
    hierarchy): inserts fold incrementally — new_min = least(old, batch
    min) is pure monoid algebra — but a DELETE can remove the current
    extremum, which no delta can repair. Groups whose CDF slice
    contains deletes/update-preimages are therefore marked DIRTY and
    recomputed from the source AT THE APPLIED VERSION (a group-scoped
    semi-join rescan: cost ∝ dirty groups' rows, not table size);
    clean groups fold the insert delta only. Dirty groups with no
    surviving rows disappear, as a recompute would. Folding is
    idempotent (least/greatest of re-seen values), so replays cannot
    corrupt the aggregate. Target schema: group_cols + min_v + max_v.
    A range holding only data-neutral commits returns the pre-probed
    end version so consumers advance past compactions (see
    incremental_agg_refresh)."""
    end0 = source.latest_version()
    cdf = source.read_cdf(since_version, keys=keys)
    if cdf is None:
        return None
    cdf = cdf.persist()
    dirty = None
    try:
        applied = cdf.agg(F.max("_commit_version")).first()[0]
        if applied is None:
            return end0
        gcols = list(group_cols)
        adds = (
            cdf.where(F.col("_change_type").isin("insert", "update_postimage"))
            .groupBy(*gcols)
            .agg(
                F.min(value_col).alias("a_min"), F.max(value_col).alias("a_max")
            )
        )
        dirty = (
            cdf.where(F.col("_change_type").isin("delete", "update_preimage"))
            .select(*gcols)
            .distinct()
            .persist()
        )
        old = agg_table.read() if agg_table.exists() else None
        if old is None:
            folded = adds.select(
                *gcols, F.col("a_min").alias("min_v"), F.col("a_max").alias("max_v")
            )
        else:
            j = old.alias("L").join(
                adds.alias("R"), _nullsafe_cond(gcols), "full_outer"
            )
            folded = j.select(
                *[
                    F.coalesce(F.col(f"L.{c}"), F.col(f"R.{c}")).alias(c)
                    for c in gcols
                ],
                F.least(
                    F.coalesce("min_v", "a_min"), F.coalesce("a_min", "min_v")
                ).alias("min_v"),
                F.greatest(
                    F.coalesce("max_v", "a_max"), F.coalesce("a_max", "max_v")
                ).alias("max_v"),
            )
        clean = folded.alias("L").join(
            dirty.alias("R"), _nullsafe_cond(gcols), "left_anti"
        )
        recomputed = (
            source.read(version=int(applied))
            .alias("L")
            .join(dirty.alias("R"), _nullsafe_cond(gcols), "left_semi")
            .groupBy(*gcols)
            .agg(F.min(value_col).alias("min_v"), F.max(value_col).alias("max_v"))
        )
        agg_table.overwrite(clean.unionByName(recomputed))
        return int(applied)
    finally:
        # a failed refresh (overwrite race, analysis error) must not pin
        # CDF-sized caches for the life of the session (r5 review)
        cdf.unpersist()
        if dirty is not None:
            dirty.unpersist()


def incremental_distinct_refresh(
    agg_table: LakeTable,
    source: LakeTable,
    since_version: int | None,
    group_cols: Sequence[str],
    value_col: str,
    keys: str | Sequence[str] | None = None,
) -> int | None:
    """Approximate COUNT(DISTINCT) maintenance — the third IVM tier:
    per-group DataSketches HLL sketches stored IN the aggregate table
    (binary column). Inserts merge monoidally (hll_union of the old
    sketch with the batch's sketch — sketches exist precisely because
    distinct sets merge and exact sets don't); deletes cannot be
    subtracted from a sketch, so dirty groups (any delete/preimage)
    rebuild their sketch from the source pinned at the applied version,
    group-scoped like the MIN/MAX tier. Exposes n_distinct_est
    alongside the sketch so consumers read the estimate without
    touching sketch functions. Replay-safe: re-merging already-seen
    values does not change an HLL. Target schema: group_cols + sketch
    binary + n_distinct_est bigint. A range holding only data-neutral
    commits returns the pre-probed end version so consumers advance
    past compactions (see incremental_agg_refresh)."""
    end0 = source.latest_version()
    cdf = source.read_cdf(since_version, keys=keys)
    if cdf is None:
        return None
    cdf = cdf.persist()
    try:
        return _distinct_refresh_body(
            agg_table, source, cdf, end0, group_cols, value_col
        )
    finally:
        cdf.unpersist()


def _distinct_refresh_body(
    agg_table, source, cdf, end0, group_cols, value_col
):
    applied = cdf.agg(F.max("_commit_version")).first()[0]
    if applied is None:
        return end0
    gcols = list(group_cols)
    adds = (
        cdf.where(F.col("_change_type").isin("insert", "update_postimage"))
        .groupBy(*gcols)
        .agg(F.expr(f"hll_sketch_agg({value_col})").alias("a_sk"))
    )
    dirty = (
        cdf.where(F.col("_change_type").isin("delete", "update_preimage"))
        .select(*gcols)
        .distinct()
        .persist()
    )
    try:
        return _distinct_fold(
            agg_table, source, adds, dirty, gcols, value_col, int(applied)
        )
    finally:
        dirty.unpersist()


def _distinct_fold(agg_table, source, adds, dirty, gcols, value_col, applied):
    old = agg_table.read() if agg_table.exists() else None
    if old is None:
        folded = adds.select(*gcols, F.col("a_sk").alias("sketch"))
    else:
        j = old.alias("L").join(
            adds.alias("R"), _nullsafe_cond(gcols), "full_outer"
        )
        folded = j.select(
            *[
                F.coalesce(F.col(f"L.{c}"), F.col(f"R.{c}")).alias(c)
                for c in gcols
            ],
            F.when(
                F.col("sketch").isNull(), F.col("a_sk")
            )
            .when(F.col("a_sk").isNull(), F.col("sketch"))
            .otherwise(F.expr("hll_union(sketch, a_sk)"))
            .alias("sketch"),
        )
    clean = folded.alias("L").join(
        dirty.alias("R"), _nullsafe_cond(gcols), "left_anti"
    )
    recomputed = (
        source.read(version=applied)
        .alias("L")
        .join(dirty.alias("R"), _nullsafe_cond(gcols), "left_semi")
        .groupBy(*gcols)
        .agg(F.expr(f"hll_sketch_agg({value_col})").alias("sketch"))
    )
    out = clean.unionByName(recomputed).select(
        *gcols,
        "sketch",
        F.expr("hll_sketch_estimate(sketch)").cast("long").alias(
            "n_distinct_est"
        ),
    )
    agg_table.overwrite(out)
    return applied
