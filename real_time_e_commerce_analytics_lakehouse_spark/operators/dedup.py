"""Dedup / modal-value window operators (reference W1-W4, SURVEY §2.5)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def dedup_latest(
    df: DataFrame,
    keys: str | Sequence[str],
    version_col: str,
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """Keep the latest row per key by ``version_col`` (desc).

    Reference pattern W1/W2 (db_notebooks/02_bronze_to_silver.py:34-41,
    :292-303): ``row_number() over (partition by keys order by version desc)``
    then keep rn=1. The reference has no tie-break (nondeterministic on
    version collisions — SURVEY §7 risk 1); callers should pass stable
    ``tie_breakers``.

    This is also the MERGE-correctness invariant: Delta-style keyed upsert
    throws on multiple source matches, so dedup-before-merge is enforced by
    tables.LakeTable.merge (SURVEY §7 risk 3).
    """
    order = [F.desc(version_col)] + [F.desc(c) for c in tie_breakers]
    w = W.partitionBy(*_as_list(keys)).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def modal_value(
    df: DataFrame,
    keys: str | Sequence[str],
    value_col: str,
    count_alias: str = "n",
) -> DataFrame:
    """Most frequent ``value_col`` per key (ties -> smallest value).

    Reference pattern W3+A8 (02_bronze_to_silver.py:166-179 modal city per
    zip): count-per-(key,value) then row_number over count desc. Two
    map-side-combinable aggregations + one window — no full re-shuffle of
    the raw rows at scale.
    """
    ks = _as_list(keys)
    freq = df.groupBy(*ks, value_col).agg(F.count("*").alias(count_alias))
    w = W.partitionBy(*ks).orderBy(F.desc(count_alias), F.asc(value_col))
    return (
        freq.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
