"""Additive schema evolution end-to-end (reference
01_bronze_csv_to_delta.py:40, Auto Loader addNewColumns; VERDICT r1
miss #4): a later CSV batch gains a trailing nullable column, the
contract registry evolves additively, and every layer copes:

- bronze: new units carry the column; old units read NULL (mergeSchema).
- silver: the batch-incremental tier (bronze change feed + per-table
  version state) carries the new column through the guarded upsert;
  pre-evolution rows read NULL.
"""

from __future__ import annotations

import csv
import os
from dataclasses import replace
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.operators.cleaning import (
    CleanSpec,
    ColumnRule,
)
from real_time_e_commerce_analytics_lakehouse_spark.pipelines.olist import OlistPipeline
from real_time_e_commerce_analytics_lakehouse_spark.schemas import (
    CONTRACTS,
    _raw_schema,
)

CLOCK = datetime(2024, 6, 1, 12, 0, 0)

V1_HEADER = [
    "order_id", "customer_id", "order_status", "order_purchase_timestamp",
    "order_approved_at", "order_delivered_carrier_date",
    "order_delivered_customer_date", "order_estimated_delivery_date",
]


def _write_orders(landing: str, fname: str, rows: list[list], header: list[str]) -> None:
    os.makedirs(os.path.join(landing, "orders"), exist_ok=True)
    with open(os.path.join(landing, "orders", fname), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def _evolved_orders_contract():
    """Orders contract + trailing nullable `order_channel` column.
    Additive-only: existing columns keep their positions, the new column
    appends at the END of the raw schema — so the positional CSV parse
    reads pre-evolution files with the trailing column as NULL."""
    v1 = CONTRACTS["orders"]
    spec = v1.clean_spec
    return replace(
        v1,
        raw_schema=_raw_schema(*[f.name for f in v1.raw_schema.fields], "order_channel"),
        clean_spec=CleanSpec(
            columns={
                **spec.columns,
                "order_channel": ColumnRule(transforms=("trim", "lower")),
            },
            require_keys=spec.require_keys,
            domains=spec.domains,
            ranges=spec.ranges,
            keep_extra=spec.keep_extra,
        ),
    )


def test_additive_column_mid_stream(spark, tmp_path, monkeypatch):
    landing = str(tmp_path / "landing")
    lake = str(tmp_path / "lake")
    _write_orders(
        landing,
        "orders_v1.csv",
        [
            ["o1", "c1", "delivered", "2018-01-01 10:00:00", "", "", "", "2018-02-01 00:00:00"],
            ["o2", "c2", "shipped", "2018-01-02 10:00:00", "", "", "", "2018-02-02 00:00:00"],
        ],
        V1_HEADER,
    )
    p1 = OlistPipeline(spark, lake, landing, clock=CLOCK)
    p1.bronze_ingest()
    p1.silver_conform()
    assert "order_channel" not in p1.table("silver", "orders").read().columns

    # --- the contract evolves; a new file carries the extra column
    monkeypatch.setitem(CONTRACTS, "orders", _evolved_orders_contract())
    _write_orders(
        landing,
        "orders_v2.csv",
        [
            ["o3", "c3", "created", "2018-03-01 10:00:00", "", "", "",
             "2018-04-01 00:00:00", "Mobile_App"],
            ["o1", "c1", "delivered", "2018-01-01 10:00:00", "", "", "",
             "2018-02-01 00:00:00", "web"],
        ],
        V1_HEADER + ["order_channel"],
    )
    p2 = OlistPipeline(spark, lake, landing, clock=CLOCK + timedelta(hours=1))
    p2.bronze_ingest()

    bronze = p2.table("bronze", "orders").read()
    assert "order_channel" in bronze.columns
    by_file = {
        r.order_id: r.order_channel for r in bronze.select("order_id", "order_channel").collect()
    }
    assert by_file["o3"] == "Mobile_App"
    assert by_file["o2"] is None  # pre-evolution unit reads NULL

    p2.silver_conform()
    silver = p2.table("silver", "orders").read()
    got = {r.order_id: r.order_channel for r in silver.collect()}
    # new row has the (cleaned) value; updated row evolved; old row NULL
    assert got == {"o1": "web", "o2": None, "o3": "mobile_app"}
    dtypes = dict(silver.dtypes)
    assert dtypes["order_channel"] == "string"


def test_streaming_silver_checkpoint_no_reprocess(spark, tmp_path):
    """Silver's consumed-version state must not redeliver old bronze
    units on a second run (S15 semantics): an empty second call commits
    nothing, and a new landing file brings exactly its rows."""
    landing = str(tmp_path / "landing")
    lake = str(tmp_path / "lake")
    _write_orders(
        landing,
        "orders_v1.csv",
        [["o1", "c1", "delivered", "2018-01-01 10:00:00", "", "", "", "2018-02-01 00:00:00"]],
        V1_HEADER,
    )
    p = OlistPipeline(spark, lake, landing, clock=CLOCK)
    p.bronze_ingest()
    p.silver_conform()
    v_after_first = p.table("silver", "orders").latest_version()

    # nothing new: no bronze version to consume, silver version unchanged
    p.silver_conform()
    assert p.table("silver", "orders").latest_version() == v_after_first

    # one more landing file -> exactly the delta flows through
    _write_orders(
        landing,
        "orders_more.csv",
        [["o9", "c9", "created", "2018-05-01 10:00:00", "", "", "", "2018-06-01 00:00:00"]],
        V1_HEADER,
    )
    p2 = OlistPipeline(spark, lake, landing, clock=CLOCK + timedelta(hours=2))
    p2.bronze_ingest()
    p2.silver_conform()
    silver = p2.table("silver", "orders").read()
    assert sorted(r.order_id for r in silver.collect()) == ["o1", "o9"]
