"""End-to-end medallion pipeline tests over the dirty Olist fixtures.

Covers the reference's whole contract (SURVEY §2/§5): streaming bronze
ingest with file-level idempotency, silver conformance (null-reject,
domain/range filters, try_cast/try_to_timestamp tolerance, dedup-latest,
geolocation consolidation), gold dims/facts (pre-agg joins, datediff
measures, surrogate keys), metric marts (inner-join revenue exclusion),
replay idempotency and out-of-order late-data protection.
"""

from __future__ import annotations

import os
import shutil
import threading
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.pipelines.olist import OlistPipeline
from tools.make_olist_fixtures import make_fixtures

CLOCK = datetime(2024, 6, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("olist")
    landing = str(root / "landing")
    lake = str(root / "lake")
    make_fixtures(landing, seed=42)
    p = OlistPipeline(spark, lake, landing, clock=CLOCK)
    p.run()
    return p


def test_bronze_has_all_rows_with_lineage(pipeline):
    bronze = pipeline.table("bronze", "orders").read()
    assert bronze.count() == 304  # 300 + 4 dirty
    assert {"ingestion_ts", "source_file"} <= set(bronze.columns)
    assert bronze.filter(F.col("source_file").isNull()).count() == 0


def test_bronze_replay_is_idempotent(pipeline):
    """Re-running the whole ingest (same files, fresh checkpoint dir is
    NOT needed — but even with one, the source_file merge blocks dupes)."""
    t = pipeline.table("bronze", "orders")
    before_rows = t.read().count()
    # simulate an at-least-once redelivery: merge the same batch again
    batch = t.read()
    t.merge_insert_only(batch, keys="source_file")
    assert t.read().count() == before_rows


def test_silver_orders_rejects_dirt(pipeline):
    silver = pipeline.table("silver", "orders").read()
    ids = {r.order_id for r in silver.select("order_id").collect()}
    assert "order_badst" not in ids  # out-of-domain status (02:601)
    assert "" not in ids and None not in ids  # null-reject (02:596)
    assert "order_orphan" in ids  # orphan FK is silver-valid
    # malformed purchase ts survived as NULL (try_to_timestamp policy)
    bad = silver.filter(F.col("order_id") == "order_badts").collect()
    assert len(bad) == 1 and bad[0].order_purchase_timestamp is None
    # types enforced
    dtypes = dict(silver.dtypes)
    assert dtypes["order_purchase_timestamp"] == "timestamp"


def test_silver_payments_defaults_and_rejects(pipeline):
    silver = pipeline.table("silver", "order_payments").read()
    dtypes = dict(silver.dtypes)
    assert dtypes["payment_value"] == "decimal(10,2)"
    assert dtypes["payment_installments"] == "int"
    # non-numeric installments -> NULL -> default 1 (02:434-438)
    row = silver.filter(
        (F.col("order_id") == "order_00000") & (F.col("payment_sequential") == 9)
    ).collect()
    assert len(row) == 1 and row[0].payment_installments == 1
    # non-numeric payment_value row rejected (02:415)
    assert (
        silver.filter(
            (F.col("order_id") == "order_00001") & (F.col("payment_sequential") == 9)
        ).count()
        == 0
    )


def test_silver_reviews_domain_and_ts(pipeline):
    silver = pipeline.table("silver", "order_reviews").read()
    ids = {r.review_id for r in silver.select("review_id").collect()}
    assert {"rev_bad0", "rev_bad6", "rev_badabc", "rev_badts"}.isdisjoint(ids)
    assert "rev_orphan" in ids
    scores = [r.review_score for r in silver.select("review_score").collect()]
    assert all(1 <= s <= 5 for s in scores)


def test_silver_customers_dedup_latest(pipeline):
    silver = pipeline.table("silver", "customers").read()
    rows = silver.filter(F.col("customer_id") == "cust_0001").collect()
    assert len(rows) == 1  # dup collapsed
    assert silver.count() == silver.select("customer_id").distinct().count()
    # case normalization applied (02:48-49)
    assert rows[0].customer_state in ("MG", "SP", "RJ", "BA", "RS", "PR", "SC", "PE", "CE", "GO")


def test_silver_geolocation_consolidated(pipeline):
    geo = pipeline.table("silver", "geolocation").read()
    assert geo.count() == geo.select("zip_code_prefix").distinct().count()
    cols = set(geo.columns)
    assert {"latitude", "longitude", "modal_city", "modal_state", "n_points"} <= cols


def test_gold_dims(pipeline):
    dc = pipeline.table("gold", "dim_customers").read()
    assert dc.select("customer_sk").distinct().count() == dc.count()
    dp = pipeline.table("gold", "dim_products").read()
    nodim = dp.filter(F.col("product_id") == "prod_nodim").collect()
    assert len(nodim) == 1 and nodim[0].product_volume_cm3 is None  # NULL propagation
    ds = pipeline.table("gold", "dim_sellers").read()
    assert all(r.seller_city == r.seller_city.upper() for r in ds.collect())


def test_gold_fact_orders_measures(pipeline):
    fo = pipeline.table("gold", "fact_orders").read()
    assert fo.count() == fo.select("order_id").distinct().count()
    with_items = fo.filter(F.col("order_item_count").isNotNull())
    assert with_items.count() > 0
    # orphan-customer order keeps NULL state (left join, 04:55-59)
    orphan = fo.filter(F.col("order_id") == "order_orphan").collect()
    assert len(orphan) == 1 and orphan[0].customer_state is None


def test_metrics_revenue_excludes_unpaid(pipeline, spark):
    """Inner join to payments: orders with no payment rows contribute no
    revenue (07:26-33)."""
    fo = pipeline.table("gold", "fact_orders").read()
    fp = pipeline.table("gold", "fact_payments").read()
    mart = pipeline.table("metrics", "metrics_revenue").read()
    paid_orders = fp.select("order_id").distinct().count()
    mart_orders = mart.agg(F.sum("order_count")).collect()[0][0]
    assert mart_orders <= paid_orders
    # revenue reconciles with fact_payments totals for paid fact orders
    expected = (
        fo.join(fp.select("order_id", "total_payment_value"), "order_id", "inner")
        .agg(F.sum("total_payment_value"))
        .collect()[0][0]
    )
    got = mart.agg(F.sum("total_revenue")).collect()[0][0]
    assert abs(expected - got) < 1e-6


def test_incremental_second_batch_and_late_data(pipeline, spark):
    """Drop a second file with one NEW order and one STALE update of an
    existing order; re-run. New order appears; stale update is ignored
    (the ingestion_ts guard) because its ingestion_ts is older."""
    landing = pipeline.landing_dir
    silver_before = pipeline.table("silver", "orders").read()
    existing = silver_before.filter(F.col("order_id") == "order_00005").collect()[0]

    os.makedirs(os.path.join(landing, "orders"), exist_ok=True)
    import csv

    with open(os.path.join(landing, "orders", "orders_part2.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(
            ["order_id", "customer_id", "order_status", "order_purchase_timestamp",
             "order_approved_at", "order_delivered_carrier_date",
             "order_delivered_customer_date", "order_estimated_delivery_date"]
        )
        w.writerow(["order_new99", "cust_0002", "created",
                    "2018-05-05 05:05:05", "", "", "", "2018-06-01 00:00:00"])
        w.writerow(["order_00005", "cust_0002", "canceled",
                    "2018-01-01 00:00:00", "", "", "", "2018-02-01 00:00:00"])

    # late batch: ingestion clock EARLIER than the first run's
    late = OlistPipeline(
        pipeline.spark, pipeline.lake_root, landing, clock=CLOCK - timedelta(days=1)
    )
    late.bronze_ingest()
    late.silver_conform()

    silver = late.table("silver", "orders").read()
    assert silver.filter(F.col("order_id") == "order_new99").count() == 1  # insert happens
    after = silver.filter(F.col("order_id") == "order_00005").collect()[0]
    assert after.order_status == existing.order_status  # stale update dropped


def test_fresh_update_wins(pipeline):
    """Same second file content re-delivered with a NEWER clock: now the
    update must apply (last-writer-wins by ingestion_ts)."""
    landing = pipeline.landing_dir
    import csv

    with open(os.path.join(landing, "orders", "orders_part3.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(
            ["order_id", "customer_id", "order_status", "order_purchase_timestamp",
             "order_approved_at", "order_delivered_carrier_date",
             "order_delivered_customer_date", "order_estimated_delivery_date"]
        )
        w.writerow(["order_00005", "cust_0002", "canceled",
                    "2018-01-01 00:00:00", "", "", "", "2018-02-01 00:00:00"])

    fresh = OlistPipeline(
        pipeline.spark, pipeline.lake_root, landing, clock=CLOCK + timedelta(days=1)
    )
    fresh.bronze_ingest()
    fresh.silver_conform()
    after = (
        fresh.table("silver", "orders")
        .read()
        .filter(F.col("order_id") == "order_00005")
        .collect()
    )
    assert len(after) == 1 and after[0].order_status == "canceled"


def test_metrics_revenue_incremental_matches_full(pipeline, spark):
    """The 100 TB mart path: change-feed-driven partial refresh produces
    the same mart as the reference's full overwrite rebuild."""
    p = pipeline
    p.metrics_revenue_incremental()  # bootstrap: consume current facts

    # mutate one delivered order's status through the guarded fact merge
    fo_t = p.table("gold", "fact_orders")
    schema = fo_t.read().schema
    row = (
        fo_t.read()
        .filter(F.col("order_status") == "delivered")
        .limit(1)
        .collect()[0]
    )
    changed = (
        spark.createDataFrame([row], schema)
        .withColumn("order_status", F.lit("canceled"))
        .withColumn("orders_silver_ts", F.col("orders_silver_ts") + F.expr("INTERVAL 1 DAY"))
    )
    fo_t.merge_upsert(changed, keys="order_id", guard_col="orders_silver_ts")

    assert p.metrics_revenue_incremental() is True

    def canon(df):
        return {
            (str(r.order_date), r.customer_state, r.order_status): (
                round(float(r.total_revenue), 6),
                r.order_count,
            )
            for r in df.collect()
        }

    mart = canon(p.table("metrics", "metrics_revenue").read())
    full = canon(p._revenue_mart_frame(fo_t.read()))
    # every group of the full rebuild is present and equal; the merge
    # path may additionally retain stale groups only if a (date,state,
    # status) combination vanished — assert it did not diverge here
    assert {k: v for k, v in mart.items() if k in full} == full
    vanished = set(mart) - set(full)
    assert all(k[2] == "delivered" for k in vanished)  # the flipped group only


def test_geolocation_consolidation_spans_batches(pipeline, spark):
    """A later micro-batch's points must RE-aggregate with the zip's
    earlier points (group-scoped recompute): the consolidated centroid
    and n_points cover ALL bronze points of the touched zip, not just
    the newest batch (r4 review — the batch-local fold overwrote the
    consolidation with batch-only stats)."""
    import csv as _csv
    import os

    from real_time_e_commerce_analytics_lakehouse_spark.pipelines.olist import (
        OlistPipeline,
    )

    geo_before = {
        r.zip_code_prefix: r
        for r in pipeline.table("silver", "geolocation").read().collect()
    }
    zip_pick, row0 = next(iter(geo_before.items()))
    n0 = row0.n_points

    landing = pipeline.landing_dir
    path = os.path.join(landing, "geolocation", "geo_part2.csv")
    with open(path, "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(
            ["geolocation_zip_code_prefix", "geolocation_lat",
             "geolocation_lng", "geolocation_city", "geolocation_state"]
        )
        w.writerow([zip_pick, "-90.0", "-45.0", "newtown", "XX"])

    from datetime import timedelta

    # later clock: the consolidation merge is guarded by ingestion_ts,
    # so the recomputed row must carry a NEWER version than the stored one
    p2 = OlistPipeline(
        pipeline.spark, pipeline.lake_root, landing,
        clock=pipeline.clock + timedelta(hours=1),
    )
    p2.bronze_ingest()
    p2.silver_conform()

    after = {
        r.zip_code_prefix: r
        for r in p2.table("silver", "geolocation").read().collect()
    }
    got = after[zip_pick]
    assert got.n_points == n0 + 1, (n0, got.n_points)
    # centroid moved toward the outlier but reflects ALL points, not
    # just the new batch (batch-local fold would give exactly -90.0)
    assert got.latitude != -90.0
    assert abs(got.latitude - ((row0.latitude * n0 + -90.0) / (n0 + 1))) < 1e-6
    # untouched zips unchanged
    other = next(z for z in geo_before if z != zip_pick)
    assert after[other].n_points == geo_before[other].n_points


def test_fact_orders_join_reuses_bucketed_layout(pipeline):
    """VERDICT r4 next #4: the reference re-joins orders on every gold
    refresh (04:55-59, 05:43-46, 06:54-90); the pipeline now mirrors
    silver orders ONCE per refresh into a bucketed layout on order_id,
    and every fact join consumes that layout as its distribution. Pin:
    the fact_orders plan scans orders Bucketed (no orders-side
    Exchange); the only plain Exchange left is the item pre-agg's own
    shuffle (which doubles as its join distribution)."""
    import re

    spark = pipeline.spark
    jvm = spark._jvm
    # fixture tables are tiny, so Catalyst would broadcast everything
    # and never exercise the bucketed distribution; force the at-scale
    # join strategy (sort-merge) for the plan pin
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = pipeline._fact_orders_frame()
        plan = df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan
    # orders side: zero Exchange (layout == distribution); the ONLY
    # plain exchange is the item pre-agg's own shuffle, which then
    # joins exchange-free against the bucketed layout; customers is an
    # explicit broadcast (no plain exchange).
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) <= 1, plan[:4000]
    # and the mirror itself exists as a catalog bucketed table
    name = pipeline._bucket_table_name()
    desc = pipeline.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    info = {r.col_name: r.data_type for r in desc}
    assert "Num Buckets" in info
    assert "order_id" in info.get("Bucket Columns", "")


def test_golden_facts_unchanged_by_bucketed_mirror(pipeline):
    """The bucketed mirror is a pure layout change: the fact_orders
    frame built through it must row-equal the same 3-way join computed
    directly off silver (reference join order, plain parquet reads).
    The mirror is refreshed first because earlier tests in this module
    mutate silver after the fixture's gold_build."""
    p = pipeline
    p._mirror_orders_bucketed()
    orders = p.table("silver", "orders").read()
    items = p.table("silver", "order_items").read()
    customers = p.table("silver", "customers").read().select(
        "customer_id", "customer_state"
    )
    item_agg = items.groupBy("order_id").agg(
        F.count("*").alias("order_item_count"),
        F.sum("price").alias("total_order_value"),
    )
    want = sorted(
        (r.order_id, r.customer_state, r.order_item_count, r.total_order_value)
        for r in orders.join(customers, "customer_id", "left")  # 04:55-59 order
        .join(item_agg, "order_id", "left")
        .select(
            "order_id", "customer_state", "order_item_count", "total_order_value"
        )
        .collect()
    )
    got = sorted(
        (r.order_id, r.customer_state, r.order_item_count, r.total_order_value)
        for r in p._fact_orders_frame()
        .select(
            "order_id", "customer_state", "order_item_count", "total_order_value"
        )
        .collect()
    )
    assert got == want


def test_mirror_delta_opens_marts_with_a_delta_reader(pipeline):
    """The reference stores every medallion table as Delta
    (01_bronze_csv_to_delta.py:49-55); mirror_delta exports the gold +
    metric marts as real Delta transaction logs so an existing Delta
    reader opens them directly — verified by the independent minimal
    replay reader: row-for-row equal to the laketable read, and
    idempotent on re-mirror."""
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        read_delta_log,
    )

    versions = pipeline.mirror_delta()
    assert "gold/fact_orders" in versions
    assert "metrics/metrics_revenue" in versions

    for key in ("gold/fact_orders", "gold/dim_customers", "metrics/metrics_revenue"):
        layer, name = key.split("/")
        t = pipeline.table(layer, name)
        native = t.read()
        via_delta = read_delta_log(
            pipeline.spark, os.path.join(pipeline.lake_root, layer, name)
        )
        assert dict(via_delta.dtypes) == dict(native.dtypes)
        cols = sorted(native.columns)
        a = sorted(map(repr, native.select(*cols).collect()))
        b = sorted(map(repr, via_delta.select(*cols).collect()))
        assert a == b, f"{key}: Delta view diverges from laketable read"

    # idempotent: nothing changed, no new delta commit
    assert pipeline.mirror_delta() == versions


def _threads_besides_py4j_callbacks() -> set[threading.Thread]:
    """Live threads, minus py4j's callback threads: the callback server,
    started on the session's first foreachBatch, and one connection per
    JVM thread that calls back into Python (each streaming query), which
    py4j keeps open after the query ends, sequential or not."""
    return {
        t
        for t in threading.enumerate()
        if not type(getattr(getattr(t, "_target", None), "__self__", None))
        .__module__.startswith("py4j.")
    }


def test_failed_unit_lets_its_layer_finish_then_rerun_recovers(
    spark, tmp_path, monkeypatch, assert_golden_revenue
):
    """A silver unit that fails does not stop the others: the layer waits
    for every table, then raises the failure, and no worker thread
    outlives it. The tables after order_payments in CONTRACTS still get
    their silver, and a clean re-run converges to the golden mart."""
    landing, lake = str(tmp_path / "landing"), str(tmp_path / "lake")
    make_fixtures(landing, seed=42)
    p = OlistPipeline(spark, lake, landing, clock=CLOCK)
    conform = OlistPipeline._conform_batch

    def faulty(self, batch, name, *args):
        if name == "order_payments":
            raise RuntimeError("injected order_payments fault")
        return conform(self, batch, name, *args)

    threads = _threads_besides_py4j_callbacks()
    with monkeypatch.context() as m:
        m.setattr(OlistPipeline, "_conform_batch", faulty)
        with pytest.raises(RuntimeError, match="injected order_payments fault"):
            p.run()
    assert _threads_besides_py4j_callbacks() == threads
    for name in ("order_reviews", "orders", "products", "sellers"):
        assert p.table("silver", name).exists(), name
    assert not p.table("silver", "order_payments").exists()

    p.run()
    assert_golden_revenue(p)


def test_layer_units_run_under_the_callers_job_group(pipeline):
    """The units' jobs carry the caller's local properties, so a job
    group set around a layer covers the work its threads launch."""
    sc = pipeline.spark.sparkContext
    group = "olist_metrics_build_group"
    sc.setJobGroup(group, "metrics_build under a job group")
    try:
        pipeline.metrics_build()
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3
