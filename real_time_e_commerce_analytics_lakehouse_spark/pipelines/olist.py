"""The Olist medallion pipeline rebuilt on the engine.

The reference's 9 notebooks (~1,910 LoC of hand-copied per-table code)
collapse into this module driven by the contract registry (schemas.py)
and the operator library. Layer semantics preserved exactly (SURVEY §2):

- bronze: streaming CSV ingest, file-level idempotent insert-only merge
  (01_bronze_csv_to_delta.py).
- silver: per-contract clean/type/dedup + keyed upsert with the
  ingestion_ts late-data guard (02_bronze_to_silver.py); geolocation is
  consolidated per zip (centroid + modal label, 02:155-184); reviews are
  full-refresh (02:543-550).
- gold: 4 dims + 3 facts (03-06). Surrogate keys are xxhash64(business
  key) instead of monotonically_increasing_id — deterministic across
  runs, no single-reducer bottleneck (SURVEY §7 risk 1).
- metrics: 3 marts, full-refresh overwrite (07-09).

Known reference quirks intentionally FIXED (SURVEY §2.10): facts merge
their deduped frames on first write too (06:96-103 uses the pre-dedup
frame); metrics derive dates from business events, not warehouse-load
time (09:30).

Concurrency contract. Each layer method is a barrier: it returns only
after all of its work is done, and `run()` calls the four layers in
order. Within a layer, the per-table units that do not depend on each
other (the 8 bronze streams, the 8 silver conforms, the 4 dims and the
3 facts, the 3 marts) run concurrently on driver threads, so their small
Spark jobs overlap instead of queueing behind one another. Every unit
runs with the caller's Spark local properties and session tags (job
group, description, scheduler pool), each unit with its own copy. A failing unit does not cancel the others: the layer waits for
every unit, then raises the first failure in submission order, and no
thread outlives the call. Re-running after a failure is idempotent: the
units that finished committed their progress, and the failed one
re-processes from its last committed version or checkpoint through the
same guarded merges.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from real_time_e_commerce_analytics_lakehouse_spark.operators.cleaning import clean
from real_time_e_commerce_analytics_lakehouse_spark.operators.dedup import (
    dedup_latest,
    modal_value,
)
from real_time_e_commerce_analytics_lakehouse_spark.schemas import CONTRACTS
from real_time_e_commerce_analytics_lakehouse_spark.sources.csv_stream import (
    bronze_csv_stream,
    discover_tables,
)
from real_time_e_commerce_analytics_lakehouse_spark.streaming.pipeline import (
    IncrementalRunner,
    run_available_now,
)
from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable


class OlistPipeline:
    def __init__(
        self,
        spark: SparkSession,
        lake_root: str,
        landing_dir: str,
        clock: datetime | None = None,
    ):
        self.spark = spark
        self.lake_root = lake_root
        self.landing_dir = landing_dir
        self.clock = clock  # deterministic ingestion/gold timestamps in tests
        self.runner = IncrementalRunner(os.path.join(lake_root, "_state"))

    # ------------------------------------------------------------- helpers

    def table(self, layer: str, name: str, partition_by: tuple[str, ...] = ()) -> LakeTable:
        return LakeTable(
            self.spark, os.path.join(self.lake_root, layer, name), partition_by
        )

    def _now(self):  # noqa: ANN202
        return F.lit(self.clock).cast("timestamp") if self.clock else F.current_timestamp()

    def _run_concurrently(self, *units: Callable[[], object]) -> None:
        """Run independent units on one driver thread each and return once
        all have finished; then raise the first failure in submission
        order. Each unit is wrapped on its own, so it gets its own clone
        of the caller's local properties (two threads sharing one clone
        would also share spark.sql.execution.id)."""
        if not units:
            return
        with ThreadPoolExecutor(max_workers=len(units)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(unit))
                for unit in units
            ]
        # leaving the block joined every worker, so each future is done
        for future in futures:
            future.result()

    # -------------------------------------------------------------- bronze

    def bronze_ingest(self) -> list[str]:
        """Stream new landing CSVs into bronze tables; idempotent per
        source file (replayed/duplicated files insert nothing)."""

        def ingest(name: str) -> None:
            target = self.table("bronze", name)
            run_available_now(
                bronze_csv_stream(
                    self.spark, self.landing_dir, name, CONTRACTS[name].raw_schema, self.clock
                ),
                checkpoint_dir=os.path.join(self.lake_root, "_checkpoints", name),
                batch_fn=lambda batch_df, _epoch: target.merge_insert_only(
                    batch_df, keys="source_file"
                ),
            )

        tables = [t for t in discover_tables(self.landing_dir) if t in CONTRACTS]
        self._run_concurrently(*(partial(ingest, t) for t in tables))
        return tables

    # -------------------------------------------------------------- silver

    def _bronze_present(self) -> list[str]:
        """Contracts whose bronze table exists, in CONTRACTS order."""
        return [name for name in CONTRACTS if self.table("bronze", name).exists()]

    def silver_conform(self) -> None:
        """Incrementally conform each bronze table into silver
        (batch-incremental tier: LakeTable change feed + version state)."""

        def conform(name: str) -> None:
            self.runner.process(
                f"silver_{name}",
                self.table("bronze", name),
                lambda batch: self._conform_batch(batch, name),
            )

        self._run_concurrently(*(partial(conform, n) for n in self._bronze_present()))

    def _conform_batch(self, batch: DataFrame, name: str) -> None:
        """One micro-batch of bronze rows -> silver (clean / type / dedup
        / guarded upsert; 02_bronze_to_silver.py per-table semantics)."""
        contract = CONTRACTS[name]
        silver = self.table("silver", name)
        cleaned = clean(batch, contract.clean_spec).withColumn(
            "silver_processed_ts", self._now()
        )
        if name == "geolocation":
            self._conform_geolocation(cleaned, silver)
            return
        deduped = dedup_latest(
            cleaned,
            keys=list(contract.merge_keys),
            version_col=contract.version_col,
            tie_breakers=("source_file",),
        )
        if contract.incremental:
            silver.merge_upsert(
                deduped,
                keys=list(contract.merge_keys),
                guard_col=contract.version_col,
            )
        else:
            # full refresh (reviews, 02:543-550): rebuild from ALL
            # bronze rows, not just the batch
            full = clean(self.table("bronze", name).read(), contract.clean_spec)
            full = full.withColumn("silver_processed_ts", self._now())
            silver.overwrite(
                dedup_latest(
                    full,
                    keys=list(contract.merge_keys),
                    version_col=contract.version_col,
                    tie_breakers=("source_file",),
                )
            )

    def _conform_geolocation(self, cleaned: DataFrame, silver: LakeTable) -> None:
        """Consolidate per zip: centroid = avg(lat/lng), label = modal
        city/state with deterministic tie-break (02:155-184).

        GROUP-SCOPED RECOMPUTE, not a batch-local fold (r4 review): the
        consolidation is a non-incremental aggregate (avg + modal), so a
        later micro-batch's points must re-aggregate WITH the zip's
        earlier points — folding only the batch would overwrite the
        consolidated row with batch-local centroids/counts. Cost stays
        proportional to the touched zips' rows: all bronze points are
        semi-joined to the batch's zip set before aggregating (the IVM
        dirty-group discipline, operators/incremental.py)."""
        contract = CONTRACTS["geolocation"]
        zips = cleaned.select("zip_code_prefix").distinct()
        allpts = clean(
            self.table("bronze", "geolocation").read(), contract.clean_spec
        ).join(zips, "zip_code_prefix", "left_semi")
        agg = allpts.groupBy("zip_code_prefix").agg(
            F.avg("latitude").alias("latitude"),
            F.avg("longitude").alias("longitude"),
            F.count("*").alias("n_points"),
            F.max("ingestion_ts").alias("ingestion_ts"),  # 02:161 latest-version
        )
        city = modal_value(allpts, "zip_code_prefix", "city").select(
            "zip_code_prefix", F.col("city").alias("modal_city")
        )
        state = modal_value(allpts, "zip_code_prefix", "state").select(
            "zip_code_prefix", F.col("state").alias("modal_state")
        )
        consolidated = (
            agg.join(city, "zip_code_prefix", "left")
            .join(state, "zip_code_prefix", "left")
            .withColumn("silver_processed_ts", self._now())
        )
        silver.merge_upsert(
            consolidated, keys="zip_code_prefix", guard_col="ingestion_ts"
        )

    # ---------------------------------------------------------------- gold

    @staticmethod
    def _sk(*cols: str):  # noqa: ANN205
        """Deterministic surrogate key (replaces monotonically_increasing_id,
        03_gold_dimensions.py:142-145 — which is neither stable across runs
        nor cluster-friendly as a global counter)."""
        return F.xxhash64(*[F.col(c) for c in cols])

    def gold_build(self) -> None:
        """The 4 dims and the 3 facts, all 7 from silver."""
        self._run_concurrently(
            self._build_dim_customers,
            self._build_dim_products,
            self._build_dim_sellers,
            self._build_dim_geolocation,
            self._build_fact_orders,
            self._build_fact_payments,
            self._build_fact_reviews,
        )

    def _build_dim_customers(self) -> None:
        customers = self.table("silver", "customers").read()
        dim_customers = (
            dedup_latest(customers, "customer_id", "ingestion_ts", ("source_file",))
            .select(
                self._sk("customer_id").alias("customer_sk"),
                "customer_id",
                "customer_unique_id",
                F.col("customer_zip_code_prefix").cast("int").alias("customer_zip_code_prefix"),  # 03:42
                F.lower(F.trim("customer_city")).alias("customer_city"),  # 03:43
                F.upper(F.trim("customer_state")).alias("customer_state"),  # 03:44
                self._now().alias("gold_created_ts"),
            )
        )
        self.table("gold", "dim_customers").overwrite(dim_customers)

    def _build_dim_products(self) -> None:
        products = self.table("silver", "products").read()
        dim_products = (
            dedup_latest(products, "product_id", "ingestion_ts", ("source_file",))
            .select(
                self._sk("product_id").alias("product_sk"),
                "product_id",
                "product_category_name",
                "product_weight_g",
                (
                    F.col("product_length_cm")
                    * F.col("product_height_cm")
                    * F.col("product_width_cm")
                ).alias("product_volume_cm3"),  # 03:128-137, NULL propagates
                self._now().alias("gold_created_ts"),
            )
        )
        self.table("gold", "dim_products").overwrite(dim_products)

    def _build_dim_sellers(self) -> None:
        sellers = self.table("silver", "sellers").read()
        dim_sellers = (
            dedup_latest(sellers, "seller_id", "ingestion_ts", ("source_file",))
            .select(
                self._sk("seller_id").alias("seller_sk"),
                "seller_id",
                "seller_zip_code_prefix",
                F.upper(F.trim("seller_city")).alias("seller_city"),  # 03:226
                F.upper(F.trim("seller_state")).alias("seller_state"),
                self._now().alias("gold_created_ts"),
            )
        )
        self.table("gold", "dim_sellers").overwrite(dim_sellers)

    def _build_dim_geolocation(self) -> None:
        geo = self.table("silver", "geolocation").read()
        dim_geolocation = geo.select(
            self._sk("zip_code_prefix").alias("geolocation_sk"),
            "zip_code_prefix",
            "latitude",
            "longitude",
            "modal_city",
            "modal_state",
            self._now().alias("gold_created_ts"),
        )
        self.table("gold", "dim_geolocation").overwrite(dim_geolocation)

    def _build_fact_orders(self) -> None:
        self.table("gold", "fact_orders").merge_upsert(
            self._fact_orders_frame(),
            keys="order_id",
            guard_col="orders_silver_ts",  # 04:117
        )

    def _fact_orders_frame(self) -> DataFrame:
        """fact_orders: pre-agg items per order + 3-way left join + the
        datediff measure triplet (04_gold_fact_orders.py:42-91). The
        order_id join runs first and customers join after as a broadcast
        (the reference joins customers first, 04:55-59): the customers
        side is broadcast-sized relative to the fact at any scale, so
        orders are shuffled at most once, on order_id. The two left joins
        commute (distinct keys; neither depends on the other's
        columns)."""
        orders = self.table("silver", "orders").read()
        customers = self.table("silver", "customers").read().select(
            "customer_id", "customer_state"
        )
        items = self.table("silver", "order_items").read()
        item_agg = items.groupBy("order_id").agg(
            F.count("*").alias("order_item_count"),  # 04:46
            F.sum("price").alias("total_order_value"),  # 04:47
            F.sum("freight_value").alias("total_freight_value"),  # 04:48
            F.max("ingestion_ts").alias("__items_ts"),
        )
        fact = (
            orders.join(item_agg, "order_id", "left")  # 04:58-59
            .join(F.broadcast(customers), "customer_id", "left")  # 04:55-57
            .select(
                "order_id",
                "customer_id",
                "customer_state",
                "order_status",
                "order_purchase_timestamp",
                "order_item_count",
                "total_order_value",
                "total_freight_value",
                F.datediff(
                    F.to_date("order_approved_at"),
                    F.to_date("order_purchase_timestamp"),
                ).alias("order_to_approval_days"),  # 04:79-81
                F.datediff(
                    F.to_date("order_delivered_customer_date"),
                    F.to_date("order_purchase_timestamp"),
                ).alias("order_to_delivery_days"),  # 04:82-84
                F.datediff(
                    F.to_date("order_delivered_customer_date"),
                    F.to_date("order_estimated_delivery_date"),
                ).alias("delivery_delay_days"),  # 04:85-86; >0 => late
                # Merge guard = version of the WHOLE fact row: greatest
                # of the order's ingestion and its items' latest
                # ingestion. The reference guards on the orders ts alone
                # (04:117), which permanently drops aggregate updates
                # driven by LATE order_items rows (the order row — and
                # its ts — is unchanged, so s.guard > t.guard is false;
                # r5 review). Reference quirk deliberately fixed, like
                # the 06:96-103 first-write bug (module header).
                F.greatest(
                    F.col("ingestion_ts"),
                    F.coalesce(F.col("__items_ts"), F.col("ingestion_ts")),
                ).alias("orders_silver_ts"),
                self._now().alias("gold_processed_ts"),
            )
        )
        return fact

    def _build_fact_payments(self) -> None:
        """fact_payments: payments pre-agg per order + order attrs
        (05_gold_fact_payments.py:31-55)."""
        payments = self.table("silver", "order_payments").read()
        orders = self.table("silver", "orders").read().select(
            "order_id", "order_status", "order_purchase_timestamp"
        )
        pay_agg = payments.groupBy("order_id").agg(
            F.sum(F.col("payment_value").cast("double")).alias("total_payment_value"),  # 05:36
            F.count("*").alias("payment_count"),  # 05:35
            F.max("payment_installments").alias("max_installments"),
        )
        fact = pay_agg.join(orders, "order_id", "left").withColumn(  # 05:43-46
            "gold_processed_ts", self._now()
        )
        self.table("gold", "fact_payments").merge_upsert(fact, keys="order_id")

    def _build_fact_reviews(self) -> None:
        """fact_reviews: reviews ⋈ orders + post-join dedup by review_id
        (06_gold_fact_reviews.py:54-90). Unlike the reference (06:96-103
        first-write bug), the DEDUPED frame is written on every path."""
        reviews = self.table("silver", "order_reviews").read()
        orders = self.table("silver", "orders").read().select(
            "order_id", "customer_id", "order_status"
        )
        enriched = reviews.join(orders, "order_id", "left").select(
            "review_id",
            "order_id",
            "customer_id",
            "order_status",
            "review_score",
            "review_creation_date",
            "review_answer_timestamp",
            F.datediff(
                F.to_date("review_answer_timestamp"), F.to_date("review_creation_date")
            ).alias("review_response_days"),
            F.col("ingestion_ts"),
            self._now().alias("gold_processed_ts"),
        )
        deduped = dedup_latest(enriched, "review_id", "ingestion_ts", ("order_id",))
        self.table("gold", "fact_reviews").merge_upsert(
            deduped, keys="review_id", guard_col="ingestion_ts"
        )

    # ------------------------------------------------------------- metrics

    def metrics_build(self) -> None:
        self._run_concurrently(
            self._metrics_revenue, self._metrics_orders, self._metrics_customers
        )

    def _metrics_revenue(self) -> None:
        """Revenue by (order_date, customer_state, order_status): facts
        inner-joined to payments — unpaid orders excluded (07:26-65)."""
        fo = self.table("gold", "fact_orders").read()
        fp = self.table("gold", "fact_payments").read().select(
            "order_id", "total_payment_value"
        )
        mart = (
            fo.join(fp, "order_id", "inner")  # 07:31: only paid orders
            .groupBy(
                F.to_date("order_purchase_timestamp").alias("order_date"),  # 07:39
                "customer_state",
                "order_status",
            )
            .agg(
                F.sum("total_payment_value").alias("total_revenue"),  # 07:62
                F.countDistinct("order_id").alias("order_count"),  # 07:63
            )
            .withColumn("gold_processed_ts", self._now())
        )
        self.table("metrics", "metrics_revenue").overwrite(mart)  # 07:72-78

    def _metrics_orders(self) -> None:
        """Order status pivots + delivery-lag averages per day/state (08)."""
        fo = self.table("gold", "fact_orders").read()

        def status(s: str):  # noqa: ANN202
            return F.sum(F.when(F.col("order_status") == s, 1).otherwise(0)).cast("long")

        mart = (
            fo.groupBy(
                F.to_date("order_purchase_timestamp").alias("order_date"),  # 08:29
                "customer_state",
            )
            .agg(
                F.count("*").alias("total_orders"),
                F.countDistinct("customer_id").alias("customers"),  # 08:46
                status("delivered").alias("delivered_orders"),  # 08:48-58
                status("canceled").alias("canceled_orders"),
                status("shipped").alias("shipped_orders"),
                status("created").alias("created_orders"),
                F.avg("order_to_delivery_days").alias("avg_delivery_days"),  # 08:61-66
                F.avg("delivery_delay_days").alias("avg_delivery_delay_days"),
            )
            .withColumn("gold_processed_ts", self._now())
        )
        self.table("metrics", "metrics_orders").overwrite(mart)

    def _metrics_customers(self) -> None:
        """Customer metrics per state (09) — signup date FIXED to derive
        from the first order event, not warehouse-load time (09:30 quirk)."""
        dc = self.table("gold", "dim_customers").read()
        fo = self.table("gold", "fact_orders").read().select(
            "customer_id", "order_id", "order_status",
            "order_purchase_timestamp", "total_order_value",
        )
        mart = (
            dc.join(fo, "customer_id", "left")  # 09:21-27 dim-driven
            .groupBy("customer_state")
            .agg(
                F.countDistinct("customer_id").alias("customers"),  # 09:45
                F.countDistinct("order_id").alias("orders"),  # 09:47
                F.countDistinct(
                    F.when(F.col("order_status") == "delivered", F.col("order_id"))
                ).alias("delivered_orders"),  # 09:49-52
                F.countDistinct(
                    F.when(F.col("order_status") == "delivered", F.col("customer_id"))
                ).alias("active_customers"),  # 09:53-55
                F.min(F.to_date("order_purchase_timestamp")).alias("first_order_date"),
                F.sum("total_order_value").alias("total_order_value"),
            )
            .withColumn("gold_processed_ts", self._now())
        )
        self.table("metrics", "metrics_customers").overwrite(mart)

    # ----------------------------------------------------------------- all

    def run(self) -> None:
        """One full incremental cycle: bronze → silver → gold → metrics."""
        self.bronze_ingest()
        self.silver_conform()
        self.gold_build()
        self.metrics_build()

    def mirror_delta(self, layers: tuple[str, ...] = ("gold", "metrics")) -> dict[str, int]:
        """Mirror the pipeline's tables as Delta transaction logs
        (sources/delta_log.export_delta_log), so a reference user's
        existing Delta readers open the marts directly — the reference
        stores every medallion table as Delta
        (01_bronze_csv_to_delta.py:49-55, 02_bronze_to_silver.py:65);
        this engine's native format is laketable, and the mirror closes
        that consumer-side gap without copying a byte. Incremental:
        re-mirroring after another run() appends only the diff commits.
        Returns {layer/table: delta version written}."""
        from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
            export_delta_log,
        )

        out: dict[str, int] = {}
        for layer in layers:
            root = os.path.join(self.lake_root, layer)
            if not os.path.isdir(root):
                continue
            for name in sorted(os.listdir(root)):
                t = LakeTable(self.spark, os.path.join(root, name))
                if t.exists():
                    out[f"{layer}/{name}"] = export_delta_log(t)
        return out
