"""The ``medallion_cycle`` workload and its oracle.

Timed pass: ``OlistPipeline.run()`` over the initial delivery (the
backfill), then incremental deliveries in a closed loop: the next
delivery lands only after the previous one's marts are committed. Each
delivery's latency runs from the moment its files land to the end of
``run()``.

There are always two deliveries, so the run's length is set by the
workload, not by ``--seconds``: the first updates orders of the backfill
and replays one of its files, the second is late data.

``latency_s`` is the median delivery latency, ``bulk_s`` the backfill;
a metric whose operations all failed is NaN.

Checks: bronze holds exactly the rows of the distinct files landed (so
the replayed file adds none), and the three metrics marts match, on
their business columns, the marts that ``expected_marts`` derives with
DuckDB from the same files and clocks.
"""

from __future__ import annotations

import csv
import math
import os
import shutil
import time

import duckdb

from perfbench.datagen import Delivery

DELIVERIES = 2  # after the backfill: updates + a replayed file, then late data

# Business columns of each mart (the processing timestamp is left out).
MARTS = {
    "metrics_revenue": (
        "order_date", "customer_state", "order_status", "total_revenue", "order_count",
    ),
    "metrics_orders": (
        "order_date", "customer_state", "total_orders", "customers",
        "delivered_orders", "canceled_orders", "shipped_orders", "created_orders",
        "avg_delivery_days", "avg_delivery_delay_days",
    ),
    "metrics_customers": (
        "customer_state", "customers", "orders", "delivered_orders",
        "active_customers", "first_order_date", "total_order_value",
    ),
}

_TS = "'%Y-%m-%d %H:%M:%S'"
_SILVER = {
    "orders": (
        f"""trim(order_id) AS order_id, trim(customer_id) AS customer_id,
        lower(trim(order_status)) AS order_status,
        try_strptime(order_purchase_timestamp, {_TS}) AS order_purchase_timestamp,
        try_strptime(order_approved_at, {_TS}) AS order_approved_at,
        try_strptime(order_delivered_customer_date, {_TS}) AS order_delivered_customer_date,
        try_strptime(order_estimated_delivery_date, {_TS}) AS order_estimated_delivery_date""",
        "order_id IS NOT NULL AND customer_id IS NOT NULL AND order_status IN "
        "('created','approved','invoiced','processing','shipped','delivered',"
        "'canceled','unavailable')",
        "order_id",
    ),
    "order_items": (
        """trim(order_id) AS order_id, try_cast(order_item_id AS INTEGER) AS order_item_id,
        try_cast(price AS DOUBLE) AS price,
        try_cast(freight_value AS DOUBLE) AS freight_value""",
        "order_id IS NOT NULL AND order_item_id IS NOT NULL",
        "order_id, order_item_id",
    ),
    "order_payments": (
        """trim(order_id) AS order_id,
        try_cast(payment_sequential AS INTEGER) AS payment_sequential,
        try_cast(payment_value AS DECIMAL(10,2)) AS payment_value""",
        "order_id IS NOT NULL AND payment_sequential IS NOT NULL "
        "AND payment_value IS NOT NULL",
        "order_id, payment_sequential",
    ),
    "customers": (
        """trim(customer_id) AS customer_id,
        trim(customer_unique_id) AS customer_unique_id,
        upper(trim(customer_state)) AS customer_state""",
        "customer_id IS NOT NULL AND customer_unique_id IS NOT NULL",
        "customer_id",
    ),
}

_MART_SQL = {
    "metrics_revenue": """
        SELECT CAST(fo.order_purchase_timestamp AS DATE) AS order_date,
               fo.customer_state, fo.order_status,
               sum(fp.total_payment_value) AS total_revenue,
               count(DISTINCT fo.order_id) AS order_count
        FROM fact_orders fo JOIN fact_payments fp USING (order_id)
        GROUP BY ALL""",
    "metrics_orders": """
        SELECT CAST(order_purchase_timestamp AS DATE) AS order_date, customer_state,
               count(*) AS total_orders, count(DISTINCT customer_id) AS customers,
               sum(CASE WHEN order_status = 'delivered' THEN 1 ELSE 0 END) AS delivered_orders,
               sum(CASE WHEN order_status = 'canceled' THEN 1 ELSE 0 END) AS canceled_orders,
               sum(CASE WHEN order_status = 'shipped' THEN 1 ELSE 0 END) AS shipped_orders,
               sum(CASE WHEN order_status = 'created' THEN 1 ELSE 0 END) AS created_orders,
               avg(order_to_delivery_days) AS avg_delivery_days,
               avg(delivery_delay_days) AS avg_delivery_delay_days
        FROM fact_orders GROUP BY ALL""",
    "metrics_customers": """
        SELECT c.customer_state,
               count(DISTINCT c.customer_id) AS customers,
               count(DISTINCT fo.order_id) AS orders,
               count(DISTINCT CASE WHEN fo.order_status = 'delivered' THEN fo.order_id END)
                   AS delivered_orders,
               count(DISTINCT CASE WHEN fo.order_status = 'delivered' THEN c.customer_id END)
                   AS active_customers,
               min(CAST(fo.order_purchase_timestamp AS DATE)) AS first_order_date,
               sum(fo.total_order_value) AS total_order_value
        FROM silver_customers c LEFT JOIN fact_orders fo USING (customer_id)
        GROUP BY ALL""",
}


def expected_marts(landed: dict[str, tuple[str, object]]) -> dict[str, list[tuple]]:
    """Business rows of the three marts for the files in ``landed``
    (landing-relative path -> (absolute path, ingestion clock)).

    Silver keeps, per key, the cleaned row of the latest clock (ties go to
    the later file name), which is what the pipeline's guarded merges
    converge to when a late delivery brings only new orders."""
    con = duckdb.connect()
    for table, (cols, keep, keys) in _SILVER.items():
        parts = [
            f"SELECT *, TIMESTAMP '{clock:%Y-%m-%d %H:%M:%S}' AS ingestion_ts, "
            f"'{path}' AS source_file FROM read_csv('{path}', header=true, "
            "all_varchar=true)"
            for rel, (path, clock) in sorted(landed.items())
            if rel.split(os.sep)[0] == table
        ]
        con.execute(f"""
            CREATE TABLE silver_{table} AS
            SELECT * EXCLUDE (rn) FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY {keys} ORDER BY ingestion_ts DESC, source_file DESC) AS rn
                FROM (SELECT {cols}, ingestion_ts, source_file
                      FROM ({' UNION ALL BY NAME '.join(parts)}))
                WHERE {keep})
            WHERE rn = 1""")
    con.execute("""
        CREATE TABLE fact_orders AS
        SELECT o.order_id, o.customer_id, c.customer_state, o.order_status,
               o.order_purchase_timestamp,
               i.n AS order_item_count, i.value AS total_order_value,
               date_diff('day', CAST(o.order_estimated_delivery_date AS DATE),
                         CAST(o.order_delivered_customer_date AS DATE)) AS delivery_delay_days,
               date_diff('day', CAST(o.order_purchase_timestamp AS DATE),
                         CAST(o.order_delivered_customer_date AS DATE)) AS order_to_delivery_days
        FROM silver_orders o
        LEFT JOIN (SELECT order_id, count(*) AS n, sum(price) AS value
                   FROM silver_order_items GROUP BY order_id) i USING (order_id)
        LEFT JOIN silver_customers c USING (customer_id)""")
    con.execute("""
        CREATE TABLE fact_payments AS
        SELECT order_id, sum(CAST(payment_value AS DOUBLE)) AS total_payment_value
        FROM silver_order_payments GROUP BY order_id""")
    out = {name: con.execute(sql).fetchall() for name, sql in _MART_SQL.items()}
    con.close()
    return out


def canonical(rows: list[tuple]) -> list[tuple]:
    """Order-free, rounding-stable form of mart rows: doubles to 4
    places (every sum is of cent amounts), dates as ISO strings."""
    def cell(v):
        if isinstance(v, float):
            return round(v, 4)
        if v is None or isinstance(v, (int, str)):
            return v
        return v.isoformat() if hasattr(v, "isoformat") else str(v)

    return sorted(
        (tuple(cell(v) for v in r) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def mart_mismatches(got: dict[str, list[tuple]], want: dict[str, list[tuple]]) -> list[str]:
    return [
        f"{name}: {len(got[name])} rows vs {len(want[name])} expected"
        for name in MARTS
        if canonical(got[name]) != canonical(want[name])
    ]


def _data_rows(path: str) -> int:
    with open(path, newline="") as f:
        return sum(1 for _ in csv.reader(f)) - 1


def _tree_stats(root: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def run(h, seconds: float, smoke: bool) -> None:
    """Run the workload on harness ``h`` (see ``run.Harness``)."""
    from real_time_e_commerce_analytics_lakehouse_spark.pipelines.olist import OlistPipeline

    from perfbench.datagen import olist_deliveries

    n_orders, per_delivery = (300, 100) if smoke else (1_000, 500)

    def generate() -> tuple[str, list[Delivery]]:
        root = h.fresh_dir("olist")
        return olist_deliveries(root, h.seed, n_orders, per_delivery, DELIVERIES)

    landing, deliveries = h.setup_inputs(generate)
    lake = h.fresh_dir("lake")
    landed: dict[str, tuple[str, object]] = {}

    def land(d: Delivery) -> int:
        """Move a delivery's files into the landing zone; returns bytes."""
        nbytes = 0
        for rel, src in d.files.items():
            dst = os.path.join(landing, rel)
            nbytes += os.path.getsize(src)
            shutil.move(src, dst)
            landed[rel] = (dst, d.clock)
        for rel in d.replay:
            dst = landed[rel][0]
            nbytes += os.path.getsize(dst)
            shutil.copyfile(dst, dst + ".tmp")
            os.replace(dst + ".tmp", dst)
        return nbytes

    for table in sorted(os.listdir(landing)):
        for name in sorted(os.listdir(os.path.join(landing, table))):
            rel = os.path.join(table, name)
            landed[rel] = (os.path.join(landing, rel), deliveries[0].clock)
    h.setup_done()

    t_window = time.perf_counter()
    backfill_s = math.nan
    cycles: list[float] = []  # delivery latencies
    landed_rows = 0
    amp: list[tuple[int, int, int]] = []  # (lake bytes added, files added, landed bytes)
    for d in deliveries:
        before = _tree_stats(lake) if h.tracer.enabled else (0, 0)
        nbytes = 0
        kind = "backfill" if d.index == 0 else "delivery"
        with h.op(kind, f"{kind}_{d.index}") as op:
            t0 = time.perf_counter()
            if d.index == 0:
                nbytes = sum(os.path.getsize(p) for p, _ in landed.values())
            else:
                nbytes = land(d)
            OlistPipeline(h.spark, lake, landing, clock=d.clock).run()
            op.ok(time.perf_counter() - t0)
            h.release(lambda: None)
        if h.tracer.enabled:
            after = _tree_stats(lake)
            amp.append((after[0] - before[0], after[1] - before[1], nbytes))
        if op.seconds is None:
            continue
        if d.index == 0:
            backfill_s = op.seconds
        else:
            cycles.append(op.seconds)
        landed_rows += sum(
            _data_rows(landed[rel][0]) for rel in (d.files or landed)
        ) + sum(_data_rows(landed[rel][0]) for rel in d.replay)
    window_s = time.perf_counter() - t_window
    h.mark("window")

    # checks (untimed)
    p = OlistPipeline(h.spark, lake, landing)
    with h.checking("bronze row counts"):
        for table in sorted({rel.split(os.sep)[0] for rel in landed}):
            want = sum(_data_rows(path) for path, _ in landed.values()
                       if os.path.relpath(path, landing).split(os.sep)[0] == table)
            got = p.table("bronze", table).read().count()
            h.check(got == want, f"bronze.{table}: {got} rows, {want} landed")
    with h.checking("metrics marts"):
        got = {
            name: [tuple(r) for r in p.table("metrics", name).read().select(*cols).collect()]
            for name, cols in MARTS.items()
        }
        for problem in mart_mismatches(got, expected_marts(landed)):
            h.check(False, problem)

    cycle_p50 = h.median(cycles)
    h.e2e.update({
        "latency_s": cycle_p50,
        "bulk_s": backfill_s,
        "work_total_s": backfill_s + cycle_p50,
    })
    h.named.update({
        "backfill_s": backfill_s,
        "cycle_p50_s": cycle_p50,
        "rows_per_s": landed_rows / window_s,
        "deliveries": len(cycles),
    })
    if h.tracer.enabled:
        n = max(1, len(amp) - 1)  # deliveries only: the backfill lands into an empty lake
        h.layer.update({
            "tables.write_amp": sum(a / b for a, _, b in amp[1:] if b) / n,
            "tables.files_added": sum(f for _, f, _ in amp[1:]) / n,
        })
