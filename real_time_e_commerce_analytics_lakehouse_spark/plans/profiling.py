"""Data profiling + time-series analytics queries.

Profiling is the first job any lakehouse runs over new data (the
reference eyeballs `display()` outputs instead — db_notebooks'
ad-hoc inspection cells); here it is a single-pass aggregate. The
time-series family (gaps-and-islands, linear interpolation, EWMA)
extends the existing spine/gap-fill/anomaly queries with the remaining
classic shapes, each hash-exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.functions import textexpr as tx
from real_time_e_commerce_analytics_lakehouse_spark.operators.bounded_frames import (
    BUCKET,
    CARRIED,
    bucketed_gap_fill,
    carried_rows_buckets,
)
from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import register, table

# ---------------------------------------------------------------------------
# One-pass column profiler
# ---------------------------------------------------------------------------

# (column, kind) — kind picks the deterministic cross-engine stringify
# rule for min/max: bigint/string verbatim, double through DECIMAL(18,2)
# (the data is currency with 2 fractional digits), timestamp through a
# date format both engines spell identically.
_PROFILE_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "string"),
]


def _minmax_sql(c: str, kind: str, agg: str, dialect: str) -> str:
    s = "STRING" if dialect == "spark" else "VARCHAR"
    if kind == "bigint":
        return f"CAST({agg}({c}) AS {s})"
    if kind == "double":
        return f"CAST(CAST({agg}({c}) AS DECIMAL(18,2)) AS {s})"
    if kind == "ts":
        if dialect == "spark":
            return f"date_format({agg}({c}), 'yyyy-MM-dd')"
        return f"strftime({agg}({c}), '%Y-%m-%d')"
    return f"{agg}({c})"


def _profile_oracle() -> str:
    metrics = ["count(*) AS n_rows"]
    for c, k in _PROFILE_COLS:
        metrics += [
            f"count({c}) AS c_{c}",
            f"count(DISTINCT {c}) AS d_{c}",
            _minmax_sql(c, k, "min", "duck") + f" AS mn_{c}",
            _minmax_sql(c, k, "max", "duck") + f" AS mx_{c}",
        ]
        if k == "string":
            metrics.append(f"CAST(sum(length({c})) AS BIGINT) AS len_{c}")
    branches = "\n    UNION ALL\n    ".join(
        f"SELECT '{c}' AS column_name, n_rows,"
        f" n_rows - c_{c} AS n_nulls, d_{c} AS n_distinct,"
        f" mn_{c} AS min_value, mx_{c} AS max_value,"
        f" {f'len_{c}' if k == 'string' else 'CAST(NULL AS BIGINT)'} AS total_len"
        f" FROM a"
        for c, k in _PROFILE_COLS
    )
    return f"WITH a AS (SELECT {', '.join(metrics)} FROM orders)\n    {branches}"


@register(
    "profile_orders_columns",
    oracle=_profile_oracle(),
    doc=(
        "Single-pass column profiler (the first job run over any newly "
        "landed table): per column — null count, exact distinct count, "
        "deterministically stringified min/max, and total string length "
        "— emitted in long form via stack() over ONE aggregate row. One "
        "scan; the only extra cost is Spark's Expand for the multiple "
        "exact COUNT(DISTINCT)s, whose partial aggregation still "
        "happens map-side. At 100 TB the distinct counts swap to "
        "approx_count_distinct (HLL: no Expand, one pass, mergeable) — "
        "the exact variant is kept here because the gate hashes values."
    ),
    tags=("agg", "profiling"),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, k in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"c_{c}"),
            F.countDistinct(c).alias(f"d_{c}"),
            F.expr(_minmax_sql(c, k, "min", "spark")).alias(f"mn_{c}"),
            F.expr(_minmax_sql(c, k, "max", "spark")).alias(f"mx_{c}"),
        ]
        if k == "string":
            aggs.append(F.sum(F.length(c)).cast("long").alias(f"len_{c}"))
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_rows - c_{c}, d_{c}, mn_{c}, mx_{c}, "
        + (f"len_{c}" if k == "string" else "CAST(NULL AS BIGINT)")
        for c, k in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value, total_len)"
        ),
        "n_rows",
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct",
        "min_value", "max_value", "total_len",
    )


# ---------------------------------------------------------------------------
# Gaps and islands: consecutive-month purchase streaks
# ---------------------------------------------------------------------------


@register(
    "customer_order_streaks",
    oracle="""
    WITH months AS (
        SELECT DISTINCT o_custkey,
               CAST(date_part('year', o_orderdate) * 12
                    + date_part('month', o_orderdate) AS BIGINT) AS m
        FROM orders
    ),
    islands AS (
        SELECT o_custkey, m,
               m - row_number() OVER (PARTITION BY o_custkey ORDER BY m)
                   AS grp
        FROM months
    ),
    streaks AS (
        SELECT o_custkey, grp, count(*) AS streak_len, min(m) AS start_m
        FROM islands GROUP BY o_custkey, grp
    )
    SELECT o_custkey,
           CAST(max(streak_len) AS BIGINT) AS longest_streak_months,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(min(start_m) AS BIGINT) AS first_month_index
    FROM streaks GROUP BY o_custkey
    HAVING max(streak_len) >= 3
    """,
    doc=(
        "Gaps-and-islands (the classic streak shape): distinct active "
        "months per customer, island id = month index minus row_number "
        "(constant within a consecutive run), then per-island and "
        "per-customer rollups — customers with a 3+ month consecutive "
        "order streak. All three steps share ONE hash partitioning on "
        "o_custkey (distinct, window, both groupBys), so the plan pays "
        "a single shuffle. Month index is exact integer arithmetic."
    ),
    tags=("window", "timeseries"),
)
def customer_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    months = (
        orders.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("m"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("m")
    islands = months.withColumn("grp", F.col("m") - F.row_number().over(w))
    streaks = islands.groupBy("o_custkey", "grp").agg(
        F.count("*").alias("streak_len"), F.min("m").alias("start_m")
    )
    return (
        streaks.groupBy("o_custkey")
        .agg(
            F.max("streak_len").alias("longest_streak_months"),
            F.count("*").alias("n_streaks"),
            F.min("start_m").alias("first_month_index"),
        )
        .where(F.col("longest_streak_months") >= 3)
    )


# ---------------------------------------------------------------------------
# Linear interpolation over the date spine
# ---------------------------------------------------------------------------

_URGENT_DAILY = """
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
"""


@register(
    "daily_revenue_interpolated",
    oracle=f"""
    WITH daily AS ({_URGENT_DAILY}),
    spine AS (
        SELECT unnest(generate_series(
                   (SELECT min(order_date) FROM daily),
                   (SELECT max(order_date) FROM daily),
                   INTERVAL '1 day'))::DATE AS order_date
    ),
    joined AS (
        SELECT s.order_date, d.revenue,
               CAST(s.order_date AS TIMESTAMP) IS NOT NULL
                   AND d.order_date IS NULL AS is_gap
        FROM spine s LEFT JOIN daily d USING (order_date)
    ),
    bracketed AS (
        SELECT order_date, revenue, is_gap,
               last_value(revenue IGNORE NULLS) OVER
                   (ORDER BY order_date ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS prev_rev,
               last_value(CASE WHEN revenue IS NOT NULL THEN order_date END
                          IGNORE NULLS) OVER
                   (ORDER BY order_date ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS prev_date,
               first_value(revenue IGNORE NULLS) OVER
                   (ORDER BY order_date ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS next_rev,
               first_value(CASE WHEN revenue IS NOT NULL THEN order_date END
                           IGNORE NULLS) OVER
                   (ORDER BY order_date ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS next_date
        FROM joined
    )
    SELECT order_date, is_gap,
           CASE WHEN revenue IS NOT NULL THEN CAST(revenue AS DOUBLE)
               ELSE CAST(prev_rev * (next_date - order_date)
                         + next_rev * (order_date - prev_date) AS DOUBLE)
                    / CAST(next_date - prev_date AS DOUBLE)
           END AS revenue_interp
    FROM bracketed
    WHERE order_date >= (SELECT min(order_date) FROM daily)
    """,
    doc=(
        "Linear interpolation of missing days (time-series imputation): "
        "daily URGENT-priority revenue joined onto the generated date "
        "spine, bracketing known values found with last_value/"
        "first_value(IGNORE NULLS) over mirrored unbounded frames, gap "
        "value = exact decimal cross-multiplication over integer day "
        "distances, ONE double division at the end (numerator and "
        "denominator exact on both engines, so the quotient is "
        "bit-identical — decimal division scale rules differ across "
        "engines and are avoided). Spine endpoints are known "
        "points, so every gap is bracketed. The fill windows are "
        "PARTITIONED by 512-day buckets; cross-bucket bracketing points "
        "come from a broadcast per-bucket first/last-known summary "
        "(operators/bounded_frames.bucketed_gap_fill) — no "
        "single-reducer window at any series length."
    ),
    tags=("window", "timeseries"),
)
def daily_revenue_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"))
    )
    bounds = daily.agg(F.min("order_date").alias("lo"), F.max("order_date").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("order_date")
    )
    joined = (
        spine.join(daily, "order_date", "left")
        .select(
            "order_date", "revenue", F.col("revenue").isNull().alias("is_gap")
        )
        .withColumn("__day", F.datediff("order_date", F.lit("1995-01-01")))
    )
    b = bucketed_gap_fill(joined, "__day", "revenue")
    interp = (
        F.col("__prev_val") * (F.col("__next_day") - F.col("__day"))
        + F.col("__next_val") * (F.col("__day") - F.col("__prev_day"))
    ).cast("double") / (F.col("__next_day") - F.col("__prev_day")).cast(
        "double"
    )
    out = b.select(
        "order_date",
        "is_gap",
        F.when(F.col("revenue").isNotNull(), F.col("revenue").cast("double"))
        .otherwise(interp)
        .alias("revenue_interp"),
    )
    out._cached_deps = getattr(b, "_cached_deps", [])
    return out


# ---------------------------------------------------------------------------
# EWMA via ordered Horner fold (bit-identical cross-engine)
# ---------------------------------------------------------------------------


@register(
    "daily_revenue_ewma",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS day_rev
        FROM orders GROUP BY 1
    )
    SELECT order_date, round(day_rev, 2) AS day_revenue,
           list_reduce(
               list(day_rev) OVER (ORDER BY order_date
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
               (acc, v) -> acc / 2 + v) AS ewma_halving
    FROM daily
    """,
    doc=(
        "Exponentially weighted moving average (alpha = 1/2, 8-day "
        "support) as an ORDERED Horner fold: collect the trailing frame "
        "in frame order, fold acc/2 + x oldest-to-newest. Halving a "
        "double is exact and the fold order is pinned, so both engines "
        "execute the identical IEEE operation sequence and the result "
        "is BIT-identical — emitted unrounded on purpose: SQL round() "
        "itself is not cross-engine stable at half-way boundaries "
        "(Spark rounds the exact binary expansion, DuckDB multiplies "
        "by 10^k first), so rounding would add disagreement where the "
        "raw doubles have none. One window pass over the daily "
        "pre-aggregate, partitioned by 512-day buckets with 7-row "
        "carries (operators/bounded_frames) — no single-reducer window."
    ),
    tags=("window", "timeseries"),
)
def daily_revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("day_rev")
        )
        .withColumn("__day", F.datediff("order_date", F.lit("1995-01-01")))
    )
    aug = carried_rows_buckets(daily, "__day", k_back=7)
    w = Window.partitionBy(BUCKET).orderBy("__day").rowsBetween(-7, 0)
    lst = F.collect_list("day_rev").over(w)
    ewma = F.aggregate(lst, F.lit(0.0), lambda acc, v: acc / 2 + v)
    out = (
        aug.select(
            "order_date",
            CARRIED,
            F.round("day_rev", 2).alias("day_revenue"),
            ewma.alias("ewma_halving"),
        )
        .where(~F.col(CARRIED))
        .drop(CARRIED)
    )
    out._cached_deps = getattr(aug, "_cached_deps", [])
    return out


@register(
    "trailing_7d_median_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS day_rev
        FROM orders GROUP BY 1
    ),
    framed AS (
        SELECT order_date, day_rev,
               list_sort(list(day_rev) OVER (ORDER BY order_date
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
        FROM daily
    )
    SELECT order_date, round(day_rev, 2) AS day_revenue,
           CAST(len(win) AS BIGINT) AS n_days,
           win[(len(win) + 1) // 2] AS trailing_median
    FROM framed
    """,
    doc=(
        "Exact moving median over a trailing 7-row window (one row per day present, matching the trailing_7d name — the frame was 8 rows, r4 review) (robust "
        "smoothing — the outlier-resistant sibling of the EWMA): "
        "collect the frame, sort it, take the lower middle element "
        "(1-based position (n+1) div 2 — a pinned integer convention, "
        "NOT an averaged even-n median, so the value is always one of "
        "the input doubles and cross-engine exact with no arithmetic "
        "contract). Window medians have no incremental aggregate form; "
        "the O(w log w) per-row sort is the honest cost, bounded by the "
        "frame width. Emitted unrounded (the value is an exact daily "
        "decimal sum cast once to double)."
    ),
    tags=("window", "timeseries"),
)
def trailing_7d_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("day_rev")
        )
        .withColumn("__day", F.datediff("order_date", F.lit("1995-01-01")))
    )
    aug = carried_rows_buckets(daily, "__day", k_back=6)
    w = Window.partitionBy(BUCKET).orderBy("__day").rowsBetween(-6, 0)
    win = F.sort_array(F.collect_list("day_rev").over(w))
    out = (
        aug.select(
            "order_date",
            CARRIED,
            F.round("day_rev", 2).alias("day_revenue"),
            F.size(win).cast("long").alias("n_days"),
            F.element_at(win, ((F.size(win) + 1) / 2).cast("int")).alias(
                "trailing_median"
            ),
        )
        .where(~F.col(CARRIED))
        .drop(CARRIED)
    )
    out._cached_deps = getattr(aug, "_cached_deps", [])
    return out


@register(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey -> orders' AS fk,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child_rows,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           CAST((SELECT count(*) FROM customer) AS BIGINT),
           CAST((SELECT count(*) FROM customer cu
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = cu.c_nationkey))
                AS BIGINT)
    """,
    doc=(
        "Referential-integrity audit (the data-quality companion to the "
        "column profiler): orphan counts for the three load-bearing "
        "foreign keys, each an anti-join (no EXISTS subquery per row — "
        "Spark plans LeftAnti, shuffling on the key once; the parent "
        "side of nation/customer broadcasts). Informational PK/FK "
        "constraints are metadata in every warehouse; this is the query "
        "that actually VERIFIES them at 100 TB, run after each load."
    ),
    tags=("profiling", "join", "agg"),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(fk: str, child: DataFrame, ck: str, parent: DataFrame, pk: str):
        # ONE scan per child table (r5 review: the anti-join count plus
        # a separate total count scanned each fact twice): a left join
        # against the distinct parent keys yields total and orphan
        # counts in the same aggregate. Distinct keys first so the join
        # cannot fan out a child row that matches multiple parents.
        pkeys = parent.select(parent[pk].alias("__pk")).distinct()
        joined = child.join(pkeys, child[ck] == F.col("__pk"), "left")
        return joined.agg(
            F.lit(fk).alias("fk"),
            F.count(F.lit(1)).cast("long").alias("n_child_rows"),
            F.count(F.when(F.col("__pk").isNull(), 1))
            .cast("long")
            .alias("n_orphans"),
        )

    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey")
    return (
        audit("lineitem.l_orderkey -> orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(
            audit("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey")
        )
        .unionByName(
            audit("customer.c_nationkey -> nation", c, "c_nationkey", n, "n_nationkey")
        )
    )


@register(
    "key_skew_report",
    oracle=f"""
    WITH b AS (
        SELECT {tx.hash_bucket("o_custkey", 32, "duck")} AS bucket
        FROM orders
    ),
    per AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket)
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(min(n) AS BIGINT) AS min_rows,
           CAST(max(n) AS BIGINT) AS max_rows,
           CAST(sum(n) AS DOUBLE) / count(*) AS avg_rows,
           CAST(max(n) AS DOUBLE) / (CAST(sum(n) AS DOUBLE) / count(*))
               AS skew_factor
    FROM per
    """,
    doc=(
        "Shuffle-skew diagnosis (the query an engineer runs BEFORE "
        "picking a join/agg key at 100 TB): rows per hash bucket of the "
        "candidate key, reduced to min/max/avg and the skew factor "
        "(max over mean — values near 1 mean the key partitions "
        "evenly; a hot key shows up immediately). The bucket hash is "
        "md5-prefix mod 32 so both engines compute identical buckets "
        "(Spark's hash() and DuckDB's hash() are different functions); "
        "in production the same report runs with pmod(hash(key), "
        "shuffle_partitions) to mirror the real partitioner. One "
        "constant-width aggregate: 32 groups regardless of scale."
    ),
    tags=("profiling", "agg", "scale"),
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    # shared cross-engine bucket hash (functions/textexpr.hash_bucket —
    # one spelling of the md5-slice contract instead of a drifted copy)
    bucket = F.expr(tx.hash_bucket("o_custkey", 32, "spark"))
    per = orders.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n"))
    return per.agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.min("n").cast("long").alias("min_rows"),
        F.max("n").cast("long").alias("max_rows"),
        (F.sum("n").cast("double") / F.count("*")).alias("avg_rows"),
        (
            F.max("n").cast("double")
            / (F.sum("n").cast("double") / F.count("*"))
        ).alias("skew_factor"),
    )
