"""Advanced relational shapes: decision-support subquery patterns
(TPC-H Q18/Q21 shapes), aggregate-side argmax, array aggregation, and
edit-distance record linkage.

The reference's notebooks never need these (its marts are star-join
rollups — SURVEY §2.4/§2.6), but they are table-stakes for an analytics
engine users would migrate to: IN-on-aggregated-subquery, correlated
EXISTS/NOT EXISTS, max_by/min_by, collect_list, and fuzzy matching all
appear in day-2 workloads. Each is declared with a DuckDB oracle so the
semantics are hash-verified, not just present.

Cross-engine conventions (see registry.py docstring): computed ints cast
to BIGINT on both sides; argmax orderings carry a unique sort key so
ties cannot differ between engines; arrays are sorted before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import (
    register,
    table,
)


@register(
    "big_basket_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, CAST(q.sum_qty AS BIGINT) AS sum_qty
    FROM orders o
    JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 200) q
      ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc=(
        "TPC-H Q18 shape: orders whose total lineitem quantity exceeds a "
        "threshold (IN / join on a HAVING-filtered aggregated subquery), "
        "joined back to customer detail. Plan: lineitem pre-aggregates on "
        "its own key (one shuffle, map-side combine), the HAVING filter "
        "shrinks it to a sliver, and AQE broadcasts that sliver to the "
        "orders join — so the big-fact join costs no extra shuffle. The "
        "customer join then runs on the handful of surviving orders. At "
        "100 TB the same plan holds: the agg output is bounded by "
        "distinct orderkeys over threshold, always << lineitem. "
        "l_quantity is integer-valued double; sum cast to BIGINT on both "
        "sides (exact, < 2^53)."
    ),
    tags=("join", "subquery", "agg"),
)
def big_basket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 200)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.col("qty").cast("long").alias("sum_qty"),
        )
    )
    return (
        orders.join(big, "o_orderkey")
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
    )


@register(
    "fully_shipped_multisupplier_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
    FROM orders o
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING count(DISTINCT l_suppkey) >= 4)
      AND NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate >= TIMESTAMP '2000-01-01')
    """,
    doc=(
        "TPC-H Q21 shape: orders sourced from >= 4 distinct suppliers "
        "(IN on a count-distinct HAVING subquery) with no lineitem still "
        "shipping at/after a cutoff (correlated NOT EXISTS). Spark side "
        "composes it as semi-join against the filtered aggregate plus "
        "anti-join against the late-lineitem keys — exactly how Catalyst "
        "decorrelates the SQL, but declared explicitly. Both subquery "
        "scans shuffle lineitem on l_orderkey; AQE broadcasts the "
        "filtered sides. The late-keys anti input applies the shipdate "
        "filter at the parquet scan, so at 100 TB it reads only the "
        "late tail."
    ),
    tags=("join", "subquery"),
)
def fully_shipped_multisupplier_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("nsupp"))
        .filter(F.col("nsupp") >= 4)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    late = li.filter(
        F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    ).select(F.col("l_orderkey").alias("o_orderkey"))
    return (
        orders.join(multi, "o_orderkey", "left_semi")
        .join(late, "o_orderkey", "left_anti")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "customer_last_order_argmax",
    oracle="""
    SELECT o_custkey,
           arg_max(o_orderkey,   date_diff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) * 1000000000000 + o_orderkey)
             AS last_orderkey,
           arg_max(o_totalprice, date_diff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) * 1000000000000 + o_orderkey)
             AS last_price,
           arg_min(o_orderkey,   date_diff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) * 1000000000000 + o_orderkey)
             AS first_orderkey,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
    doc=(
        "Aggregate-side argmax (max_by / min_by; DuckDB arg_max / "
        "arg_min): latest and earliest order per customer in ONE hash "
        "aggregate — no window sort, so unlike dedup_latest this "
        "combines map-side (each partition keeps one running argmax per "
        "key) and never materializes a whole customer's history on one "
        "reducer. The ordering key is (epoch_day * 1e12 + orderkey): a "
        "single unique BIGINT, so ties are impossible and both engines "
        "must pick identical rows. The window variant "
        "(customer_first_last_orders) is the per-partition-sort "
        "alternative; this is the plan to prefer at 100 TB when only "
        "the extremum row is needed."
    ),
    tags=("agg",),
)
def customer_last_order_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    sort_key = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        * F.lit(1_000_000_000_000).cast("long")
        + F.col("o_orderkey")
    )
    return (
        orders.withColumn("sort_key", sort_key)
        .groupBy("o_custkey")
        .agg(
            F.expr("max_by(o_orderkey, sort_key)").alias("last_orderkey"),
            F.expr("max_by(o_totalprice, sort_key)").alias("last_price"),
            F.expr("min_by(o_orderkey, sort_key)").alias("first_orderkey"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "customer_order_keys_array",
    oracle="""
    SELECT o_custkey,
           array_to_string(order_keys, ',') AS order_keys_csv,
           CAST(len(order_keys) AS BIGINT) AS n_orders,
           order_keys[1] AS first_key,
           order_keys[len(order_keys)] AS last_key
    FROM (SELECT o_custkey, list_sort(list(o_orderkey)) AS order_keys
          FROM orders GROUP BY o_custkey)
    """,
    doc=(
        "Array aggregation: collect each customer's orderkeys into a "
        "SORTED array (collect_list is unordered in both engines — the "
        "sort is what makes the value deterministic), plus element "
        "access (element_at / list indexing, both 1-based) and length. "
        "One shuffle on the group key; the array stays row-local after "
        "that. The array is emitted CSV-serialized (array_join /"
        "array_to_string) because the differential gate hashes cells "
        "with pandas, which cannot hash list values — the array ops "
        "themselves (sort_array, element_at, size) still run on the "
        "native array. Scale note: collect_list materializes the whole "
        "group in one row — fine for bounded groups (orders per "
        "customer), wrong for unbounded ones; the engine's top-k/window "
        "operators are the bounded-memory alternative there."
    ),
    tags=("agg", "array"),
)
def customer_order_keys_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    grouped = orders.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list("o_orderkey")).alias("order_keys")
    )
    return grouped.select(
        "o_custkey",
        F.array_join(F.col("order_keys").cast("array<string>"), ",").alias(
            "order_keys_csv"
        ),
        F.size("order_keys").cast("long").alias("n_orders"),
        F.element_at("order_keys", 1).alias("first_key"),
        F.element_at(F.col("order_keys"), F.size("order_keys")).alias(
            "last_key"
        ),
    )


@register(
    "fuzzy_customer_pairs",
    oracle="""
    SELECT a.c_nationkey,
           a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc=(
        "Record linkage by edit distance: customer pairs in the same "
        "nation whose names are within Levenshtein distance 1. "
        "Candidate generation is a FastSS deletion-neighborhood join "
        "(r9 rewrite): every name explodes into itself + its one-char "
        "deletions; lev(a,b) <= 1 IMPLIES a and b share a variant "
        "(equal -> the string itself; indel -> the shorter IS a "
        "variant of the longer; substitution -> deleting the edited "
        "position from both yields the same string), so an equi-join "
        "on (nation, variant) finds every true pair and the exact "
        "levenshtein verify removes the few false positives. The r1-r8 "
        "spelling equi-joined on nation alone — parallelism capped at "
        "25 blocks and Θ(block²) comparisons (~40 min of 1-core SMJ at "
        "sf0.1, found by the r9 full-suite sf0.1 run); variant keys "
        "hash across every core and comparisons collapse to "
        "near-true-pairs. levenshtein is the textbook DP in both "
        "engines, so distances are exact and identical; the DuckDB "
        "oracle keeps the plain blocked join (correct by definition, "
        "tractable at oracle scales)."
    ),
    tags=("join", "text", "dedup"),
)
def fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    variants = customer.select(
        F.col("c_nationkey"),
        F.col("c_custkey"),
        F.col("c_name"),
        F.explode(
            F.expr(
                "array_distinct(array_union(array(c_name), "
                "transform(sequence(1, length(c_name)), i -> "
                "concat(substring(c_name, 1, i - 1), "
                "substring(c_name, i + 1, length(c_name))))))"
            )
        ).alias("vkey"),
    )
    a = variants.select(
        F.col("c_nationkey"),
        F.col("vkey"),
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
    )
    b = variants.select(
        F.col("c_nationkey").alias("nk_b"),
        F.col("vkey").alias("vk_b"),
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("c_nationkey") == F.col("nk_b"))
            & (F.col("vkey") == F.col("vk_b"))
            & (F.col("custkey_a") < F.col("custkey_b")),
        )
        .select(
            "c_nationkey", "custkey_a", "custkey_b", "name_a", "name_b"
        )
        .distinct()  # a pair can collide on several shared variants
    )
    return (
        # r12 (guide §1.2): threshold form — banded O(len*1) DP, -1 past
        # the bound; kept rows (0..1) carry the exact distance, so the
        # filter and output are identical to the unbounded spelling.
        cand.withColumn(
            "edit_dist",
            F.levenshtein("name_a", "name_b", 1).cast("long"),
        )
        .filter(F.col("edit_dist") >= 0)
        .select(
            "c_nationkey",
            "custkey_a",
            "custkey_b",
            "name_a",
            "name_b",
            "edit_dist",
        )
    )


@register(
    "scd2_order_status_history",
    oracle="""
    WITH obs AS (
        SELECT o_custkey, o_orderstatus AS state,
               CAST(o_orderdate AS DATE) AS seen, o_orderkey
        FROM orders
    ),
    comp AS (
        SELECT o_custkey, state, seen, o_orderkey FROM (
            SELECT obs.*,
                   lag(state) OVER (
                       PARTITION BY o_custkey ORDER BY seen, o_orderkey
                   ) AS prev
            FROM obs
        ) WHERE prev IS NULL OR state <> prev
    )
    SELECT o_custkey, state, seen AS valid_from,
           lead(seen) OVER w AS valid_to,
           (lead(seen) OVER w IS NULL) AS is_current,
           o_orderkey AS opened_by
    FROM comp
    WINDOW w AS (PARTITION BY o_custkey ORDER BY seen, o_orderkey)
    """,
    doc=(
        "SCD Type 2 history construction (the query shape behind "
        "LakeTable.merge_scd2, tables.py): treat each customer's orders "
        "as a stream of observed states, compress consecutive identical "
        "states (lag pass), then derive validity intervals "
        "[valid_from, valid_to) with an open current row (lead pass). "
        "Both window passes share one key partitioning, so the whole "
        "history build is a SINGLE shuffle on the dimension key — the "
        "same plan merge_scd2 runs per merge batch. Orderings carry "
        "o_orderkey as a unique tie-break so same-day status flips "
        "compress identically in both engines."
    ),
    tags=("window", "scd", "table"),
)
def scd2_order_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderstatus").alias("state"),
        F.col("o_orderdate").cast("date").alias("seen"),
        "o_orderkey",
    )
    w = W.partitionBy("o_custkey").orderBy("seen", "o_orderkey")
    comp = (
        orders.withColumn("__prev", F.lag("state").over(w))
        .filter(F.col("__prev").isNull() | (F.col("state") != F.col("__prev")))
        .drop("__prev")
    )
    return comp.select(
        "o_custkey",
        "state",
        F.col("seen").alias("valid_from"),
        F.lead("seen").over(w).alias("valid_to"),
        F.lead("seen").over(w).isNull().alias("is_current"),
        F.col("o_orderkey").alias("opened_by"),
    )


@register(
    "scd2_dimension_lookup",
    oracle="""
    WITH obs AS (
        SELECT o_custkey, o_orderstatus AS state,
               CAST(o_orderdate AS DATE) AS seen, o_orderkey
        FROM orders
    ),
    comp AS (
        SELECT o_custkey, state, seen, o_orderkey FROM (
            SELECT obs.*,
                   lag(state) OVER (
                       PARTITION BY o_custkey ORDER BY seen, o_orderkey
                   ) AS prev
            FROM obs
        ) WHERE prev IS NULL OR state <> prev
    ),
    iv AS (
        SELECT o_custkey, state, seen AS valid_from,
               lead(seen) OVER (
                   PARTITION BY o_custkey ORDER BY seen, o_orderkey
               ) AS valid_to
        FROM comp
    ),
    li AS (
        SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
               CAST(l.l_shipdate AS DATE) AS ship_date
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT li.l_orderkey, li.l_linenumber, li.o_custkey, li.ship_date,
           iv.state AS status_at_ship, iv.valid_from
    FROM li JOIN iv
      ON li.o_custkey = iv.o_custkey
     AND li.ship_date >= iv.valid_from
     AND (iv.valid_to IS NULL OR li.ship_date < iv.valid_to)
    """,
    doc=(
        "SCD2 point-in-time dimension lookup (how a fact table consumes "
        "a merge_scd2 history): each lineitem resolves the order-status "
        "interval active at its ship date via an equi-join on the "
        "dimension key plus the half-open interval predicate "
        "[valid_from, valid_to). The key equi-join is the blocking "
        "condition — Spark shuffles on o_custkey and evaluates the "
        "interval residual within the key group, never a cross "
        "product; per-key interval counts are small (a dimension's "
        "change history), so the residual is cheap at any scale. "
        "Intervals partition the timeline from each customer's first "
        "order onward and ship dates are >= their order's date, so "
        "every lineitem matches exactly one interval (row count == "
        "lineitem count — an auditable invariant)."
    ),
    tags=("join", "scd", "window"),
)
def scd2_dimension_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    obs = orders.select(
        "o_custkey",
        F.col("o_orderstatus").alias("state"),
        F.col("o_orderdate").cast("date").alias("seen"),
        "o_orderkey",
    )
    w = W.partitionBy("o_custkey").orderBy("seen", "o_orderkey")
    comp = (
        obs.withColumn("__prev", F.lag("state").over(w))
        .filter(F.col("__prev").isNull() | (F.col("state") != F.col("__prev")))
        .drop("__prev")
    )
    iv = comp.select(
        F.col("o_custkey").alias("iv_custkey"),
        "state",
        F.col("seen").alias("valid_from"),
        F.lead("seen").over(w).alias("valid_to"),
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("ship_date"),
        )
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .drop("o_orderkey")
    )
    return (
        li.join(
            iv,
            (F.col("o_custkey") == F.col("iv_custkey"))
            & (F.col("ship_date") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ship_date") < F.col("valid_to"))),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_custkey",
            "ship_date",
            F.col("state").alias("status_at_ship"),
            "valid_from",
        )
    )


@register(
    "customer_entity_clusters",
    oracle="""
    WITH RECURSIVE pairs AS MATERIALIZED (
        SELECT a.c_custkey AS ka, b.c_custkey AS kb
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
         AND levenshtein(a.c_name, b.c_name) <= 1
    ),
    edges AS MATERIALIZED (
        SELECT ka AS a, kb AS b FROM pairs
        UNION ALL
        SELECT kb, ka FROM pairs
    ),
    reach(v, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.r FROM edges e JOIN reach r ON r.v = e.b
    ),
    comp AS (SELECT v, min(r) AS entity_id FROM reach GROUP BY v)
    SELECT comp.entity_id,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(min(c.c_custkey) AS BIGINT) AS canonical_custkey,
           min(c.c_name) AS canonical_name
    FROM comp JOIN customer c ON c.c_custkey = comp.v
    GROUP BY comp.entity_id
    """,
    doc=(
        "End-to-end entity resolution (blocking -> pairwise match -> "
        "transitive clustering -> canonicalization): nation-blocked "
        "Levenshtein<=1 name pairs (fuzzy_customer_pairs' verify join) "
        "feed distributed connected components (operators/graph.py "
        "star rewiring), and each entity cluster elects a canonical "
        "record (min custkey / min name). Pairwise match alone "
        "mis-handles A~B, B~C chains — the clustering step is what "
        "makes the output an ENTITY table. Oracle = recursive-CTE "
        "closure over the same pairs (unique fixpoint, hash-exact). At "
        "100 TB the block key tightens (q-gram/LSH) but the three-stage "
        "shape is identical."
    ),
    tags=("join", "text", "dedup", "graph"),
)
def customer_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_e_commerce_analytics_lakehouse_spark.operators.graph import (
        connected_components,
    )

    pairs = fuzzy_customer_pairs(spark, sf_dir).select("custkey_a", "custkey_b")
    comp = connected_components(
        pairs, src="custkey_a", dst="custkey_b",
        vertex_col="c_custkey", component_col="entity_id",
    )
    customer = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = (
        comp.join(customer, "c_custkey")
        .groupBy("entity_id")
        .agg(
            F.count("*").cast("long").alias("n_records"),
            F.min("c_custkey").cast("long").alias("canonical_custkey"),
            F.min("c_name").alias("canonical_name"),
        )
    )
    out._cached_deps = comp._cached_deps
    return out
