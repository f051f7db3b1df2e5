"""Final coverage block: explode/lateral, global sort+limit, and the
Arrow/pandas vectorized similarity variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.operators.bounded_frames import (
    bounded_single_group,
)
from real_time_e_commerce_analytics_lakehouse_spark.functions import textexpr as tx
from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import (
    EVENTS_CTE,
    dec_sum,
    register,
    table,
)


@register(
    "token_frequencies_top50",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({tx.tokens('text', 'duck')}) AS token FROM documents
    )
    SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM toks
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT 50
    """,
    doc=(
        "Corpus token frequency table: explode (lateral unnest) + "
        "group + global ORDER BY + LIMIT. Spark plans the top-50 as "
        "TakeOrderedAndProject — per-partition heaps, no full sort of the "
        "frequency table."
    ),
    tags=("documents", "text", "sort"),
)
def token_frequencies_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(tx.tokens("text", "spark"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


@register(
    "top_revenue_days",
    oracle=f"""
    SELECT CAST(o_orderdate AS DATE) AS order_date,
           {dec_sum("o_totalprice")} AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1
    ORDER BY revenue DESC, order_date ASC
    LIMIT 10
    """,
    doc="Global top-N by aggregate (ORDER BY + LIMIT -> TakeOrderedAndProject).",
    tags=("agg", "sort"),
)
def top_revenue_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.expr(dec_sum("o_totalprice")).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("order_date"))
        .limit(10)
    )


@register(
    "cosine_topk_pandas",
    oracle="""
    SELECT vec_id AS query_id,
           LEAST(10, (SELECT count(*) FROM embeddings) - 1) AS n_results,
           TRUE AS overlap_ok, TRUE AS sim_ok, TRUE AS rank_ok
    FROM embeddings WHERE vec_id < 5
    """,
    doc=(
        "Vectorized Arrow/pandas variant of brute-force cosine top-k: the "
        "whole corpus batch is scored against all query vectors with one "
        "numpy matmul per Arrow batch (mapInPandas). This is the shape "
        "that wins when the per-row lambda fold becomes the bottleneck "
        "(wide embeddings, many queries): ~matrix-multiply throughput vs "
        "per-element codegen. Measured honestly: at this testdata's tiny "
        "corpus (500 x 64) the Arrow round-trip dominates and the JVM "
        "fold is ~2x faster — the crossover needs a corpus/query volume "
        "where BLAS amortizes serialization. numpy reassociates the float "
        "reduction (SIMD), so raw scores are not hash-comparable; the "
        "gate instead asserts the PARITY GUARANTEES as exact booleans "
        "(r10 HLL template, VERDICT r10 next #2): the pandas top-k set "
        "overlaps the in-plan exact JVM bruteforce within one boundary "
        "swap (overlap_ok), matched scores agree within one ulp of the "
        "6-decimal rounding grid (sim_ok, |delta| <= 2e-6), and matched "
        "ranks shift by at most the one adjacent swap (rank_ok). "
        "Reassociation noise is ~64*eps ≈ 1.4e-14 on unit vectors, so "
        "any real divergence (wrong normalization, dropped candidate, "
        "tie-break drift) flips a boolean. tests/test_operators.py "
        "keeps the tighter pairwise tolerance check against the "
        "underlying operator."
    ),
    tags=("embeddings", "simsearch", "pandas"),
)
def cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
        cosine_topk_vectorized,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans.embeddings import (
        cosine_topk_bruteforce,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    pand = cosine_topk_vectorized(emb, queries, k=10).select(
        "query_id",
        "vec_id",
        F.col("rank").alias("rank_p"),
        F.col("cosine_sim").alias("sim_p"),
    )
    exact = cosine_topk_bruteforce(spark, sf_dir).select(
        "query_id",
        "vec_id",
        F.col("rank").alias("rank_x"),
        F.col("cosine_sim").alias("sim_x"),
    )
    # full join: rows present on only one side are the (at most one,
    # boundary-tie) set difference; matched rows carry both scores
    both = pand.join(exact, ["query_id", "vec_id"], "full")
    matched = F.col("rank_p").isNotNull() & F.col("rank_x").isNotNull()
    return both.groupBy("query_id").agg(
        F.count("rank_p").alias("n_results"),
        (
            F.sum(matched.cast("long"))
            >= F.count("rank_p") - F.lit(1)
        ).alias("overlap_ok"),
        F.coalesce(
            F.max(F.when(matched, F.abs(F.col("sim_p") - F.col("sim_x"))))
            <= 2e-6,
            F.lit(True),
        ).alias("sim_ok"),
        F.coalesce(
            F.max(F.when(matched, F.abs(F.col("rank_p") - F.col("rank_x"))))
            <= 1,
            F.lit(True),
        ).alias("rank_ok"),
    )


@register(
    "small_quantity_orders",
    oracle=f"""
    SELECT l.l_partkey,
           {dec_sum("l.l_extendedprice")} AS revenue_small_lots,
           count(*) AS n_small_lots
    FROM lineitem l
    JOIN (
        SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg_qty
        FROM lineitem GROUP BY l_partkey
    ) t ON l.l_partkey = t.l_partkey
    WHERE l.l_quantity < t.half_avg_qty
    GROUP BY l.l_partkey
    """,
    doc=(
        "Per-group scalar-aggregate comparison (TPC-H Q17 shape): join "
        "each row against its group's aggregate and filter below half the "
        "group mean. The agg side shares the fact scan; Catalyst reuses "
        "the exchange on l_partkey for both the aggregate and the join."
    ),
    tags=("agg", "join", "subquery"),
)
def small_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    avgs = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        li.join(avgs, li.l_partkey == avgs.p_key)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .groupBy("l_partkey")
        .agg(
            F.expr(dec_sum("l_extendedprice")).alias("revenue_small_lots"),
            F.count("*").alias("n_small_lots"),
        )
    )


@register(
    "customer_order_histogram",
    oracle="""
    SELECT n_orders, count(*) AS n_customers
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
    doc=(
        "Distribution-of-counts (TPC-H Q13 shape): left join keeps "
        "order-less customers (count 0 bucket), double aggregation — "
        "per-customer then per-count."
    ),
    tags=("agg", "join"),
)
def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@register(
    "orders_above_customer_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (
        SELECT round(cast(sum(cast(o2.o_totalprice as decimal(18,6))) as double)
                     / count(o2.o_totalprice), 6)
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
    doc=(
        "Correlated scalar-aggregate subquery: orders priced above their "
        "own customer's average. The oracle is the textbook correlated "
        "spelling; the Spark plan is the decorrelated form every optimizer "
        "rewrites it to — aggregate once per customer, then one equi-join "
        "(Catalyst reuses the orders scan for both sides). The per-customer "
        "average uses decimal accumulation so both engines compare against "
        "bit-identical thresholds."
    ),
    tags=("agg", "join", "subquery"),
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    avgs = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.expr(
            "round(cast(sum(cast(o_totalprice as decimal(18,6))) as double)"
            " / count(o_totalprice), 6)"
        ).alias("avg_price")
    )
    return (
        orders.join(avgs, orders.o_custkey == avgs.ck)
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "customer_first_last_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_totalprice) OVER w  AS first_price,
           last_value(o_totalprice)  OVER w  AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
    doc=(
        "Positional window functions (first_value / last_value / "
        "nth_value) over an explicit unbounded frame — last_value without "
        "the frame spec silently means 'current row' (the classic window "
        "bug), so the frame is pinned on both engines. Full tie-broken "
        "ordering (date, key) keeps the picks deterministic."
    ),
    tags=("window",),
)
def customer_first_last_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "regional_local_supplier_revenue",
    oracle=f"""
    SELECT rg.r_name AS region, n.n_name AS nation,
           {dec_sum("l.l_extendedprice * (1 - l.l_discount)")} AS local_revenue,
           count(DISTINCT o.o_orderkey) AS order_count
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region rg  ON n.n_regionkey = rg.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2
    """,
    doc=(
        "TPC-H Q5 shape: 6-way join (fact ⋈ fact-sized orders ⋈ 4 dims) "
        "with the local-supplier condition (customer and supplier share "
        "a nation) and a year filter. Plan: the o_orderdate range is "
        "pushed into the orders scan BEFORE the join (Catalyst predicate "
        "pushdown), supplier/nation/region broadcast, and the only "
        "shuffles are lineitem⋈orders on orderkey and the final group — "
        "at 100 TB those are the two irreducible exchanges; everything "
        "else rides broadcasts."
    ),
    tags=("join", "agg"),
    bench=True,
)
def regional_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        F.expr(dec_sum("l_extendedprice * (1 - l_discount)")).alias("local_revenue"),
        F.countDistinct("o_orderkey").alias("order_count"),
    )


@register(
    "daily_orders_vs_events_activity",
    oracle=f"""
    {EVENTS_CTE},
    od AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               {dec_sum("o_totalprice")} AS revenue,
               count(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    evd AS (
        SELECT CAST(ts AS DATE) AS d, count(*) AS n_events
        FROM ev GROUP BY 1
    )
    SELECT coalesce(od.d, evd.d) AS activity_date,
           od.revenue, od.n_orders, evd.n_events
    FROM od FULL OUTER JOIN evd ON od.d = evd.d
    """,
    doc=(
        "FULL OUTER join of two daily pre-aggregates (order revenue vs "
        "event counts) on the calendar date, key coalesced — the "
        "activity-ledger shape where either side may be absent. The "
        "testdata makes the outer semantics load-bearing: order dates "
        "(1995-2001) and event dates (2024) are disjoint, so every row "
        "exercises a NULL-extended side. Both inputs pre-aggregate "
        "BEFORE the join (two small shuffles + one merge join of "
        "day-cardinality frames, never fact x fact)."
    ),
    tags=("join", "agg"),
)
def daily_orders_vs_events_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    events = table(spark, sf_dir, "events")
    od = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.expr(dec_sum("o_totalprice")).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    ev = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("n_events")
    )
    joined = od.alias("od").join(
        ev.alias("ev"), F.col("od.d") == F.col("ev.d"), "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("od.d"), F.col("ev.d")).alias("activity_date"),
        "revenue",
        "n_orders",
        "n_events",
    )


@register(
    "order_calendar_features",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
           CAST(quarter(o_orderdate) AS BIGINT) AS q,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
               AS plus3m,
           CAST(greatest(year(o_orderdate), 1996) AS BIGINT) AS year_floor,
           CAST(nullif(quarter(o_orderdate), 4) AS BIGINT) AS q_nullif4
    FROM orders
    WHERE o_orderkey <= 200
    """,
    doc=(
        "Calendar scalar-function family: date_trunc, last_day, "
        "dayofweek (Spark is 1=Sunday, DuckDB 0=Sunday — the oracle "
        "shifts by one, documenting the dialect trap), quarter, "
        "add_months (month-end clamped identically in both engines), "
        "greatest, nullif. Row-local, zero shuffles; the orderkey "
        "filter is pushed into the scan."
    ),
    tags=("functions",),
)
def order_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        F.last_day("o_orderdate").alias("month_end"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.add_months(F.col("o_orderdate").cast("date"), 3).alias("plus3m"),
        F.greatest(F.year("o_orderdate"), F.lit(1996)).cast("long").alias(
            "year_floor"
        ),
        F.nullif(F.quarter("o_orderdate"), F.lit(4)).cast("long").alias(
            "q_nullif4"
        ),
    )


@register(
    "part_string_features",
    oracle="""
    SELECT p_partkey,
           substring(p_name, 1, 4) AS prefix4,
           CAST(position(' ' IN p_name) AS BIGINT) AS space_at,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           translate(p_brand, '#', '-') AS brand_dashed,
           reverse(p_type) AS type_rev,
           replace(p_name, ' ', '_') AS name_snake,
           CAST(length(p_name) - length(replace(p_name, ' ', ''))
                AS BIGINT) AS n_spaces,
           upper(right(p_name, 3)) AS tail3
    FROM part
    WHERE p_partkey <= 300
    """,
    doc=(
        "String scalar-function family: substring, position/instr "
        "(1-based, 0 when absent — same convention both engines), lpad, "
        "translate, reverse, replace, the length-difference char-count "
        "idiom, right+upper. Row-local projection over a pushed key "
        "filter."
    ),
    tags=("functions",),
)
def part_string_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return part.select(
        "p_partkey",
        F.substring("p_name", 1, 4).alias("prefix4"),
        F.instr("p_name", " ").cast("long").alias("space_at"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.reverse("p_type").alias("type_rev"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        (
            F.length("p_name")
            - F.length(F.regexp_replace("p_name", " ", ""))
        ).cast("long").alias("n_spaces"),
        F.upper(F.substring("p_name", -3, 3)).alias("tail3"),
    )


def _doc_term_freqs(spark: SparkSession, sf_dir: str):
    """(docs, per-doc term frequencies) — the tokenize/explode/groupBy
    chain shared by the TF-IDF family (ONE copy; three builders carried
    verbatim blocks that had to be kept in sync with the DuckDB-side
    tx.tokens contract, r5 review)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(tx.tokens("text", "spark"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return docs, tf


@register(
    "doc_tfidf_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({tx.tokens('text', 'duck')}) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf,
           df.df,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    WHERE tf.tf >= 3
    """,
    doc=(
        "TF-IDF term weighting (the classic lexical-relevance score a "
        "corpus pipeline computes before BM25/embedding reranking): "
        "term frequency per doc, document frequency per term (one "
        "term-keyed shuffle each), idf = ln(N/df) with the corpus size "
        "broadcast as a single-row aggregate. ln() is the one "
        "transcendental in the gate — both engines evaluate libm log "
        "on identical doubles and the result is rounded to 6 decimals, "
        "which absorbs any last-ulp platform difference. The tf>=3 "
        "filter keeps the gate output focused (and is where a real "
        "pipeline drops hapax noise)."
    ),
    tags=("documents", "text"),
)
def doc_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, tf = _doc_term_freqs(spark, sf_dir)
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("tf") >= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "doc_unigram_logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({tx.tokens('text', 'duck')}) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    vocab AS (SELECT term, sum(tf) AS tc FROM tf GROUP BY 1),
    corpus AS (SELECT sum(tc) AS total FROM vocab),
    doc AS (
        SELECT tf.doc_id,
               CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
               CAST(sum(CAST(
                   CAST(round(tf.tf * ln(CAST(vocab.tc AS DOUBLE)
                                         / CAST(corpus.total AS DOUBLE)), 6)
                        AS DECIMAL(18, 6)) * 1000000 AS BIGINT)
               ) AS BIGINT) AS tm
        FROM tf JOIN vocab ON tf.term = vocab.term CROSS JOIN corpus
        GROUP BY tf.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(CASE WHEN tm < 0
                     THEN -(((-tm) * 2 + n_tokens) // (2 * n_tokens))
                     ELSE (tm * 2 + n_tokens) // (2 * n_tokens)
                END AS DOUBLE) / 1000000 AS avg_logprob
    FROM doc
    """,
    doc=(
        "Corpus-trained unigram language-model scoring (the CCNet / "
        "Wenzek et al. 2020 perplexity-filter recipe, with the LM "
        "trained on the corpus itself): token logprob = ln(count/total) "
        "from a one-pass vocabulary aggregate, each document scored by "
        "its length-normalized total logprob. Low avg_logprob = "
        "rare-token-heavy documents (boilerplate, encoding noise) — "
        "the standard pre-training quality gate next to the heuristic "
        "scores in doc_quality_scores. Plan: token-keyed shuffle for "
        "tf, term-keyed shuffle for the vocabulary, broadcast the "
        "1-row corpus total, doc-keyed final agg — all JVM built-ins, "
        "linear in corpus size. Cross-engine exactness: per-term "
        "logprobs are rounded to 6 decimals, scaled to exact integer "
        "MICRO-units and summed as longs (order-independent), and the "
        "length normalization is a half-away-from-zero INTEGER "
        "division — the r10 sf1 sweep caught the old final "
        "round(double, 6) flipping its 6th digit between engines on a "
        "tie-adjacent value (Spark rounds the shortest decimal repr "
        "HALF_UP, DuckDB rounds a float product); integer micros make "
        "the grid placement bit-identical by construction. ln() on "
        "identical doubles agrees (same libm contract as "
        "doc_tfidf_weights)."
    ),
    tags=("documents", "text", "quality"),
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    _docs, tf = _doc_term_freqs(spark, sf_dir)
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("tc"))
    corpus = vocab.agg(F.sum("tc").alias("total"))
    term_lp = F.round(
        F.col("tf")
        * F.log(F.col("tc").cast("double") / F.col("total").cast("double")),
        6,
    ).cast("decimal(18,6)")
    term_micros = (term_lp * 1000000).cast("long")  # exact integer µ-units
    doc = (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(term_micros).alias("tm"),
        )
    )
    # half-away-from-zero integer division: bit-identical across
    # engines, unlike round(double, 6) on tie-adjacent quotients
    q = F.expr(
        "CASE WHEN tm < 0"
        " THEN -(((-tm) * 2 + n_tokens) DIV (2 * n_tokens))"
        " ELSE (tm * 2 + n_tokens) DIV (2 * n_tokens) END"
    )
    return doc.select(
        "doc_id",
        "n_tokens",
        (q.cast("double") / F.lit(1000000.0)).alias("avg_logprob"),
    )


@register(
    "doc_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({tx.tokens('text', 'duck')}) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    weighted AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tf, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rk
        FROM weighted
    )
    SELECT doc_id, CAST(rk AS BIGINT) AS rk, term,
           CAST(tf AS BIGINT) AS tf, round(tfidf, 6) AS tfidf
    FROM ranked WHERE rk <= 3
    """,
    doc=(
        "Keyword extraction: top-3 TF-IDF terms per document (the "
        "standard corpus-side keyword/tag assignment before embedding "
        "reranking). Ranking happens on the RAW tfidf double — both "
        "engines compute it from identical exact inputs, so the sort "
        "key is bit-identical and the per-doc ranking deterministic "
        "(term as full tie-break); rounding only touches the emitted "
        "value. One term-keyed shuffle (df), one doc-keyed window."
    ),
    tags=("documents", "text", "window"),
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs, tf = _doc_term_freqs(spark, sf_dir)
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    weighted = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        weighted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "doc_id",
            F.col("rk").cast("long").alias("rk"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.round("tfidf", 6).alias("tfidf"),
        )
    )


@register(
    "token_zipf_slope",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({tx.tokens('text', 'duck')}) AS term FROM documents
    ),
    vocab AS (SELECT term, count(*) AS n FROM toks GROUP BY 1),
    top AS (
        SELECT term, n,
               row_number() OVER (ORDER BY n DESC, term) AS rk
        FROM vocab
        ORDER BY n DESC, term LIMIT 100
    ),
    pts AS (
        SELECT CAST(round(ln(CAST(rk AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
               CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        FROM top
    ),
    moments AS (
        SELECT CAST(count(*) AS DOUBLE) AS m,
               CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(x * x) AS DOUBLE) AS sxx
        FROM pts
    )
    SELECT CAST(m AS BIGINT) AS n_terms,
           (m * sxy - sx * sy) / (m * sxx - sx * sx) AS zipf_slope
    FROM moments
    """,
    doc=(
        "Corpus diagnostic: the Zipf log-log slope of the top-100 token "
        "frequencies — OLS on (ln rank, ln count) via five moment sums. "
        "A natural-language corpus sits near slope -1; a synthetic or "
        "template-heavy corpus flattens, which makes this a one-number "
        "drift/quality monitor over a 100 TB crawl. Exactness: the "
        "per-point logs are rounded and decimal-cast so the moment "
        "sums are exact; the closed-form slope is then identical IEEE "
        "arithmetic on both engines, emitted unrounded."
    ),
    tags=("documents", "text", "agg"),
)
def token_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.expr(tx.tokens("text", "spark"))).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count("*").alias("n"))
    top = (
        vocab.orderBy(F.desc("n"), F.asc("term"))
        .limit(100)
        .withColumn(
            "rk",
            F.row_number().over(
                bounded_single_group("term", F.desc("n"), F.asc("term"))
            ),
        )
    )
    pts = top.select(
        F.round(F.log(F.col("rk").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("x"),
        F.round(F.log(F.col("n").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("y"),
    )
    m = pts.agg(
        F.count("*").cast("double").alias("m"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    return m.select(
        F.col("m").cast("long").alias("n_terms"),
        (
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("zipf_slope"),
    )


@register(
    "lang_doc_profile_pandas",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(median(n_chars) AS DOUBLE) AS median_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY lang
    """,
    doc=(
        "Per-language corpus profile computed by a grouped pandas kernel "
        "(applyInPandas): the canonical escape hatch when per-group logic "
        "needs real Python (here: pandas nunique + exact median). Every "
        "output is integer-exact arithmetic — counts, integer sums, and a "
        "median that is either an element or the midpoint of two ints — "
        "so the result hashes identically to the SQL oracle, unlike "
        "float-reassociating numpy kernels (cosine_topk_pandas stays "
        "rows-only for that reason). Scale: one shuffle on lang; each "
        "group reaches the kernel as one Arrow batch, so per-group "
        "cardinality must fit an executor — true for language-keyed "
        "corpus profiles (bounded group count, use salting + two-phase "
        "agg if a group outgrows memory)."
    ),
    tags=("documents", "pandas", "agg"),
)
def lang_doc_profile_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = table(spark, sf_dir, "documents")

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "total_chars": [int(pdf["n_chars"].sum())],
                "max_chars": [int(pdf["n_chars"].max())],
                "median_chars": [float(pdf["n_chars"].median())],
                "n_sources": [int(pdf["source"].nunique())],
            }
        )

    return docs.select("lang", "n_chars", "source").groupBy("lang").applyInPandas(
        profile,
        schema=(
            "lang string, n_docs long, total_chars long, max_chars long, "
            "median_chars double, n_sources long"
        ),
    )


# Fuzzy entity matching (data-cleaning family): token-blocked pair
# generation + edit-distance verification, with DEDUP-BEFORE-VERIFY
# (new r10 — the sf1 sweep caught the r1-r9 spelling grinding 2.5e9
# levenshtein calls): real corpora repeat strings massively (this one:
# 200k part rows, 384 distinct name+type strings at sf1), so the
# edit-distance verification runs between DISTINCT (block, string)
# values only — Θ(distinct²) within blocks, 74k comparisons instead of
# 2.5e9 — and the verified string-pair edges expand back to row pairs
# through two hash joins, which is pure (unavoidable) output fan-out
# with zero per-pair verify cost. At 100 TB the verify cost scales
# with VALUE cardinality, not row count. Blocking stays the standard
# Fellegi-Sunter equi-join recipe; levenshtein() runs JVM-side in both
# engines; output identical to the direct spelling.
_FUZZY_GROUPS_SQL = """
    p AS MATERIALIZED (
        SELECT p_partkey AS id,
               p_name || ' ' || p_type AS nm,
               split_part(p_name, ' ', 1) AS blk
        FROM part
    ),
    g AS MATERIALIZED (SELECT blk, nm FROM p GROUP BY 1, 2),
    gp AS MATERIALIZED (
        SELECT a.blk, a.nm AS nm_a, b.nm AS nm_b,
               levenshtein(a.nm, b.nm) AS dist
        FROM g a JOIN g b ON a.blk = b.blk AND a.nm <= b.nm
        WHERE levenshtein(a.nm, b.nm) <= 4
    )
"""


def _fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    p = part.select(
        F.col("p_partkey").alias("id"),
        F.concat(F.col("p_name"), F.lit(" "), F.col("p_type")).alias("nm"),
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    gp = _fuzzy_group_pairs(p)
    pa = p.select("blk", F.col("nm").alias("nm_a"), F.col("id").alias("xa"))
    pb = p.select(
        F.col("blk").alias("blk_b"),
        F.col("nm").alias("nm_b2"),
        F.col("id").alias("xb"),
    )
    return (
        pa.join(F.broadcast(gp), ["blk", "nm_a"])
        .join(
            pb,
            (F.col("blk") == F.col("blk_b"))
            & (F.col("nm_b") == F.col("nm_b2")),
        )
        # same-name pairs come from one (nm, nm) group row: keep x<y to
        # emit each unordered pair once; cross-name pairs are already
        # unique per group-pair row
        .where((F.col("nm_a") < F.col("nm_b")) | (F.col("xa") < F.col("xb")))
        .select(
            F.least("xa", "xb").alias("part_a"),
            F.greatest("xa", "xb").alias("part_b"),
            F.col("dist").cast("long").alias("edit_dist"),
        )
    )


def _fuzzy_group_pairs(p: DataFrame, dn: DataFrame | None = None) -> DataFrame:
    """Verified edges between DISTINCT (blk, nm) strings: (blk, nm_a,
    nm_b, dist) with nm_a <= nm_b and dist <= 4 — the only place
    levenshtein runs.

    ``dn`` (r11, guide §2.4): callers that already compute a distinct
    (blk, nm) frame (entity_resolution_parts' group-min aggregate
    groups by exactly these keys) pass it in, so the SAME exchange
    over `p` serves both the group table and the verify self-join
    instead of shuffling `p` twice on the same key."""
    if dn is None:
        dn = p.select("blk", "nm").distinct()
    a, b = dn.alias("a"), dn.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.nm") <= F.col("b.nm")),
        )
        # r12 (guide §1.2 "per-task work"): the 3-arg threshold form
        # (SPARK-40193) runs the banded O(len*k) DP and returns -1 when
        # the distance exceeds the bound — for surviving rows (0..4) the
        # value is the exact distance, so `dist >= 0` keeps exactly the
        # rows `levenshtein(a,b) <= 4` kept, with identical dist values.
        # At ~40-char names that is a ~5x cut of the dominant per-pair
        # verify cost inside the blocked self-join.
        .withColumn("dist", F.levenshtein(F.col("a.nm"), F.col("b.nm"), 4))
        .filter(F.col("dist") >= 0)
        .select(
            F.col("a.blk").alias("blk"),
            F.col("a.nm").alias("nm_a"),
            F.col("b.nm").alias("nm_b"),
            "dist",
        )
    )


@register(
    "fuzzy_part_name_matches",
    oracle=f"""
    WITH {_FUZZY_GROUPS_SQL}
    SELECT least(x.id, y.id) AS part_a,
           greatest(x.id, y.id) AS part_b,
           CAST(gp.dist AS BIGINT) AS edit_dist
    FROM gp JOIN p x ON x.blk = gp.blk AND x.nm = gp.nm_a
            JOIN p y ON y.blk = gp.blk AND y.nm = gp.nm_b
    WHERE gp.nm_a < gp.nm_b OR x.id < y.id
    """,
    doc=(
        "Fuzzy entity matching: candidate part pairs whose combined "
        "name+type strings are within Levenshtein distance 4, generated "
        "by an equi-join on the first name token (blocking) so the "
        "quadratic comparison is confined within blocks — the classic "
        "entity-resolution shape. r10: dedup-before-verify — edit "
        "distance runs between DISTINCT strings only (384 at sf1, vs "
        "2.5e9 row pairs the sf1 sweep caught the old spelling "
        "grinding), then verified string-pair edges expand to row "
        "pairs via hash joins (pure output fan-out). Verify cost now "
        "scales with value cardinality, not corpus size. Output "
        "identical; edit distance is a JVM expression in both engines."
    ),
    tags=("analytics", "join", "dedup", "cleaning"),
)
def fuzzy_part_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fuzzy_pairs(spark, sf_dir)


@register(
    "entity_resolution_parts",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_GROUPS_SQL},
    gm AS MATERIALIZED (SELECT blk, nm, min(id) AS gid FROM p GROUP BY 1, 2),
    ge AS MATERIALIZED (
        SELECT a.gid AS src, b.gid AS dst
        FROM gp JOIN gm a ON a.blk = gp.blk AND a.nm = gp.nm_a
                JOIN gm b ON b.blk = gp.blk AND b.nm = gp.nm_b
        WHERE gp.nm_a < gp.nm_b
    ),
    sym AS MATERIALIZED (
        SELECT src, dst FROM ge UNION ALL SELECT dst, src FROM ge
    ),
    reach(node, lab) AS (
        SELECT gid, gid FROM gm
        UNION
        SELECT s.dst, r.lab
        FROM reach r JOIN sym s ON s.src = r.node
        WHERE r.lab < s.dst
    ),
    glab AS (SELECT node AS gid, min(lab) AS ent FROM reach GROUP BY node)
    SELECT p.id AS p_partkey, CAST(glab.ent AS BIGINT) AS entity_id
    FROM p JOIN gm ON p.blk = gm.blk AND p.nm = gm.nm
           JOIN glab ON gm.gid = glab.gid
    """,
    doc=(
        "Entity resolution over the fuzzy-match graph: transitive "
        "closure of the blocked edit-distance pairs via distributed "
        "connected components (operators/graph.py star rewiring), "
        "labeling every part with the minimum part key of its entity "
        "cluster; unmatched parts are their own entity. r10: CC runs "
        "on the GROUP graph — identical strings are trivially one "
        "entity, so vertices are distinct (block, string) values "
        "keyed by their min part id and edges are the dedup-verified "
        "string pairs (384 vertices at sf1 instead of 200k, and the "
        "2.5e9-comparison edge build the sf1 sweep caught is now 74k) "
        "— then every row inherits its group's component. Same "
        "fixpoint as id-level CC: same-string rows were dist-0 edges "
        "there, and component = min id either way. The oracle "
        "reproduces it with a pruned recursive min-propagation CTE "
        "over the same group graph. This is the canonical "
        "dedupe-then-canonicalize shape for entity mastering at scale."
    ),
    tags=("analytics", "graph", "dedup", "cleaning"),
    bench=True,  # r10: tracks the dedup-before-verify + group-CC win
)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_e_commerce_analytics_lakehouse_spark.operators.graph import (
        connected_components,
    )

    part = table(spark, sf_dir, "part")
    p = part.select(
        F.col("p_partkey").alias("id"),
        F.concat(F.col("p_name"), F.lit(" "), F.col("p_type")).alias("nm"),
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    gmin = p.groupBy("blk", "nm").agg(F.min("id").alias("gid"))
    # r11: the verify self-join's distinct (blk, nm) vertex set IS
    # gmin's grouping — reuse gmin's exchange instead of a second
    # full shuffle of p on the same key (guide §2.4)
    gp = _fuzzy_group_pairs(p, dn=gmin.select("blk", "nm")).where(
        F.col("nm_a") < F.col("nm_b")
    )
    edges = (
        gp.join(
            gmin.select("blk", F.col("nm").alias("nm_a"), F.col("gid").alias("src")),
            ["blk", "nm_a"],
        )
        .join(
            gmin.select("blk", F.col("nm").alias("nm_b"), F.col("gid").alias("dst")),
            ["blk", "nm_b"],
        )
        .select("src", "dst")
    )
    comp = connected_components(edges, vertex_col="v", component_col="comp")
    out = (
        p.join(gmin, ["blk", "nm"])
        .join(comp, F.col("gid") == F.col("v"), "left")
        .select(
            F.col("id").alias("p_partkey"),
            F.coalesce(F.col("comp"), F.col("gid"))
            .cast("long")
            .alias("entity_id"),
        )
    )
    out._cached_deps = comp._cached_deps
    return out
