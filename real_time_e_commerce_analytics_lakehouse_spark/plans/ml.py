"""In-engine distributed ML training: full-batch gradient descent for a
logistic-regression document-quality model, as a pure join/agg DAG.

No MLlib, no Python — each GD step is ONE partial-aggregated shuffle
(the gradient is a sum over rows, so map-side combine does nearly all
the work; the reducer sees d+1 numbers) plus a 1-row broadcast of the
updated weights. That is exactly how distributed full-batch GD runs at
100 TB, and it composes with the rest of the engine (train on the
CURATED corpus table, featurize with the quality expressions).

Cross-engine exactness for iterative float training: per-row gradient
terms x_j*(y - p) are cast to DECIMAL(18,12) before summation (exact,
order-independent — the one place parallelism could leak into the
result), while sigmoid/exp and the weight update are the same IEEE
expression tree on identical inputs on both engines. After three
rounds the weights are still bit-identical, so the gate comparison is
hash-exact with no tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.functions import textexpr as tx
from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import (
    fan_out,
    register,
    table,
)

GD_ROUNDS = 3
GD_LR = 1.0


def _features_sql(d: str) -> str:
    """(y, lang, x1, x2, x3) per doc: y = the length-based quality gate,
    features = scaled token count, punctuation ratio, stopword ratio
    (the doc_quality_scores family, recomputed inline)."""
    toks = tx.tokens("text", d)
    n_t = f"{'size' if d == 'spark' else 'len'}(({toks}))"
    punct = tx.punct_count("text", d)
    stop = tx.count_in_set(f"({toks})", tx.STOPWORDS["en"], d)
    # denominators floored at 1 (identical on both engines): an empty
    # text or zero-token doc would otherwise divide 0/0 — NULL on Spark
    # (the row silently vanishes from every gradient sum while n still
    # counts it) vs NaN on DuckDB (whose DECIMAL cast then aborts the
    # oracle) — r5 review. The numerators are 0 there, so the ratios
    # come out 0 on both engines.
    return f"""
    SELECT CAST(CASE WHEN {n_t} >= 5 AND length(text) >= 30
                THEN 1 ELSE 0 END AS DOUBLE) AS y,
           lang,
           CAST({n_t} AS DOUBLE) / 100 AS x1,
           CAST({punct} AS DOUBLE) / greatest(length(text), 1) AS x2,
           CAST({stop} AS DOUBLE) / greatest({n_t}, 1) AS x3
    FROM documents
    """


def _gd_sql(d: str) -> str:
    sql = f"""
    WITH feats AS ({_features_sql(d)}),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats),
    w0 AS (SELECT CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS w1,
                  CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3)"""
    for k in range(1, GD_ROUNDS + 1):
        prev = f"w{k - 1}"
        # p computed once per row; gradient terms decimal-cast pre-sum
        sql += f""",
    g{k} AS (
        SELECT
            sum(CAST((y - p) AS DECIMAL(18,12))) AS gb,
            sum(CAST(x1 * (y - p) AS DECIMAL(18,12))) AS g1,
            sum(CAST(x2 * (y - p) AS DECIMAL(18,12))) AS g2,
            sum(CAST(x3 * (y - p) AS DECIMAL(18,12))) AS g3
        FROM (
            SELECT y, x1, x2, x3,
                   1 / (1 + exp(-(b + w1 * x1 + w2 * x2 + w3 * x3))) AS p
            FROM feats CROSS JOIN {prev}
        )
    ),
    w{k} AS (
        SELECT b + {GD_LR} * CAST(gb AS DOUBLE) / n.n AS b,
               w1 + {GD_LR} * CAST(g1 AS DOUBLE) / n.n AS w1,
               w2 + {GD_LR} * CAST(g2 AS DOUBLE) / n.n AS w2,
               w3 + {GD_LR} * CAST(g3 AS DOUBLE) / n.n AS w3
        FROM {prev} CROSS JOIN g{k} CROSS JOIN n
    )"""
    finals = "\n    UNION ALL\n    ".join(
        f"SELECT {k} AS round, round(b, 9) AS bias, round(w1, 9) AS w_tokens,"
        f" round(w2, 9) AS w_punct, round(w3, 9) AS w_stopword FROM w{k}"
        for k in range(1, GD_ROUNDS + 1)
    )
    return sql + "\n    " + finals


@register(
    "logreg_quality_gd",
    oracle=_gd_sql("duck"),
    doc=(
        f"Logistic-regression training IN the engine: {GD_ROUNDS} "
        "full-batch gradient-descent steps for a document-quality "
        "model (features: scaled token count, punctuation ratio, "
        "stopword ratio), emitting the weight trajectory per round. "
        "Each step is one partial-aggregated shuffle (the reducer "
        "sees d+1 gradient sums) + a 1-row weight broadcast — the "
        "100 TB distributed-GD shape with zero Python and no ML "
        "library. Gradient terms are decimal-cast before summation so "
        "parallel reduction order cannot perturb the trained weights: "
        "after three rounds both engines hold bit-identical doubles, "
        "and the gate comparison is hash-exact."
    ),
    tags=("documents", "ml", "agg"),
)
def logreg_quality_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: a persisted fanned-out feature frame (the pagerank recipe)
    # was tried and measured WORSE at sf0.1 (0.89 s -> 1.49 s steady):
    # the 4 inline copies of the row-local feature subtree pipeline
    # inside each aggregation stage, while the
    # persist adds a materialization barrier + cache write for a
    # 5000-row frame — the same finding as the r11 nb_lang persist
    # revert (see OPTIMIZATION_r12.md).
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_gd_sql("spark"))


def _nb_sql(d: str) -> str:
    """Multinomial Naive Bayes, trained and applied in one DAG.

    Training IS counting: class priors (docs per lang), token-class
    occurrence counts, class token totals, vocabulary size — four
    aggregates over one tokenized scan. Inference: per (doc, candidate
    class), sum token-count-weighted Laplace-smoothed log-likelihoods
    plus the prior, argmax per doc.

    Exactness: every transcendental output (ln of an identical exact
    double ratio on both engines) is rounded to 6 decimals and cast to
    DECIMAL before the count multiply and the sum, so the score is an
    exact decimal — parallel reduction order cannot perturb it, and the
    argmax carries a full tie-break. 6 (not 9) decimals on purpose:
    libm last-ulp differences land within 1e-9 of a half-way boundary
    often enough to flip a 9-digit round (observed), while the 5e-7
    boundary width at 6 digits makes a flip ~1e-8 per distinct value."""
    toks_expr = tx.tokens("text", d)
    unnest = "explode" if d == "spark" else "unnest"
    return f"""
    WITH toks AS (
        SELECT doc_id, lang, {unnest}(({toks_expr})) AS token FROM documents
    ),
    doc_tok AS (
        SELECT doc_id, lang AS true_lang, token, count(*) AS n
        FROM toks GROUP BY doc_id, lang, token
    ),
    cls AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    total AS (SELECT CAST(count(*) AS DOUBLE) AS n_all FROM documents),
    cls_tot AS (SELECT lang, count(*) AS tot FROM toks GROUP BY lang),
    vocab AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM toks),
    cls_tok AS (
        SELECT lang, token, count(*) AS cnt FROM toks GROUP BY lang, token
    ),
    model AS (
        SELECT c.lang,
               CAST(round(ln(CAST(c.n_docs AS DOUBLE) / t.n_all), 6)
                    AS DECIMAL(18,6)) AS logprior,
               ct.tot
        FROM cls c CROSS JOIN total t JOIN cls_tot ct ON c.lang = ct.lang
    ),
    scored AS (
        SELECT dt.doc_id, dt.true_lang, m.lang AS cand,
               m.logprior
               + sum(dt.n * CAST(round(ln((coalesce(ctk.cnt, 0) + 1.0)
                                          / (m.tot + v.v)), 6)
                                 AS DECIMAL(18,6))) AS score
        FROM doc_tok dt
        CROSS JOIN model m
        CROSS JOIN vocab v
        LEFT JOIN cls_tok ctk ON ctk.lang = m.lang AND ctk.token = dt.token
        GROUP BY dt.doc_id, dt.true_lang, m.lang, m.logprior
    ),
    ranked AS (
        SELECT doc_id, true_lang, cand, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand) AS rk
        FROM scored
    )
    SELECT doc_id, true_lang, cand AS pred_lang,
           CAST(score AS DOUBLE) AS log_score
    FROM ranked WHERE rk = 1
    """


@register(
    "nb_lang_classifier",
    oracle=_nb_sql("duck"),
    doc=(
        "Multinomial Naive Bayes trained AND applied in the engine "
        "(companion to logreg_quality_gd's iterative training: NB "
        "training is closed-form counting, the other canonical "
        "distributed-ML shape). Model = four aggregates over one "
        "tokenized scan (priors, token-class counts, class totals, "
        "vocabulary); inference joins each doc's token counts to the "
        "per-class likelihood table on the TOKEN blocking key, "
        "decimal-sums Laplace-smoothed log-likelihoods per (doc, "
        "class), and argmaxes with a full tie-break. Transcendentals "
        "are rounded to 6 decimals and decimal-cast pre-sum, so scores "
        "are exact decimals and the gate comparison is hash-exact. On "
        "the synthetic corpus (text independent of the lang label) the "
        "learned model collapses toward the priors — the machinery, "
        "not the model quality, is what is verified."
    ),
    tags=("documents", "ml", "agg"),
    bench=True,
)
def nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: two rewrites were tried and BOTH measured worse at sf0.1
    # (recorded in OPTIMIZATION_r12.md, the r11 persist-revert lesson
    # again): (a) bounded per-lang stats folded as literals + a
    # per-token likelihood table pivoted by language (1x scored rows,
    # row-local argmax) — 1.69 s -> 2.09 s, the extra driver-collect
    # jobs dominate at 5k docs; (b) in-plan row-local per-doc token
    # counts (the bm25 technique) — 1.69 s -> 2.84 s, because NB counts
    # EVERY token, so size(filter(toks, x = t)) per distinct token is
    # O(tokens * distinct) interpreted lambda work per doc, while the
    # explode+groupBy spelling is one linear codegen'd pass. bm25's
    # trick fits a FIXED small term set, not a full-vocabulary count.
    # The r10 spelling stands.
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_nb_sql("spark"))


_ALS_RATINGS_SQL = """
        SELECT o.o_custkey AS c, l.l_partkey AS p,
               CAST(sum(l.l_quantity) AS DOUBLE) AS r
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, l.l_partkey
    """


def _als_sql() -> str:
    """Rank-1 alternating least squares on the customer x part quantity
    matrix — valid in both dialects. Ratings are integer-valued (exact
    in any summation order); each alternation's products are ROUNDED
    THEN decimal-cast pre-sum (the _nb_sql discipline — a bare
    double->decimal cast quantizes the last scale digit under each
    engine's own rounding mode, which flipped 3 of 61k factors in the
    9th decimal at sf0.1; found by the r9 full-suite sf0.1 run), and
    the emitted factor rounds to 6 decimals so the remaining pure-IEEE
    ratio carries no boundary sensitivity into the value hash."""
    return f"""
    WITH r AS ({_ALS_RATINGS_SQL}),
    u1 AS (
        SELECT c, CAST(sum(r) AS DOUBLE) / count(*) AS u
        FROM r GROUP BY c
    ),
    v1 AS (
        SELECT p,
               CAST(sum(CAST(round(r.r * u1.u, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(sum(CAST(round(u1.u * u1.u, 9) AS DECIMAL(28,9))) AS DOUBLE) AS v
        FROM r JOIN u1 ON r.c = u1.c
        GROUP BY p
    ),
    u2 AS (
        SELECT c,
               CAST(sum(CAST(round(r.r * v1.v, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(sum(CAST(round(v1.v * v1.v, 9) AS DECIMAL(28,9))) AS DOUBLE) AS u
        FROM r JOIN v1 ON r.p = v1.p
        GROUP BY c
    )
    SELECT 'customer' AS entity, c AS entity_id, round(u, 6) AS factor FROM u2
    UNION ALL
    SELECT 'part' AS entity, p AS entity_id, round(v, 6) AS factor FROM v1
    """


@register(
    "rank1_mf_factors",
    oracle=_als_sql(),
    doc=(
        "Recommender-style matrix factorization IN the engine: rank-1 "
        "alternating least squares on the customer x part purchase-"
        "quantity matrix (u <- Rv/||v||^2, v <- R'u/||u||^2, three "
        "half-steps from v=1), emitting both factor vectors. Each "
        "alternation is ONE shuffle: ratings join the broadcast-or-"
        "shuffled factor frame on its key and re-aggregate on the other "
        "key — the exact communication pattern distributed ALS runs at "
        "100 TB (factors are |users|+|items|, tiny next to ratings). "
        "Integer-valued ratings sum exactly in any order; alternation "
        "products are rounded-then-decimal-cast pre-sum, so the learned "
        "factors are cross-engine identical and emitted at 6 decimals."
    ),
    tags=("ml", "join", "agg", "analytics"),
)
def rank1_mf_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: a persisted ratings frame (the pagerank recipe) was tried
    # and measured WORSE at sf0.1 (2.33 s -> 3.58 s steady): AQE reuses the three identical ratings
    # shuffle stages at runtime anyway, so the persist only added a
    # 600k-row cache materialization + columnar round-trip
    # (OPTIMIZATION_r12.md).
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_als_sql())


ADA_ROUNDS = 2
# fixed candidate grid per feature (data-independent, so the stump
# search space is identical on both engines with no quantile step)
ADA_GRID = {
    "x1": (0.05, 0.10, 0.20, 0.40, 0.80),
    "x2": (0.01, 0.02, 0.04, 0.08, 0.16),
    "x3": (0.10, 0.20, 0.30, 0.40, 0.50),
}


def _ada_w1_sql(d: str) -> str:
    """The round-1 weighted rows (y, x1, x2, x3, w) as a standalone
    statement — byte-identical CTE text to _ada_sql's prefix, split out
    so the engine can materialize it once (see _ada_sql's w1_rel)."""
    feats = _features_sql(d)
    return f"""
    WITH feats0 AS ({feats}),
    rows0 AS (
        SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE -1.0 END AS y,
               x1, x2, x3
        FROM feats0
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM rows0)
    SELECT y, x1, x2, x3,
           CAST(round(1.0 / n.n, 12) AS DECIMAL(18,12)) AS w
    FROM rows0 CROSS JOIN n
    """


def _ada_sql(d: str, w1_rel: str | None = None) -> str:
    """AdaBoost with depth-1 stumps, unrolled to ADA_ROUNDS rounds.

    ``w1_rel`` (r12, guide §2.4/§5): the engine passes a temp-view name
    over a PERSISTED round-1 weight frame (_ada_w1_sql), so the
    tokenize-heavy feature subtree materializes once instead of being
    re-inlined into every round's err/upd references (the r12
    before-plan carries ~6 copies). Downstream SQL text is identical,
    so the stump trajectory is bit-identical.

    Exactness discipline: weighted errors are decimal-exact sums of
    per-row weight terms; alpha = 0.5*ln((1-e)/e) is rounded to 6
    decimals and the exp() in the weight update to 9 BEFORE use (the
    _nb_sql discipline: last-ulp libm divergence between engines is
    observed, and unrounded transcendentals would make the gate
    flaky at larger corpora);
    updated weights are re-quantized — round(w, 12) then decimal-cast —
    before the next round's sums, so reduction order never perturbs the
    chosen stump. Ties in the stump search break on (feature,
    threshold, polarity); the error is clamped to [1e-10, 1-1e-10]
    before ln (a perfect stump otherwise divides by zero — standard
    AdaBoost epsilon, same constant both engines)."""
    feats = _features_sql(d)
    cands = " UNION ALL ".join(
        f"SELECT '{f}' AS feat, CAST({t} AS DOUBLE) AS thr, {pol} AS pol"
        for f, ts in ADA_GRID.items()
        for t in ts
        for pol in (1, -1)
    )
    if w1_rel is None:
        sql = f"""
    WITH feats0 AS ({feats}),
    rows0 AS (
        SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE -1.0 END AS y,
               x1, x2, x3
        FROM feats0
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM rows0),
    w1 AS (
        SELECT y, x1, x2, x3,
               CAST(round(1.0 / n.n, 12) AS DECIMAL(18,12)) AS w
        FROM rows0 CROSS JOIN n
    ),
    cand AS ({cands})"""
    else:
        sql = f"""
    WITH w1 AS (SELECT * FROM {w1_rel}),
    cand AS ({cands})"""
    for k in range(1, ADA_ROUNDS + 1):
        sql += f""",
    err{k} AS (
        SELECT c.feat, c.thr, c.pol,
               sum(CASE WHEN (CASE c.feat WHEN 'x1' THEN r.x1
                              WHEN 'x2' THEN r.x2 ELSE r.x3 END
                         > c.thr)
                        = (r.y * c.pol > 0)
                   THEN CAST(0 AS DECIMAL(18,12)) ELSE r.w END) AS e
        FROM w{k} r CROSS JOIN cand c
        GROUP BY c.feat, c.thr, c.pol
    ),
    best{k} AS (
        SELECT feat, thr, pol, e,
               round(0.5 * ln((1 - greatest(1e-10, least(1 - 1e-10,
                                      CAST(e AS DOUBLE))))
                        / greatest(1e-10, least(1 - 1e-10,
                                   CAST(e AS DOUBLE)))), 6) AS alpha
        FROM err{k}
        ORDER BY e ASC, feat ASC, thr ASC, pol ASC LIMIT 1
    ),
    upd{k} AS (
        SELECT r.y, r.x1, r.x2, r.x3,
               CAST(r.w AS DOUBLE) * round(exp(-b.alpha * r.y * (CASE WHEN
                   (CASE b.feat WHEN 'x1' THEN r.x1
                    WHEN 'x2' THEN r.x2 ELSE r.x3 END > b.thr)
                   THEN b.pol ELSE -b.pol END)), 9) AS wraw
        FROM w{k} r CROSS JOIN best{k} b
    ),
    z{k} AS (
        SELECT CAST(sum(CAST(round(wraw, 12) AS DECIMAL(18,12)))
                    AS DOUBLE) AS z
        FROM upd{k}
    ),
    w{k + 1} AS (
        SELECT y, x1, x2, x3,
               CAST(round(wraw / zz.z, 12) AS DECIMAL(18,12)) AS w
        FROM upd{k} CROSS JOIN z{k} zz
    )"""
    finals = "\n    UNION ALL\n    ".join(
        f"SELECT {k} AS round, feat, thr, pol, "
        f"CAST(e AS DOUBLE) AS weighted_err, alpha FROM best{k}"
        for k in range(1, ADA_ROUNDS + 1)
    )
    return sql + "\n    " + finals


@register(
    "adaboost_quality_stumps",
    oracle=_ada_sql("duck"),
    doc=(
        f"Boosting IN the engine: {ADA_ROUNDS} AdaBoost rounds of "
        "depth-1 decision stumps predicting the 'en' language label "
        "from the quality features (fixed data-independent threshold "
        "grid x both polarities = 30 candidate stumps — the label is "
        "NOT linearly separable here, so the rounds show real "
        "reweighting: round 2 selects a different stump), emitting "
        "each round's chosen stump, "
        "weighted error, and alpha. Per round: ONE candidate x rows "
        "fan-out aggregated back per candidate (partial aggregation "
        "does the work — the reducer sees 30 sums), a 1-row argmin "
        "broadcast, a row-local weight update, and a 1-row normalizer "
        "— the distributed boosting shape. Decimal-exact weighted "
        "errors, re-quantized weights between rounds, ln/exp on "
        "identical exact inputs: the two-round trajectory is "
        "bit-identical cross-engine."
    ),
    tags=("documents", "ml", "agg"),
)
def adaboost_quality_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (the pagerank recipe): the round-1 weight frame — which
    # carries the tokenize-heavy feature subtree — materializes once
    # into a persisted, fanned-out frame; each boosting round reads the
    # cache. fan_out is safe: the weighted-error sums are decimal-exact
    # (order-independent by design). Identical SQL text downstream.
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    w1 = fan_out(spark.sql(_ada_w1_sql("spark"))).persist()
    w1.createOrReplaceTempView("__ada_w1")
    out = spark.sql(_ada_sql("spark", w1_rel="__ada_w1"))
    out._cached_deps = [w1]  # released by the harness/caller post-action
    return out
