"""Direct unit tests for the operator library (beyond oracle coverage)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.operators import (
    asof_join,
    clean,
    dedup_latest,
    modal_value,
    preagg_join,
    range_join,
    top_k_per_group,
)
from real_time_e_commerce_analytics_lakehouse_spark.operators.cleaning import (
    CleanSpec,
    ColumnRule,
)


def test_asof_join_inclusive_vs_strict(spark):
    left = spark.createDataFrame([(1, 10), (1, 20)], "k long, t long")
    right = spark.createDataFrame([(1, 10, "a"), (1, 15, "b")], "k long, t long, v string")
    inc = {
        r.t: r.last_v
        for r in asof_join(
            left, right, on="k", left_ts="t", right_ts="t", value_col="v", alias="last_v"
        ).collect()
    }
    assert inc == {10: "a", 20: "b"}  # t=10 sees the equal-ts right row
    strict = {
        r.t: r.last_v
        for r in asof_join(
            left, right, on="k", left_ts="t", right_ts="t", value_col="v",
            alias="last_v", strict=True,
        ).collect()
    }
    assert strict == {10: None, 20: "b"}  # strict: equal-ts row excluded


def test_asof_join_no_match_is_null(spark):
    left = spark.createDataFrame([(2, 5)], "k long, t long")
    right = spark.createDataFrame([(1, 1, "x")], "k long, t long, v string")
    out = asof_join(
        left, right, on="k", left_ts="t", right_ts="t", value_col="v", alias="v2"
    ).collect()
    assert len(out) == 1 and out[0].v2 is None


@pytest.mark.soak  # r12: soak-style; default run deselects (pytest.ini)
def test_range_join_matches_naive(spark):
    points = spark.createDataFrame([(i,) for i in range(0, 100, 3)], "p long")
    intervals = spark.createDataFrame(
        [(i, i, i + 10) for i in range(0, 90, 17)], "iid long, s long, e long"
    )
    got = sorted(
        (r.p, r.iid)
        for r in range_join(
            points, intervals, point_col="p", start_col="s", end_col="e", bucket_width=8
        ).collect()
    )
    naive = sorted(
        (r.p, r.iid)
        for r in points.crossJoin(intervals)
        .filter((F.col("p") >= F.col("s")) & (F.col("p") < F.col("e")))
        .collect()
    )
    assert got == naive and got


def test_preagg_join_keeps_dimension_rows(spark):
    fact = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], "k long, x double"
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, name string")
    out = {
        r.k: (r.name, r.total)
        for r in preagg_join(
            fact, dim, "k", "k", [F.sum("x").alias("total")]
        ).collect()
    }
    assert out == {1: ("a", 15.0), 2: ("b", 7.0), 3: ("c", None)}


def test_clean_spec_policies(spark):
    df = spark.createDataFrame(
        [(" A ", "5", "x", "ok"), (None, "bad", "2", "ok"), (" b ", "1", "3", "no")],
        "name string, num string, num2 string, flag string",
    )
    spec = CleanSpec(
        columns={
            "name": ColumnRule(transforms=("trim", "upper")),
            "num": ColumnRule(try_cast="int", default=0),
            "num2": ColumnRule(try_cast="int"),
            "flag": ColumnRule(),
        },
        require_keys=("name",),
        domains={"flag": ("ok",)},
    )
    rows = sorted(clean(df, spec).collect(), key=lambda r: r.name)
    assert len(rows) == 1  # null name rejected; flag='no' rejected
    assert rows[0].name == "A" and rows[0].num == 5


def test_modal_and_topk_and_dedup(spark):
    df = spark.createDataFrame(
        [(1, "x", 1), (1, "x", 2), (1, "y", 3), (2, "z", 1)],
        "k long, v string, ver long",
    )
    modal = {r.k: r.v for r in modal_value(df, "k", "v").collect()}
    assert modal == {1: "x", 2: "z"}
    latest = {r.k: r.ver for r in dedup_latest(df, "k", "ver").collect()}
    assert latest == {1: 3, 2: 1}
    top = top_k_per_group(df, "k", [F.desc("ver")], 2).collect()
    assert len(top) == 3  # 2 for k=1, 1 for k=2


def test_approx_distinct_within_5pct(spark, sf_dir):
    """The gate query now emits the 5% guarantee as an oracle-matched
    boolean (r10); this twin recomputes the raw HLL++ estimate inline
    so a loosened bound can't hide behind the boolean."""
    from pyspark.sql import functions as F

    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table

    gate = QUERIES["approx_distinct_parts"].builder(spark, sf_dir).collect()
    assert gate and all(r.estimate_ok for r in gate)
    raw = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .collect()
    )
    for r in raw:
        assert abs(r.approx_parts - r.exact_parts) / r.exact_parts < 0.05


def test_salted_join_equals_plain_join(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, i) for i in range(10)], "k long, x long"
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "none")], "k long, v string")
    got = sorted((r.k, r.x, r.v) for r in salted_join(big, small, "k").collect())
    want = sorted((r.k, r.x, r.v) for r in big.join(small, "k").collect())
    assert got == want and len(got) == 510


def test_pandas_cosine_matches_exact_topk(spark, sf_dir):
    """The Arrow/pandas top-k agrees with the exact JVM bruteforce.

    cosine_topk_pandas now RETURNS the parity-guarantee booleans (the
    r10-boundary oracle-matching change), so the pairwise tolerance
    check runs against the underlying operator directly, and the gate
    query's booleans are asserted on top."""
    from pyspark.sql import functions as F

    from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
        cosine_topk_vectorized,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table

    exact = {
        (r.query_id, r.rank): (r.vec_id, r.cosine_sim)
        for r in QUERIES["cosine_topk_bruteforce"].builder(spark, sf_dir).collect()
    }
    emb = table(spark, sf_dir, "embeddings")
    fast = {
        (r.query_id, r.rank): (r.vec_id, r.cosine_sim)
        for r in cosine_topk_vectorized(
            emb, emb.filter(F.col("vec_id") < 5), k=10
        ).collect()
    }
    assert set(exact) == set(fast)
    for key, (vid, sim) in exact.items():
        fvid, fsim = fast[key]
        assert fvid == vid, f"rank order diverged at {key}"
        assert abs(fsim - sim) < 1e-6
    # the registered gate query asserts the same agreement in-plan as
    # exact booleans the DuckDB oracle can check
    for r in QUERIES["cosine_topk_pandas"].builder(spark, sf_dir).collect():
        assert r.overlap_ok and r.sim_ok and r.rank_ok and r.n_results > 0


# ---------------------------------------------------------------- round 2


def test_salted_agg_equals_plain_groupby(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("a", i % 7, float(i)) for i in range(500)] + [("b", 1, 2.5)],
        "k string, n long, x double",
    )
    got = salted_agg(
        df,
        "k",
        {
            "sum_x": ("sum", "x"),
            "n_rows": ("count", "n"),
            "min_n": ("min", "n"),
            "max_x": ("max", "x"),
            "avg_x": ("avg", "x"),
        },
        salt=4,
    )
    exp = df.groupBy("k").agg(
        F.sum("x").alias("sum_x"),
        F.count("n").alias("n_rows"),
        F.min("n").alias("min_n"),
        F.max("x").alias("max_x"),
        F.avg("x").alias("avg_x"),
    )
    g = {r.k: (round(r.sum_x, 9), r.n_rows, r.min_n, r.max_x, round(r.avg_x, 9)) for r in got.collect()}
    e = {r.k: (round(r.sum_x, 9), r.n_rows, r.min_n, r.max_x, round(r.avg_x, 9)) for r in exp.collect()}
    assert g == e


def test_salted_agg_rejects_non_combinable(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.skew import salted_agg

    df = spark.createDataFrame([("a", 1)], "k string, n long")
    with pytest.raises(ValueError, match="not a combinable"):
        salted_agg(df, "k", {"bad": ("median", "n")})


def test_two_stage_count_distinct_equals_countdistinct(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.skew import (
        two_stage_count_distinct,
    )

    df = spark.createDataFrame(
        [("a", i % 13) for i in range(200)] + [("b", None), ("b", 5)],
        "k string, v long",
    )
    got = {r.k: r.n_distinct for r in two_stage_count_distinct(df, "k", "v").collect()}
    exp = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert got == exp == {"a": 13, "b": 1}


def test_range_join_left_keeps_unmatched_points(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.joins import range_join

    points = spark.createDataFrame([(1, 5.0), (2, 50.0)], "pid long, t double")
    intervals = spark.createDataFrame([(10, 0.0, 10.0)], "iid long, s double, e double")
    out = range_join(points, intervals, "t", "s", "e", bucket_width=10, how="left")
    rows = {r.pid: r.iid for r in out.collect()}
    assert rows == {1: 10, 2: None}  # unmatched point survives NULL-extended
    with pytest.raises(ValueError, match="inner.*left"):
        range_join(points, intervals, "t", "s", "e", 10, how="full")


def test_dense_row_ids_matches_global_row_number(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.ids import dense_row_ids

    # non-contiguous, unordered keys
    keys = [917, 3, 44, 250000, 17, 999, 123456, 2, 71]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r.k: r.row_id for r in dense_row_ids(df, "k", n_buckets=4).collect()}
    expected = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert got == expected


def test_distributed_cumsum_matches_global_window(spark):
    from pyspark.sql import Window as W

    from real_time_e_commerce_analytics_lakehouse_spark.operators.ids import (
        distributed_cumsum,
    )

    keys = [917, 3, 44, 250000, 17, 999, 123456, 2, 71]
    df = spark.createDataFrame([(k, k % 10 + 1) for k in keys], "k long, v long")
    got = {r.k: r.cumsum for r in distributed_cumsum(df, "k", "v", n_buckets=4).collect()}
    w = (
        W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    exp = {
        r.k: r.c
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    assert got == exp


def test_approx_percentiles_within_tolerance(spark, sf_dir):
    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table

    # the registered gate query emits the sketch guarantee as booleans
    rows = QUERIES["approx_price_percentiles"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p50_ok and r.p90_ok and r.p99_ok, r
    # tighter pytest twin: each estimate within 1% of the exact value
    raw = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.expr(
                "percentile_approx(o_totalprice, array(0.5, 0.9, 0.99), 10000)"
            ).alias("approx_pcts"),
            F.expr(
                "percentile(o_totalprice, array(0.5, 0.9, 0.99))"
            ).alias("exact_pcts"),
        )
        .collect()
    )
    for r in raw:
        for approx, exact in zip(r.approx_pcts, r.exact_pcts):
            assert abs(approx - exact) <= 0.01 * abs(exact) + 1e-9


# ------------------------------------------------------------ expectations


def test_expectations_warn_drop_and_metrics(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.quality import (
        apply_expectations,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 2.0)],
        "id long, amount double",
    )
    clean, metrics = apply_expectations(
        df,
        {
            "amount_positive": ("amount > 0", "drop"),
            "amount_present": ("amount IS NOT NULL", "warn"),
        },
    )
    # drop removes the negative AND the NULL (null expr = violation)
    assert sorted(r.id for r in clean.collect()) == [1, 4]
    got = {r.rule: (r.action, r.n_violations) for r in metrics.collect()}
    assert got == {
        "amount_positive": ("drop", 2),
        "amount_present": ("warn", 1),
    }


def test_expectations_fail_aborts_batch(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.quality import (
        apply_expectations,
    )
    import pytest as _pytest

    df = spark.createDataFrame([(1, 1.0), (2, -1.0)], "id long, amount double")
    clean, _ = apply_expectations(
        df, {"no_negatives": ("amount >= 0", "fail")}
    )
    with _pytest.raises(Exception, match="EXPECTATION_FAILED"):
        clean.collect()


def test_expectations_empty_batch_metrics_are_zero(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.quality import (
        apply_expectations,
    )

    df = spark.createDataFrame([], "id long, amount double")
    clean, metrics = apply_expectations(
        df, {"amount_positive": ("amount > 0", "drop")}
    )
    assert clean.count() == 0
    assert [r.n_violations for r in metrics.collect()] == [0]


def test_expectations_observed_single_pass_metrics(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.quality import (
        apply_expectations_observed,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, -5), (3, None), (4, 200)], "id long, v long"
    )
    clean, obs = apply_expectations_observed(
        df,
        {
            "v_nonneg": ("v >= 0", "drop"),
            "v_small": ("v < 100", "warn"),
        },
    )
    rows = clean.collect()  # the ONE action; metrics ride along
    assert sorted(r.id for r in rows) == [1, 4]  # -5 and NULL dropped
    got = obs.get
    assert got["v_nonneg_violations"] == 2
    assert got["v_small_violations"] == 2  # 200 and NULL


def test_expectations_observed_fail_still_aborts(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.quality import (
        apply_expectations_observed,
    )

    df = spark.createDataFrame([(1, 10), (2, -1)], "id long, v long")
    clean, _obs = apply_expectations_observed(
        df, {"v_nonneg": ("v >= 0", "fail")}
    )
    with pytest.raises(Exception, match="EXPECTATION_FAILED"):
        clean.collect()


def test_hll_rollup_accuracy_and_merge_identity(spark, sf_dir):
    """(a) merged weekly HLL estimates land within 5% of exact weekly
    uniques; (b) union-of-daily-sketches tracks the direct weekly
    sketch within 2% — register-max union is conceptually lossless,
    but DataSketches HLL4's offset+exception encoding makes the
    union-then-estimate roundtrip drift slightly once sketches leave
    sparse mode (measured <=1% at sf0.1, exactly 0 while sparse) — the
    property that makes per-day sketch state sufficient for any
    coarser rollup. The gate query now emits these two guarantees as
    oracle-matched booleans (r10); this twin recomputes them from raw
    estimates so a loosened bound can't hide behind the boolean."""
    from pyspark.sql import functions as F

    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table

    gate = QUERIES["weekly_uniques_hll_rollup"].builder(spark, sf_dir).collect()
    assert gate and all(r.estimate_ok and r.rollup_consistent for r in gate)

    ev = table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.to_date("ts")).cast("date")
    daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    got = {
        (r.week_start, r.event_type): r.approx_uniques
        for r in daily.groupBy(
            F.date_trunc("week", "day").cast("date").alias("week_start"),
            "event_type",
        )
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_uniques"
            )
        )
        .collect()
    }
    exact = {
        (r.week_start, r.event_type): r.exact
        for r in ev.groupBy(week.alias("week_start"), "event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])

    direct = {
        (r.week_start, r.event_type): r.approx_uniques
        for r in ev.groupBy(week.alias("week_start"), "event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
                "approx_uniques"
            )
        )
        .collect()
    }
    for k, est in got.items():
        assert abs(est - direct[k]) <= 0.02 * direct[k], (k, est, direct[k])


def test_bloom_join_exact_and_actually_prunes(spark, sf_dir):
    """bloom_join == plain join exactly (no false negatives), and the
    bloom filter really cuts the probe side before the shuffle."""
    from pyspark.sql import functions as F

    from real_time_e_commerce_analytics_lakehouse_spark.operators.bloomjoin import (
        bloom_join,
        bloom_prune,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table

    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    got = sorted(
        (r.l_orderkey, r.l_linenumber, r.p_partkey)
        for r in bloom_join(li, part, "l_partkey", "p_partkey")
        .select("l_orderkey", "l_linenumber", "p_partkey")
        .collect()
    )
    want = sorted(
        (r.l_orderkey, r.l_linenumber, r.p_partkey)
        for r in li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "l_linenumber", "p_partkey")
        .collect()
    )
    assert got == want and len(want) > 0
    # pruning power: the filter must reject the vast majority of probe
    # rows (build side is ~0.5% of part keys; FP rate ~0.6%)
    total = li.count()
    kept = bloom_prune(li, part, "l_partkey", "p_partkey").count()
    assert kept < total * 0.1, (kept, total)
    # and keep at least every true match
    assert kept >= len(want)


def test_hll_audience_overlap_accuracy(spark, sf_dir):
    """Sketch-algebra intersections must track exact pairwise overlap:
    within 10% of exact (three estimates compound) or 50 users."""
    from pyspark.sql import functions as F

    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table

    gate = QUERIES["audience_overlap_hll"].builder(spark, sf_dir).collect()
    assert gate, "no event-type pairs"
    assert all(
        r.est_a_ok and r.est_b_ok and r.union_ok and r.overlap_ok
        for r in gate
    ), gate

    # raw inclusion-exclusion estimates recomputed inline (the gate
    # query now emits guarantee booleans, r10) so a loosened bound
    # can't hide behind the boolean
    evt = table(spark, sf_dir, "events")
    sk = evt.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    sa = sk.select(
        F.col("event_type").alias("type_a"), F.col("sketch").alias("sk_a")
    )
    sb = sk.select(
        F.col("event_type").alias("type_b"), F.col("sketch").alias("sk_b")
    )
    est_a = F.hll_sketch_estimate("sk_a")
    est_b = F.hll_sketch_estimate("sk_b")
    est_u = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    got = {
        (r.type_a, r.type_b): r.overlap_estimate
        for r in sa.join(sb, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.greatest(est_a + est_b - est_u, F.lit(0)).alias(
                "overlap_estimate"
            ),
        )
        .collect()
    }
    ev = table(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    a = ev.select(F.col("event_type").alias("type_a"), "user_id")
    b = ev.select(F.col("event_type").alias("type_b"), "user_id")
    exact = {
        (r.type_a, r.type_b): r.n
        for r in a.join(b, ["user_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(0.10 * exact[k], 50), (
            k, est, exact[k],
        )


def test_trending_tokens_sketch_exact_below_capacity(spark, sf_dir):
    """Frequent-items sketches are exact while distinct items fit the
    sketch; the corpus vocabulary (~31) is far below capacity, so the
    raw sketch top-k must EQUAL the exact frequency table (counts and
    membership; order can tie-break differently at equal counts), and
    the registered gate query's guarantee booleans must all be TRUE."""
    from pyspark.sql import functions as F

    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table
    from real_time_e_commerce_analytics_lakehouse_spark.plans.search import TOPK_SKETCH_K

    # the registered query emits per-rank guarantee booleans
    gate = QUERIES["trending_tokens_sketch"].builder(spark, sf_dir).collect()
    assert sorted(r.rank for r in gate) == list(
        range(1, TOPK_SKETCH_K + 1)
    )
    assert all(r.count_ok and r.is_heavy for r in gate), gate

    # raw sketch vs exact frequency table (below-capacity exactness)
    toks = table(spark, sf_dir, "documents").select(
        F.explode(
            F.expr("split(trim(lower(text)), '\\\\s+')")
        ).alias("t")
    )
    got = {
        r.token: r.approx_count
        for r in toks.selectExpr(
            f"approx_top_k(t, {TOPK_SKETCH_K}) AS hits"
        )
        .selectExpr("inline(hits)")
        .selectExpr("item as token", "cast(count as long) as approx_count")
        .collect()
    }
    exact = (
        toks.groupBy("t")
        .count()
        .orderBy(F.desc("count"), "t")
        .limit(TOPK_SKETCH_K * 2)
        .collect()
    )
    exact_counts = {r.t: r["count"] for r in exact}
    kth = sorted(exact_counts.values(), reverse=True)[TOPK_SKETCH_K - 1]
    assert len(got) == TOPK_SKETCH_K
    for tok, cnt in got.items():
        assert exact_counts[tok] == cnt, (tok, cnt, exact_counts.get(tok))
        # every sketch hit belongs to the exact top set (ties allowed)
        assert cnt >= kth


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Bucketed layout pays the shuffle at write time, then never again:
    joining orders x lineitem both bucketed into 4 on the order key
    plans ZERO Exchange operators (and matches the plain-parquet join
    row-for-row), while the same join over unbucketed parquet shuffles.
    This is the repeated-join amortization a 100 TB gold refresh relies
    on (sources/bucketed.py)."""
    import uuid

    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table
    from real_time_e_commerce_analytics_lakehouse_spark.sources.bucketed import (
        colocated_join,
        write_bucketed,
    )

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "o_orderkey")

    tag = uuid.uuid4().hex[:8]
    to_name, tl_name = f"b_orders_{tag}", f"b_lineitem_{tag}"
    write_bucketed(orders, to_name, 4, ["o_orderkey"])
    write_bucketed(lineitem, tl_name, 4, ["o_orderkey"])
    try:
        # force SMJ so the assertion is about Exchange, not broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = colocated_join(spark, to_name, tl_name, ["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan

        plain = orders.join(lineitem, "o_orderkey")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan

        assert joined.count() == plain.count()
        a = joined.groupBy().sum("l_quantity").collect()[0][0]
        b = plain.groupBy().sum("l_quantity").collect()[0][0]
        assert a == b
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {to_name}")
        spark.sql(f"DROP TABLE IF EXISTS {tl_name}")


def test_asof_join_null_right_values_and_null_keys(spark):
    """r5 review: (a) the nearest right row's value must be returned
    even when it IS NULL — last(value, ignorenulls) substituted an
    OLDER row's value; (b) NULL join keys never match (SQL equality),
    but the window partition grouped them together."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 30), (None, 30)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 10, 5.0), (1, 20, None), (None, 5, 99.0)],
        "k long, ts long, val double",
    )
    got = {
        (r.k, r.ts): r.asof_value
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            value_col="val",
        ).collect()
    }
    # nearest right row (ts=20) has val NULL: the result is NULL, not
    # the stale 5.0 from ts=10
    assert got[(1, 30)] is None
    # NULL-key left row matches nothing (the NULL-key right row with
    # val 99.0 must not donate)
    assert got[(None, 30)] is None


def test_dense_ids_and_cumsum_null_order_values_sort_first(spark):
    """r5 review: NULL order values must behave like the global
    window's ASC NULLS FIRST — they were silently dropped into the
    LAST bucket (wrong ids; cumsum offsets shifted)."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.ids import (
        dense_row_ids,
        distributed_cumsum,
    )

    df = spark.createDataFrame(
        [(None, 7), (10, 1), (20, 2)], "k int, v long"
    )
    ranked = dense_row_ids(df, "k", out="rid")
    got = {r.k: r.rid for r in ranked.collect()}
    for dep in getattr(ranked, "_cached_deps", []):
        dep.unpersist()
    assert got == {None: 1, 10: 2, 20: 3}

    summed = distributed_cumsum(df, "k", "v", out="run")
    runs = {r.k: r.run for r in summed.collect()}
    for dep in getattr(summed, "_cached_deps", []):
        dep.unpersist()
    # NULLS FIRST: the null row's value feeds every later running total
    assert runs == {None: 7, 10: 8, 20: 10}


def test_preagg_join_rejects_mismatched_key_lists(spark):
    from real_time_e_commerce_analytics_lakehouse_spark.operators.joins import (
        preagg_join,
    )

    fact = spark.createDataFrame([(1, 2, 3.0)], "a long, b long, v double")
    dim = spark.createDataFrame([(1, "x")], "a long, name string")
    with pytest.raises(ValueError, match="differ in length"):
        preagg_join(
            fact, dim, fact_key=["a", "b"], dim_key=["a"],
            aggs=[F.sum("v").alias("s")],
        )


def test_expectations_fail_survives_column_pruning_and_beats_drop(spark):
    """r5 review: the fail guard rode an unused column that Catalyst
    pruned away — a select of any other column committed a batch the
    rule should abort. Now a filter: evaluated for every row under any
    projection; and a row violating both a drop and a fail rule ABORTS
    (it was quietly dropped first)."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.quality import (
        apply_expectations,
    )

    df = spark.createDataFrame([(1, -5.0)], "id long, v double")
    clean, _m = apply_expectations(df, {"v_nonneg": ("v >= 0", "fail")})
    with pytest.raises(Exception, match="EXPECTATION_FAILED"):
        clean.select("id").collect()  # column-pruned consumer

    clean2, _m = apply_expectations(
        df,
        {"present": ("v IS NOT NULL AND v > 0", "drop"),
         "pos": ("v > 0", "fail")},
    )
    with pytest.raises(Exception, match="EXPECTATION_FAILED"):
        clean2.collect()

    # empty rules: legal no-op, empty metrics
    c3, m3 = apply_expectations(df, {})
    assert c3.count() == 1 and m3.count() == 0


def test_clean_cast_never_fails_under_ansi(spark):
    """r5 review (runtime-verified): Spark 4 defaults ANSI on, where a
    plain cast RAISES on malformed input — one bad landing row would
    kill the silver job. The CleanSpec 'cast' rule must deliver the
    documented never-fail policy (NULL) on any session."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.cleaning import (
        CleanSpec,
        ColumnRule,
        clean,
    )

    df = spark.createDataFrame(
        [("1", "2.5"), ("notanint", "alsobad")], "a string, b string"
    )
    spec = CleanSpec(
        columns={
            "a": ColumnRule(cast="int"),
            "b": ColumnRule(cast="double"),
        }
    )
    got = sorted(
        ((r.a, r.b) for r in clean(df, spec).collect()), key=repr
    )
    assert got == [(1, 2.5), (None, None)]
