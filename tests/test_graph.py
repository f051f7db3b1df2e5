"""Connected components / duplicate-cluster resolution vs a union-find
model, plus the transitive-cluster case pairwise drop misses."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from real_time_e_commerce_analytics_lakehouse_spark.operators.graph import (
    connected_components,
    resolve_duplicate_clusters,
)
from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
    release_cached,
)


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min vertex id per component
    comp_min: dict[int, int] = {}
    for v in parent:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in parent}


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, **kw)
    got = {r.vertex: r.component for r in out.collect()}
    release_cached(out)
    return got


def _clear(spark):
    """Empty both layers: cached frames and persistent RDDs."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def test_connected_components_chain_and_star(spark):
    # chain 1-2-3 (transitive), star 10<-11,12, singleton pair (20,21)
    edges = [(1, 2), (2, 3), (11, 10), (12, 10), (20, 21)]
    assert _cc(spark, edges, max_rounds=12) == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20,
    }


def test_connected_components_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).collect() == []


def test_connected_components_long_path_pointer_jumping(spark):
    # a 14-vertex path has diameter 13; star rewiring must converge
    # well inside max_rounds=12 (one-hop propagation alone would not)
    edges = [(i, i + 1) for i in range(13)]
    got = _cc(spark, edges, max_rounds=12)
    assert got == {v: 0 for v in range(14)}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=15,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_connected_components_model(spark, edges):
    assert _cc(spark, edges, max_rounds=12) == _union_find_components(edges)


def test_resolve_duplicate_clusters_is_transitive(spark):
    # star cluster {1,2,3} linked only through 3: pairs (1,3), (2,3).
    # Pairwise drop-the-larger keeps BOTH 1 and 2; transitive resolution
    # keeps only the cluster minimum, 1.
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(1, 6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "doc_a long, doc_b long")
    survivors = resolve_duplicate_clusters(pairs, docs)
    kept = sorted(r.doc_id for r in survivors.collect())
    release_cached(survivors)
    assert kept == [1, 4, 5]  # 2 and 3 fold into cluster 1; singletons survive


def test_connected_components_nonconvergence_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_rounds=2)


def test_nonconvergence_raise_unpersists_everything(spark, cache_held):
    """The non-convergence raise must leave nothing behind on either
    layer: no cached frame (r9 advice: the last edge set stayed
    persisted) and no local-checkpoint blocks."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long"
    )
    _clear(spark)
    for rounds in (1, 2):
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_rounds=rounds)
        # no cached frame, no persistent RDD (checkpoint blocks)
        assert cache_held() == (0, set())


def test_round_failure_releases_everything(spark, cache_held):
    """A job failing inside round 1 (a Python UDF in the edge input
    raises when the first digest runs the pipeline) must release every
    frame materialized so far on both layers."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException
    from pyspark.sql import functions as F

    @F.udf("long")
    def explode_on_7(x):
        if x == 7:
            raise ValueError("edge source failed mid-round")
        return x

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src long, dst long"
    ).withColumn("src", explode_on_7("src"))
    _clear(spark)
    # PythonException when the UDF error is the job failure's direct
    # cause, Py4JJavaError when Spark wraps it deeper (varies by stage)
    with pytest.raises(
        (PythonException, Py4JJavaError), match="edge source failed mid-round"
    ):
        connected_components(df)
    assert cache_held() == (0, set())


def test_result_lease_frees_checkpoint(spark, cache_held):
    """The result is a local checkpoint whose lease rides `_cached_deps`:
    releasing it after the action returns the session to where it was."""
    df = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "src long, dst long")
    before = cache_held()
    out = connected_components(df)
    assert out.count() == 5
    assert cache_held() != before  # the output checkpoint is held...
    release_cached(out)
    assert cache_held() == before  # ...until the lease is released


def test_star_matches_model_on_contract_cases(spark):
    """The large-star/small-star fixpoint equals the union-find model on
    every structure class, including the contract edges: self-loop-only
    vertices are singletons, permuted ids, duplicate and reversed
    edges."""
    import random

    rnd = random.Random(13)
    perm = list(range(1, 120))
    rnd.shuffle(perm)
    cases = {
        "permuted_chain": [
            (perm[i], perm[i + 1]) for i in range(110) if i % 17 != 0
        ],
        "self_loops": [(5, 5), (1, 2), (2, 1), (9, 9)],
        "random_multi": [
            (rnd.randrange(1, 60), rnd.randrange(1, 60)) for _ in range(80)
        ],
    }
    for name, edges in cases.items():
        assert _cc(spark, edges) == _union_find_components(edges), name


def test_star_cc_multiround_with_multiedges(spark):
    """Two long chains with shuffled ids (several star rounds) plus
    duplicate and reversed edges and a self-loop singleton: the
    per-round single distinct keeps the fixpoint, and the round stats
    report the contraction down to a star forest."""
    import random

    rnd = random.Random(7)
    ids = list(range(1, 81))
    rnd.shuffle(ids)
    chain1 = [(ids[i], ids[i + 1]) for i in range(0, 39)]
    chain2 = [(ids[i], ids[i + 1]) for i in range(40, 79)]
    edges = chain1 + chain2 + [(b, a) for a, b in chain1[:10]] + chain1[:5]
    edges += [(999, 999)]  # self-loop-only vertex -> singleton
    stats: list[dict] = []
    got = _cc(spark, edges, round_stats=stats)
    assert got == _union_find_components(edges)
    assert len(set(got.values())) == 3  # two chains + the 999 singleton
    assert len(stats) > 2
    # a star forest has one edge per non-root vertex: 81 - 3
    assert stats[-1]["edges"] == len(got) - 3


def test_star_rounds_run_one_exchange_per_step(spark):
    """Each star step is one windowed exchange, not a groupBy plus a
    join back: CC over six shuffled 50-vertex paths (6 rounds) runs at
    most 50 Spark jobs in all, building the result included."""
    import random

    rnd = random.Random(3)
    ids = list(range(300))
    rnd.shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(299) if (i + 1) % 50]
    df = spark.createDataFrame(edges, "src long, dst long")
    df.collect()  # the input's own jobs stay out of the count
    sc = spark.sparkContext
    stats: list[dict] = []
    sc.setJobGroup("cc-job-guard", "cc-job-guard")
    try:
        out = connected_components(df, round_stats=stats)
        got = {r.vertex: r.component for r in out.collect()}
    finally:
        sc._jsc.clearJobGroup()
    release_cached(out)
    assert got == _union_find_components(edges)
    assert len(set(got.values())) == 6 and len(stats) == 6
    jobs = sc.statusTracker().getJobIdsForGroup("cc-job-guard")
    assert len(jobs) <= 50, len(jobs)
