"""The ``bi_queries`` workload: analysts' queries plus the iterative builds.

Setup writes a seeded star schema, computes every operation's DuckDB
oracle rows (untimed) and runs each query once to warm it; the IVF index
the ANN query probes is built there too.

Timed pass, one closed-loop client:

1. rounds over ``QUERY_SET`` until they have lasted ``seconds``; the
   number of rounds depends on the queries alone;
2. the three hand-written DataFrame loops, once each and after a JVM
   garbage collection: ``build_ivf_index`` (k-means, warmed by the
   setup's build) into a fresh directory, then, unwarmed, star connected
   components (``entity_resolution_parts``) and ``copurchase_pagerank``;
3. ``ivf_index_ann_topk`` once more, over the index built in step 2, so
   its oracle check verifies that build. Its time is not a sample.

Every result is compared with its oracle; a mismatch counts as failed.

``latency_s`` is the geometric mean of the queries' median latencies, so
each query weighs the same whatever its length; ``bulk_s`` is the sum of
the three loops' times. A metric whose operations all failed is NaN.
"""

from __future__ import annotations

import math
import os
import time

# One registry query per family: relational join/aggregate, windows,
# event time series, text dedup, vector search and the Arrow-UDF
# multimodal decode. More would not fit the benchmark's run budget: the
# warm pass and the rounds of each query cost 1 to 4 s a run.
QUERY_SET = (
    "q3_shipping_priority",
    "top3_orders_per_customer",
    "sessionize_events",
    "minhash_signatures",
    "ivf_index_ann_topk",
    "image_pixel_stats",
)
ITERATIVE = ("entity_resolution_parts", "copurchase_pagerank")


def rowset(rows: list[tuple], columns: list[str]) -> list[tuple]:
    from tools.check_correctness import _rowset

    return _rowset(rows, columns)


def _catalyst_s(df) -> float:
    """Analysis + optimisation + planning time of the query just run."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs() / 1000.0
    return total


def tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples above it: the
    11th-largest value (the largest when there are fewer than 11, NaN
    when there are none)."""
    s = sorted(values)
    return s[max(0, len(s) - 11)] if s else math.nan


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def run(h, seconds: float, smoke: bool) -> None:
    from real_time_e_commerce_analytics_lakehouse_spark.operators import vecindex
    from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
        release_cached,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.plans.embeddings import (
        KM_ROUNDS,
        _adaptive_cells,
        _embeddings_fingerprint,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table
    from tools.check_correctness import run_duckdb

    from perfbench.datagen import write_star_schema

    sf = 0.001 if smoke else 0.01
    spark = h.spark

    def generate() -> str:
        d = h.fresh_dir("sf")
        write_star_schema(d, h.seed, sf)
        return d

    sf_dir = h.setup_inputs(generate)
    names = list(QUERY_SET) + list(ITERATIVE)
    expected = {n: rowset(*run_duckdb(QUERIES[n].oracle, sf_dir)) for n in names}
    h.start_warm()

    def build_index() -> None:
        root = h.fresh_dir("vecindex")
        os.environ["SPARK_GRAFT_INDEX_DIR"] = root
        idx = os.path.join(root, _embeddings_fingerprint(sf_dir))
        emb = table(spark, sf_dir, "embeddings")
        # resolved at call time so a traced run sees its wrapper
        vecindex.build_ivf_index(
            spark, emb, idx, n_cells=_adaptive_cells(emb.count()), rounds=KM_ROUNDS
        )
        with open(os.path.join(idx, "_INDEX_READY"), "w") as f:
            f.write("ok")

    def query(name: str, timed: dict[str, list[float]] | None) -> None:
        with h.op(name, name) as op:
            t0 = time.perf_counter()
            with h.tracer.span("plans.build"):
                df = QUERIES[name].builder(spark, sf_dir)
            with h.tracer.span("plans.collect"):
                rows = [tuple(r) for r in df.collect()]
            op.ok(time.perf_counter() - t0)
            if h.tracer.enabled:
                op.attrs["catalyst_s"] = _catalyst_s(df)
            h.release(lambda: release_cached(df))
            h.check(rowset(rows, df.columns) == expected[name], f"{name}: result differs from oracle")
        if timed is not None and op.seconds is not None:
            timed.setdefault(name, []).append(op.seconds)

    build_index()
    for name in QUERY_SET:
        query(name, None)
    h.setup_done()

    per_query: dict[str, list[float]] = {name: [] for name in QUERY_SET}
    t_window = time.perf_counter()
    while True:
        for name in QUERY_SET:
            query(name, per_query)
        if time.perf_counter() - t_window >= seconds:
            break

    spark.sparkContext._jvm.java.lang.System.gc()
    with h.op("ivf_build", "ivf_build") as op:
        t0 = time.perf_counter()
        build_index()
        op.ok(time.perf_counter() - t0)
        h.release(lambda: None)
    ivf_s = math.nan if op.seconds is None else op.seconds
    iter_s: dict[str, list[float]] = {}
    for name in ITERATIVE:
        query(name, iter_s)
    query("ivf_index_ann_topk", None)
    h.mark("window")

    samples = [s for v in per_query.values() for s in v]
    queries_total = sum(h.median(v) for v in per_query.values())
    iterative = {
        "ivf_build_s": ivf_s,
        "cc_parts_s": h.median(iter_s.get("entity_resolution_parts", [])),
        "pagerank_s": h.median(iter_s.get("copurchase_pagerank", [])),
    }
    bulk = sum(iterative.values())
    h.e2e.update({
        "latency_s": geomean([h.median(v) for v in per_query.values()]),
        "bulk_s": bulk,
        "work_total_s": bulk + queries_total,
    })
    h.named.update({
        "query_p50_s": h.median(samples),
        "query_tail_s": tail(samples),
        "query_tail_percentile": 100.0 * max(0, len(samples) - 10) / max(1, len(samples)),
        "query_samples": len(samples),
        "queries_total_s": queries_total,
        **iterative,
    })
