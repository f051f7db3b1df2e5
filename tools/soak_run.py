"""sf1 soak (VERDICT r3 #8): time every bench query at sf0.1 and at the
10x soak dataset (tools/soak_gen.py), compute per-query scaling
exponents e = log(t_big/t_small)/log(10), and flag super-linear
queries (t_big > 10x t_small) that lack a documented fan-out reason.

Each query is timed as cold + one steady rerun per scale; the steady
time is the exponent input (codegen compilation amortized). Emits
soak_sf1.json and a markdown table for BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
from real_time_e_commerce_analytics_lakehouse_spark.session import get_spark

# Quadratic-by-design fan-outs (documented in their docstrings): pair
# generation scales with candidate-pair count, not row count. Names
# must be bench=True registry queries (validated in main()).
KNOWN_FANOUT = {
    "copurchase_part_pairs",  # basket self-join: pairs ~ sum(basket^2)
    "ngram_jaccard_pairs",    # token-blocked pair generation
    "lsh_candidate_pairs",    # collisions grow with near-dup density (soak data is 10x near-dup by construction)
}


def time_query(spark, name: str, sf_dir: str) -> tuple[float, float]:
    """Cold + concordant steady time (bench.py's protocol: single runs
    on this shared box swing up to ~2.8x with host noise, so keep
    sampling until the two fastest runs agree within 15%, max 4)."""

    def once() -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        QUERIES[name].builder(spark, sf_dir).collect()
        return time.perf_counter() - t0

    cold = once()
    steady: list[float] = []
    for _ in range(4):
        steady.append(once())
        s = sorted(steady)
        if len(s) >= 2 and s[1] / max(s[0], 1e-9) <= 1.15:
            break
    return round(cold, 3), round(min(*steady, cold), 3)


def cc_star_soak(spark, sf_dir: str) -> dict:
    """Star-CC scaling probe (VERDICT r9 next #5): run large-star/
    small-star connected components over the lev<=1 customer-name
    graph (the r9 measurement subject) with per-round instrumentation.
    Records rounds-to-converge (must sit within the O(log^2 n) bound),
    per-round edge counts (the contraction curve — each round's
    shuffle must get CHEAPER), and wall time. Fixed algorithm, scaled
    graph: the cross-scale exponent of total time is the soak row."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.graph import (
        connected_components,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
        release_cached,
        release_frame,
    )

    edges = (
        QUERIES["fuzzy_customer_pairs"]
        .builder(spark, sf_dir)
        .select("custkey_a", "custkey_b")
        .localCheckpoint(eager=True)  # time CC, not edge generation
        .persist()
    )
    n_edges = edges.count()
    stats: list[dict] = []
    t0 = time.perf_counter()
    out = connected_components(
        edges, src="custkey_a", dst="custkey_b", round_stats=stats
    )
    n_verts = out.count()
    total = round(time.perf_counter() - t0, 3)
    release_cached(out)
    release_frame(edges)
    import math as _m

    log2n = _m.log2(max(n_verts, 2))
    return {
        "input_edges": n_edges,
        "vertices": n_verts,
        "rounds": len(stats),
        "log2_n": round(log2n, 2),
        "log2_n_squared": round(log2n * log2n, 1),
        "rounds_within_log2sq_bound": len(stats) <= log2n * log2n,
        "edge_contraction": [s["edges"] for s in stats],
        "round_seconds": [s["seconds"] for s in stats],
        "total_seconds": total,
    }


def table_layer_soak(spark, sf_dir: str, workdir: str) -> dict[str, float]:
    """Table-layer costs at one scale (VERDICT r4 next #8): the scaling
    claim for the write path is cost ∝ CHURN, not table size — so the
    churn batch is a FIXED absolute size at every scale and the
    cross-scale exponent isolates the table-size dependence.

    - merge_churn: unconditional keyed upsert of 10k changed orders
      into an orders LakeTable (copy-on-write rewrite of touched
      units; cost ∝ touched-unit bytes).
    - ivm_refresh: incremental_agg_refresh folding ONE churn commit's
      CDF into a status-revenue mart (cost ∝ churn; exponent ≈ 0 is
      the IVM contract, measured here instead of asserted).
    - stream_sink_batch: writeStream.format('laketable') availableNow
      of a fixed 50k-row batch into the scaled table (cost ∝ batch).
    Setup (initial table build, initial mart build) is untimed."""
    import shutil

    from pyspark.sql import functions as F

    from real_time_e_commerce_analytics_lakehouse_spark.operators.incremental import (
        incremental_agg_refresh,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources import pyds
    from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable

    pyds.register(spark)
    out: dict[str, float] = {}
    # PARTITIONED on the soak's copy bucket (soak_gen shifts each copy's
    # keys by 10M): at sf1 the table has 10 partitions, the fixed churn
    # set lives entirely in copy 0, so merge/IVM rewrite and diff only
    # that partition — measuring the partition-scoped contract the
    # engine actually ships, not a full-table rewrite (r5 review: the
    # unpartitioned spelling measured full-rewrite cost and grew ~2x at
    # 10x data despite fixed churn).
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "key_bucket", F.floor(F.col("o_orderkey") / 10_000_000)
    )

    # setup: materialize the scaled table (untimed)
    t = LakeTable(spark, f"{workdir}/orders", partition_by=["key_bucket"])
    t.overwrite(orders)

    # FIXED churn set at every scale: soak_gen shifts copy keys by 10M,
    # so restricting to the base-copy key range (< 10M) selects the
    # IDENTICAL rows from sf0.1 and the 10x soak dataset — the
    # cross-scale exponent then isolates table-size dependence
    churn = (
        orders.where(
            (F.col("o_orderkey") % 97 == 0)
            & (F.col("o_orderkey") < 10_000_000)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.01)
    ).persist()
    churn.count()

    t0 = time.perf_counter()
    t.merge_upsert(churn, keys="o_orderkey")
    out["merge_churn"] = round(time.perf_counter() - t0, 3)

    # IVM: initial mart build untimed; then one more churn commit and
    # time ONLY the incremental fold of its CDF
    mart = LakeTable(spark, f"{workdir}/mart")
    v0 = incremental_agg_refresh(
        mart, t, None, ["o_orderstatus"], ["o_totalprice"], keys="o_orderkey"
    )
    churn2 = churn.withColumn("o_totalprice", F.col("o_totalprice") * 1.02)
    t.merge_upsert(churn2, keys="o_orderkey")
    t0 = time.perf_counter()
    incremental_agg_refresh(
        mart, t, v0, ["o_orderstatus"], ["o_totalprice"], keys="o_orderkey"
    )
    out["ivm_refresh"] = round(time.perf_counter() - t0, 3)
    churn.unpersist()

    # streaming sink: fixed-size batch into the scaled table (same
    # base-copy restriction => identical batch at both scales)
    src = f"{workdir}/stream_src"
    orders.where(F.col("o_orderkey") < 10_000_000).limit(50_000).withColumn(
        "o_orderkey", F.col("o_orderkey") + 900_000_000
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    t0 = time.perf_counter()
    q = (
        stream.writeStream.format("laketable")
        .option("checkpointLocation", f"{workdir}/ckpt")
        .option("partition_by", "key_bucket")  # match the table layout
        .trigger(availableNow=True)
        .start(t.path)
    )
    q.awaitTermination()
    out["stream_sink_batch"] = round(time.perf_counter() - t0, 3)

    # ---- foreign-Delta DML tier (VERDICT r7 next #8): same fixed-
    # churn protocol over a format('delta') table. The churn-bound
    # claims under test: merge_delta's key-range file skipping keeps
    # the probe+rewrite inside the files overlapping the source's key
    # range (the base copy); delete_delta(partitions=) bounds the scan
    # to the churn partition; optimize_delta with a small target only
    # rewrites the churn-touched partition's fragmented/DV files.
    from real_time_e_commerce_analytics_lakehouse_spark.sources import (
        delta_table as dtmod,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_dml import (
        delete_delta,
        merge_delta,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        optimize_delta,
    )

    dtmod.register(spark)
    dp = f"{workdir}/orders_delta"
    # setup (untimed): materialize the scaled foreign table
    orders.write.format("delta").option(
        "partition_by", "key_bucket"
    ).mode("append").save(dp)
    churn3 = (
        orders.where(
            (F.col("o_orderkey") % 97 == 0)
            & (F.col("o_orderkey") < 10_000_000)
        ).withColumn("o_totalprice", F.col("o_totalprice") * 1.03)
    ).persist()
    churn3.count()
    t0 = time.perf_counter()
    merge_delta(spark, dp, churn3, keys=["o_orderkey"])
    out["merge_delta_churn"] = round(time.perf_counter() - t0, 3)
    churn3.unpersist()

    t0 = time.perf_counter()
    delete_delta(
        spark,
        dp,
        "o_orderkey % 191 = 0",
        mode="mor",
        partitions={"key_bucket": [0]},
    )
    out["delete_mor_churn"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    optimize_delta(spark, dp, target_file_bytes=1 * 1024 * 1024)
    out["optimize_delta_churn"] = round(time.perf_counter() - t0, 3)

    # ---- row tracking tier (r8 session-3): the same fixed-churn merge
    # with delta.enableRowTracking on. Claims under test: stamping is
    # O(files-in-commit) driver metadata, and the preserved-id rewrite
    # adds only a row_index column + one broadcast join to the scan of
    # the files it was already rewriting — cost stays ∝ churn.
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_log import (
        alter_delta_properties,
    )

    alter_delta_properties(dp, {"delta.enableRowTracking": "true"})  # untimed backfill
    churn5 = (
        orders.where(
            (F.col("o_orderkey") % 89 == 0)
            & (F.col("o_orderkey") < 10_000_000)
        ).withColumn("o_totalprice", F.col("o_totalprice") * 1.05)
    ).persist()
    churn5.count()
    t0 = time.perf_counter()
    merge_delta(spark, dp, churn5, keys=["o_orderkey"])
    out["merge_delta_churn_rowtracking"] = round(
        time.perf_counter() - t0, 3
    )
    churn5.unpersist()

    # ---- identity tier: fixed 50k-row insert into a SCALED identity
    # table. Claim: generation is per-partition offsets over the BATCH
    # (2 jobs ∝ batch) + an O(log) snapshot replay for the water mark —
    # table size must not appear in the cost.
    from real_time_e_commerce_analytics_lakehouse_spark.sources.delta_dml import (
        create_delta_table,
        insert_delta,
    )

    ip = f"{workdir}/orders_identity"
    create_delta_table(
        ip,
        "sk bigint, o_orderkey bigint, o_totalprice double",
        identity={"sk": {"start": 1, "step": 1}},
    )
    # untimed setup: seed the scaled table
    insert_delta(
        spark, ip, orders.select("o_orderkey", "o_totalprice")
    )
    batch = (
        orders.where(F.col("o_orderkey") < 10_000_000)
        .limit(50_000)
        .select("o_orderkey", "o_totalprice")
        .persist()
    )
    batch.count()
    t0 = time.perf_counter()
    insert_delta(spark, ip, batch)
    out["identity_insert_batch"] = round(time.perf_counter() - t0, 3)
    batch.unpersist()

    # ---- column-mapping tier (VERDICT r8 next #7): name-mode mapped
    # table with a NESTED struct column. Claims under test:
    # relabel_arrow runs per batch per column and costs O(schema) +
    # O(batch bytes), never O(table); the mapped fixed-churn merge
    # rewrites only fresh-match files like the unmapped twin (the
    # logical->physical projection is one extra select on the rows it
    # was already rewriting).
    mp = f"{workdir}/orders_mapped"
    nested = orders.select(
        "o_orderkey",
        F.struct(
            F.col("o_totalprice").alias("price"),
            F.col("o_orderstatus").alias("status"),
        ).alias("s"),
        "key_bucket",
    )
    # untimed setup: seed, then upgrade none -> name (metadata-only)
    nested.write.format("delta").option(
        "partition_by", "key_bucket"
    ).mode("append").save(mp)
    alter_delta_properties(mp, {"delta.columnMapping.mode": "name"})
    mbatch = (
        nested.where(F.col("o_orderkey") < 10_000_000)
        .limit(50_000)
        .persist()
    )
    mbatch.count()
    t0 = time.perf_counter()
    mbatch.write.format("delta").mode("append").save(mp)
    out["mapped_append_batch"] = round(time.perf_counter() - t0, 3)
    mchurn = (
        nested.where(
            (F.col("o_orderkey") % 97 == 0)
            & (F.col("o_orderkey") < 10_000_000)
        ).withColumn(
            "s",
            F.struct(
                (F.col("s.price") * 1.1).alias("price"),
                F.col("s.status").alias("status"),
            ),
        )
    ).persist()
    mchurn.count()
    t0 = time.perf_counter()
    merge_delta(spark, mp, mchurn, keys=["o_orderkey"])
    out["mapped_merge_churn"] = round(time.perf_counter() - t0, 3)
    mbatch.unpersist()
    mchurn.unpersist()

    shutil.rmtree(workdir, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/tmp/sf1_soak")
    ap.add_argument("--factor", type=float, default=10.0)
    ap.add_argument("--out", default=str(Path(__file__).parent.parent / "soak_sf1.json"))
    ap.add_argument("--skip-table-layer", action="store_true")
    ap.add_argument("--skip-cc", action="store_true")
    ap.add_argument(
        "--queries",
        nargs="*",
        default=None,
        help=(
            "subset of bench queries to soak (second-decade runs, e.g. "
            "sf1->sf3 with --factor 3, target only the steepest-exponent "
            "queries; VERDICT r5 next #7)"
        ),
    )
    a = ap.parse_args()

    spark = get_spark(app_name="soak")
    bench_queries = [n for n, q in QUERIES.items() if q.bench]
    # the staleness guard reads against the FULL bench set (a --queries
    # subset is allowed to omit fan-out queries)
    stale = KNOWN_FANOUT - set(bench_queries)
    if stale:
        raise SystemExit(f"KNOWN_FANOUT names non-bench queries: {sorted(stale)}")
    if a.queries:
        unknown = set(a.queries) - set(bench_queries)
        if unknown:
            raise SystemExit(f"--queries not in bench set: {sorted(unknown)}")
        bench_queries = list(a.queries)
    # warmup
    QUERIES["revenue_by_nation_status"].builder(spark, a.small).collect()

    rows = []
    for name in bench_queries:
        c_s, t_s = time_query(spark, name, a.small)
        c_b, t_b = time_query(spark, name, a.big)
        # floor timings for the ratio/log math: a sub-millisecond steady
        # time would divide by zero / hit log(0)
        ts_f, tb_f = max(t_s, 1e-3), max(t_b, 1e-3)
        exp = round(math.log(tb_f / ts_f) / math.log(a.factor), 2)
        flag = tb_f > a.factor * ts_f and name not in KNOWN_FANOUT
        rows.append(
            {
                "query": name,
                "small_steady": t_s,
                "small_cold": c_s,
                "big_steady": t_b,
                "big_cold": c_b,
                "ratio": round(tb_f / ts_f, 2),
                "exponent": exp,
                "known_fanout": name in KNOWN_FANOUT,
                "flag_superlinear": flag,
            }
        )
        print(json.dumps(rows[-1], separators=(",", ":")), flush=True)

    table_layer = None
    if not a.skip_table_layer:
        import tempfile

        # churn-proportional ops (fixed churn size at both scales):
        # exponent ≈ 0 is the contract for ivm_refresh/stream_sink;
        # merge_churn may grow with touched-unit bytes (≤ linear)
        small_tl = table_layer_soak(
            spark, a.small, tempfile.mkdtemp(prefix="soak_tl_s_")
        )
        big_tl = table_layer_soak(
            spark, a.big, tempfile.mkdtemp(prefix="soak_tl_b_")
        )
        table_layer = []
        churn_bound = {
            "ivm_refresh",
            "stream_sink_batch",
            # foreign-Delta DML: fixed churn entirely inside the base
            # copy -> key-range / partition / small-file pruning keeps
            # each op's work bounded by the (identical) churn slice
            "merge_delta_churn",
            "delete_mor_churn",
            "optimize_delta_churn",
            # row tracking adds O(files-in-commit) driver metadata +
            # one broadcast join to the already-churn-bounded rewrite
            "merge_delta_churn_rowtracking",
            # identity generation is 2 jobs over the 50k batch + an
            # O(log) water-mark read
            "identity_insert_batch",
            # colmap tier (VERDICT r8 next #7): relabel_arrow is
            # O(schema)+O(batch bytes); the mapped merge rewrites only
            # fresh-match files like the unmapped twin
            "mapped_append_batch",
            "mapped_merge_churn",
        }
        for op in small_tl:
            ts_f, tb_f = max(small_tl[op], 1e-3), max(big_tl[op], 1e-3)
            exp = round(math.log(tb_f / ts_f) / math.log(a.factor), 2)
            # churn-proportional ops must stay well below the data
            # exponent; merge flags only when super-linear
            limit = 0.5 if op in churn_bound else 1.0
            table_layer.append(
                {
                    "op": op,
                    "small_secs": small_tl[op],
                    "big_secs": big_tl[op],
                    "ratio": round(tb_f / ts_f, 2),
                    "exponent": exp,
                    "flag": exp > limit,
                }
            )
            print(json.dumps(table_layer[-1], separators=(",", ":")), flush=True)

    cc_star = None
    if not a.skip_cc:
        cc_small = cc_star_soak(spark, a.small)
        cc_big = cc_star_soak(spark, a.big)
        exp = round(
            math.log(
                max(cc_big["total_seconds"], 1e-3)
                / max(cc_small["total_seconds"], 1e-3)
            )
            / math.log(a.factor),
            2,
        )
        cc_star = {
            "small": cc_small,
            "big": cc_big,
            "exponent": exp,
            # contraction: the edge set must shrink monotonically after
            # its first rewire round at BOTH scales
            "big_contracts": all(
                x >= y
                for x, y in zip(
                    cc_big["edge_contraction"][1:],
                    cc_big["edge_contraction"][2:],
                )
            ),
        }
        print(json.dumps({"cc_star": cc_star}, separators=(",", ":")), flush=True)

    with open(a.out, "w") as f:
        json.dump(
            {
                "factor": a.factor,
                "small": a.small,
                "big": a.big,
                "rows": rows,
                "table_layer": table_layer,
                "cc_star": cc_star,
            },
            f,
            indent=1,
        )

    flagged = [r for r in rows if r["flag_superlinear"]]
    if table_layer:
        flagged += [r for r in table_layer if r["flag"]]
    print(
        "\nflagged super-linear (no documented fan-out): "
        f"{[r.get('query') or r.get('op') for r in flagged]}"
    )

    # markdown table for BASELINE.md
    md = [
        f"| query | {a.small} s | {a.big} s | ratio | exponent | note |",
        "| --- | --- | --- | --- | --- | --- |",
    ]
    for r in sorted(rows, key=lambda r: -r["ratio"]):
        note = "fan-out (documented)" if r["known_fanout"] else ("**super-linear**" if r["flag_superlinear"] else "")
        md.append(
            f"| {r['query']} | {r['small_steady']} | {r['big_steady']} |"
            f" {r['ratio']}x | {r['exponent']} | {note} |"
        )
    print("\n".join(md))


if __name__ == "__main__":
    main()
