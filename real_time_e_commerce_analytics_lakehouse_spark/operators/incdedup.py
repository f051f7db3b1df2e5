"""Incremental MinHash-LSH dedup for a GROWING corpus.

The gate query `lsh_candidate_pairs` recomputes the full band self-join
each run — the right shape for a one-shot batch, the wrong one for
production ingest, where each new batch must be deduped against
everything already accepted WITHOUT re-pairing the existing corpus with
itself. This operator persists the LSH band table as a LakeTable index
and makes each ingest's cost proportional to the BATCH:

- index layout: (doc_id, band, h) PARTITIONED BY band and
  liquid-clustered on the band hash `h` (per-file [min,max] on `h` in
  the manifest), so the candidate probe prunes at two levels before
  any row is read.
- ``ingest_batch``: band the new docs (row-local minhash, same md5
  family as the oracle-verified gate queries), probe the index for
  (band, h) collisions against EXISTING docs, self-pair the batch,
  then append the new bands to the index — one atomic commit, so a
  replayed batch can be guarded by the caller with the table's
  idempotency primitives.

Equivalence contract (tests/test_llm_ops.py): ingesting a corpus in
any batch split yields exactly the same candidate-pair set as the
one-shot `lsh_candidate_pairs` gate query over the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.functions import textexpr as tx
from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
    release_cached,
)
from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable


def band_table(docs: DataFrame) -> DataFrame:
    """(doc_id, band, h) LSH band rows for a document frame — row-local
    minhash signatures (2 md5 digests per shingle, sliced into the
    signature components) then one banded hash per band. Import-time
    constants shared with the gate queries in plans/documents."""
    from real_time_e_commerce_analytics_lakehouse_spark.plans.documents import (
        N_BANDS,
        N_MINHASH,
        _digests,
    )

    toks = docs.select(
        "doc_id", F.expr(tx.tokens("text", "spark")).alias("t")
    )
    digs = toks.select("doc_id", F.expr(_digests("spark")).alias("hx"))
    sig = digs.select(
        "doc_id",
        *[
            F.expr(tx.minhash_component("hx", j, "spark")).alias(f"mh_{j}")
            for j in range(N_MINHASH)
        ],
    )
    # r11 (guide §2.4): ONE explode over a per-doc band-struct array —
    # the same single-scan spelling plans/documents.lsh_candidate_pairs
    # adopted in r8 — replaces the N_BANDS-branch union whose persist
    # existed only to stop each branch re-running the md5-heavy
    # tokenize+digest+minhash pipeline (~8x measured there). The
    # signature lambdas now evaluate exactly once per doc with no
    # cache to fill or lease to release; row order differs from the
    # union (per-doc instead of per-band) but every consumer is a
    # join/distinct/append. The generator input is a non-attribute
    # expression, so InferFiltersFromGenerate cannot re-plant the
    # chain below an upstream exchange (the ngram_jaccard lesson).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat(f"mh_{2 * b}", f"mh_{2 * b + 1}")).alias("h"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select(
        "doc_id", F.explode(band_structs).alias("bh")
    ).select("doc_id", "bh.band", "bh.h")


def create_dedup_index(spark: SparkSession, path: str) -> LakeTable:
    """The persisted band index: partitioned by band, clustered on the
    band hash so probes skip files whose [min,max] h-range cannot
    collide with the batch."""
    return LakeTable(
        spark, path, partition_by=["band"], cluster_by=["h"]
    )


def ingest_batch(
    spark: SparkSession,
    index: LakeTable,
    batch: DataFrame,
    batch_id: int | None = None,
    txn_app: str = "incdedup",
) -> DataFrame:
    """Dedup-candidate pairs contributed by `batch` (new-vs-existing
    and new-vs-new), then append the batch's bands to the index.

    Returns (doc_a, doc_b) with doc_a < doc_b, distinct. Cost: banding
    is row-local over the batch; the probe joins the batch's bands
    (small side, broadcast by AQE) against the index scan; the
    self-pair is a batch-sized join. The existing corpus is never
    self-paired again.

    Idempotency (r5 review): the pair RESULT is materialized BEFORE the
    index append, so a failure leaves the index without the batch (the
    natural retry re-ingests cleanly); and passing `batch_id` routes the
    append through the table's txn ledger (append_once) so replaying an
    already-ingested batch — the foreachBatch at-least-once case —
    appends nothing (the returned pairs are recomputed, which is
    harmless: they are deterministic). Without `batch_id` the caller
    owns replay protection."""
    nb = band_table(batch)
    # referenced three times (probe, self-pair both sides, append)
    nb = nb.persist()
    try:
        a = nb.alias("a")
        within = (
            a.join(
                nb.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
        )
        exists = index.exists()
        if exists:
            ex = index.read().alias("x")
            vs_existing = (
                a.join(
                    ex,
                    (F.col("a.band") == F.col("x.band"))
                    & (F.col("a.h") == F.col("x.h"))
                    & (F.col("a.doc_id") != F.col("x.doc_id")),
                )
                .select(
                    F.least("a.doc_id", "x.doc_id").alias("doc_a"),
                    F.greatest("a.doc_id", "x.doc_id").alias("doc_b"),
                )
            )
            pairs = within.unionByName(vs_existing)
        else:
            pairs = within
        # materialize the RESULT first: if this fails, the index has not
        # advanced and the retry re-ingests without duplicate bands
        out = pairs.distinct().persist()
        out.count()
        if batch_id is not None:
            index.append_once(nb, txn_app=txn_app, txn_version=batch_id)
        elif exists:
            index.append(nb)
        else:
            index.overwrite(nb)
    finally:
        nb.unpersist()
        release_cached(nb)
    # the caller releases the result's own cache when done
    # (operators.simsearch.release_cached) — previously it leaked one
    # cached pair frame per ingest in a long-lived session
    out._cached_deps = [out]
    return out
