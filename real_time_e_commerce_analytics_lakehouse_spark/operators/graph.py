"""Distributed connected components — duplicate-cluster resolution.

The dedup family (LSH candidates -> Jaccard verify) emits duplicate
PAIRS; turning pairs into KEEP/DROP decisions needs the transitive
closure: A~B and B~C put all three in one cluster even when A and C are
not directly similar. The reference has no analog (its dedup is
single-table `dropDuplicates`, 02_bronze_to_silver.py:66); this is the
standard production step between near-dup detection and survivor
selection in a training-data pipeline.

One algorithm: alternating large-star / small-star EDGE REWIRING — the
published MapReduce formulation (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) with an O(log^2 n) round guarantee.
Rounds rewire edges toward local minima, so distances shrink
multiplicatively and the edge set itself contracts as it converges:
each round's shuffle gets CHEAPER. Min-label propagation, by contrast,
moves labels one edge per round on graphs whose vertex ids are
uncorrelated with position (r9, the sf0.1 levenshtein name graph's
~190-vertex chains: 26 rounds and 32.5 s vs 6.5 s for star rounds).

Scale notes:
- Each star step is ONE exchange: m is a min over a window
  partitioned by u, not a groupBy joined back to the edges, and both
  orientations of an edge come from one scan. A round is three
  exchanges (two star windows, the canonical distinct) plus the
  digest's one-row aggregate.
- Each round's edge set is lineage-truncated (localCheckpoint) —
  without this the plan doubles every iteration and the driver dies
  planning round ~15 — and persisted, so later plans see its real
  materialized size instead of the estimate the checkpoint inherits.
- Every frame a call materializes is released on every exit, raise
  paths included, on both layers: the cache entry and the checkpoint
  blocks (operators/simsearch.release_frame). The result is itself a
  local checkpoint; its lease rides the result (`_cached_deps`), so
  callers pass it on and free it with release_cached after their
  action.
- Convergence is certified by TWO independently-seeded hash digests of
  the canonical edge set (sums of per-row hashes mod distinct primes —
  type-agnostic and overflow-safe): an unchanged digest pair across
  consecutive rounds IS the fixpoint — one tiny agg action per round
  instead of a changed-rows join, and a false certification needs both
  digests to collide in the same round (~1/p²).
- The fixpoint (vertex -> min vertex id of its component) is unique,
  so results are deterministic and hash-exact against the DuckDB
  recursive-CTE oracle (plans/documents.py:neardup_clusters).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
    release_frame,
)


def _edge_digest(df: DataFrame) -> tuple:
    """(digest, digest, row count) of an edge set, in one aggregate.

    Both endpoints hash into one column first — digesting a single side
    could certify a changed edge set whose one-sided multiset happened
    to match. Each digest is a sum of per-row hashes reduced mod a prime
    (works for any id type; a raw xxhash64 sum overflows BIGINT under
    ANSI). TWO independent digests (the second salted, so a different
    hash function): one digest could collide between consecutive rounds
    and silently certify a non-fixpoint; both colliding in the same
    round is ~1/p² instead of ~1/p, and they share one pass."""
    h = df.select(F.xxhash64("u", "v").alias("h"))
    return tuple(
        h.agg(
            F.sum(F.pmod(F.xxhash64("h"), F.lit(1_000_000_007))),
            F.sum(
                F.pmod(F.xxhash64(F.lit("cc-salt-2"), "h"), F.lit(998_244_353))
            ),
            F.count(F.lit(1)),
        ).collect()[0]
    )


def _uv(u: str, v: str):
    """Columns u, v as one (u, v) struct, for inline(array(...))."""
    return F.struct(F.col(u).alias("u"), F.col(v).alias("v"))


def _star_min():
    """m = min(G(u) ∪ {u}), windowed per u: one exchange per step."""
    return F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertex_col: str = "vertex",
    component_col: str = "component",
    max_rounds: int = 40,
    round_stats: list | None = None,
) -> DataFrame:
    """Connected components of an undirected edge list.

    Returns one row per vertex that appears in `edges`:
    (vertex_col, component_col) where component = the minimum vertex id
    in the component (a canonical, deterministic cluster id). Vertices
    with no edges are not emitted — left-join the result back onto the
    full vertex set and coalesce to the vertex id for singleton
    clusters. Vertex ids must be orderable and non-null. The result
    carries its own checkpoint lease (`_cached_deps`): pass it on to
    whatever frame you return, or release_cached it after the action.

    Per round over the undirected edge set E (self-loops dropped):
      large-star: for each node u with neighborhood G(u), m =
        min(G(u) ∪ {u}); replace the edges to u's LARGER neighbors
        with (x, m) for x in G(u), x > u.
      small-star: canonicalize each edge to (larger, smaller); for
        each u over its smaller neighbors G-(u), m = min(G-(u) ∪ {u});
        emit (x, m) for x in (G-(u) ∪ {u}) \\ {m}.
    Both preserve connectivity (proved in the paper); the fixpoint is
    a star forest whose roots are component minima.

    ``max_rounds`` bounds the loop (RuntimeError past it); the round
    count is O(log^2 n), and real duplicate clusters converge in 2-3.

    ``round_stats`` (the soak instrumentation): pass a list and each
    completed round appends ``{"round", "edges", "seconds"}`` where
    ``edges`` is the rewired edge-set size AFTER the round — the
    contraction curve (each round's shuffle gets cheaper). The count
    rides the round's digest aggregate, so it costs no extra job."""
    held: list[DataFrame] = []  # released in `finally`, on every exit

    def _materialize(df: DataFrame) -> DataFrame:
        # checkpoint truncates LINEAGE, persist fixes STATS: Spark's
        # localCheckpoint copies the origin plan's ESTIMATED
        # sizeInBytes into the new LogicalRDD, and caching substitutes
        # an InMemoryRelation with the REAL materialized size into
        # every later plan (r9: unchecked estimates grew every round
        # until the driver spent minutes costing one plan).
        # r11: eager=False — the edge digest (or, for verts, the final
        # labels join) is the first job over the frame and performs the
        # checkpoint + cache fill inside itself, saving one eager
        # materialization job per round. CONTRACT: run an action on the
        # returned frame before releasing its inputs, or the lazy
        # checkpoint recomputes through a released cache. Upheld here:
        # each round's edge digest precedes releasing the previous edge
        # set, and the final labels join is eager-checkpointed before
        # the `finally` releases verts and e.
        cp = df.localCheckpoint(eager=False).persist()
        held.append(cp)
        return cp

    try:
        # r12 (guide §2.4/§5): persist the normalized edge input — it is
        # read THREE times (the vertex set unions both endpoint columns,
        # and e filters self-loops), so without the cache the caller's
        # whole upstream edge pipeline (for entity_resolution_parts: the
        # blocked levenshtein self-join + three hash joins) re-executed
        # once per branch.
        raw = (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
            .persist()
        )
        held.append(raw)
        # vertex set BEFORE dropping self-loops: a vertex appearing only
        # in a self-loop is a singleton that must still get a row
        verts = _materialize(
            raw.select(F.col("u").alias("x"))
            .union(raw.select(F.col("v").alias("x")))
            .distinct()
        )
        e = _materialize(raw.filter(F.col("u") != F.col("v")).distinct())

        # r12 (guide §1/§2: fewer passes): no standalone pre-loop digest
        # — round 1's digest job materializes e's lazy checkpoint anyway,
        # so the loop compares round k against round k-1. A graph that
        # is already a fixpoint pays one extra (cheap, contracted)
        # round; every other graph saves exactly one job.
        prev: tuple | None = None
        for rnd in range(1, max_rounds + 1):
            t0 = time.perf_counter()
            # ---- large-star: ONE exchange (the window's, on u) ---------
            sym = e.select(F.inline(F.array(_uv("u", "v"), _uv("v", "u"))))
            ls = sym.withColumn("m", _star_min()).where(
                (F.col("v") > F.col("u")) & (F.col("v") != F.col("m"))
            )
            # every edge is processed exactly once, at its SMALLER
            # endpoint's star: (u, v) with v > u becomes (v, m(u)) — the
            # original edge is REPLACED, not kept (the paper's
            # operation; connectivity is preserved because u's own link
            # to m(u) is an existing edge processed at m(u)'s star).
            # r12 (guide §2.4): NO mid-round distinct — the large-star
            # output flows into small-star as a multiset. m is a MIN, so
            # duplicate rows cannot change it, and the round's final
            # distinct collapses duplicate emissions.
            # ---- small-star: ONE exchange (the window's, on u) ---------
            canon = ls.select(
                F.greatest("v", "m").alias("u"), F.least("v", "m").alias("v")
            )
            # r11 (guide §2.4): ONE distinct. Every small-star output is
            # already canonically ordered — (v, m) has m <= v and (u, m)
            # has m <= v < u — so the greatest/least projection below is
            # free and pins the invariant the digest relies on; the
            # dedup runs once, on the canonical form.
            ss = (
                canon.withColumn("m", _star_min())
                .select(F.inline(F.array(_uv("v", "m"), _uv("u", "m"))))
                .where(F.col("u") != F.col("v"))
            )
            prev_e = e
            e = _materialize(
                ss.select(
                    F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"),
                ).distinct()
            )
            new = _edge_digest(e)
            held.remove(prev_e)
            release_frame(prev_e)
            if round_stats is not None:
                round_stats.append(
                    {
                        "round": rnd,
                        "edges": new[2],
                        "seconds": round(time.perf_counter() - t0, 3),
                    }
                )
            if new == prev:
                break
            prev = new
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds"
            )
        # fixpoint: a star forest (u -> component min). Roots appear only
        # on the v side; every vertex from the ORIGINAL edge set gets a
        # row (roots label themselves).
        out = (
            verts.join(e, verts["x"] == e["u"], "left")
            .select(
                F.col("x").alias(vertex_col),
                F.coalesce(F.col("v"), F.col("x")).alias(component_col),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        for f in held:
            release_frame(f)
    out._cached_deps = [out]
    return out


def resolve_duplicate_clusters(
    pairs: DataFrame,
    all_docs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
) -> DataFrame:
    """Survivor selection over duplicate pairs: transitive clusters via
    connected components, keep the minimum id of each cluster. Returns
    `all_docs` filtered to survivors (singletons — docs in no pair —
    always survive), carrying the components' lease (`_cached_deps`)."""
    comps = connected_components(pairs, src=pair_a, dst=pair_b)
    losers = comps.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias(id_col)
    )
    out = all_docs.join(losers, id_col, "left_anti")
    out._cached_deps = comps._cached_deps
    return out
