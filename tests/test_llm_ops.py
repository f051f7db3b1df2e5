"""Unit/property tests for the LLM-data operators beyond the oracle gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
    decode_images,
    deterministic_fake_decode,
    extract_binary_features,
)
from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES


def _payload_df(spark):
    rows = [(1, "hello world"), (2, "x" * 1000), (3, "")]
    return spark.createDataFrame(rows, "id long, text string").select(
        "id", F.encode("text", "UTF-8").alias("payload")
    )


def test_multimodal_feature_plumbing(spark) -> None:
    out = extract_binary_features(_payload_df(spark), id_col="id").orderBy("id").collect()
    assert [r.n_bytes for r in out] == [11, 1000, 0]
    import hashlib

    assert out[0].content_hash == hashlib.md5(b"hello world").hexdigest()


def test_multimodal_fake_decode_schema_and_determinism(spark) -> None:
    out1 = deterministic_fake_decode(_payload_df(spark), id_col="id").orderBy("id").collect()
    out2 = deterministic_fake_decode(_payload_df(spark), id_col="id").orderBy("id").collect()
    assert out1 == out2
    assert out1[0].width == 12 and out1[0].n_channels == 3


def test_real_pixel_decode_png_bmp_and_corrupt_rows(spark) -> None:
    """decode_images is REAL for PNG/BMP: a solid-color 4x2 raster decodes
    to its exact dimensions and Rec.601 luma; non-raster payloads (and
    entropy-coded formats) surface as NULL rows, not exceptions."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        encode_bmp_rgb,
        encode_png_rgb,
    )

    px = [[(10, 20, 30)] * 4 for _ in range(2)]
    rows = [(1, encode_png_rgb(px)), (2, encode_bmp_rgb(px)), (3, b"not an image")]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r.id: r for r in decode_images(df, id_col="id").collect()}
    expected_luma = 0.299 * 10 + 0.587 * 20 + 0.114 * 30
    for i in (1, 2):
        assert (out[i].width, out[i].height, out[i].n_channels) == (4, 2, 3)
        assert out[i].mean_luma == pytest.approx(expected_luma)
    assert out[3].width is None and out[3].mean_luma is None


def test_pixel_codec_filter_coverage_and_truncation() -> None:
    """The PNG encoder cycles all five filter types; a 6-row image hence
    covers None/Sub/Up/Average/Paeth plus a repeat — round-trip equality
    proves every unfilter branch. Truncated streams decode to None."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        decode_bmp_rgb,
        decode_png_rgb,
        encode_bmp_rgb,
        encode_png_rgb,
    )

    px = [
        [((x * 31 + y * 57) % 256, (x * 5 + y) % 256, (x + y * 13) % 256) for x in range(7)]
        for y in range(6)
    ]
    png, bmp = encode_png_rgb(px), encode_bmp_rgb(px)
    assert decode_png_rgb(png) == px
    assert decode_bmp_rgb(bmp) == px
    assert decode_png_rgb(png[:-20]) is None  # truncated IDAT/IEND
    assert decode_bmp_rgb(bmp[: len(bmp) // 2]) is None


def test_gif_lzw_table_reset_and_robustness(spark) -> None:
    """A 200x120 raster over a full 256-color palette pushes the LZW
    dictionary past 4096 entries, forcing 12-bit codes, a mid-stream
    clear code, and table rebuild — round-trip equality proves the
    reset path on BOTH sides. Truncated/garbage streams decode to
    None, and the Spark decode surfaces them as NULL rows. GIF rows
    flow through decode_pixel_stats with format='gif'."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        decode_gif_rgb,
        decode_pixel_stats,
        encode_gif_rgb,
    )

    w, h = 200, 120
    pal = [(i, (i * 3) % 256, (i * 7) % 256) for i in range(256)]
    px = [
        [pal[(x * x + y * 3 + (x * y) // 7) % 256] for x in range(w)]
        for y in range(h)
    ]
    gif = encode_gif_rgb(px)
    assert decode_gif_rgb(gif) == px
    assert decode_gif_rgb(gif[:40]) is None
    assert decode_gif_rgb(b"GIF89a" + b"\x00" * 7) is None
    # >256 colors is outside the GIF model — encoder refuses
    rich = [[(x % 256, y % 256, (x + y) % 256) for x in range(64)] for y in range(32)]
    with pytest.raises(ValueError):
        encode_gif_rgb(rich)

    small = [[pal[(x + 2 * y) % 16] for x in range(6)] for y in range(4)]
    rows = [(1, encode_gif_rgb(small)), (2, gif[:40])]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r.id: r for r in decode_pixel_stats(df, id_col="id").collect()}
    assert out[1].format == "gif"
    assert (out[1].width, out[1].height, out[1].n_pixels) == (6, 4, 24)
    assert out[1].sum_r == sum(p[0] for row in small for p in row)
    assert out[2].format is None and out[2].sum_r is None


def test_video_frame_sampling_demux_and_robustness(spark) -> None:
    """sample_video_frames is a real demux: every Nth frame's bytes are
    sliced out of mdat by the resolved sample table and pixel-decoded.
    A non-MP4 payload contributes zero rows (no sample table = no
    frames); an MP4 whose frame bytes are garbage still emits its demux
    rows (frame_index/ts/n_bytes from the table) with NULL pixel stats
    — corrupt frames are data. stride striding: every_n=3 over 7
    frames samples indices 0,3,6."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        encode_jpeg_gray_coeffs,
        sample_video_frames,
        synthesize_mp4_media,
    )

    def frame(g):
        blk = [0] * 64
        blk[0] = 8 * (g - 128)
        return encode_jpeg_gray_coeffs([blk], 8, 8)

    good = synthesize_mp4_media(1000, 40, 8, 8, [frame(40 + f) for f in range(7)])
    junk_frames = synthesize_mp4_media(600, 25, 8, 8, [b"\xde\xad\xbe\xef" * 4] * 4)
    rows = [(1, good), (2, b"not a video"), (3, junk_frames)]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = sample_video_frames(df, every_n=3, id_col="id").collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r.id, []).append(r)
    assert 2 not in by_id
    g1 = sorted(by_id[1], key=lambda r: r.frame_index)
    assert [r.frame_index for r in g1] == [0, 3, 6]
    assert [r.ts_ms for r in g1] == [0, 120, 240]
    assert all(r.width == 8 and r.height == 8 for r in g1)
    assert [r.sum_v for r in g1] == [64 * 40, 64 * 43, 64 * 46]
    g3 = sorted(by_id[3], key=lambda r: r.frame_index)
    assert [r.frame_index for r in g3] == [0, 3]
    assert all(r.n_bytes == 16 and r.width is None and r.sum_v is None for r in g3)


def test_exact_duplicates_always_lsh_candidates(spark, sf_dir) -> None:
    """An exact duplicate has Jaccard 1 => identical minhash signature =>
    identical band hashes => guaranteed candidate pair (deterministic,
    unlike near-dup recall which is probabilistic)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    both = docs.unionByName(dup)

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        both.write.mode("overwrite").parquet(os.path.join(td, "documents.parquet"))
        pairs = QUERIES["lsh_candidate_pairs"].builder(spark, td).collect()
        found = {(r.doc_a, r.doc_b) for r in pairs}
        for i in [r.doc_id for r in docs.select("doc_id").collect()]:
            assert (i, i + 100000) in found, f"dup pair {i} missing from LSH candidates"


def test_ann_results_subset_of_bucket(spark, sf_dir) -> None:
    """Every ANN hit must share the query's LSH bucket."""
    buckets = {
        r.vec_id: r.bucket
        for r in QUERIES["ann_lsh_buckets"].builder(spark, sf_dir).collect()
    }
    hits = QUERIES["ann_lsh_topk"].builder(spark, sf_dir).collect()
    assert hits, "ANN returned nothing"
    for r in hits:
        assert buckets[r.vec_id] == buckets[r.query_id]


def test_ann_sims_match_bruteforce_scores(spark, sf_dir) -> None:
    """ANN cosine values agree with the brute-force scores for the same
    (query, vec) pairs — the bucket prefilter must not change scoring."""
    bf = {
        (r.query_id, r.vec_id): r.cosine_sim
        for r in QUERIES["cosine_topk_bruteforce"].builder(spark, sf_dir).collect()
    }
    for r in QUERIES["ann_lsh_topk"].builder(spark, sf_dir).collect():
        if (r.query_id, r.vec_id) in bf:
            assert abs(bf[(r.query_id, r.vec_id)] - r.cosine_sim) < 1e-9


def test_image_header_codec_roundtrip_and_robustness(spark) -> None:
    """The container codec parses what it writes for every format, and
    treats corrupt/truncated/alien bytes as data (None), not errors."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        parse_image_header,
        parse_image_headers,
        synthesize_image,
    )

    for fmt, depth in (("png", 8), ("gif", 8), ("bmp", 24), ("jpeg", 8)):
        b = synthesize_image(fmt, 641, 123)
        assert parse_image_header(b) == (fmt, 641, 123, depth), fmt
        # any truncation must yield None, never raise
        for cut in range(len(b)):
            assert parse_image_header(b[:cut]) is None or cut >= 10
    assert parse_image_header(b"not an image at all") is None
    assert parse_image_header(b"") is None
    # JPEG with EOI before any SOF marker: recognized but dimensionless
    assert parse_image_header(b"\xff\xd8\xff\xd9\x00\x00") is None
    # distributed path emits NULL rows for the unparseable payloads
    rows = [(1, synthesize_image("png", 10, 20)), (2, b"garbage")]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: (r.format, r.width, r.height) for r in
           parse_image_headers(df, id_col="id").collect()}
    assert got[1] == ("png", 10, 20)
    assert got[2] == (None, None, None)


def test_wav_header_codec_roundtrip_and_robustness(spark) -> None:
    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        parse_wav_header,
        synthesize_wav,
    )

    b = synthesize_wav(16000, 2, 16000 * 3)  # 3s stereo
    assert parse_wav_header(b) == (16000, 2, 16, 3000)
    for cut in range(len(b)):  # truncation never raises
        parse_wav_header(b[:cut])
    assert parse_wav_header(b"RIFFxxxxNOPE") is None
    assert parse_wav_header(b"") is None
    # zero-rate fmt chunk is data corruption, not a crash
    import struct as _s
    corrupt = bytearray(b)
    corrupt[12 + 8 + 4 : 12 + 8 + 8] = _s.pack("<I", 0)
    assert parse_wav_header(bytes(corrupt)) is None


def test_pq_adc_recall_vs_exact_l2(spark, sf_dir) -> None:
    """PQ is an approximation; prove it is a USEFUL one: the ADC top-3
    per query must recover a decent fraction of the exact squared-L2
    top-3 (recall@3 over all queries), not just self-consistent codes."""
    import duckdb
    import os

    from real_time_e_commerce_analytics_lakehouse_spark.plans.embeddings import (
        N_QUERIES,
        PQ_TOPK,
    )

    con = duckdb.connect()
    pq_path = os.path.join(sf_dir, "embeddings.parquet")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq_path}')"
    )
    exact = con.execute(f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings)
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, v.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_distance(q.emb, v.emb) ASC,
                                v.vec_id ASC) AS rk
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rk <= {PQ_TOPK}
    """).fetchall()
    truth = set(map(tuple, exact))
    got = {
        (r.query_id, r.vec_id)
        for r in QUERIES["pq_adc_topk"].builder(spark, sf_dir).collect()
    }
    # The synthetic embeddings are near-uniform in 64-dim (NN distance
    # ~1.15 vs median ~1.41, labels uncorrelated with geometry), the
    # hardest possible regime for PQ: chance recall@3 is 3/499 = 0.006.
    # Measured recall is ~0.33 (55x chance); assert a safety margin
    # above 0.15, plus that the average PQ hit sits in the best ~25%
    # of the exact-distance ranking (measured mean percentile ~0.12).
    recall = len(got & truth) / len(truth)
    assert recall >= 0.15, f"PQ recall@{PQ_TOPK} too low: {recall:.2f}"
    exact_rank = {
        (q, v): rk
        for q, v, rk in con.execute(f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                       FROM embeddings)
            SELECT q.vec_id, v.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_distance(q.emb, v.emb) ASC,
                                v.vec_id ASC) AS rk
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        """).fetchall()
    }
    n_corpus = len({v for _, v in exact_rank}) + 1
    pctl = [exact_rank[k] / n_corpus for k in got]
    mean_pctl = sum(pctl) / len(pctl)
    assert mean_pctl <= 0.25, f"PQ hits not near: mean pctl {mean_pctl:.2f}"


def test_ivf_index_matches_inline_training(spark, sf_dir, tmp_path) -> None:
    """The persisted-index query path returns EXACTLY what the inline
    gate query (ivf_kmeans_topk, oracle-verified) computes — training
    once and querying from the index loses nothing."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.vecindex import (
        build_ivf_index,
        ivf_index_topk,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans.embeddings import (
        KM_CELLS,
        KM_ROUNDS,
        N_PROBE,
        N_QUERIES,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf_index")
    ct, at = build_ivf_index(
        spark, emb, idx, n_cells=KM_CELLS, rounds=KM_ROUNDS
    )
    assert ct.read().count() == KM_CELLS
    assert at.read().count() == emb.count()

    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    got = {
        (r.query_id, r.vec_id, r.rank, r.cosine_sim)
        for r in ivf_index_topk(
            spark, emb, idx, queries, k=3, n_probe=N_PROBE,
            exclude_self=True,  # queries ARE corpus rows here
        ).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.rank, r.cosine_sim)
        for r in QUERIES["ivf_kmeans_topk"].builder(spark, sf_dir).collect()
    }
    assert got == want

    # index reuse: a second query batch hits the same persisted index
    # without retraining (new LakeTable versions would mean a rebuild)
    v_before = (ct.latest_version(), at.latest_version())
    ivf_index_topk(
        spark, emb, idx, queries.limit(2), k=1, exclude_self=True
    ).collect()
    assert (ct.latest_version(), at.latest_version()) == v_before


def test_incremental_lsh_dedup_matches_one_shot(spark, sf_dir, tmp_path) -> None:
    """Ingesting the corpus in two batches through the persisted band
    index yields EXACTLY the candidate pairs of the one-shot gate query
    over the full corpus — the incremental path loses nothing and the
    existing corpus is never re-paired with itself."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.incdedup import (
        create_dedup_index,
        ingest_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    idx = create_dedup_index(spark, str(tmp_path / "lsh_index"))
    pairs = set()
    for batch in (b1, b2):
        got = ingest_batch(spark, idx, batch)
        pairs |= {(r.doc_a, r.doc_b) for r in got.collect()}
        got.unpersist()

    want = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["lsh_candidate_pairs"].builder(spark, sf_dir).collect()
    }
    assert pairs == want
    # the index holds every doc's bands, partitioned by band
    from real_time_e_commerce_analytics_lakehouse_spark.plans.documents import N_BANDS

    assert idx.read().count() == docs.count() * N_BANDS
    parts = {u.partition.get("band")
             for u in idx._read_manifest(idx.latest_version())}
    assert len(parts) == N_BANDS


def test_int8_quantized_topk_recall_vs_exact_dot(spark, sf_dir) -> None:
    """int8 scalar quantization is far gentler than PQ (64 codes vs 4):
    its dequantized top-10 should recover nearly all of the exact
    float dot-product top-10."""
    import duckdb
    import os

    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.plans.embeddings import (
        N_QUERIES,
        TOP_K,
    )

    con = duckdb.connect()
    pq_path = os.path.join(sf_dir, "embeddings.parquet")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq_path}')"
    )
    exact = con.execute(f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings)
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, v.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(q.emb, v.emb) DESC,
                                v.vec_id ASC) AS rk
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    """).fetchall()
    truth = set(map(tuple, exact))

    got = {
        (r.query_id, r.vec_id)
        for r in QUERIES["int8_quantized_topk"].builder(spark, sf_dir).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"int8 recall@{TOP_K} too low: {recall:.2f}"


def test_mp4_header_codec_roundtrip_and_robustness(spark) -> None:
    """ISO-BMFF codec: parses what it writes (any box order, unknown
    boxes skipped by size), treats corrupt/truncated bytes as data."""
    import struct as _s

    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        parse_mp4_header,
        parse_mp4_headers,
        synthesize_mp4,
    )

    b = synthesize_mp4(1000, 5400, 1280, 720)
    assert parse_mp4_header(b) == ("isom", 1000, 5400, 1280, 720)
    # floor-ms arithmetic: 90000 ticks/s, 12345 ticks -> 137 ms
    assert parse_mp4_header(synthesize_mp4(90000, 12345, 1, 1))[2] == 137
    # unknown boxes (free / mdat) before moov are skipped by size
    free = _s.pack(">I", 16) + b"free" + b"\x00" * 8
    mdat = _s.pack(">I", 12) + b"mdat" + b"\xab" * 4
    ftyp, moov = b[: _s.unpack(">I", b[:4])[0]], b[_s.unpack(">I", b[:4])[0]:]
    assert parse_mp4_header(ftyp + free + mdat + moov) == (
        "isom", 1000, 5400, 1280, 720,
    )
    for cut in range(len(b)):  # truncation never raises
        parse_mp4_header(b[:cut])
    assert parse_mp4_header(b"") is None
    assert parse_mp4_header(b"RIFF\x00\x00\x00\x00WAVE") is None
    # declared box size overrunning the buffer is corruption, not a crash
    overrun = bytearray(b)
    overrun[0:4] = _s.pack(">I", len(b) + 100)
    assert parse_mp4_header(bytes(overrun)) is None
    # zero timescale in mvhd is data corruption -> None
    zt = bytearray(synthesize_mp4(1, 10, 2, 2))
    i = bytes(zt).find(b"mvhd")
    zt[i + 16 : i + 20] = _s.pack(">I", 0)
    assert parse_mp4_header(bytes(zt)) is None
    # distributed path: NULL rows for unparseable payloads
    rows = [(1, synthesize_mp4(600, 1200, 320, 240)), (2, b"not a video")]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: (r.brand, r.timescale, r.duration_ms, r.width, r.height)
           for r in parse_mp4_headers(df, id_col="id").collect()}
    assert got[1] == ("isom", 600, 2000, 320, 240)
    assert got[2] == (None, None, None, None, None)


def test_matryoshka_recall_vs_exact_cosine(spark, sf_dir) -> None:
    """The prefix coarse stage is the approximation; prove it is a
    useful one. On the near-uniform synthetic embeddings the 16/64
    prefix carries only 1/4 of the signal (real MRL embeddings
    front-load it), so calibrate against chance: a random coarse stage
    keeping 50 of n vectors would hit recall ~= 50/n (0.1 at sf0.001);
    measured 0.44 — assert >= 3x chance."""
    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.plans.embeddings import (
        MRL_COARSE_K,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table

    truth = {
        (r.query_id, r.vec_id)
        for r in QUERIES["cosine_topk_bruteforce"].builder(spark, sf_dir).collect()
    }
    got = {
        (r.query_id, r.vec_id)
        for r in QUERIES["matryoshka_prefix_topk"].builder(spark, sf_dir).collect()
    }
    n = table(spark, sf_dir, "embeddings").count()
    chance = MRL_COARSE_K / n
    recall = len(got & truth) / len(truth)
    assert recall >= 3 * chance, (
        f"matryoshka recall@10 {recall:.2f} not above 3x chance {chance:.2f}"
    )


def test_bpe_merges_match_reference_python(spark, sf_dir):
    """The SQL double-space trick must implement REAL BPE, not just be
    self-consistent across the two SQL engines: re-derive the merge
    table with a straightforward Python reference implementation
    (Sennrich et al. 2016, word-frequency weighted, lexicographic
    tie-break) and require identical (pair, count) per rank."""
    from collections import Counter

    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.plans.bpe import BPE_ROUNDS
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table

    docs = [r.text for r in table(spark, sf_dir, "documents").collect()]
    words = Counter()
    for t in docs:
        for w in t.strip().lower().split():
            words[w] += 1
    vocab = {w: list(w) for w in words}

    expected = []
    for _ in range(BPE_ROUNDS):
        pc = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += words[w]
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((l, r, l + r, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out

    got = sorted(
        (r.rank, r.lhs, r.rhs, r.merged, r.n_pairs)
        for r in QUERIES["bpe_learned_merges"].builder(spark, sf_dir).collect()
    )
    want = [(k + 1, *e) for k, e in enumerate(expected)]
    assert got == want, (got, want)


def test_logreg_gd_learns_signal(spark, sf_dir):
    """The GD trajectory must actually LEARN: the token-count weight
    (the feature the label is built from) grows positive and
    monotonically across rounds, and the bias moves toward the class
    prior rather than away."""
    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES

    rows = {
        r.round: r
        for r in QUERIES["logreg_quality_gd"].builder(spark, sf_dir).collect()
    }
    assert set(rows) == {1, 2, 3}
    w = [rows[k].w_tokens for k in (1, 2, 3)]
    assert w[0] > 0 and w[0] < w[1] < w[2], w


def test_chunk_udtf_matches_jvm_chunker(spark, sf_dir) -> None:
    """The Python UDTF spelling of the sliding chunker (LATERAL table
    function) agrees row-for-row with the JVM expression pipeline the
    engine ships as the production path."""
    from real_time_e_commerce_analytics_lakehouse_spark.functions.udtfs import (
        chunk_tokens_udtf,
    )

    spark.udtf.register("chunk_tokens", chunk_tokens_udtf)
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40).createOrReplaceTempView(
        "docs_u"
    )
    via_udtf = spark.sql(
        "SELECT d.doc_id, c.chunk_index, c.token_start, c.chunk_tokens, "
        "c.chunk_text FROM docs_u d, LATERAL chunk_tokens(d.text, 40, 20) c"
    )
    jvm = QUERIES["chunk_documents_sliding"].builder(spark, sf_dir)
    ids = {r.doc_id for r in via_udtf.select("doc_id").distinct().collect()}
    jvm = jvm.where(F.col("doc_id").isin(list(ids)))
    assert sorted(map(tuple, via_udtf.collect())) == sorted(map(tuple, jvm.collect()))


def test_grouped_agg_pandas_udaf_matches_jvm(spark, sf_dir) -> None:
    """pandas_udf GROUPED_AGG (vectorized UDAF): geometric mean per
    order status agrees with the JVM exp(avg(ln(x))) spelling to float
    tolerance — the UDF-surface escape hatch for aggregates without an
    expression form."""
    from real_time_e_commerce_analytics_lakehouse_spark.functions.udtfs import (
        geometric_mean_udaf,
    )

    geo = geometric_mean_udaf()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    via_udaf = {
        r.o_orderstatus: r.gm
        for r in orders.groupBy("o_orderstatus")
        .agg(geo("o_totalprice").alias("gm"))
        .collect()
    }
    via_jvm = {
        r.o_orderstatus: r.gm
        for r in orders.groupBy("o_orderstatus")
        .agg(F.exp(F.avg(F.log("o_totalprice"))).alias("gm"))
        .collect()
    }
    assert via_udaf.keys() == via_jvm.keys()
    for k in via_jvm:
        assert abs(via_udaf[k] - via_jvm[k]) / via_jvm[k] < 1e-9


def test_degenerate_rasters_are_data_not_exceptions(spark) -> None:
    """A crafted BMP with biHeight=0 (passes every header guard) and a
    0-width PNG must surface as NULL rows, not kill the task
    (regression: raster_stats indexed px[0] on an empty raster)."""
    import struct

    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        decode_pixel_stats,
        encode_bmp_rgb,
        encode_png_rgb,
    )

    zero_h = bytearray(encode_bmp_rgb([[(1, 2, 3)]]))
    zero_h[22:26] = struct.pack("<i", 0)  # biHeight = 0
    rows = [
        (1, bytes(zero_h)),
        (2, encode_png_rgb([[(9, 9, 9)]])),  # healthy 1x1 control
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r.id: r for r in decode_pixel_stats(df, id_col="id").collect()}
    assert out[1].width is None and out[1].sum_r is None
    assert (out[2].width, out[2].height, out[2].sum_r) == (1, 1, 9)


def test_jpeg_baseline_roundtrip_vs_direct_idct() -> None:
    """The baseline JPEG decoder (canonical Huffman + DC prediction +
    byte unstuffing + dequant + IDCT) reproduces the textbook direct
    IDCT for RANDOM coefficient blocks — entropy coding exercised far
    beyond the exactly-invertible patterns the oracle query uses."""
    import math
    import random

    import numpy as np

    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray_coeffs,
    )

    def ref_idct(coef):
        out = np.zeros((8, 8))
        for y in range(8):
            for x in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / math.sqrt(2) if u == 0 else 1.0
                        cv = 1 / math.sqrt(2) if v == 0 else 1.0
                        s += (
                            cu * cv * coef[u * 8 + v]
                            * math.cos((2 * y + 1) * u * math.pi / 16)
                            * math.cos((2 * x + 1) * v * math.pi / 16)
                        )
                out[y, x] = s / 4.0
        return out

    rng = random.Random(7)
    for _ in range(5):
        w, h = 16, 16
        blocks = []
        for _ in range(4):
            blk = [0] * 64
            # dense-ish blocks: exercise ZRL runs, every magnitude size
            for _ in range(rng.randrange(1, 40)):
                blk[rng.randrange(64)] = rng.randrange(-1023, 1024)
            blocks.append(blk)
        px = decode_jpeg_gray(encode_jpeg_gray_coeffs(blocks, w, h))
        assert px is not None
        for bi, blk in enumerate(blocks):
            by, bx = divmod(bi, 2)
            want = np.clip(np.floor(ref_idct(blk) + 128.5), 0, 255).astype(int)
            got = np.array(
                [[px[by * 8 + y][bx * 8 + x][0] for x in range(8)] for y in range(8)]
            )
            assert (got == want).all()


def test_jpeg_decoder_rejects_unsupported_streams() -> None:
    """Progressive / color / truncated JPEG streams decode to None
    (data, not exceptions), matching the other decoders' contract."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray_coeffs,
    )

    blk = [0] * 64
    blk[0] = 8 * (100 - 128)
    good = encode_jpeg_gray_coeffs([blk], 8, 8)
    assert decode_jpeg_gray(good) is not None
    assert decode_jpeg_gray(good[:40]) is None  # truncated mid-header
    assert decode_jpeg_gray(good[:-10]) is None  # truncated entropy data
    assert decode_jpeg_gray(b"\x89PNG") is None  # not a JPEG at all
    prog = bytearray(good)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2  # masquerade as progressive
    assert decode_jpeg_gray(bytes(prog)) is None
    # non-grayscale component count in SOF0
    color = bytearray(good)
    assert color[sof + 9] == 1
    color[sof + 9] = 3
    assert decode_jpeg_gray(bytes(color)) is None


def test_semantic_dedup_lsh_adaptive_cells_and_soundness(spark, sf_dir) -> None:
    """The LSH SemDeDup tier: (1) adaptive_cells picks the smallest
    power of two holding ~target rows per cell (pure integer — matches
    the oracle's CASE chain by construction); (2) every DROPPED vector
    really does have a lower-id neighbor at cosine >= tau (blocking can
    only reduce recall, never create false drops) — checked against
    exhaustive pairs over the full corpus."""
    import math

    from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
        adaptive_cells,
        release_cached,
        semantic_dedup_flags_lsh,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans.embeddings import (
        SEMDEDUP_PLANES,
        SEMDEDUP_TAU,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table

    assert adaptive_cells(20, 64, 16, 65536) == 16
    assert adaptive_cells(1024, 64, 16, 65536) == 16
    assert adaptive_cells(1025, 64, 16, 65536) == 32
    assert adaptive_cells(20000, 64, 16, 65536) == 512
    assert adaptive_cells(10**9, 64, 16, 65536) == 65536  # clamp

    emb = table(spark, sf_dir, "embeddings")
    flags = semantic_dedup_flags_lsh(
        emb, SEMDEDUP_PLANES, tau=SEMDEDUP_TAU
    )
    dropped = {r.vec_id for r in flags.filter("kept = 0").collect()}
    release_cached(flags)
    vecs = {r.vec_id: r.embedding for r in emb.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return d / (na * nb)

    for vid in dropped:
        assert any(
            o < vid and cos(vecs[o], vecs[vid]) >= SEMDEDUP_TAU
            for o in vecs
        ), f"vec {vid} dropped without a qualifying lower-id neighbor"


def test_color_jpeg_codec_roundtrip_and_routing(spark) -> None:
    """Baseline color JPEG: encode->decode reproduces the closed-form
    raster for BOTH 4:2:0 (interleaved 16x16 MCUs, chroma upsampling)
    and 4:4:4; decode_raster routes 1-component streams to the gray
    decoder and 3-component to the color one; truncated streams are
    None; dimension/subsample contract violations raise."""
    import numpy as np

    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        decode_jpeg_color,
        decode_raster,
        encode_jpeg_color_coeffs,
    )

    SIGN = [1, -1, -1, 1, 1, -1, -1, 1]

    def build(w, h, sub):
        yb = [
            [
                (lambda g, a: [8 * (g - 128)] + [0] * 3 + [8 * a] + [0] * 59)(
                    40 + (5 * bx + 9 * by) % 160, (bx + by) % 5 - 2
                )
                for bx in range(w // 8)
            ]
            for by in range(h // 8)
        ]
        cdim = 8 * sub
        cb = [
            [[8 * ((7 * cx + 2 * cy) % 21 - 10)] + [0] * 63
             for cx in range(w // cdim)]
            for cy in range(h // cdim)
        ]
        cr = [
            [[8 * ((3 * cx + 5 * cy) % 21 - 10)] + [0] * 63
             for cx in range(w // cdim)]
            for cy in range(h // cdim)
        ]
        return encode_jpeg_color_coeffs(yb, cb, cr, w, h, (sub, sub))

    def expect(w, h, sub):
        out = []
        for y in range(h):
            row = []
            for x in range(w):
                by, bx = y // 8, x // 8
                g = 40 + (5 * bx + 9 * by) % 160
                a = (bx + by) % 5 - 2
                yf = g + SIGN[x % 8] * a
                cy, cx = y // (8 * sub), x // (8 * sub)
                cbv = (7 * cx + 2 * cy) % 21 - 10
                crv = (3 * cx + 5 * cy) % 21 - 10
                r = int(np.floor(yf + 1.402 * crv + 0.5))
                gg = int(np.floor(yf - 0.344136 * cbv - 0.714136 * crv + 0.5))
                b = int(np.floor(yf + 1.772 * cbv + 0.5))
                row.append((max(0, min(255, r)), max(0, min(255, gg)),
                            max(0, min(255, b))))
            out.append(row)
        return out

    for w, h, sub in [(16, 16, 2), (32, 16, 2), (16, 8, 1), (8, 8, 1)]:
        jp = build(w, h, sub)
        assert decode_jpeg_color(jp) == expect(w, h, sub), (w, h, sub)
        assert decode_raster(jp) == expect(w, h, sub)
        assert decode_jpeg_color(jp[: len(jp) // 2]) is None

    with pytest.raises(ValueError):
        build(12, 16, 2)  # not a multiple of 16 for 4:2:0


def test_media_parsers_reject_hostile_and_exotic_layouts() -> None:
    """Robustness hardening (r4 review): declared counts in ISO-BMFF
    sample tables are untrusted — a corrupt stsz claiming 2^32 samples
    returns None instead of materializing a 34 GB list, and a huge stts
    run count is bounded by the real sample count. OS/2 core-header
    BMPs (12-byte BITMAPCOREHEADER, int16 dims at the INFOHEADER's
    width offset) return None instead of garbage dimensions."""
    import struct
    import time

    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        decode_bmp_rgb,
        encode_bmp_rgb,
        encode_jpeg_gray_coeffs,
        parse_image_header,
        parse_mp4_sample_table,
        synthesize_mp4_media,
    )

    frames = [encode_jpeg_gray_coeffs([[0] * 64], 8, 8)]
    m = bytearray(synthesize_mp4_media(1000, 40, 8, 8, frames))
    i = bytes(m).find(b"stsz")  # box TYPE position; payload at i+4
    m[i + 8 : i + 12] = struct.pack(">I", 7)
    m[i + 12 : i + 16] = struct.pack(">I", 0xFFFFFFFF)
    t0 = time.perf_counter()
    assert parse_mp4_sample_table(bytes(m)) is None
    assert time.perf_counter() - t0 < 1.0

    m2 = bytearray(synthesize_mp4_media(1000, 40, 8, 8, frames))
    j = bytes(m2).find(b"stts")
    m2[j + 8 : j + 12] = struct.pack(">I", 1)
    m2[j + 12 : j + 16] = struct.pack(">I", 0xFFFFFFF0)
    m2[j + 16 : j + 20] = struct.pack(">I", 40)
    t0 = time.perf_counter()
    st = parse_mp4_sample_table(bytes(m2))
    assert st is not None and len(st[2]) == 1
    assert time.perf_counter() - t0 < 1.0

    core = (
        b"BM"
        + struct.pack("<IHHI", 34, 0, 0, 26)
        + struct.pack("<IHHHH", 12, 16, 16, 1, 24)
    )
    assert parse_image_header(core) is None
    assert decode_bmp_rgb(core + b"\x00" * 800) is None
    good = encode_bmp_rgb([[(1, 2, 3)] * 4] * 2)
    assert parse_image_header(good) == ("bmp", 4, 2, 24)


def test_incdedup_ingest_replay_is_idempotent(spark, sf_dir, tmp_path):
    """ingest_batch(batch_id=...): the foreachBatch at-least-once case —
    replaying an already-ingested batch appends NO duplicate bands
    (txn-ledger guard), recomputes the same pairs, and the index keeps
    exactly one copy of each (doc_id, band, h) row (r5 review)."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.incdedup import (
        create_dedup_index,
        ingest_batch,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
        release_cached,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    idx = create_dedup_index(spark, str(tmp_path / "bands"))
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)

    r1 = ingest_batch(spark, idx, b1, batch_id=0)
    pairs1 = sorted((r.doc_a, r.doc_b) for r in r1.collect())
    release_cached(r1)
    rows_after_b1 = idx.read().count()

    # replay batch 0: same pairs back, no index growth
    r1b = ingest_batch(spark, idx, b1, batch_id=0)
    assert sorted((r.doc_a, r.doc_b) for r in r1b.collect()) == pairs1
    release_cached(r1b)
    assert idx.read().count() == rows_after_b1

    # the next batch advances the ledger and appends
    r2 = ingest_batch(spark, idx, b2, batch_id=1)
    r2.collect()
    release_cached(r2)
    assert idx.read().count() > rows_after_b1
    assert idx.last_txn_version("incdedup") == 1


def test_multimodal_corrupt_inputs_are_data_not_exceptions() -> None:
    """r5 review: a truncated PNG IHDR raised ValueError out of the
    Arrow kernel; a corrupt stsc claiming first_chunk=4e9 allocated a
    multi-GB expansion list; 64-bit (largesize) and to-EOF (size=0)
    boxes aborted the walk on real long recordings."""
    import struct

    from real_time_e_commerce_analytics_lakehouse_spark.operators.multimodal import (
        _walk_boxes,
        decode_png_rgb,
        parse_mp4_sample_table,
        synthesize_mp4_media,
    )

    # PNG truncated 4 bytes into the IHDR payload: NULL row, no raise
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr_partial = struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", 2, 2)
    assert decode_png_rgb(sig + ihdr_partial) is None

    # stsc expansion bomb: tiny payload, huge first_chunk -> None fast
    media = synthesize_mp4_media(1000, 100, 2, 2, [b"x" * 8, b"y" * 8])
    stsc_at = media.find(b"stsc")
    assert stsc_at > 0
    p = stsc_at + 4 + 4  # version/flags
    bomb = bytearray(media)
    # one run with first_chunk = 4_000_000_000
    bomb[p : p + 4] = struct.pack(">I", 1)
    bomb[p + 4 : p + 8] = struct.pack(">I", 4_000_000_000)
    import time

    t0 = time.perf_counter()
    assert parse_mp4_sample_table(bytes(bomb)) is None
    assert time.perf_counter() - t0 < 2.0  # no multi-GB allocation

    # 64-bit largesize and size=0 (to EOF) boxes walk correctly
    payload = b"\x00" * 24
    large = (
        struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(payload))
        + payload
    )
    tail = struct.pack(">I", 0) + b"moov" + b"\x00" * 8
    boxes = list(_walk_boxes(large + tail, 0, len(large + tail)))
    assert [b[0] for b in boxes] == [b"mdat", b"moov"]
    # the largesize payload starts after the 16-byte header
    assert boxes[0][1] == 16 and boxes[0][2] == len(large)
    assert boxes[1][2] == len(large + tail)  # size=0 extends to EOF


def test_semantic_dedup_zero_vectors_deterministic_policy(spark) -> None:
    """r5 review: a zero embedding divided 0/0 in the cell-assignment
    cosine — a DIVIDE_BY_ZERO crash under ANSI Spark, NULL without
    ANSI (silently unflagged), NaN on DuckDB (always flagged): three
    different outcomes for one input. The floored norm pins ONE
    deterministic policy on every engine: a zero vector's cosine to
    anything (including another zero vector) is 0, so zero vectors are
    kept — cosine similarity is undefined at zero, and 'not a
    duplicate' is the only defensible reading. The operator must not
    crash and both engines must agree."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
        release_cached,
        semantic_dedup_flags,
    )

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0]), (4, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    flags = semantic_dedup_flags(emb, id_col="vec_id", vec_col="embedding")
    kept = {r.vec_id: r.kept for r in flags.collect()}
    release_cached(flags)
    assert kept[1] == 1 and kept[2] == 1  # zero vectors: kept, no crash
    assert kept[3] == 1 and kept[4] == 0  # real duplicates still flagged


def test_cosine_topk_vectorized_guards_driver_collect(spark, sf_dir):
    """The vectorized kernel collects the QUERY side to the driver by
    design (queries ≪ corpus contract); a query set above max_queries
    must refuse with a pointer at the distributed IVF path instead of
    silently materializing it (VERDICT r5 wrong #4)."""
    import pytest as _pytest

    from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
        cosine_topk_vectorized,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import table

    emb = table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="ivf_index_topk"):
        cosine_topk_vectorized(emb, emb, k=5, max_queries=10)
    # within the bound the kernel still runs and keeps its shape
    out = cosine_topk_vectorized(
        emb, emb.filter("vec_id < 3"), k=5, max_queries=10
    )
    assert out.columns == ["query_id", "vec_id", "rank", "cosine_sim"]
    assert out.count() == 15


def test_ivf_index_default_cell_count_is_corpus_adaptive(
    spark, sf_dir, tmp_path
) -> None:
    """build_ivf_index(None) sizes the codebook ~sqrt(n) (power of two,
    clamped to [16, 65536]): probe cost n/n_cells and centroid-scan
    cost n_cells balance at sqrt(n) — a fixed cell count degrades
    toward brute force as the corpus grows (sf3 soak, BASELINE.md)."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.vecindex import (
        build_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()  # 500 at sf0.001 -> isqrt 22 -> next pow2 = 32
    ct, at = build_ivf_index(spark, emb, str(tmp_path / "idx"), rounds=1)
    import math

    expect = max(16, min(65536, 1 << math.isqrt(n).bit_length()))
    assert ct.read().count() == expect
    assert at.read().count() == n


def _clear_cache_layers(spark) -> None:
    """Empty both layers: cached frames and persistent RDDs."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def test_ivf_build_releases_corpus_and_centroids(
    spark, sf_dir, tmp_path, cache_held
) -> None:
    """build_ivf_index persists the corpus and checkpoints the
    centroids each round; once it returns, the CacheManager is empty
    and the persistent-RDD map is what it was before the build."""
    from real_time_e_commerce_analytics_lakehouse_spark.operators.vecindex import (
        build_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _clear_cache_layers(spark)
    before = cache_held()
    ct, _ = build_ivf_index(spark, emb, str(tmp_path / "idx"), n_cells=16, rounds=2)
    assert cache_held() == (0, before[1])
    assert ct.read().count() == 16


def test_kmeans_round_failure_releases_everything(
    spark, sf_dir, tmp_path, cache_held, monkeypatch
) -> None:
    """A Python UDF on the corpus raising in round 2 of the k-means
    (after round 1's centroid checkpoint exists, with the corpus
    persisted) leaves no cached frame and no persistent RDD."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from real_time_e_commerce_analytics_lakehouse_spark.operators import vecindex

    @F.udf("array<double>")
    def fail(x):
        raise ValueError("corpus failed in round 2")

    real_assign = vecindex.assign_cells
    calls: list[int] = []

    def assign_failing_in_round_2(vecs, cents, id_out, keep):
        calls.append(1)
        if len(calls) == 2:
            vecs = vecs.withColumn("emb", fail("emb"))
        return real_assign(vecs, cents, id_out, keep)

    monkeypatch.setattr(vecindex, "assign_cells", assign_failing_in_round_2)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _clear_cache_layers(spark)
    with pytest.raises(
        (PythonException, Py4JJavaError), match="corpus failed in round 2"
    ):
        vecindex.build_ivf_index(
            spark, emb, str(tmp_path / "idx"), n_cells=16, rounds=3
        )
    assert len(calls) == 2
    assert cache_held() == (0, set())
