"""Distributed BPE tokenizer training (Sennrich et al. 2016): learn the
first N byte-pair merges from the corpus, hash-exact across engines.

The classic algorithm is sequential (merge symbols left-to-right, pick
the most frequent adjacent pair, repeat), which engines usually punt to
Python. The trick that keeps it in pure SQL/DataFrame expressions on
BOTH engines: represent each word's symbol sequence as a DOUBLE-SPACED
string (`' a  b  c '` — single space at the ends, double between
symbols). Then standard left-to-right non-overlapping `replace()` of
`' l  r '` with `' lr '` implements exactly BPE's merge pass —
consecutive occurrences keep their shared delimiter, and `"a a a"`
merges to `"(aa) a"` just like the reference algorithm (verified on
Spark and DuckDB; both scan forward and never rescan replaced output).

Per merge round: one pair-count aggregate over the DISTINCT-WORD table
(weighted by word frequency — the standard optimization that makes BPE
training corpus-size-independent: the shuffle is |vocab|, not |tokens|)
+ a 1-row argmax broadcast + a row-local replace. N rounds = N such
stages chained; everything is built-in string/array expressions, no
Python, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_e_commerce_analytics_lakehouse_spark.functions import textexpr as tx
from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import register, table

BPE_ROUNDS = 3


def _bpe_chain(d: str, source: str = "documents") -> str:
    if d == "spark":
        spaced = "regexp_replace(word, '(.)', ' $1 ')"
        toks = f"explode({tx.tokens('text', 'spark')})"
        def pairs(src: str) -> str:
            return f"""
        SELECT l, r, sum(wn) AS cnt FROM (
            SELECT wn, p.l AS l, p.r AS r FROM (
                SELECT wn, explode(case when size(a) >= 2 then
                    transform(sequence(1, size(a) - 1),
                              i -> struct(element_at(a, i) AS l,
                                          element_at(a, i + 1) AS r))
                    else array() end) AS p
                FROM (SELECT wn, split(trim(s), '  ') AS a FROM {src})
            )
        ) GROUP BY l, r"""
    else:
        spaced = r"regexp_replace(word, '(.)', ' \1 ', 'g')"
        toks = f"unnest({tx.tokens('text', 'duck')})"
        def pairs(src: str) -> str:
            return f"""
        SELECT p.l AS l, p.r AS r, sum(wn) AS cnt FROM (
            SELECT wn, unnest(list_transform(range(1, len(a)),
                              i -> {{'l': a[i], 'r': a[i + 1]}})) AS p
            FROM (SELECT wn, string_split(trim(s), '  ') AS a FROM {src})
        ) GROUP BY p.l, p.r"""

    sql = f"""
    WITH words0 AS (
        SELECT word, count(*) AS wn, {spaced} AS s
        FROM (SELECT {toks} AS word FROM {source})
        GROUP BY word
    )"""
    for k in range(1, BPE_ROUNDS + 1):
        prev = f"words{k - 1}"
        sql += f""",
    pairs{k} AS ({pairs(prev)}),
    m{k} AS (
        SELECT l, r, cnt FROM pairs{k}
        ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
    ),
    words{k} AS (
        SELECT word, wn,
               replace(s, ' ' || l || '  ' || r || ' ',
                          ' ' || l || r || ' ') AS s
        FROM {prev} CROSS JOIN m{k}
    )"""
    return sql


def _bpe_sql(d: str, source: str = "documents") -> str:
    finals = "\n    UNION ALL\n    ".join(
        f"SELECT {k} AS rank, l AS lhs, r AS rhs, l || r AS merged, "
        f"CAST(cnt AS BIGINT) AS n_pairs FROM m{k}"
        for k in range(1, BPE_ROUNDS + 1)
    )
    return _bpe_chain(d, source) + "\n    " + finals


def _bpe_encode_sql(d: str, source: str = "documents") -> str:
    """Apply the learned merge table to the corpus itself: every doc's
    words join the (already-merged) vocabulary encodings on the WORD
    blocking key, then aggregate per doc — training and application in
    one DAG, the tokenizer never leaving the engine."""
    if d == "spark":
        toks = f"explode({tx.tokens('text', 'spark')})"
        nsym = "size(split(trim(s), '  '))"
    else:
        toks = f"unnest({tx.tokens('text', 'duck')})"
        nsym = "len(string_split(trim(s), '  '))"
    return f"""{_bpe_chain(d, source)},
    doc_words AS (
        SELECT doc_id, {toks} AS word FROM {source}
    ),
    enc AS (
        SELECT word, {nsym} AS n_sym, length(word) AS n_chars
        FROM words{BPE_ROUNDS}
    )
    SELECT dw.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(enc.n_chars) AS BIGINT) AS n_chars,
           CAST(sum(enc.n_sym) AS BIGINT) AS n_bpe_symbols
    FROM doc_words dw JOIN enc ON dw.word = enc.word
    GROUP BY dw.doc_id
    """


@register(
    "bpe_learned_merges",
    oracle=_bpe_sql("duck"),
    doc=(
        f"BPE tokenizer training: the first {BPE_ROUNDS} learned merges "
        "(rank, symbol pair, merged token, weighted pair count) over "
        "the corpus vocabulary, ties broken lexicographically. "
        "Double-spaced symbol strings make plain replace() an exact "
        "BPE merge pass (module docstring); per round the engine runs "
        "one |vocab|-sized pair-count shuffle, a 1-row argmax "
        "broadcast, and a row-local merge — the distributed shape that "
        "trains on a 100 TB corpus by shuffling only distinct words. "
        "Hash-exact: pair counts are integers and the string algebra "
        "is deterministic, so both engines learn the identical merge "
        "table."
    ),
    tags=("documents", "text"),
    bench=True,
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_bpe_sql("spark"))


def learn_bpe_merges(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Train the first BPE_ROUNDS merges on an arbitrary document frame
    (the reusable form of the gate query — e.g. the corpus pipeline
    trains on the CURATED corpus, not the raw one)."""
    spark = docs.sparkSession
    docs.select(F.col(text_col).alias("text")).createOrReplaceTempView(
        "__bpe_docs"
    )
    return spark.sql(_bpe_sql("spark", source="__bpe_docs"))


@register(
    "bpe_encode_documents",
    oracle=_bpe_encode_sql("duck"),
    doc=(
        f"BPE tokenizer APPLICATION (the other half of "
        f"bpe_learned_merges): encode every document with the "
        f"{BPE_ROUNDS}-merge table learned in the same DAG and emit "
        "per-doc word/char/symbol counts — n_bpe_symbols < n_chars "
        "exactly where learned merges fire, the compression a tokenizer "
        "exists to deliver. Encoding joins doc words to the merged "
        "VOCABULARY on the word blocking key (each distinct word is "
        "encoded once, reused corpus-wide — the same |vocab|-not-|tokens| "
        "scaling as training), then one doc-keyed aggregate. Integer "
        "counts: hash-exact."
    ),
    tags=("documents", "text"),
)
def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: a persisted words0 vocabulary frame (the pagerank recipe)
    # was tried and measured WORSE at sf0.1 (1.33 s -> 1.45 s steady):
    # AQE reuses the identical groupBy(word) shuffle stages at runtime,
    # so the persist only added the cache materialization
    # (OPTIMIZATION_r12.md).
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_bpe_encode_sql("spark"))
