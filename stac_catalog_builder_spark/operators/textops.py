"""Text analysis operators for training-data pipelines: token stats, quality
scoring, language-ID heuristic, fingerprinting.

Design rule: everything the built-in JVM functions can express stays out of
Python (split/array_distinct/replace/length are codegen'd); only the rolling
fingerprint needs an Arrow UDF (see operators/dedup.py:with_fingerprint).

All scores that feed the DuckDB oracle are emitted as scaled BIGINTs
(``floor(x*1000 + 0.5)``) computed from integer counts, so both engines agree
exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# keyword groups for the n-gram language heuristic: occurrence counts of
# language-marker tokens decide the label (deterministic tiebreak by order).
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and "],
    "fr": [" le ", " et "],
    "de": [" der ", " und "],
    "es": [" el ", " y "],
}


def _occurrences(text: Column, needle: str) -> Column:
    """Count non-overlapping occurrences of a literal in a string — pure JVM:
    (len(s) - len(replace(s, needle))) / len(needle)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("bigint")


def token_stats(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Whitespace token counting + lexical diversity (distinct/total)."""
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(key_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length(F.col(text_col)).alias("n_chars_measured"),
    )


def quality_score(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Heuristic quality signals: mean token length, lexical diversity,
    stopword ratio — scaled-integer outputs (x1000)."""
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = _occurrences(
        F.concat(F.lit(" "), F.col(text_col), F.lit(" ")), " the "
    ) + _occurrences(F.concat(F.lit(" "), F.col(text_col), F.lit(" ")), " a ")
    mean_tok_len_x1000 = F.floor(
        (F.length(F.col(text_col)) - n_tokens + 1) * 1000.0 / n_tokens + 0.5
    ).cast("bigint")
    diversity_x1000 = F.floor(n_distinct * 1000.0 / n_tokens + 0.5).cast("bigint")
    stop_ratio_x1000 = F.floor(n_stop * 1000.0 / n_tokens + 0.5).cast("bigint")
    return df.select(
        F.col(key_col),
        n_tokens.alias("n_tokens"),
        mean_tok_len_x1000.alias("mean_tok_len_x1000"),
        diversity_x1000.alias("diversity_x1000"),
        stop_ratio_x1000.alias("stop_ratio_x1000"),
    )


def lang_id(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """N-gram language-ID heuristic: argmax of marker-token counts, ties
    resolved in LANG_MARKERS order, zero evidence -> 'und'."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    counts = {
        lang: sum((_occurrences(padded, m) for m in markers), F.lit(0).cast("bigint"))
        for lang, markers in LANG_MARKERS.items()
    }
    best = None
    for lang in LANG_MARKERS:  # insertion order = tiebreak order
        c = counts[lang]
        if best is None:
            best = (c, F.lit(lang))
        else:
            best = (
                F.when(c > best[0], c).otherwise(best[0]),
                F.when(c > best[0], F.lit(lang)).otherwise(best[1]),
            )
    assert best is not None
    pred = F.when(best[0] > 0, best[1]).otherwise(F.lit("und"))
    return df.select(
        F.col(key_col),
        *[counts[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
        pred.alias("lang_pred"),
    )


# regex patterns shared with the DuckDB oracle (kept to the syntax subset
# Java regex and RE2 interpret identically)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^ ]+"


def clean_text(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Text scrubbing for training corpora: mask emails/URLs (PII surface),
    collapse whitespace runs, trim — pure JVM regexp_replace chain, no UDF."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>"),
                URL_RE,
                "<URL>",
            ),
            r"\s+",
            " ",
        )
    )
    return df.select(
        F.col(key_col),
        cleaned.alias("clean_text"),
        F.length(cleaned).alias("n_chars_clean"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks (the standard
    pretraining-corpus shaping step): one output row per chunk, all pure JVM
    (split -> sequence -> explode -> slice -> array_join). Short docs emit
    one chunk. Chunk count per doc = ceil((n - overlap) / (chunk - overlap)),
    floored at 1."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(step)).cast("bigint"), F.lit(1)
    )
    with_idx = df.select(
        F.col(key_col),
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_idx") * step + 1, chunk_tokens)
    return with_idx.select(
        F.col(key_col),
        F.col("chunk_idx"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signal: the share of the most frequent bigram
    among all bigrams (boilerplate/spam detector). Pure JVM: slice+zip_with
    builds bigrams, explode + two-level aggregation counts them (map-side
    partial agg; never a per-doc Python loop). Single-token docs have no
    bigrams and drop out (same semantics as the oracle)."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, F.lit(1), n - 1),
        F.slice(toks, F.lit(2), n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    exploded = df.select(F.col(key_col), F.explode(bigrams).alias("bigram"))
    counts = exploded.groupBy(key_col, "bigram").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy(key_col).agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.max("c").cast("bigint").alias("top_bigram_n"),
        F.floor(F.max("c") * 1000.0 / F.sum("c") + 0.5)
        .cast("bigint")
        .alias("top_share_x1000"),
    )


def _ngram_hashes(df: DataFrame, n: int, text_col: str, key_col: str) -> DataFrame:
    """(key, xxhash64 of each word n-gram) rows, pure JVM: slice windows via
    transform over an index sequence, hash the joined n-gram. Docs shorter
    than n tokens contribute nothing."""
    toks = F.split(F.col(text_col), " ")
    cnt = F.size(toks) - F.lit(n - 1)
    # sequence(1, 0) DESCENDS (default step -1) and would hand slice() an
    # invalid start for docs shorter than n tokens — such docs must emit an
    # EMPTY gram array instead
    grams = F.when(
        cnt > 0,
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return df.select(F.col(key_col), F.explode(grams).alias("gram_hash"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    key_col: str = "doc_id",
    bench_text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: drop every training document sharing at
    least one word ``n``-gram with the benchmark/eval set (the GPT-3-style
    13-gram exact-overlap rule) -> (clean_docs, contamination_report).

    100 TB shape: the benchmark side is dimension-sized (eval suites are
    thousands of documents), so its distinct n-gram hash set broadcasts;
    the train side explodes to (doc, gram_hash) map-side and the overlap is
    a broadcast semi-join — the fact table is never shuffled. The report
    (doc_id, n_hits) is an aggregate over the matched rows only; the clean
    set is an anti-join of ``docs`` against the contaminated ids — NOT
    broadcast-hinted, because unlike the bench grams the contaminated-doc
    set is data-dependent and unbounded (a heavily contaminated corpus can
    exceed any broadcast limit); AQE still broadcasts it when its measured
    size is small. All hashing is JVM xxhash64 over token windows — no
    Python.

    Collision note: a 64-bit hash false-positive drops a clean doc with
    probability ~|bench_grams| * 2^-64 per doc-gram — negligible, and the
    failure mode is over-removal (safe direction for decontamination).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    bench_grams = (
        _ngram_hashes(
            benchmark.select(
                F.monotonically_increasing_id().alias("_bid"),
                F.col(bench_text_col),
            ),
            n,
            bench_text_col,
            "_bid",
        )
        .select("gram_hash")
        .distinct()
    )
    doc_grams = _ngram_hashes(docs, n, text_col, key_col)
    hits = doc_grams.join(F.broadcast(bench_grams), "gram_hash")
    report = hits.groupBy(key_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    clean = docs.join(report.select(key_col), key_col, "left_anti")
    return clean, report


def inverted_postings(
    df: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Build the inverted index of a corpus: one posting row per
    (term, document) with the term frequency, plus the term's document
    frequency on every row — the exact integer layer every retrieval
    scorer (tf-idf, BM25) is a per-row formula over, and the
    search-index-construction job a corpus-scale engine owes its users.

    Whitespace tokenization (the corpus contract shared by token_stats /
    doc_chunks / the 13-gram decontaminator). Two aggregations, both with
    map-side partial combine: tf = count per (term, doc) — the explode
    never crosses the wire raw, only combined partials do — and df via one
    more aggregate over the tf table (already term-keyed, so AQE reuses
    the narrower exchange). ``min_df``/``max_df`` prune hapax noise and
    stopword-degenerate terms AFTER df is known; the df join is hinted
    broadcast only when those bounds actually prune (ADVICE r5) — with the
    default ``min_df=1`` the "term table" is the ENTIRE corpus vocabulary,
    which at web scale exceeds any broadcast limit; in that case the
    strategy is left to AQE, which still broadcasts small vocabularies by
    its own measured size.

    Output: term, df, doc_id, tf — sorted consumers (delta-encoded posting
    files) get their order from a write-time sortWithinPartitions, not a
    global sort.
    """
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1: {min_df}")
    if max_df is not None and max_df < min_df:
        raise ValueError(f"max_df < min_df: {max_df} < {min_df}")
    tf = (
        df.select(
            F.col(doc_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        dfreq = dfreq.where(F.col("df") <= F.lit(int(max_df)))
    dfreq = dfreq.where(F.col("df") >= F.lit(int(min_df)))
    pruned = min_df > 1 or max_df is not None
    dim = F.broadcast(dfreq) if pruned else dfreq
    return tf.join(dim, "term").select("term", "df", "doc_id", "tf")


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    doc_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    min_df: int = 1,
) -> DataFrame:
    """Ranked retrieval over the corpus: BM25 score of every document
    against ``query_terms``, top ``k`` returned — the classic scorer as a
    per-row formula over the exact integer layer ``inverted_postings``
    builds (Robertson/Sparck Jones; the Okapi formulation with the +1
    idf floor, as in Lucene).

    Scale shape: the postings table filters to the query's terms FIRST
    (a tiny broadcast semi-join — scores for a q-term query touch only
    those q posting lists, never the corpus), doc length and the corpus
    aggregates (N, avgdl) come from one map-side-combined pass, and the
    final per-doc score sum + top-k is a TakeOrdered, not a global sort.
    Scores are IEEE doubles (ln/division); determinism within an engine
    is exact, ties broken by doc id. The integer inputs (tf, df, dl) are
    the DuckDB-checkable layer (inverted_postings); the float scoring is
    pytest-pinned against a from-scratch python BM25.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    spark = df.sparkSession
    postings = inverted_postings(df, doc_col=doc_col, text_col=text_col, min_df=min_df)
    qt = local_frame(spark, [(t,) for t in set(query_terms)], "term string")
    hits = postings.join(F.broadcast(qt), "term")
    lens = df.select(
        F.col(doc_col).alias("doc_id"),
        F.size(F.filter(F.split(F.col(text_col), " "), lambda t: t != "")).alias("dl"),
    )
    agg = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    scored = (
        hits.join(F.broadcast(agg))
        .join(lens, "doc_id")
        .withColumn(
            "_idf",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("tf") * F.lit(float(k1) + 1.0))
            / (
                F.col("tf")
                + F.lit(float(k1))
                * (
                    F.lit(1.0 - float(b))
                    + F.lit(float(b)) * F.col("dl") / F.col("avgdl")
                )
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("_s").alias("score"), F.count(F.lit(1)).alias("n_terms_hit"))
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
        .select("doc_id", "n_terms_hit", F.round("score", 6).alias("score"))
    )
