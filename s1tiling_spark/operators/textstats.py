"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, regex token counting, document fingerprinting.

All JVM-side column expressions (split/filter/regexp/aggregate) — the
metadata-hoisting pattern of the reference's first pipeline step
(ExtractSentinel1Metadata, `/root/reference/s1tiling/libs/otbwrappers/
s1_to_s2.py:140-242`) applied to text payloads: derive typed scoring
columns once, let everything downstream filter/group on them.

Determinism: ratios are double divisions of exact integer counts —
identical IEEE results in any engine; the fingerprint is modular
integer arithmetic with intermediates < 2^41 (no overflow on either
engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from s1tiling_spark.operators.dedup import words_col
from s1tiling_spark.operators.rollup import md5_long

# tiny per-language stopword lists (public common words)
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de": ("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"),
}

TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
FP_MOD = 2_147_483_647


def stopword_count(words: Column, lang: str) -> Column:
    sw = STOPWORDS[lang]
    return F.size(F.filter(words, lambda w: w.isin(*sw)))


def lang_scores(docs: DataFrame) -> DataFrame:
    """Per-doc stopword hit count for every language list."""
    words = words_col(F.col("text"))
    cols = [stopword_count(words, lg).alias(f"hits_{lg}") for lg in STOPWORDS]
    return docs.select("doc_id", F.size(words).alias("n_words"), *cols)


def lang_id(docs: DataFrame) -> DataFrame:
    """Predicted language = arg-max stopword hits (tie → lexicographic
    language code) — unpivot + rank-1 window, the SelectBestCoverage
    pattern (`lia.py:1693-1769`) on text features."""
    scores = lang_scores(docs)
    stacked = scores.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lg).alias("lang"), F.col(f"hits_{lg}").alias("hits")
                    )
                    for lg in STOPWORDS
                ]
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.lang").alias("lang"), F.col("s.hits").alias("hits"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lang"))
    return (
        stacked.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "hits")
    )


def quality_features(docs: DataFrame) -> DataFrame:
    """Length/punctuation/stopword-ratio features + a combined score.

    score = 0.4*stopword_ratio + 0.3*min(n_words/100, 1) +
            0.3*(1 - punct_ratio) — exact-integer inputs, deterministic
    double arithmetic."""
    words = words_col(F.col("text"))
    n_words = F.size(words)
    n_chars = F.length("text")
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[^.!?,;:]", ""))
    sw_hits = stopword_count(words, "en")
    mean_wlen = (n_chars - (n_words - 1)).cast("double") / n_words
    sw_ratio = sw_hits.cast("double") / n_words
    punct_ratio = n_punct.cast("double") / n_chars
    score = (
        F.lit(0.4) * sw_ratio
        + F.lit(0.3) * F.least(n_words.cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.cast("long").alias("n_chars"),
        n_punct.cast("long").alias("n_punct"),
        sw_hits.alias("sw_hits"),
        mean_wlen.alias("mean_wlen"),
        sw_ratio.alias("sw_ratio"),
        score.alias("quality"),
    )


def token_count_regex(docs: DataFrame) -> DataFrame:
    """BPE-ish token census: letter runs, digit runs, single punctuation
    — `regexp_extract_all` counted, plus whitespace tokens."""
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)).alias(
            "n_regex_tok"
        ),
        F.size(words_col(F.col("text"))).alias("n_ws_tok"),
    )


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Positional rolling fingerprint: sum_i (h(w_i) mod 2^20)*(2i+1)
    mod P with 1-based positions — order-sensitive (anagrams differ),
    bounded arithmetic."""
    words = words_col(F.col("text"))
    terms = F.transform(
        words,
        lambda w, i: F.pmod(
            F.pmod(md5_long(w), F.lit(1 << 20)) * (i * 2 + 3), F.lit(FP_MOD)
        ),
    )
    fp = F.pmod(
        F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x),
        F.lit(FP_MOD),
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


def chunk_token_arrays(seq: DataFrame, max_len: int = 32) -> DataFrame:
    """Split each row's token array into fixed-length training chunks
    (the max_seq_len preprocessing step of every LLM pipeline; the tail
    chunk keeps the remainder). Pure JVM array algebra — explode over
    the chunk index range + slice — so the chunk volume never touches
    Python. Chunk payloads emit as content-exact md5 digests.

    Requires columns (doc_id, source, tokens, n_tok). Rows with
    n_tok == 0 emit NO chunks (a bare sequence(0, -1) would DESCEND and
    emit two phantom chunks — guarded)."""
    n_chunks = ((F.col("n_tok") + max_len - 1) / max_len).cast("int")
    chunk_ids = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    c = seq.select(
        "doc_id",
        "source",
        "tokens",
        F.explode(chunk_ids).alias("chunk_id"),
    )
    chunk = F.slice(F.col("tokens"), F.col("chunk_id") * max_len + 1, max_len)
    return c.select(
        "doc_id",
        "source",
        "chunk_id",
        F.size(chunk).alias("n_chunk_tok"),
        F.md5(F.concat_ws(",", chunk.cast("array<string>"))).alias("chunk_digest"),
    )
