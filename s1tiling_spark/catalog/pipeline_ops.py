"""Training-data pipeline operations a corpus owner runs daily:
text cleaning (markup strip + PII masking, one gated query),
deterministic dataset splits + stratified sampling (one gated query),
semi-structured property extraction (regex + JSON, one gated query),
and event sessionization. All JVM column algebra, all oracle-gated.

These extend the dedup/quality families with the
transform-side of a data pipeline — the reference's analog is the
filename/metadata surgery every product goes through before
processing (`/root/reference/s1tiling/libs/otbwrappers/s1_to_s2.py:
140-242` metadata hoisting; `Utils.py:559-614` regex surgery).

Determinism: splits/samples key off md5-derived integers (never
`rand()`), so assignment is reproducible at any parallelism and
identical in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import MD5_LONG_SQL, md5_long
from s1tiling_spark.registry import register
from s1tiling_spark.sources.tables import load_table

# ---------------------------------------------------------------- clean
# Markup strip + whitespace collapse (the canonical first pass of an
# LLM-data cleaner) + PII masking (emails → [EMAIL], long digit runs →
# [NUM]) with a per-doc hit count — one multi-column gated query
# (driver correctness window caps at 50 entries). Regex semantics are
# identical in Spark and DuckDB for these constructs.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_NUM_RE = r"\d{6,}"


@register(
    "text_transforms",
    oracle=(
        "SELECT doc_id, "
        "trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'), "
        "'\\s+', ' ', 'g')) AS clean_text, "
        f"regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'), "
        f"'{_NUM_RE}', '[NUM]', 'g') AS masked, "
        f"len(regexp_extract_all(text, '{_EMAIL_RE}')) "
        f"+ len(regexp_extract_all(text, '{_NUM_RE}')) AS n_hits "
        "FROM documents"
    ),
)
def text_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    stripped = F.regexp_replace(F.col("text"), r"<[^>]*>", " ")
    masked = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"), _NUM_RE, "[NUM]"
    )
    n_hits = F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0)) + F.size(
        F.regexp_extract_all(F.col("text"), F.lit(_NUM_RE), 0)
    )
    return docs.select(
        "doc_id",
        F.trim(F.regexp_replace(stripped, r"\s+", " ")).alias("clean_text"),
        masked.alias("masked"),
        n_hits.alias("n_hits"),
    )


# ---------------------------------------------------------------- split
# Deterministic train/val/test assignment (md5(doc_id) % 100 → 90/5/5)
# + stratified ~10%-per-source sampling (hash threshold on
# md5(doc_id:source)), reported as per-(source, split) counts with the
# sampled subset counted alongside — hash-based (never rand()) so both
# are stable across runs, engines and parallelism: the property that
# makes dataset versioning reproducible.
_SPLIT_HASH = MD5_LONG_SQL.format(expr="CAST(doc_id AS VARCHAR)")
_SAMPLE_HASH = MD5_LONG_SQL.format(expr="CAST(doc_id AS VARCHAR) || ':' || source")


@register(
    "split_sample_stats",
    oracle=(
        "WITH a AS (SELECT source, "
        f"{_SPLIT_HASH} % 100 AS b, "
        f"CASE WHEN {_SAMPLE_HASH} % 10 = 0 THEN 1 ELSE 0 END AS sampled "
        "FROM documents) "
        "SELECT source, CASE WHEN b < 90 THEN 'train' "
        "WHEN b < 95 THEN 'val' ELSE 'test' END AS split, "
        "count(*) AS n, "
        "CAST(sum(sampled) AS BIGINT) AS n_sampled FROM a GROUP BY 1, 2"
    ),
)
def split_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    b = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(b < 90, "train").when(b < 95, "val").otherwise(F.lit("test"))
    )
    sample_h = md5_long(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))
    )
    sampled = F.when(F.pmod(sample_h, F.lit(10)) == 0, F.lit(1)).otherwise(F.lit(0))
    return (
        docs.select("source", split.alias("split"), sampled.alias("sampled"))
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n"),
            F.sum("sampled").cast("long").alias("n_sampled"),
        )
    )


# ------------------------------------------------------------- events
# Semi-structured property extraction — regex surgery
# (`Utils.py:559-614`) + JSON field extraction, row-level over events
# with a props payload: the two hops every event pipeline makes, one
# gated query.
@register(
    "props_extract",
    oracle=(
        "SELECT event_id, "
        "CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS k_regex, "
        "CAST(json_extract_string(props, '$.k') AS INT) AS k_json "
        "FROM events WHERE props IS NOT NULL"
    ),
)
def props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.filter(F.col("props").isNotNull()).select(
        "event_id",
        F.regexp_extract(F.col("props"), r"(\d+)", 1).cast("int").alias("k_regex"),
        F.get_json_object("props", "$.k").cast("int").alias("k_json"),
    )


# ---------------------------------------------------------- chunking
# Sequence chunking: split each doc's token array into fixed-length
# training chunks (the max_seq_len preprocessing step of every LLM
# training pipeline; tail chunk keeps the remainder). Pure JVM array
# algebra — explode over the chunk index range + slice — so the chunk
# volume (the expensive part at 10^12 sequences) never touches Python.
# Chunk payloads are emitted as md5 digests (driver canonicalizer
# can't sort raw arrays) — content-exact per chunk.
_CHUNK_LEN = 32


@register(
    "chunk_sequences",
    oracle=(
        "WITH seqs AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, "
        "  list_transform(string_split(text, ' '), "
        "    w -> CAST(length(w)*131 + ascii(substr(w,1,1)) AS INT)) AS tokens, "
        "  CAST(len(string_split(text, ' ')) AS INT) AS n_tok FROM documents), "
        "c AS (SELECT doc_id, source, n_tok, tokens, u.ci FROM seqs, "
        f"  unnest(range(0, (n_tok + {_CHUNK_LEN} - 1) // {_CHUNK_LEN})) AS u(ci)) "
        "SELECT doc_id, source, CAST(ci AS INT) AS chunk_id, "
        f"CAST(len(tokens[ci*{_CHUNK_LEN}+1 : ci*{_CHUNK_LEN}+{_CHUNK_LEN}]) AS INT) "
        "AS n_chunk_tok, "
        f"md5(array_to_string(tokens[ci*{_CHUNK_LEN}+1 : ci*{_CHUNK_LEN}+{_CHUNK_LEN}], ',')) "
        "AS chunk_digest FROM c"
    ),
)
def chunk_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s1tiling_spark.operators.textstats import chunk_token_arrays
    from s1tiling_spark.sources.sequences import sequences_from_documents

    return chunk_token_arrays(
        sequences_from_documents(spark, sf_dir), max_len=_CHUNK_LEN
    )


# Sessionization: 30-minute-inactivity sessions per user (the classic
# gaps-and-islands on event streams; same algebra as the reference's
# acquisition grouping by time proximity, `otbpipeline.py:418-452`).
_GAP_S = 1800


@register(
    "sessionize_events",
    oracle=(
        # gap compare in exact integer MICROSECONDS (epoch_us ==
        # Spark's unix_micros; a seconds-based compare would truncate
        # on one engine and round on the other)
        "WITH o AS (SELECT user_id, event_id, ts, "
        "  CASE WHEN epoch_us(ts) "
        "   - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) "
        f"   > {_GAP_S} * 1000000 OR "
        "   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
        "  THEN 1 ELSE 0 END AS new_s FROM events), "
        "s AS (SELECT user_id, ts, "
        "  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no FROM o) "
        "SELECT user_id, CAST(session_no AS INT) AS session_no, "
        "min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events "
        "FROM s GROUP BY 1, 2"
    ),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # events.ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP. The
    # ntz→ltz cast shifts both sides of the difference by the same
    # session-tz offset, so the GAP is tz-invariant.
    def _us(c):
        return F.unix_micros(c.cast("timestamp"))

    new_s = F.when(
        prev.isNull() | ((_us(F.col("ts")) - _us(prev)) > _GAP_S * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    ws = w.rowsBetween(Window.unboundedPreceding, 0)
    s = ev.withColumn("new_s", new_s).withColumn(
        "session_no", F.sum("new_s").over(ws).cast("int")
    )
    return s.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )
