"""Deterministic scaled synthesizer for the sequence table.

Analog of the reference's deterministic fixture DB ``FileDB``
(`/root/reference/tests/mock_data.py:47-233`: fixed products, fixed
timestamps, everything derivable) generalized to arbitrary row counts.

Built ONLY from ``spark.range`` + JVM column expressions (xxhash64,
sequence, transform) — no Python row loop, no driver-side data, no
randomness source that varies between runs or parallelism levels. The
same ``(n_rows, seed)`` always yields the same rows regardless of
partition count, so cross-parallelism benches (local[8] vs local[32])
read identical input.

Properties (per FIXTURES.md §1):
- ~8 sources with one hot source holding ~45% of rows (exercises
  salting / AQE skew handling);
- event_ts spans 45 days (covers 1h/1d/30d tiers);
- deliberate whole-hour gaps per source (exercises LOCF/linear
  gap-fill);
- n_tok in [8, 4096], skewed toward short sequences;
- tokens: deterministic ints in [0, 50_000), length == n_tok.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s1tiling_spark.sources.sequences import BASE_TS, SPAN_MINUTES

VOCAB = 50_000
MAX_TOK_DEFAULT = 4096


def synth_sequences(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    max_tok: int = MAX_TOK_DEFAULT,
    num_partitions: int | None = None,
    with_tokens: bool = True,
) -> DataFrame:
    """Deterministic sequences table of ``n_rows`` rows.

    ``with_tokens=False`` omits the token arrays (keeps doc_id/n_tok/
    source/event_ts), for callers that exercise the stats tiers
    without array materialization."""
    df = spark.range(0, n_rows, numPartitions=num_partitions)
    h1 = F.xxhash64(F.col("id"), F.lit(seed))
    h2 = F.xxhash64(F.col("id"), F.lit(seed + 1))
    h3 = F.xxhash64(F.col("id"), F.lit(seed + 2))

    # skewed length: u^3 pushes mass toward short sequences
    u = F.pmod(h1, F.lit(100_000)).cast("double") / F.lit(100_000.0)
    n_tok = (F.lit(8) + (F.pow(u, F.lit(3.0)) * F.lit(max_tok - 8)).cast("int")).alias("n_tok")

    # hot source: ~45% of rows; remainder over 7 cold sources
    source = F.when(F.pmod(h2, F.lit(100)) < 45, F.lit("src_hot")).otherwise(
        F.concat(F.lit("src_"), F.pmod(h2, F.lit(7)).cast("string"))
    )

    minutes = F.pmod(h3, F.lit(SPAN_MINUTES))
    event_ts = F.timestamp_add(
        "MINUTE", minutes.cast("int"), F.lit(BASE_TS).cast("timestamp")
    )

    out = df.select(
        F.concat(source, F.lit("-"), F.format_string("%09d", F.col("id"))).alias("doc_id"),
        F.col("id").alias("_id"),
        n_tok,
        source.alias("source"),
        event_ts.alias("event_ts"),
        (minutes / F.lit(60)).cast("long").alias("_hour_idx"),
    )

    # deliberate whole-hour gaps: each source blanks the hours where
    # hour_idx ≡ crc32(source) (mod 53)
    out = out.filter(
        F.pmod(F.col("_hour_idx"), F.lit(53)) != F.pmod(F.crc32(F.col("source")), F.lit(53))
    )

    if not with_tokens:
        return out.select(
            "doc_id",
            F.col("n_tok").cast("int").alias("n_tok"),
            "source",
            "event_ts",
        )
    tokens = F.transform(
        F.sequence(F.lit(1), F.col("n_tok")),
        lambda i: F.pmod(F.xxhash64(F.col("_id"), i, F.lit(seed + 3)), F.lit(VOCAB)).cast("int"),
    )
    return out.select(
        "doc_id",
        tokens.alias("tokens"),
        F.col("n_tok").cast("int").alias("n_tok"),
        "source",
        "event_ts",
    )
