"""Timeseries rollup extensions a production tier engine needs beyond
min/max/sum: per-bucket heavy hitters (top-k tokens), exact quantile
rollups, and batch gaps-and-islands detection.

These generalize the reference's per-group reductions (mosaic argmax
`lia.py:1693-1769`, coverage sums `lia.py:1658-1683`) to the sketch/
order-statistics family every timeseries store (Timescale continuous
aggregates, M3 rollups) ships.

Determinism: heavy hitters tie-break on token id; quantiles use
Spark `percentile` == DuckDB `quantile_cont` (verified bit-identical
linear interpolation on both engines); islands are pure integer
arithmetic on hour indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s1tiling_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH, cms_long, cms_sql_col
from s1tiling_spark.registry import register
from s1tiling_spark.sources.sequences import SEQUENCES_ORACLE_CTE, sequences_from_documents

_TOPK = 5


# ---------------------------------------------------------------------
# Heavy hitters: top-k tokens per (1d bucket, source). The long-form
# census (explode → count) is the same merge-able shape as the
# histogram sketch; the rank-k head is the per-bucket "what dominates
# this partition" query a training-data pipeline asks constantly
# (which tokens/boilerplate dominate a source-day).
@register(
    "top_tokens_1d",
    oracle=(
        f"WITH {SEQUENCES_ORACLE_CTE}, "
        "tc AS (SELECT date_trunc('day', event_ts) AS bucket_start, source, "
        "  u.tok AS token, count(*) AS tok_cnt "
        "  FROM sequences, unnest(tokens) AS u(tok) GROUP BY 1, 2, 3), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY bucket_start, source "
        "  ORDER BY tok_cnt DESC, token ASC) AS rk FROM tc) "
        f"SELECT bucket_start, source, token, tok_cnt, CAST(rk AS INT) AS rk "
        f"FROM r WHERE rk <= {_TOPK}"
    ),
)
def top_tokens_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = sequences_from_documents(spark, sf_dir)
    tc = (
        seq.select(
            F.date_trunc("day", "event_ts").alias("bucket_start"),
            "source",
            F.explode("tokens").alias("token"),
        )
        .groupBy("bucket_start", "source", "token")
        .agg(F.count("*").alias("tok_cnt"))
    )
    w = Window.partitionBy("bucket_start", "source").orderBy(
        F.desc("tok_cnt"), F.asc("token")
    )
    return (
        tc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select("bucket_start", "source", "token", "tok_cnt", "rk")
    )


# ---------------------------------------------------------------------
# Quantiles per (1d bucket, source): exact median + p90 of n_tok
# (Spark `percentile` == DuckDB `quantile_cont`, bit-identical linear
# interpolation) PLUS a MERGEABLE quantile sketch — a fixed-width
# bucket-count histogram (KLL-family idea reduced to its deterministic
# core) built at the 1h tier and MERGED 1h→1d inside the gated query,
# like the token histogram. Sketch estimate = smallest bucket upper
# edge whose cumulative count reaches the integer rank ceil(p·N) —
# error ≤ one bucket width (asserted vs exact in
# tests/test_quantile_sketch.py, alongside a percentile_approx
# error-bound check). Ranks use pure integer arithmetic
# ((p_num·N + p_den − 1) // p_den), never p·N doubles, so the rank is
# exact on both engines. At unbounded per-group cardinality the sketch
# path (O(buckets) state, mergeable partials) is the production
# choice; exact `percentile` holds while group cardinality is bounded.
_QW = 8  # sketch bucket width (n_tok units)
_QCAP = 127  # top bucket index (saturating)


@register(
    "bucket_quantiles_1d",
    oracle=(
        f"WITH {SEQUENCES_ORACLE_CTE}, "
        "ex AS (SELECT date_trunc('day', event_ts) AS bucket_start, source, "
        "quantile_cont(n_tok, 0.5) AS p50_n_tok, "
        "quantile_cont(n_tok, 0.9) AS p90_n_tok, "
        "count(*) AS n FROM sequences GROUP BY 1, 2), "
        "sk AS (SELECT date_trunc('day', event_ts) AS bucket_start, source, "
        f"CAST(least(n_tok // {_QW}, {_QCAP}) AS INT) AS qbin, "
        "count(*) AS cnt FROM sequences GROUP BY 1, 2, 3), "
        "cum AS (SELECT bucket_start, source, qbin, "
        "sum(cnt) OVER (PARTITION BY bucket_start, source ORDER BY qbin) AS cum, "
        "sum(cnt) OVER (PARTITION BY bucket_start, source) AS total FROM sk), "
        "est AS (SELECT bucket_start, source, "
        f"CAST(min(CASE WHEN cum >= (total + 1) // 2 THEN (qbin + 1) * {_QW} END) AS INT) "
        "AS p50_sketch, "
        f"CAST(min(CASE WHEN cum >= (9 * total + 9) // 10 THEN (qbin + 1) * {_QW} END) AS INT) "
        "AS p90_sketch FROM cum GROUP BY 1, 2) "
        "SELECT e.bucket_start, e.source, e.p50_n_tok, e.p90_n_tok, "
        "s.p50_sketch, s.p90_sketch "
        "FROM ex e JOIN est s USING (bucket_start, source)"
    ),
)
def bucket_quantiles_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s1tiling_spark.operators.sketch import quantile_sketch_long, sketch_quantiles

    seq = sequences_from_documents(spark, sf_dir)
    exact = seq.groupBy(
        F.date_trunc("day", "event_ts").alias("bucket_start"), "source"
    ).agg(
        F.percentile("n_tok", 0.5).alias("p50_n_tok"),
        F.percentile("n_tok", 0.9).alias("p90_n_tok"),
    )
    # sketch path: build at 1h, MERGE to 1d (bin-wise sum), estimate
    sk1h = quantile_sketch_long(seq, "1h", width=_QW, cap=_QCAP)
    sk1d = (
        sk1h.groupBy(
            F.date_trunc("day", "bucket_start").alias("bucket_start"),
            "source",
            "qbin",
        ).agg(F.sum("cnt").alias("cnt"))
    )
    est = sketch_quantiles(sk1d, [(50, "p50_sketch"), (90, "p90_sketch")], width=_QW)
    return exact.join(est, ["bucket_start", "source"]).select(
        "bucket_start", "source", "p50_n_tok", "p90_n_tok",
        "p50_sketch", "p90_sketch",
    )


# ---------------------------------------------------------------------
# Count-min sketch per (1d bucket, source): merge-able frequency
# sketch (operators/sketch.py). md5-derived row hashes → bit-identical
# in DuckDB, so even the sketch is oracle-gated.
def _cms_oracle() -> str:
    depth_rows = " UNION ALL ".join(
        f"SELECT bucket_start, source, {d} AS depth, "
        f"{cms_sql_col('token', d, CMS_WIDTH)} AS col FROM tok"
        for d in range(CMS_DEPTH)
    )
    return (
        f"WITH {SEQUENCES_ORACLE_CTE}, "
        "tok AS (SELECT date_trunc('day', event_ts) AS bucket_start, source, "
        "  u.tok AS token FROM sequences, unnest(tokens) AS u(tok)), "
        f"cells AS ({depth_rows}) "
        "SELECT bucket_start, source, depth, col, count(*) AS cnt "
        "FROM cells GROUP BY 1, 2, 3, 4"
    )


@register("cms_sketch_1d", oracle=_cms_oracle())
def cms_sketch_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = sequences_from_documents(spark, sf_dir)
    return cms_long(seq, F.date_trunc("day", F.col("event_ts")))


# ---------------------------------------------------------------------
# Mergeable distinct-count sketch per (1d bucket, source): HLL-style
# max-rank registers over doc_id (operators/sketch.py) — the mergeable
# counterpart of census_aggs' exact n_users countDistinct, for the
# regime where per-group distinct state is unbounded. The Spark side
# builds registers at the 1h tier and MERGES 1h→1d inside the query
# (element-wise max); the oracle computes registers directly at 1d —
# equality across engines is exactly the merge==direct property of the
# max-register sketch, verified on every register. All-integer output
# (reg, rho), md5 hash discipline → hash-exact gate.
def _distinct_sketch_oracle() -> str:
    from s1tiling_spark.operators.sketch import hll_sql_parts

    reg, rho = hll_sql_parts("doc_id")
    return (
        f"WITH {SEQUENCES_ORACLE_CTE}, "
        "r AS (SELECT date_trunc('day', event_ts) AS bucket_start, source, "
        f"  {reg} AS reg, {rho} AS rho FROM sequences) "
        "SELECT bucket_start, source, reg, CAST(max(rho) AS INT) AS rho "
        "FROM r GROUP BY 1, 2, 3"
    )


@register("distinct_sketch_1d", oracle=_distinct_sketch_oracle())
def distinct_sketch_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s1tiling_spark.operators.rollup import bucket_col
    from s1tiling_spark.operators.sketch import (
        distinct_registers_long,
        distinct_registers_merge,
    )

    seq = sequences_from_documents(spark, sf_dir)
    regs_1h = distinct_registers_long(
        seq, bucket_col(F.col("event_ts"), "1h"), F.col("doc_id")
    )
    return distinct_registers_merge(
        regs_1h, F.date_trunc("day", F.col("bucket_start"))
    ).select("bucket_start", "source", "reg", F.col("rho").cast("int").alias("rho"))


# ---------------------------------------------------------------------
# Gaps-and-islands: contiguous runs of present 1h buckets per
# source via the classic hour_index - row_number() group key; one row
# per island with its span and length. Pure integer arithmetic.
@register(
    "gap_islands",
    oracle=(
        f"WITH {SEQUENCES_ORACLE_CTE}, "
        "tier AS (SELECT DISTINCT date_trunc('hour', event_ts) AS bucket_start, "
        "  source FROM sequences), "
        "g AS (SELECT source, bucket_start, "
        "  CAST(epoch(bucket_start) AS BIGINT) / 3600 "
        "  - row_number() OVER (PARTITION BY source ORDER BY bucket_start) AS grp "
        "FROM tier) "
        "SELECT source, min(bucket_start) AS island_start, "
        "max(bucket_start) AS island_end, count(*) AS n_buckets "
        "FROM g GROUP BY source, grp"
    ),
)
def gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = sequences_from_documents(spark, sf_dir)
    tier = seq.select(
        F.date_trunc("hour", "event_ts").alias("bucket_start"), "source"
    ).distinct()
    w = Window.partitionBy("source").orderBy("bucket_start")
    g = tier.withColumn(
        "grp",
        (F.unix_timestamp("bucket_start") / 3600).cast("long")
        - F.row_number().over(w),
    )
    return g.groupBy("source", "grp").agg(
        F.min("bucket_start").alias("island_start"),
        F.max("bucket_start").alias("island_end"),
        F.count("*").alias("n_buckets"),
    ).drop("grp")
