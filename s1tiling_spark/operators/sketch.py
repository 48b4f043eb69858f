"""Count-min sketch per retention bucket — a merge-able frequency
sketch for token streams where the exact census is too wide.

The tier tables carry an exact 64-bin histogram (operators/rollup.py);
a CMS answers point queries ("how often did token T appear in this
source-day") with bounded overestimate using depth × width counters
regardless of vocabulary size. Long form ``(bucket_start, source,
depth, col, cnt)`` makes the merge a groupBy-sum — identical shape to
the histogram cascade, so 1d→30d rollup is the same merge-able-partial
pattern as the reference's coverage accumulation
(`/root/reference/s1tiling/libs/otbwrappers/lia.py:1658-1683`).

Hash discipline: row hashes are md5-derived (`conv(substr(md5,1,15))`),
so the sketch is bit-identical in Spark and DuckDB (oracle-gated) and
at any parallelism. Everything is JVM column algebra — the explode
produces DEPTH entries per token, collapsed by map-side partial
aggregation to ≤ groups × DEPTH × WIDTH rows per task before the
shuffle (the same bound that makes the histogram skew-neutral).

Estimate = min over depths of the (depth, h_depth(token)) counter —
classic CMS guarantee: never an underestimate; overestimate bounded by
collisions (tests/test_cms.py asserts both on the fixture).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import MD5_LONG_SQL, md5_long

CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_col(token: Column, depth: int, width: int) -> Column:
    """Column index of `token` in hash row `depth` — the repo-standard
    md5-derived integer (rollup.md5_long) folded to the row width."""
    h = md5_long(F.concat(F.lit(f"cms{depth}:"), token.cast("string")))
    return F.pmod(h, F.lit(width)).cast("int")


def cms_sql_col(token_expr: str, depth: int, width: int) -> str:
    """DuckDB mirror of :func:`_cms_col` (same MD5_LONG_SQL formula as
    every other oracle hash — one hash discipline, one place)."""
    h = MD5_LONG_SQL.format(expr=f"'cms{depth}:' || CAST({token_expr} AS VARCHAR)")
    return f"CAST({h} % {width} AS INT)"


def cms_long(
    seq: DataFrame,
    bucket: Column,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Token stream → long-form CMS per (bucket, source): one row per
    non-zero (depth, col) counter."""
    from s1tiling_spark.operators.dedup import spread_small_scan

    # the md5 row-hash runs depth× per exploded token — spread a
    # single-file input so it parallelizes (no-op for many-file
    # corpora and for non-file-backed/streaming inputs)
    tok = spread_small_scan(seq).select(
        bucket.alias("bucket_start"), "source", F.explode("tokens").alias("token")
    )
    cells = tok.select(
        "bucket_start",
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _cms_col(F.col("token"), d, width).alias("col"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("dc"),
    )
    return (
        cells.groupBy(
            "bucket_start", "source", F.col("dc.depth").alias("depth"), F.col("dc.col").alias("col")
        )
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(lower: DataFrame, bucket: Column) -> DataFrame:
    """Cascade a long-form CMS to a coarser tier: cell-wise sum (the
    CMS merge operation — counters are linear)."""
    return (
        lower.groupBy(
            bucket.alias("bucket_start"), "source", "depth", "col"
        ).agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame, tokens: DataFrame, width: int = CMS_WIDTH, depth: int = CMS_DEPTH
) -> DataFrame:
    """Point-query estimates: for each (bucket_start, source, token) in
    `tokens`, min over depths of the matching counter (absent counter =
    0 can't happen for a token that appeared; for never-seen tokens the
    min over found cells still upper-bounds the true count of 0)."""
    probes = tokens.select(
        "bucket_start",
        "source",
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _cms_col(F.col("token"), d, width).alias("col"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("dc"),
    ).select(
        "bucket_start", "source", "token",
        F.col("dc.depth").alias("depth"), F.col("dc.col").alias("col"),
    )
    joined = probes.join(cms, ["bucket_start", "source", "depth", "col"], "left").na.fill(
        {"cnt": 0}
    )
    return joined.groupBy("bucket_start", "source", "token").agg(
        F.min("cnt").alias("est")
    )


# ---------------------------------------------------------------------
# Mergeable quantile sketch: fixed-width value-bucket counts — the
# deterministic core of the KLL/t-digest family, sized for the regime
# where exact per-group `percentile` sort state hurts (unbounded group
# cardinality). State is O(cap) counters per group, merge is bin-wise
# sum (same cascade shape as the token histogram), and the estimate is
# rank-seek over cumulative counts with error ≤ one bucket width.

QSKETCH_WIDTH = 8
QSKETCH_CAP = 127  # saturating top bucket


def quantile_sketch_long(
    seq: DataFrame,
    tier: str,
    value: str = "n_tok",
    width: int = QSKETCH_WIDTH,
    cap: int = QSKETCH_CAP,
) -> DataFrame:
    """Value stream → long-form quantile sketch per (bucket, source):
    one row per non-empty value bucket ``qbin = min(v // width, cap)``."""
    from s1tiling_spark.operators.rollup import bucket_col

    return (
        seq.groupBy(
            bucket_col(F.col("event_ts"), tier).alias("bucket_start"),
            "source",
            F.least(F.col(value) / F.lit(width), F.lit(cap))
            .cast("int")
            .alias("qbin"),
        ).agg(F.count("*").alias("cnt"))
    )


def quantile_sketch_merge(lower: DataFrame, bucket: Column) -> DataFrame:
    """Cascade a long-form quantile sketch to a coarser tier: bin-wise
    sum (counters are linear, like the CMS/histogram merges)."""
    return lower.groupBy(bucket.alias("bucket_start"), "source", "qbin").agg(
        F.sum("cnt").alias("cnt")
    )


# ---------------------------------------------------------------------
# Mergeable distinct-count sketch: HLL-style max-rank registers.
#
# census_aggs' n_users is an exact countDistinct — correct while
# per-group distinct state is bounded, but a 1h→1d→30d cascade over
# unbounded key cardinality needs a MERGEABLE partial (exact distinct
# does not re-aggregate: distinct-of-distincts ≠ distinct). The classic
# answer is HyperLogLog (Flajolet et al. 2007): hash each key, use the
# low bits as a register index and the position of the first 1-bit in
# the remaining bits as the register rank; the register vector is the
# sketch and MERGE = element-wise max — associative, idempotent (the
# property exact counts lack), O(m) state per group at any cardinality.
#
# Hash discipline: the repo-standard 60-bit md5 (rollup.md5_long), so
# registers are bit-identical in Spark and DuckDB (the gated query
# compares the merged register vectors themselves, all integers) and at
# any parallelism. Long form (bucket_start, source, reg, rho) makes the
# merge a groupBy-max — the same cascade shape as every other sketch in
# this module. Spark's own approx_count_distinct partials implement the
# same idea JVM-side but aren't reconstructable in the oracle engine,
# hence the explicit formulation.

HLL_M = 64  # registers per group (2^6); rel. error ≈ 1.04/√64 ≈ 13 %
_HLL_HASH_BITS = 60  # md5_long width


def _hll_hash(key: Column) -> Column:
    return md5_long(F.concat(F.lit("dct:"), key.cast("string")))


def _hll_params(m: int) -> tuple[int, int, float]:
    """(log2(m), qbits, alpha) for a register count ``m`` — validated
    power of two so register index/remainder split is exact bit
    arithmetic; alpha is the standard HLL bias constant for m."""
    log2m = m.bit_length() - 1
    if m <= 0 or (1 << log2m) != m:
        raise ValueError(f"HLL register count m={m} must be a power of two")
    if m == 16:
        alpha = 0.673
    elif m == 32:
        alpha = 0.697
    elif m == 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1 + 1.079 / m)
    return log2m, _HLL_HASH_BITS - log2m, alpha


def hll_reg_rho(key: Column, m: int = HLL_M) -> tuple[Column, Column]:
    """(register index, first-1-bit rank) column pair for ``key`` —
    used by :func:`distinct_registers_long`.

    The hash split is PURE BIT ARITHMETIC (shiftright / pmod, both
    exact on longs): a double division of the 60-bit hash would round
    for h ≥ 2^53 — i.e. for ~99 % of hashes — and could disagree with
    the oracle's exact integer division at power-of-two boundaries
    (found by review; the quantile-sketch rank had the same defect)."""
    return hll_split_hash(_hll_hash(key), m)


def hll_split_hash(h: Column, m: int = HLL_M) -> tuple[Column, Column]:
    """(reg, rho) from an already-computed 60-bit hash column — split
    out so tests can drive the expression with adversarial literal
    hashes (power-of-two rounding boundaries) against a pure-Python
    reference."""
    log2m, qbits, _ = _hll_params(m)
    q = F.shiftright(h, log2m)
    rho = F.when(q == 0, F.lit(qbits + 1)).otherwise(
        F.lit(qbits + 1) - F.length(F.bin(q))
    )
    return F.pmod(h, F.lit(m)).cast("int"), rho.cast("int")


def distinct_registers_long(
    rows: DataFrame, bucket: Column, key: Column, m: int = HLL_M
) -> DataFrame:
    """Key stream → long-form HLL registers per (bucket, source): one
    row per non-empty register, ``rho`` = max first-1-bit position of
    the 54-bit hash remainder (1..55; 55 = remainder is all zeros)."""
    reg, rho = hll_reg_rho(key, m)
    return (
        rows.select(
            bucket.alias("bucket_start"),
            "source",
            reg.alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("bucket_start", "source", "reg")
        .agg(F.max("rho").alias("rho"))
    )


def distinct_registers_merge(lower: DataFrame, bucket: Column) -> DataFrame:
    """Cascade registers to a coarser tier: element-wise MAX (the HLL
    merge — associative and idempotent, so late-data re-MERGE is safe)."""
    return lower.groupBy(bucket.alias("bucket_start"), "source", "reg").agg(
        F.max("rho").alias("rho")
    )


def hll_sql_parts(key_expr: str, m: int = HLL_M) -> tuple[str, str]:
    """DuckDB (reg, rho) expressions mirroring
    :func:`distinct_registers_long` — same md5 hash formula, same
    shiftright split, same bit-length trick (both engines' ``bin()``
    render minimal binary)."""
    log2m, qbits, _ = _hll_params(m)
    h = MD5_LONG_SQL.format(expr=f"'dct:' || CAST({key_expr} AS VARCHAR)")
    reg = f"CAST(({h}) % {m} AS INT)"
    q = f"(({h}) >> {log2m})"
    rho = (
        f"CAST(CASE WHEN {q} = 0 THEN {qbits + 1} "
        f"ELSE {qbits + 1} - length(bin({q})) END AS INT)"
    )
    return reg, rho


def distinct_estimate(registers: DataFrame, m: int = HLL_M) -> DataFrame:
    """HLL cardinality estimate per (bucket_start, source) from a
    long-form register relation: E = α·m²/Σ2^(−M_j) (absent registers
    contribute 2⁰ = 1), with the standard small-range linear-counting
    correction E ≤ 2.5m ∧ V>0 → m·ln(m/V). Doubles with ln → test/report
    surface, not oracle-compared (the gated query compares registers)."""
    _, _, alpha = _hll_params(m)
    g = registers.groupBy("bucket_start", "source").agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(F.lit(1.0) / F.pow(F.lit(2.0), F.col("rho"))).alias("present_inv"),
    )
    zeros = F.lit(m) - F.col("n_regs")
    inv_sum = F.col("present_inv") + zeros.cast("double")
    raw = F.lit(alpha * m * m) / inv_sum
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return g.select("bucket_start", "source", est.alias("est_distinct"))


def _with_cum_totals(sketch: DataFrame) -> DataFrame:
    """Long-form sketch + running (``cum``) and group (``total``)
    counts per (bucket_start, source) ordered by qbin — the rank
    scaffolding of :func:`sketch_quantiles`."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("bucket_start", "source")
        .orderBy("qbin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("bucket_start", "source")
    return sketch.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "total", F.sum("cnt").over(w_all)
    )


def sketch_quantiles(
    sketch: DataFrame,
    percents: list[tuple[int, str]],
    width: int = QSKETCH_WIDTH,
) -> DataFrame:
    """Quantile estimates from a long-form sketch: for each (bucket,
    source) and each (p, out_col) in ``percents`` (p in integer percent),
    the smallest bucket upper edge whose cumulative count reaches the
    integer rank ceil(p·N/100) — computed with pure integer arithmetic
    ((p·N + 99) // 100), never p·N doubles, so both engines agree
    exactly."""
    cum = _with_cum_totals(sketch)
    aggs = []
    for p, out in percents:
        # (p*N + 99) div 100 == ceil(p*N/100) — true INTEGRAL division
        # (`div`), never a double divide+floor, so the rank is exact at
        # any N on both engines
        rank = F.expr(f"({int(p)} * total + {100 - 1}) div 100")
        aggs.append(
            F.min(
                F.when(F.col("cum") >= rank, (F.col("qbin") + 1) * width)
            )
            .cast("int")
            .alias(out)
        )
    return cum.groupBy("bucket_start", "source").agg(*aggs)
