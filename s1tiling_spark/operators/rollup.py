"""Tiered continuous aggregates: the engine's core rollup.

The reference's core aggregation is the mosaic — N exclusive rasters on
one tile grid reduced to one raster (`Synthetize`,
`/root/reference/s1tiling/libs/otbwrappers/s1_to_s2.py:776-888`;
semantics `/root/reference/docs/dataflow-main.rst:274-276`), grouped by
``(tile, polarisation, orbit, acquisition_day)``
(`otbpipeline.py:418-452`). Here the grouping axes are
``(time bucket, source)`` and the reduction is count/sum/min/max of
``n_tok`` plus a merge-able token-histogram sketch.

Tier cascade (1h → 1d → 30d) is partial→final re-aggregation — the
reference's incremental coverage accumulation (`lia.py:1658-1683`)
generalized: every stat is a merge-able partial (sum-of-sums,
min-of-mins, count-of-counts, histogram = bin-wise sum), so the 1d tier
reads 24 rows per (day, source) from the 1h tier, never the raw table.

Scale notes (100 TB):
- ``groupBy(bucket, source)`` does map-side partial aggregation before
  the shuffle; shuffled volume is O(groups), not O(rows).
- The histogram uses explode → groupBy(bucket, source, bin): partial
  aggregation collapses each map task's token stream to ≤64 bins per
  group *before* the shuffle, so exploding a 4096-token array never
  crosses the wire row-by-row.
- Hot sources are handled upstream by salted repartition + AQE
  (see plans/tiers.py), not here — the rollup itself is skew-neutral
  because partial aggs bound per-task state by group count.
"""

from __future__ import annotations

from datetime import date, datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TIERS = ("1h", "1d", "30d")
# every tier bucket is a whole number of seconds aligned to the Unix
# epoch (1h/1d truncation in UTC is the same floor)
TIER_SPAN_S = {"1h": 3_600, "1d": 86_400, "30d": 30 * 86_400}
_TRUNC = {"1h": "hour", "1d": "day"}
_EPOCH = datetime(1970, 1, 1)
N_HIST_BINS = 64
VOCAB = 50_000


def md5_long(c: Column) -> Column:
    """Deterministic 60-bit integer hash computable in any SQL engine:
    first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# DuckDB mirror of md5_long, for oracle SQL
MD5_LONG_SQL = "CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def bucket_col(ts: Column, tier: str) -> Column:
    """Tumbling-bucket start for a tier. 1h/1d align to wall-clock
    boundaries (`date_trunc`); 30d aligns to the Unix epoch so buckets
    are stable regardless of the data's min timestamp. ``unix_seconds``
    floors (``unix_timestamp`` truncates toward zero, which would put
    the last sub-second before the epoch in the epoch's bucket)."""
    if tier in _TRUNC:
        return F.date_trunc(_TRUNC[tier], ts)
    if tier == "30d":
        span = F.lit(TIER_SPAN_S["30d"])
        return F.timestamp_seconds(F.floor(F.unix_seconds(ts) / span) * span)
    raise ValueError(f"unknown tier {tier!r}")


def bucket_floor(tier: str, ts: datetime) -> datetime:
    """Driver-side :func:`bucket_col`: start of the ``tier`` bucket
    holding ``ts`` (naive UTC)."""
    if tier not in TIER_SPAN_S:
        raise ValueError(f"unknown tier {tier!r}")
    span = timedelta(seconds=TIER_SPAN_S[tier])
    return _EPOCH + (ts - _EPOCH) // span * span


def partition_tier(tier: str) -> str:
    """The one partition rule of the tier store: a ``tier`` row lands in
    the partition named by the start date of its bucket in the tier
    above it in the cascade. 1d and hist_1d partition by their 30d
    bucket. Every other tier partitions by day: 1h (the tier above it
    is 1d), the tiers whose day partitions already hold one 30d bucket
    each (30d, hist_30d, blocks_1h) and tiers the cascade does not
    know."""
    return "30d" if tier in ("1d", "hist_1d") else "1d"


def _epoch_date(ts: Column, span_s: int) -> Column:
    """UTC start date (a DATE) of the epoch-aligned ``span_s`` bucket
    holding ``ts``, whatever the session time zone. ``unix_seconds``
    floors, like :func:`bucket_col`."""
    days = F.floor(F.unix_seconds(ts) / span_s) * (span_s // 86_400)
    return F.date_from_unix_date(days.cast("int"))


def utc_date(ts: Column) -> Column:
    """The UTC date of ``ts``: the day a reader asks a tier for."""
    return _epoch_date(ts, 86_400)


def partition_col(ts: Column, tier: str) -> Column:
    """Spark side of :func:`partition_floor`: the partition date of a
    ``tier`` row whose bucket starts at ``ts``."""
    return _epoch_date(ts, TIER_SPAN_S[partition_tier(tier)])


def partition_floor(tier: str, ts: datetime | date) -> date:
    """Driver-side :func:`partition_col`: the partition date of a
    ``tier`` row whose bucket starts at ``ts`` (naive UTC; a date
    stands for its midnight)."""
    if not isinstance(ts, datetime):
        ts = datetime(ts.year, ts.month, ts.day)
    return bucket_floor(partition_tier(tier), ts).date()


def bucket_sql(ts_expr: str, tier: str) -> str:
    """DuckDB SQL equivalent of :func:`bucket_col` (oracle parity)."""
    if tier in _TRUNC:
        return f"date_trunc('{_TRUNC[tier]}', {ts_expr})"
    if tier == "30d":
        span = TIER_SPAN_S["30d"]
        return f"CAST(to_timestamp(floor(epoch({ts_expr})/{span})*{span}) AS TIMESTAMP)"
    raise ValueError(f"unknown tier {tier!r}")


def rollup_sequences(seq: DataFrame, tier: str) -> DataFrame:
    """Raw sequences → one retention tier. One shuffle, partial-agg'd."""
    return (
        seq.groupBy(
            bucket_col(F.col("event_ts"), tier).alias("bucket_start"),
            "source",
        ).agg(
            F.count("*").alias("cnt"),
            F.sum("n_tok").cast("long").alias("sum_n_tok"),
            F.min("n_tok").alias("min_n_tok"),
            F.max("n_tok").alias("max_n_tok"),
        )
    )


def rollup_from_lower(lower: DataFrame, tier: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (merge-able
    partials — never touches the raw table). Reference analog: partial
    coverage accumulation `lia.py:1658-1683`."""
    return (
        lower.groupBy(
            bucket_col(F.col("bucket_start"), tier).alias("bucket_start"),
            "source",
        ).agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_n_tok").alias("sum_n_tok"),
            F.min("min_n_tok").alias("min_n_tok"),
            F.max("max_n_tok").alias("max_n_tok"),
        )
    )


def token_hist_long(seq: DataFrame, tier: str, n_bins: int = N_HIST_BINS) -> DataFrame:
    """Token-histogram sketch in long form: (bucket_start, source, bin,
    tok_cnt). Bin = token id folded into ``n_bins`` equal-width ranges.

    Long form is the merge-able representation (map-sum across tiers =
    groupBy+sum on the same shape); :func:`assemble_hist` packs it into
    a map column for the tier table.

    Physical shape (measured on 600M tokens, local[32]): hashing a
    (timestamp, string, int) key per exploded token costs ~100s; an int
    key costs ~7s. So the group key is dictionary-encoded first — the
    distinct (bucket, source) pairs (O(thousands), read via a pruned
    2-column scan) get an integer gid, broadcast-joined onto the rows
    BEFORE the explode; the per-token aggregate then hashes (gid:long,
    bin:int) only, and the gid is joined back after the aggregate on
    O(groups) rows. Same trick a columnar engine's dictionary encoding
    performs, expressed in the plan.

    The gid is the repo-standard 60-bit md5 of the group key — a pure
    per-row projection. (A dense row_number() gid needs a GLOBAL window
    — one single-partition stage + "No Partition Defined" warning per
    run; collision odds at the O(groups) cardinality that already makes
    the broadcast legal are ≤ n²/2⁶¹, vanishing.)"""
    width = VOCAB // n_bins
    pre = seq.select(
        bucket_col(F.col("event_ts"), tier).alias("bucket_start"),
        "source",
        "tokens",
    )
    keys = (
        pre.select("bucket_start", "source")
        .distinct()
        .withColumn(
            "gid",
            md5_long(
                F.concat_ws(
                    "|", F.col("bucket_start").cast("string"), F.col("source")
                )
            ),
        )
        # the not-null constraints the inner joins below would infer,
        # stated once: both joins then read the same key set, shuffled
        # once (each would otherwise re-scan and re-shuffle its own)
        .filter(
            F.col("bucket_start").isNotNull()
            & F.col("source").isNotNull()
            & F.col("gid").isNotNull()
        )
    )
    hist = (
        pre.join(F.broadcast(keys), ["bucket_start", "source"])
        .select("gid", F.explode("tokens").alias("token"))
        .groupBy(
            "gid",
            # integer `div`, not double divide + cast: same value for
            # every token (both truncate toward zero; token ids are
            # non-negative), ~25 % cheaper per exploded token at 600 M
            # tokens (measured A/B, OPTIMIZATION_r06.md)
            F.least(F.expr(f"token div {width}"), F.lit(n_bins - 1))
            .cast("int")
            .alias("bin"),
        )
        .agg(F.count("*").alias("tok_cnt"))
    )
    return hist.join(F.broadcast(keys), "gid").select(
        "bucket_start", "source", "bin", "tok_cnt"
    )


def merge_hist_long(lower_hist: DataFrame, tier: str) -> DataFrame:
    """Cascade a long-form histogram to a coarser tier: bin-wise sum."""
    return (
        lower_hist.groupBy(
            bucket_col(F.col("bucket_start"), tier).alias("bucket_start"),
            "source",
            "bin",
        ).agg(F.sum("tok_cnt").alias("tok_cnt"))
    )


def assemble_hist(hist_long: DataFrame) -> DataFrame:
    """Pack long-form histogram into map<bin,count> per (bucket, source)
    for storage in the tier table."""
    return hist_long.groupBy("bucket_start", "source").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("bin", "tok_cnt")))
        ).alias("tok_hist")
    )


def counter_increase(
    ts: DataFrame,
    keys: list[str],
    ts_col: str,
    counter_col: str,
    tier: str,
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-bucket ``increase`` of a monotonic-with-resets counter — the
    PromQL ``increase()``/``rate()`` semantics every metrics backend
    implements over cumulative counters (requests served, tokens
    ingested) that restart from 0 when a worker restarts.

    Per series (``keys``), ordered by ``(ts_col, *order_cols)``:
    ``delta = counter - lag(counter)`` when non-negative, else the
    counter RESET between samples and the post-reset value itself is
    the contribution (the counter restarted from 0; anything it
    counted before the observed sample is unknowable and dropped —
    Prometheus's exact convention). The first sample of a series has
    no predecessor and contributes nothing. Per-bucket ``increase`` is
    the sum of deltas; ``rate`` divides by the bucket span.

    Scale shape: ONE shuffle — the lag window partitions by the series
    key, and the bucket groupBy that follows re-aggregates within the
    same series (map-side partial before its shuffle collapses to
    O(buckets)). Counter semantics are inherently per-series
    sequential, so series cardinality (not row count) is the
    parallelism floor — at 10^12 rows the series key set must be wide
    (it is: sources × metric), and a single hot series is a data-model
    bug, not a skew to salt.
    """
    from pyspark.sql import Window

    span = TIER_SPAN_S[tier]
    w = Window.partitionBy(*keys).orderBy(ts_col, *order_cols)
    prev = F.lag(F.col(counter_col)).over(w)
    delta = (
        F.when(prev.isNull(), F.lit(None))
        .when(F.col(counter_col) >= prev, F.col(counter_col) - prev)
        .otherwise(F.col(counter_col))
    )
    return (
        ts.withColumn("_delta", delta)
        .groupBy(
            *keys, bucket_col(F.col(ts_col), tier).alias("bucket_start")
        )
        .agg(
            F.sum("_delta").alias("increase"),
            F.count("_delta").cast("long").alias("n_samples"),
        )
        .withColumn("rate_per_sec", F.col("increase") / F.lit(float(span)))
    )
