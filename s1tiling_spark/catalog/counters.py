"""Counter-semantics rollup: PromQL ``increase``/``rate`` with reset
handling, over the ``events`` table.

BEYOND-WINDOW EXTRAS: registered after the TPC-H demonstrations, so
they never compete with a §2 gate for the driver's 50-entry
correctness window — verify with ``python tools/check_oracle.py
counter_rate_1h ohlc_1h irate_idelta_1h subquery_max_rate_1d
sliding_increase_4h offset_compare_24h``.

The input counter is derived deterministically in-query: the running
sum of integer value-cents per event_type, wrapped modulo ``_MOD`` —
a faithful model of a 32-bit-style cumulative counter that resets
(wraps) mid-stream, so the reset branch of the operator is actually
exercised (≈ a dozen wraps per series at sf0.01). All arithmetic is
integer until the final rate division, so both engines agree exactly.

Reference analog: the incremental coverage accumulator
(`/root/reference/s1tiling/libs/lia.py:1658-1683`) is a
monotonic-accumulate-then-difference pattern; this generalizes it to
restartable counters, the semantics every metrics backend ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import counter_increase
from s1tiling_spark.registry import register
from s1tiling_spark.sources.tables import load_table

COUNTER_MOD = 100_000  # counter wraps at 1000.00 value-units

# Shared derived-counter construction (Spark + oracle CTE): every
# counter query here models the SAME counter. The SQL wrap is
# ((x % m) + m) % m, the pmod identity: DuckDB's plain `%` keeps the
# dividend's sign, so a negative running cents sum (legal — `value` is
# an unconstrained double) would diverge from Spark's pmod under bare
# `cum % m`.
COUNTER_CTE = f"""cum AS (
  SELECT event_type, ts, event_id, value,
         sum(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
         ) AS cum
  FROM events
),
ctr AS (
  SELECT event_type, ts, event_id, value,
         CAST(((cum % {COUNTER_MOD}) + {COUNTER_MOD}) % {COUNTER_MOD}
              AS BIGINT) AS counter
  FROM cum
)"""


def derived_counter(ev: DataFrame) -> DataFrame:
    """events → (event_type, ts, event_id, value, counter): running
    value-cents sum wrapped modulo ``COUNTER_MOD`` (pmod — always
    non-negative, matching :data:`COUNTER_CTE`)."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return ev.select(
        "event_type",
        "ts",
        "event_id",
        "value",
        F.pmod(
            F.sum(F.round(F.col("value") * 100).cast("long")).over(w),
            F.lit(COUNTER_MOD),
        ).alias("counter"),
    )


_COUNTER_ORACLE = f"""
WITH {COUNTER_CTE},
lagd AS (
  SELECT event_type, ts, counter,
         lag(counter) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
         ) AS prev
  FROM ctr
),
d AS (
  SELECT event_type, ts,
         CASE WHEN prev IS NULL THEN NULL
              WHEN counter >= prev THEN counter - prev
              ELSE counter END AS delta
  FROM lagd
)
SELECT event_type, date_trunc('hour', ts) AS bucket_start,
       CAST(sum(delta) AS BIGINT) AS increase,
       CAST(count(delta) AS BIGINT) AS n_samples,
       CAST(sum(delta) AS BIGINT) / 3600.0 AS rate_per_sec
FROM d GROUP BY 1, 2
"""


@register("counter_rate_1h", oracle=_COUNTER_ORACLE)
def counter_rate_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    ctr = derived_counter(ev)
    return counter_increase(
        ctr,
        keys=["event_type"],
        ts_col="ts",
        counter_col="counter",
        tier="1h",
        order_cols=("event_id",),
    )


# ---------------------------------------------------------------------
# OHLC downsample: per (series, bucket) open/high/low/close — the M4
# visualization-preserving aggregate (Jugel et al., VLDB 2014) and the
# candlestick rollup every financial/metrics store ships. The Spark
# side is ONE groupBy aggregate: open/close ride struct-min/max (a
# struct ordered (ts, event_id, value) compares lexicographically, so
# its min is the earliest row and the value field falls out) — full
# map-side partial aggregation, no window, no second shuffle. Struct
# ordering drops the aggregate out of hash-agg codegen into a
# partial+final SortAggregate (min_by/max_by plan identically) —
# still one shuffle of O(groups) partials; audited in PLANS.md. The
# oracle mirrors the SEMANTICS with row_number windows (DuckDB struct
# min doesn't project fields the same way); values are compared, not
# plan shape.
_OHLC_ORACLE = """
WITH r AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_start, value,
         row_number() OVER (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts DESC, event_id DESC) AS rn_z
  FROM events
)
SELECT event_type, bucket_start,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_z = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n_samples
FROM r GROUP BY 1, 2
"""


@register("ohlc_1h", oracle=_OHLC_ORACLE)
def ohlc_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    first = F.min(F.struct("ts", "event_id", "value"))["value"]
    last = F.max(F.struct("ts", "event_id", "value"))["value"]
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket_start")
        ).agg(
            first.alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            last.alias("close"),
            F.count("*").cast("long").alias("n_samples"),
        )
    )


# ---------------------------------------------------------------------
# PromQL irate()/idelta(): the INSTANT rate — last two samples of the
# range, not the whole-range average. The dashboard query for spiky
# counters ("what is it doing right now"), evaluated at hourly steps.
#
# Exactness: delta is integer cents (reset-handled like increase());
# the duration is exact integer microseconds; the published rate is
# delta_cents * 1e6 / dt_us — one IEEE division of two exactly-
# representable integers (delta*1e6 <= 1e11 < 2^53), bit-identical
# across engines. idelta is the raw gauge difference of the SAME two
# samples: one IEEE subtraction, also bit-exact. Same-timestamp pairs
# (dt=0) publish NULL, PromQL's guard.
#
# Plan shape: one row_number window per (series, hour) to take the top
# 2 samples, then a conditional aggregation on the SAME keys — Catalyst
# reuses the window's hash partitioning, so the agg adds no second
# exchange. Buckets with a single sample have no instant pair and are
# dropped (rn=2 row absent -> prev_* NULL -> inner filter).
_IRATE_ORACLE = f"""
WITH {COUNTER_CTE},
r AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_start,
         ts, event_id, value, counter,
         row_number() OVER (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts DESC, event_id DESC) AS rn
  FROM ctr
),
p AS (
  SELECT event_type, bucket_start,
         max(CASE WHEN rn = 1 THEN counter END) AS last_ctr,
         max(CASE WHEN rn = 2 THEN counter END) AS prev_ctr,
         max(CASE WHEN rn = 1 THEN value END) AS last_val,
         max(CASE WHEN rn = 2 THEN value END) AS prev_val,
         max(CASE WHEN rn = 1 THEN epoch_us(ts) END) AS last_us,
         max(CASE WHEN rn = 2 THEN epoch_us(ts) END) AS prev_us
  FROM r WHERE rn <= 2 GROUP BY 1, 2
)
SELECT event_type, bucket_start,
       CAST(last_us - prev_us AS BIGINT) AS dt_us,
       CAST(CASE WHEN last_ctr >= prev_ctr THEN last_ctr - prev_ctr
                 ELSE last_ctr END AS BIGINT) AS inst_delta_cents,
       CASE WHEN last_us > prev_us THEN
         CAST((CASE WHEN last_ctr >= prev_ctr THEN last_ctr - prev_ctr
                    ELSE last_ctr END) * 1000000 AS DOUBLE)
         / (last_us - prev_us)
       END AS irate_cents_per_sec,
       last_val - prev_val AS idelta
FROM p WHERE prev_us IS NOT NULL
"""


@register("irate_idelta_1h", oracle=_IRATE_ORACLE)
def irate_idelta_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    ctr = derived_counter(ev).withColumn(
        "bucket_start", F.date_trunc("hour", "ts")
    )
    w = Window.partitionBy("event_type", "bucket_start").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    top2 = ctr.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)

    def pick(rn: int, col: str):
        return F.max(F.when(F.col("rn") == rn, F.col(col)))

    p = top2.groupBy("event_type", "bucket_start").agg(
        pick(1, "counter").alias("last_ctr"),
        pick(2, "counter").alias("prev_ctr"),
        pick(1, "value").alias("last_val"),
        pick(2, "value").alias("prev_val"),
        # events.ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP (the
        # session zone is UTC, so the cast is a pure type relabel)
        F.max(
            F.when(F.col("rn") == 1, F.unix_micros(F.col("ts").cast("timestamp")))
        ).alias("last_us"),
        F.max(
            F.when(F.col("rn") == 2, F.unix_micros(F.col("ts").cast("timestamp")))
        ).alias("prev_us"),
    )
    inst = F.when(
        F.col("last_ctr") >= F.col("prev_ctr"),
        F.col("last_ctr") - F.col("prev_ctr"),
    ).otherwise(F.col("last_ctr"))
    return p.filter(F.col("prev_us").isNotNull()).select(
        "event_type",
        "bucket_start",
        (F.col("last_us") - F.col("prev_us")).cast("long").alias("dt_us"),
        inst.cast("long").alias("inst_delta_cents"),
        F.when(
            F.col("last_us") > F.col("prev_us"),
            (inst * F.lit(1000000)).cast("double")
            / (F.col("last_us") - F.col("prev_us")),
        ).alias("irate_cents_per_sec"),
        (F.col("last_val") - F.col("prev_val")).alias("idelta"),
    )


# ---------------------------------------------------------------------
# PromQL subquery: max_over_time(increase(ctr[1h])[1d:1h]) — the daily
# peak-hour digest ("which hour was hottest, and how hot"). Composes
# the hourly increase tier through a SECOND aggregation: exactly the
# rollup-of-rollup cascade the tier engine is built on, applied to a
# derived (rate) series instead of a raw one.
#
# Argmax is deterministic: max(struct(increase, -epoch_us)) takes the
# largest increase and, on ties, the EARLIEST hour (larger negated
# timestamp). Hours whose increase is NULL (a series' very first
# sample stands alone in its bucket: its delta is undefined) are
# excluded in both engines before the daily fold.
_SUBQ_ORACLE = f"""
WITH {COUNTER_CTE},
lagd AS (
  SELECT event_type, ts, counter,
         lag(counter) OVER (
           PARTITION BY event_type ORDER BY ts, event_id) AS prev
  FROM ctr
),
h AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_start,
         CAST(sum(CASE WHEN prev IS NULL THEN NULL
                       WHEN counter >= prev THEN counter - prev
                       ELSE counter END) AS BIGINT) AS increase
  FROM lagd GROUP BY 1, 2
),
rk AS (
  SELECT event_type, date_trunc('day', bucket_start) AS day,
         bucket_start, increase,
         row_number() OVER (
           PARTITION BY event_type, date_trunc('day', bucket_start)
           ORDER BY increase DESC, bucket_start ASC) AS rn,
         count(*) OVER (
           PARTITION BY event_type, date_trunc('day', bucket_start)
         ) AS n_hours
  FROM h WHERE increase IS NOT NULL
)
SELECT event_type, day, CAST(increase AS BIGINT) AS max_increase,
       increase / 3600.0 AS max_rate_per_sec,
       bucket_start AS peak_hour, CAST(n_hours AS BIGINT) AS n_hours
FROM rk WHERE rn = 1
"""


@register("subquery_max_rate_1d", oracle=_SUBQ_ORACLE)
def subquery_max_rate_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = counter_increase(
        derived_counter(ev),
        keys=["event_type"],
        ts_col="ts",
        counter_col="counter",
        tier="1h",
        order_cols=("event_id",),
    ).filter(F.col("increase").isNotNull())
    best = F.max(
        F.struct(
            F.col("increase").alias("inc"),
            (-F.unix_micros("bucket_start")).alias("neg_us"),
        )
    )
    return (
        hourly.groupBy(
            "event_type", F.date_trunc("day", "bucket_start").alias("day")
        )
        .agg(best.alias("best"), F.count("*").cast("long").alias("n_hours"))
        .select(
            "event_type",
            "day",
            F.col("best.inc").cast("long").alias("max_increase"),
            (F.col("best.inc") / F.lit(3600.0)).alias("max_rate_per_sec"),
            F.timestamp_micros(-F.col("best.neg_us")).alias("peak_hour"),
            "n_hours",
        )
    )


# ---------------------------------------------------------------------
# PromQL range vector at eval steps: increase(ctr[4h]) evaluated every
# hour — a SLIDING 4-hour window stepping hourly, composed from the 1h
# tier's partial increases (sum of the hourly increases inside the
# range). This is the tier-native evaluation of range vectors: the
# engine never re-reads raw samples, it folds stored partials — the
# same merge-able-partial contract the 1d/30d cascade uses, applied
# along a sliding frame instead of a coarser bucket.
#
# The frame is RANGE over the epoch-hour index (not ROWS): a series
# with missing hours must not stretch its window over the gap.
_SLIDING_HOURS = 4

_SLIDING_ORACLE = f"""
WITH {COUNTER_CTE},
lagd AS (
  SELECT event_type, ts, counter,
         lag(counter) OVER (
           PARTITION BY event_type ORDER BY ts, event_id) AS prev
  FROM ctr
),
h AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_start,
         CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT)
           AS hour_idx,
         CAST(sum(CASE WHEN prev IS NULL THEN NULL
                       WHEN counter >= prev THEN counter - prev
                       ELSE counter END) AS BIGINT) AS increase
  FROM lagd GROUP BY 1, 2, 3
)
SELECT event_type, bucket_start,
       CAST(sum(increase) OVER w AS BIGINT) AS window_increase,
       CAST(count(increase) OVER w AS BIGINT) AS hours_present,
       CAST(sum(increase) OVER w AS BIGINT)
         / {_SLIDING_HOURS * 3600}.0 AS window_rate_per_sec
FROM h
WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
             RANGE BETWEEN {_SLIDING_HOURS - 1} PRECEDING AND CURRENT ROW)
"""


@register("sliding_increase_4h", oracle=_SLIDING_ORACLE)
def sliding_increase_4h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = counter_increase(
        derived_counter(ev),
        keys=["event_type"],
        ts_col="ts",
        counter_col="counter",
        tier="1h",
        order_cols=("event_id",),
    ).withColumn(
        "hour_idx", F.expr("unix_micros(bucket_start) div 3600000000")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rangeBetween(-(_SLIDING_HOURS - 1), Window.currentRow)
    )
    return hourly.select(
        "event_type",
        "bucket_start",
        F.sum("increase").over(w).cast("long").alias("window_increase"),
        F.count("increase").over(w).cast("long").alias("hours_present"),
        (
            F.sum("increase").over(w).cast("long")
            / F.lit(float(_SLIDING_HOURS * 3600))
        ).alias("window_rate_per_sec"),
    )


# ---------------------------------------------------------------------
# PromQL offset modifier: increase(ctr[1h]) vs increase(ctr[1h] offset
# 1d) — the day-over-day dashboard comparison ("is this hour hotter
# than the same hour yesterday"). The shifted series is fetched with a
# degenerate RANGE frame (BETWEEN 24 PRECEDING AND 24 PRECEDING over
# the epoch-hour index): it selects exactly the hour_idx-24 row when it
# exists and NULL when that hour is missing — gap-correct without a
# self-join, and it rides the same series partitioning as the counter
# window (no extra shuffle). Ratio is one IEEE division of two exact
# integers; yesterday==0 publishes NULL (PromQL's NaN guard).
_OFFSET_ORACLE = f"""
WITH {COUNTER_CTE},
lagd AS (
  SELECT event_type, ts, counter,
         lag(counter) OVER (
           PARTITION BY event_type ORDER BY ts, event_id) AS prev
  FROM ctr
),
h AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_start,
         CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT)
           AS hour_idx,
         CAST(sum(CASE WHEN prev IS NULL THEN NULL
                       WHEN counter >= prev THEN counter - prev
                       ELSE counter END) AS BIGINT) AS increase
  FROM lagd GROUP BY 1, 2, 3
),
s AS (
  SELECT event_type, bucket_start, increase,
         max(increase) OVER (
           PARTITION BY event_type ORDER BY hour_idx
           RANGE BETWEEN 24 PRECEDING AND 24 PRECEDING) AS increase_1d_ago
  FROM h WHERE increase IS NOT NULL
)
SELECT event_type, bucket_start,
       CAST(increase AS BIGINT) AS increase,
       CAST(increase_1d_ago AS BIGINT) AS increase_1d_ago,
       CAST(increase - increase_1d_ago AS BIGINT) AS dod_delta,
       CASE WHEN increase_1d_ago > 0
            THEN CAST(increase AS DOUBLE) / increase_1d_ago END AS dod_ratio
FROM s WHERE increase_1d_ago IS NOT NULL
"""


@register("offset_compare_24h", oracle=_OFFSET_ORACLE)
def offset_compare_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = counter_increase(
        derived_counter(ev),
        keys=["event_type"],
        ts_col="ts",
        counter_col="counter",
        tier="1h",
        order_cols=("event_id",),
    ).filter(F.col("increase").isNotNull()).withColumn(
        "hour_idx", F.expr("unix_micros(bucket_start) div 3600000000")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rangeBetween(-24, -24)
    )
    shifted = hourly.withColumn("increase_1d_ago", F.max("increase").over(w))
    return shifted.filter(F.col("increase_1d_ago").isNotNull()).select(
        "event_type",
        "bucket_start",
        F.col("increase").cast("long").alias("increase"),
        F.col("increase_1d_ago").cast("long").alias("increase_1d_ago"),
        (F.col("increase") - F.col("increase_1d_ago"))
        .cast("long")
        .alias("dod_delta"),
        F.when(
            F.col("increase_1d_ago") > 0,
            F.col("increase").cast("double") / F.col("increase_1d_ago"),
        ).alias("dod_ratio"),
    )
