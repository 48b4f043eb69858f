"""Tier rollup correctness: cascade == direct, Spark == DuckDB oracle.

Mirrors the reference's golden-compare discipline
(`/root/reference/tests/helpers.py:40-49`, ε=1e-12): here integer stats
must match EXACTLY (reproducible across parallelism levels — SURVEY §7
"What's hard" #1)."""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
import pytest
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import (
    TIER_SPAN_S,
    TIERS,
    assemble_hist,
    bucket_col,
    bucket_floor,
    bucket_sql,
    merge_hist_long,
    rollup_from_lower,
    rollup_sequences,
    token_hist_long,
)
from s1tiling_spark.sources.sequences import sequences_from_documents
from s1tiling_spark.sources.synth import synth_sequences
from tests.helpers import assert_frames_match, assert_spark_matches_duck


@pytest.fixture(scope="module")
def seq(spark, sf_dir):
    return sequences_from_documents(spark, sf_dir).cache()


def test_cascade_equals_direct(spark, seq):
    """1h→1d cascade must equal a direct 1d rollup (merge-able partials)."""
    direct = rollup_sequences(seq, "1d").toPandas()
    cascade = rollup_from_lower(rollup_sequences(seq, "1h"), "1d").toPandas()
    assert_frames_match(cascade, direct)


def test_cascade_30d(spark, seq):
    direct = rollup_sequences(seq, "30d").toPandas()
    cascade = rollup_from_lower(
        rollup_from_lower(rollup_sequences(seq, "1h"), "1d"), "30d"
    ).toPandas()
    assert_frames_match(cascade, direct)


def test_rollup_against_oracle(spark, duck, sf_dir):
    from s1tiling_spark.catalog.rollups import _ROLLUP_ORACLE, rollup_tiers

    assert_spark_matches_duck(rollup_tiers(spark, sf_dir), duck, _ROLLUP_ORACLE)


def test_hist_merge_equals_direct(spark, seq):
    direct = token_hist_long(seq, "30d").toPandas()
    merged = merge_hist_long(token_hist_long(seq, "1d"), "30d").toPandas()
    assert_frames_match(merged, direct)


def test_hist_oracle(spark, duck, sf_dir):
    from s1tiling_spark.catalog.rollups import _HIST_ORACLE, tok_hist_tiers

    assert_spark_matches_duck(tok_hist_tiers(spark, sf_dir), duck, _HIST_ORACLE)


def test_hist_assemble_counts(spark, seq):
    hist = assemble_hist(token_hist_long(seq, "1d"))
    row = hist.limit(1).collect()[0]
    assert isinstance(row["tok_hist"], dict) and len(row["tok_hist"]) > 0


def test_rollup_parallelism_invariance(spark):
    """Same input at different partition counts → identical tier values
    (integer accumulators are order-insensitive)."""
    a = rollup_sequences(synth_sequences(spark, 3000, num_partitions=1), "1d").toPandas()
    b = rollup_sequences(
        synth_sequences(spark, 3000, num_partitions=16).repartition(7), "1d"
    ).toPandas()
    assert_frames_match(a, b)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    n = df.count()
    assert n > 0
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 5


def test_counter_increase_reset_semantics(spark):
    """Hand-computed PromQL increase(): a wrap mid-bucket contributes
    the post-reset value; the series' first sample contributes nothing;
    buckets split deltas by the CURRENT sample's bucket."""
    from pyspark.sql import functions as F

    from s1tiling_spark.operators.rollup import counter_increase

    rows = [
        # series m1, hour 10: 10 -> 25 (+15) -> 5 (reset: +5) -> 30 (+25)
        ("m1", "2024-01-01 10:00:00", 1, 10),
        ("m1", "2024-01-01 10:10:00", 2, 25),
        ("m1", "2024-01-01 10:20:00", 3, 5),
        ("m1", "2024-01-01 10:30:00", 4, 30),
        # hour 11: first delta (40-30=10) lands in hour 11 (current sample)
        ("m1", "2024-01-01 11:05:00", 5, 40),
        # series m2: single sample -> bucket row exists, increase NULL/0 samples 0
        ("m2", "2024-01-01 10:00:00", 6, 7),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts string, event_id long, counter long"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = counter_increase(
        df, keys=["k"], ts_col="ts", counter_col="counter", tier="1h",
        order_cols=("event_id",),
    )
    rows_out = out.collect()
    got = {
        (r["k"], str(r["bucket_start"])): (r["increase"], r["n_samples"])
        for r in rows_out
    }
    assert got[("m1", "2024-01-01 10:00:00")] == (15 + 5 + 25, 3)
    assert got[("m1", "2024-01-01 11:00:00")] == (10, 1)
    assert got[("m2", "2024-01-01 10:00:00")] == (None, 0)
    rate = {
        (r["k"], str(r["bucket_start"])): r["rate_per_sec"] for r in rows_out
    }
    assert abs(rate[("m1", "2024-01-01 10:00:00")] - 45 / 3600.0) < 1e-12


def test_counter_increase_cascades(spark):
    """increase is a MERGEABLE partial: every delta is assigned to its
    sample's bucket, so the 1d increase equals the sum of its 1h
    increases — counters join the histogram/quantile/CMS/distinct
    family in cascading through tiers without touching raw data."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from s1tiling_spark.operators.rollup import bucket_col, counter_increase
    from s1tiling_spark.sources.synth import synth_sequences

    seq = synth_sequences(spark, 4000, with_tokens=False)
    w = Window.partitionBy("source").orderBy("event_ts", "doc_id")
    ctr = seq.select(
        "source",
        "event_ts",
        "doc_id",
        F.pmod(F.sum(F.col("n_tok").cast("long")).over(w), F.lit(50_000)).alias(
            "counter"
        ),
    )
    direct_1d = counter_increase(
        ctr, keys=["source"], ts_col="event_ts", counter_col="counter",
        tier="1d", order_cols=("doc_id",),
    ).select("source", "bucket_start", "increase", "n_samples")
    cascaded = (
        counter_increase(
            ctr, keys=["source"], ts_col="event_ts", counter_col="counter",
            tier="1h", order_cols=("doc_id",),
        )
        .groupBy(
            "source", bucket_col(F.col("bucket_start"), "1d").alias("bucket_start")
        )
        .agg(
            F.sum("increase").alias("increase"),
            F.sum("n_samples").alias("n_samples"),
        )
    )
    a = {tuple(r) for r in direct_1d.collect()}
    b = {tuple(r) for r in cascaded.collect()}
    assert a == b and len(a) > 50


@pytest.mark.parametrize("tier", TIERS)
def test_bucket_floor_matches_spark_and_duckdb(spark, tier):
    """One bucket rule: the driver-side ``bucket_floor``, Spark's
    ``bucket_col`` and DuckDB's ``bucket_sql`` agree at, just before and
    just after bucket edges — the epoch itself, a 30d edge and an edge
    of this tier. Timestamps cross as epoch micros, so no timezone
    conversion sits between the three."""
    epoch = datetime(1970, 1, 1)
    span = timedelta(seconds=TIER_SPAN_S[tier])
    us = timedelta(microseconds=1)
    edges = (epoch, epoch + 655 * timedelta(days=30),
             bucket_floor(tier, datetime(2024, 1, 10, 7, 30)))
    stamps = sorted({e + d for e in edges for d in (-us, timedelta(0), us, span - us, span)})

    def micros(t: datetime) -> int:
        return (t - epoch) // us

    want = [micros(bucket_floor(tier, t)) for t in stamps]
    rows = (
        spark.createDataFrame([(micros(t),) for t in stamps], "u long")
        .select(F.unix_micros(bucket_col(F.timestamp_micros("u"), tier)).alias("b"), "u")
        .orderBy("u")
        .collect()
    )
    assert [r["b"] for r in rows] == want
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT epoch_us({bucket_sql(f'make_timestamp({micros(t)})', tier)})")
        .fetchone()[0]
        for t in stamps
    ]
    assert got_duck == want
