"""Streaming rollup: two micro-batch deliveries (second one late/
overlapping) must converge to the exact batch-rollup state."""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import rollup_sequences
from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.sources.synth import synth_sequences
from s1tiling_spark.streaming.rollup_stream import run_stream_into_store
from tests.helpers import assert_frames_match

N = 3000


def test_stream_matches_batch(spark, tmp_path):
    landing = str(tmp_path / "landing")
    seq = synth_sequences(spark, N).cache()
    # batch 1: the "early" 60% by hash; batch 2: the rest (arrives late,
    # overlapping every bucket)
    part = F.pmod(F.xxhash64("doc_id"), F.lit(10))
    early = seq.filter(part < 6)
    late = seq.filter(part >= 6)

    # watermark wider than the data span: nothing is "too late", so the
    # second delivery must MERGE into every overlapping window
    early.write.mode("append").parquet(landing)
    store = TierStore(spark, str(tmp_path / "store"))
    q = run_stream_into_store(
        spark, landing, store, str(tmp_path / "ckpt"),
        available_now=True, watermark="60 days",
    )
    q.awaitTermination(240)

    late.write.mode("append").parquet(landing)
    q2 = run_stream_into_store(
        spark, landing, store, str(tmp_path / "ckpt"),
        available_now=True, watermark="60 days",
    )
    q2.awaitTermination(240)

    got = (
        store.read("1h")
        .drop("commit_seq", "run_id", "p_date")
        .toPandas()
    )
    want = rollup_sequences(seq, "1h").toPandas()
    assert_frames_match(got, want)


def test_stream_sink_commits_watermarks(spark, tmp_path):
    """The streaming sink's refresh record holds, per source, the newest
    1h bucket it committed (epoch micros): after each delivery it equals
    ``max(bucket_start)`` per source of the 1h tier. The second delivery
    is newer, so it must advance the record."""
    landing = str(tmp_path / "landing")
    seq = synth_sequences(spark, 800).cache()
    cut = seq.agg(F.max("event_ts")).first()[0] - timedelta(days=10)
    store = TierStore(spark, str(tmp_path / "store"))

    def deliver(rows) -> dict[str, int]:
        rows.write.mode("append").parquet(landing)
        q = run_stream_into_store(
            spark, landing, store, str(tmp_path / "ckpt"),
            available_now=True, watermark="60 days",
        )
        q.awaitTermination(240)
        want = {
            r["source"]: r["us"]
            for r in store.read("1h")
            .groupBy("source")
            .agg(F.max(F.unix_micros("bucket_start")).alias("us"))
            .collect()
        }
        assert store.refresh_state()["watermarks"]["1h"] == want
        return want

    first = deliver(seq.filter(F.col("event_ts") < F.lit(cut)))
    second = deliver(seq.filter(F.col("event_ts") >= F.lit(cut)))
    assert any(second[s] > first.get(s, -1) for s in second)


def test_stream_hist_matches_batch(spark, tmp_path):
    """Streaming token-histogram (explode inside micro-batches, two
    overlapping deliveries in complete output) converges to the batch
    histogram exactly."""
    from s1tiling_spark.operators.rollup import token_hist_long
    from s1tiling_spark.streaming.rollup_stream import streaming_token_hist_1h

    landing = str(tmp_path / "hist_landing")
    out_dir = str(tmp_path / "hist_out")
    ckpt = str(tmp_path / "hist_ckpt")
    seq = synth_sequences(spark, 800).cache()
    part = F.pmod(F.xxhash64("doc_id"), F.lit(10))

    def run_once():
        q = (
            streaming_token_hist_1h(spark, landing, watermark="1 minute")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    # append mode only emits windows the WATERMARK has passed; the
    # parquet sink forbids update mode, so a sentinel row far past the
    # data span advances the watermark in a second delivery and flushes
    # every real window (the cross-batch merge path is covered by
    # test_stream_matches_batch; this pins the exploded-histogram
    # aggregation semantics)
    seq.filter(part < 6).write.mode("append").parquet(landing)
    seq.filter(part >= 6).write.mode("append").parquet(landing)
    run_once()
    sentinel = spark.createDataFrame(
        [("flush", [0], 1, "zz-flush", None)],
        "doc_id string, tokens array<int>, n_tok int, source string, event_ts timestamp",
    ).withColumn(
        "event_ts", F.lit("2099-01-01 00:00:00").cast("timestamp")
    )
    sentinel.write.mode("append").parquet(landing)
    run_once()

    got = spark.read.parquet(out_dir)
    got = got.filter(F.col("source") != "zz-flush").toPandas()
    want = token_hist_long(seq, "1h").toPandas()
    assert_frames_match(got, want)


def test_stream_quantile_sketch_matches_batch(spark, tmp_path):
    """Streaming quantile sketch (two overlapping deliveries + sentinel
    watermark flush) converges to the batch-built sketch exactly —
    proving the mergeable order-statistics sketch holds under
    micro-batch delivery like the histogram does."""
    from s1tiling_spark.operators.sketch import quantile_sketch_long
    from s1tiling_spark.streaming.rollup_stream import streaming_quantile_sketch_1h

    landing = str(tmp_path / "qsk_landing")
    out_dir = str(tmp_path / "qsk_out")
    ckpt = str(tmp_path / "qsk_ckpt")
    seq = synth_sequences(spark, 800).cache()
    part = F.pmod(F.xxhash64("doc_id"), F.lit(10))

    def run_once():
        q = (
            streaming_quantile_sketch_1h(spark, landing, watermark="1 minute")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    seq.filter(part < 6).write.mode("append").parquet(landing)
    seq.filter(part >= 6).write.mode("append").parquet(landing)
    run_once()
    sentinel = spark.createDataFrame(
        [("flush", [0], 1, "zz-flush", None)],
        "doc_id string, tokens array<int>, n_tok int, source string, event_ts timestamp",
    ).withColumn("event_ts", F.lit("2099-01-01 00:00:00").cast("timestamp"))
    sentinel.write.mode("append").parquet(landing)
    run_once()

    got = spark.read.parquet(out_dir).filter(F.col("source") != "zz-flush").toPandas()
    want = quantile_sketch_long(seq, "1h").toPandas()
    assert_frames_match(got, want)


def test_stream_distinct_sketch_matches_batch(spark, tmp_path):
    """Streaming distinct-count sketch (two overlapping deliveries +
    sentinel watermark flush) converges to the batch-built registers
    exactly — max-register merge is associative AND idempotent, so
    micro-batch delivery (and replay) cannot change the sketch."""
    from s1tiling_spark.operators.rollup import bucket_col
    from s1tiling_spark.operators.sketch import distinct_registers_long
    from s1tiling_spark.streaming.rollup_stream import streaming_distinct_sketch_1h

    landing = str(tmp_path / "dsk_landing")
    out_dir = str(tmp_path / "dsk_out")
    ckpt = str(tmp_path / "dsk_ckpt")
    seq = synth_sequences(spark, 800).cache()
    part = F.pmod(F.xxhash64("doc_id"), F.lit(10))

    def run_once():
        q = (
            streaming_distinct_sketch_1h(spark, landing, watermark="1 minute")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    # overlapping deliveries: the doc_id split shares hours/sources, so
    # most (window, source) groups receive rows from BOTH batches
    seq.filter(part < 6).write.mode("append").parquet(landing)
    seq.filter(part >= 6).write.mode("append").parquet(landing)
    run_once()
    sentinel = spark.createDataFrame(
        [("flush", [0], 1, "zz-flush", None)],
        "doc_id string, tokens array<int>, n_tok int, source string, event_ts timestamp",
    ).withColumn("event_ts", F.lit("2099-01-01 00:00:00").cast("timestamp"))
    sentinel.write.mode("append").parquet(landing)
    run_once()

    got = spark.read.parquet(out_dir).filter(F.col("source") != "zz-flush").toPandas()
    want = distinct_registers_long(
        seq, bucket_col(F.col("event_ts"), "1h"), F.col("doc_id")
    ).toPandas()
    assert_frames_match(got, want)


def test_stream_cms_matches_batch(spark, tmp_path):
    """Streaming CMS (two overlapping deliveries + sentinel watermark
    flush) converges to the batch-built sketch exactly — CMS counters
    are linear, so micro-batch partials sum to the batch answer."""
    from s1tiling_spark.operators.rollup import bucket_col
    from s1tiling_spark.operators.sketch import cms_long
    from s1tiling_spark.streaming.rollup_stream import streaming_cms_1h

    landing = str(tmp_path / "cms_landing")
    out_dir = str(tmp_path / "cms_out")
    ckpt = str(tmp_path / "cms_ckpt")
    seq = synth_sequences(spark, 400, max_tok=64).cache()
    part = F.pmod(F.xxhash64("doc_id"), F.lit(10))

    def run_once():
        q = (
            streaming_cms_1h(spark, landing, watermark="1 minute")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    seq.filter(part < 6).write.mode("append").parquet(landing)
    seq.filter(part >= 6).write.mode("append").parquet(landing)
    run_once()
    sentinel = spark.createDataFrame(
        [("flush", [0], 1, "zz-flush", None)],
        "doc_id string, tokens array<int>, n_tok int, source string, event_ts timestamp",
    ).withColumn("event_ts", F.lit("2099-01-01 00:00:00").cast("timestamp"))
    sentinel.write.mode("append").parquet(landing)
    run_once()

    got = spark.read.parquet(out_dir).filter(F.col("source") != "zz-flush").toPandas()
    want = cms_long(seq, bucket_col(F.col("event_ts"), "1h")).toPandas()
    assert_frames_match(got, want)


def test_stream_sessionize_merges_across_batches(spark, tmp_path):
    """Native session_window streaming sessionization: a session whose
    events arrive in DIFFERENT micro-batches must merge into one
    emitted session; a gap > the 30-minute timeout splits. Sentinel
    delivery advances the watermark to flush append-mode output."""
    from datetime import datetime

    from s1tiling_spark.streaming.rollup_stream import (
        EVENTS_STREAM_SCHEMA,
        streaming_sessionize,
    )

    landing = str(tmp_path / "sess_landing")
    out_dir = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")

    def _write(rows):
        spark.createDataFrame(
            [
                (i, datetime.fromisoformat(ts), uid)
                for i, (uid, ts) in enumerate(rows)
            ],
            schema=EVENTS_STREAM_SCHEMA,
        ).write.mode("append").parquet(landing)

    def run_once():
        # watermark wider than the cross-batch lateness: a session can
        # only merge with events arriving while it is still within the
        # watermark horizon (a 1-minute watermark would CLOSE u2's
        # batch-1 session before batch 2 lands and drop the late event)
        q = (
            streaming_sessionize(spark, landing, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    # batch 1: u1 session A opens (2 events, 10-min gap); u2 opens
    _write(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),
            (2, "2024-01-01 09:00:00"),
        ]
    )
    run_once()
    # batch 2: u1 40-min gap -> session B (then extended by a 15-min
    # gap event); u2's event 5 min after batch-1's MERGES across the
    # micro-batch boundary
    _write(
        [
            (1, "2024-01-01 10:50:00"),
            (1, "2024-01-01 11:05:00"),
            (2, "2024-01-01 09:05:00"),
        ]
    )
    run_once()
    # batch 3: sentinel far in the future pushes the watermark past
    # every real session end -> all sessions flush
    _write([(999, "2030-01-01 00:00:00")])
    run_once()

    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
        if r["user_id"] != 999
    }
    assert got == {
        (1, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2),
        (1, "2024-01-01 10:50:00", "2024-01-01 11:05:00", 2),
        (2, "2024-01-01 09:00:00", "2024-01-01 09:05:00", 2),
    }
