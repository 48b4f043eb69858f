"""Stateful gap detector: two deliveries; state carries the last hour
across micro-batches so cross-batch gaps are caught."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from s1tiling_spark.streaming.rollup_stream import SEQ_SCHEMA
from s1tiling_spark.streaming.stateful import gap_detector_stream


def _write_rows(spark, path, rows):
    df = spark.createDataFrame(
        [
            (f"d{i}", [1, 2], 2, src, datetime.fromisoformat(ts))
            for i, (src, ts) in enumerate(rows)
        ],
        schema=SEQ_SCHEMA,
    )
    df.write.mode("append").parquet(path)


def test_gap_detector(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: hours 00,01 for A; batch 2 later adds 04 (gap 02,03) and
    # B starts fresh at 10 (no gap emitted for a first observation)
    _write_rows(
        spark,
        landing,
        [("A", "2024-01-01 00:10:00"), ("A", "2024-01-01 01:20:00")],
    )

    def run_once():
        stream = spark.readStream.schema(SEQ_SCHEMA).parquet(landing)
        tier = stream.select(
            F.date_trunc("hour", "event_ts").alias("bucket_start"), "source"
        )
        q = (
            gap_detector_stream(tier)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    run_once()
    _write_rows(
        spark,
        landing,
        [("A", "2024-01-01 04:05:00"), ("B", "2024-01-01 10:00:00")],
    )
    run_once()

    got = spark.read.parquet(out_dir).collect()
    gaps = {(r["source"], str(r["gap_hour"]), r["gap_len_hours"]) for r in got}
    assert gaps == {("A", "2024-01-01 02:00:00", 2)}


COUNTER_IN_SCHEMA = (
    "series string, ts timestamp, order_id long, counter long"
)


def _write_counter_rows(spark, path, rows):
    df = spark.createDataFrame(
        [
            (s, datetime.fromisoformat(ts), i, c)
            for i, (s, ts, c) in enumerate(rows)
        ],
        schema=COUNTER_IN_SCHEMA,
    )
    df.write.mode("append").parquet(path)


def test_counter_increase_stream_converges_to_batch(spark, tmp_path):
    """Two micro-batches with a RESET across the boundary (m1: 80 → 3):
    folding the streamed per-bucket partials with a grouped sum equals
    the batch operator on the full data — state carries the last
    counter across batches."""
    from s1tiling_spark.operators.rollup import counter_increase
    from s1tiling_spark.streaming.stateful import counter_increase_stream

    landing = str(tmp_path / "c_landing")
    out_dir = str(tmp_path / "c_out")
    ckpt = str(tmp_path / "c_ckpt")

    batch1 = [
        ("m1", "2024-01-01 10:05:00", 10),
        ("m1", "2024-01-01 10:25:00", 80),
        ("m2", "2024-01-01 10:15:00", 5),
    ]
    batch2 = [
        ("m1", "2024-01-01 10:45:00", 3),   # reset across batches
        ("m1", "2024-01-01 11:10:00", 40),
        ("m2", "2024-01-01 11:00:00", 25),
    ]

    def run_once():
        stream = spark.readStream.schema(COUNTER_IN_SCHEMA).parquet(landing)
        q = (
            counter_increase_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    _write_counter_rows(spark, landing, batch1)
    run_once()
    _write_counter_rows(spark, landing, batch2)
    run_once()

    folded = {
        (r["series"], str(r["bucket_start"])): (r["increase"], r["n_samples"])
        for r in spark.read.parquet(out_dir)
        .groupBy("series", "bucket_start")
        .agg(
            F.sum("increase").alias("increase"),
            F.sum("n_samples").alias("n_samples"),
        )
        .collect()
    }

    full = spark.createDataFrame(
        [
            (s, datetime.fromisoformat(ts), i, c)
            for i, (s, ts, c) in enumerate(batch1 + batch2)
        ],
        schema=COUNTER_IN_SCHEMA,
    )
    expected = {
        (r["k"], str(r["bucket_start"])): (r["increase"], r["n_samples"])
        for r in counter_increase(
            full.withColumnRenamed("series", "k"),
            keys=["k"],
            ts_col="ts",
            counter_col="counter",
            tier="1h",
            order_cols=("order_id",),
        ).collect()
    }
    assert folded == expected
    # the reset bucket specifically: m1 hour 10 = (80-10) + 3 = 73
    assert folded[("m1", "2024-01-01 10:00:00")] == (73, 2)


def test_counter_stream_through_store_equals_batch(spark, tmp_path):
    """E2E counter serving loop: stream partials → TierStore append per
    micro-batch → ADDITIVE read (read_summed) == the batch operator.
    Counter partials are increments, not supersessions — the
    newest-wins read would silently drop all but the last partial per
    bucket, so the additive merge discipline is the tier's contract."""
    from s1tiling_spark.operators.rollup import counter_increase
    from s1tiling_spark.plans.store import TierStore
    from s1tiling_spark.streaming.stateful import counter_increase_stream

    landing = str(tmp_path / "cs_landing")
    ckpt = str(tmp_path / "cs_ckpt")
    store = TierStore(spark, str(tmp_path / "cs_store"))

    batch1 = [
        ("m1", "2024-01-01 10:05:00", 10),
        ("m1", "2024-01-01 10:25:00", 80),
        ("m2", "2024-01-01 10:15:00", 5),
    ]
    batch2 = [
        ("m1", "2024-01-01 10:45:00", 3),
        ("m1", "2024-01-01 11:10:00", 40),
        ("m2", "2024-01-01 11:00:00", 25),
    ]

    def run_once():
        # the library sink: appends partials with a replay-stable
        # idempotency key (at-least-once re-delivery must NOT
        # double-count an additive tier)
        from s1tiling_spark.streaming.rollup_stream import (
            run_counter_stream_into_store,
        )

        q = run_counter_stream_into_store(spark, landing, store, ckpt)
        q.awaitTermination(240)

    _write_counter_rows(spark, landing, batch1)
    run_once()
    _write_counter_rows(spark, landing, batch2)
    run_once()

    served = store.read_summed(
        "counter_1h",
        keys=("series", "bucket_start"),
        sum_cols=("increase", "n_samples"),
    )
    got = {
        (r["series"], str(r["bucket_start"])): (r["increase"], r["n_samples"])
        for r in served.collect()
    }
    full = spark.createDataFrame(
        [
            (s, datetime.fromisoformat(ts), i, c)
            for i, (s, ts, c) in enumerate(batch1 + batch2)
        ],
        schema=COUNTER_IN_SCHEMA,
    )
    expected = {
        (r["k"], str(r["bucket_start"])): (r["increase"], r["n_samples"])
        for r in counter_increase(
            full.withColumnRenamed("series", "k"),
            keys=["k"], ts_col="ts", counter_col="counter", tier="1h",
            order_cols=("order_id",),
        ).collect()
    }
    assert got == expected


def test_additive_tier_sum_compaction(spark, tmp_path):
    """compact(mode='sum') folds counter partials into one row per key
    while preserving the additive totals; a second fold is a no-op
    (idempotent); time travel below the folded horizon RAISES."""
    import pytest as _pytest

    from s1tiling_spark.plans.store import TierStore

    store = TierStore(spark, str(tmp_path / "sumc"))
    rows1 = [("m1", datetime.fromisoformat("2024-01-01 10:00:00"), 10, 2)]
    rows2 = [("m1", datetime.fromisoformat("2024-01-01 10:00:00"), 5, 1),
             ("m2", datetime.fromisoformat("2024-01-01 10:00:00"), 7, 3)]
    schema = "source string, bucket_start timestamp, increase long, n_samples long"
    s1 = store.next_commit_seq()
    store.append("c1h", spark.createDataFrame(rows1, schema), s1, "r1")
    s2 = store.next_commit_seq()
    store.append("c1h", spark.createDataFrame(rows2, schema), s2, "r2")

    def served():
        return {
            (r["source"], str(r["bucket_start"])): (r["increase"], r["n_samples"])
            for r in store.read_summed(
                "c1h", keys=("source", "bucket_start"),
                sum_cols=("increase", "n_samples"),
            ).collect()
        }

    before = served()
    assert before[("m1", "2024-01-01 10:00:00")] == (15, 3)

    stats = store.compact(
        "c1h", keys=("source", "bucket_start"), mode="sum",
        sum_cols=("increase", "n_samples"),
    )
    assert stats["rows"] == 2  # one folded row per key
    assert served() == before
    # idempotent: nothing left to fold
    stats2 = store.compact(
        "c1h", keys=("source", "bucket_start"), mode="sum",
        sum_cols=("increase", "n_samples"),
    )
    assert stats2["rows"] == 2
    assert served() == before
    # history below the folded horizon is gone -> reads below RAISE
    with _pytest.raises(ValueError, match="predates"):
        store.read("c1h", deduped=False, as_of_seq=s1)
    # guard rails: sum mode refuses expire_below and empty sum_cols
    with _pytest.raises(ValueError, match="expire_below"):
        store.compact("c1h", keys=("source", "bucket_start"), mode="sum",
                      sum_cols=("increase",), expire_below=1)
    with _pytest.raises(ValueError, match="sum_cols"):
        store.compact("c1h", keys=("source", "bucket_start"), mode="sum")


def test_append_idempotency_key_skips_replay(spark, tmp_path):
    """At-least-once producer replays a batch: the second append with
    the same idempotency_key is skipped, so the additive read stays
    correct (without the key the replay would double-count)."""
    from s1tiling_spark.plans.store import TierStore

    store = TierStore(spark, str(tmp_path / "idem"))
    schema = "source string, bucket_start timestamp, increase long, n_samples long"
    rows = [("m1", datetime.fromisoformat("2024-01-01 10:00:00"), 10, 2)]
    df = spark.createDataFrame(rows, schema)
    n1 = store.append("c1h", df, store.next_commit_seq(), "b0", idempotency_key="batch-0")
    assert n1 == 1
    # replay: same key, new commit_seq -> skipped
    n2 = store.append("c1h", df, store.next_commit_seq(), "b0", idempotency_key="batch-0")
    assert n2 == 0
    served = store.read_summed(
        "c1h", keys=("source", "bucket_start"), sum_cols=("increase", "n_samples")
    ).collect()
    assert [(r["increase"], r["n_samples"]) for r in served] == [(10, 2)]
    # a genuinely new batch still lands
    n3 = store.append("c1h", df, store.next_commit_seq(), "b1", idempotency_key="batch-1")
    assert n3 == 1
