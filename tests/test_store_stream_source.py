"""Streaming reads of the TierStore itself — the Iceberg
``spark.readStream.format("iceberg")`` analog as a native PySpark 4
Python DataSource (``s1tiling_spark/sources/store_stream.py``).

Contract under test:
- a batch streams every committed append exactly once, offsets are
  commit seqs checkpointed by Spark (restart resumes past consumed
  commits, no replays, no gaps);
- ``maxCommitsPerBatch`` rate-limits admission;
- staged (WAP) commits are invisible until publish, then stream at the
  publish seq;
- commits voided by a rollback before the cursor reaches them never
  stream;
- a cursor behind the compaction horizon fails loud (never a silently
  thinned batch); a compaction that *keeps* the horizon behind the
  cursor is transparent (rows re-planned from m-files, still exact);
- rows a retention expiry hid before the stream planned them never
  stream, also where the expiry could not drop their partition whole.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.sources.store_stream import register_tier_store_source

SCHEMA = "source string, bucket_start timestamp, v long"
KEYS = ("source", "bucket_start")


def _rows(spark, *triples):
    return spark.createDataFrame(
        [
            (src, datetime.fromisoformat(f"2024-01-0{day} 10:00:00"), v)
            for src, day, v in triples
        ],
        SCHEMA,
    )


def _drain(spark, store_dir, ckpt, sink_rows, tier="t", **opts):
    """Run the stream until no new commits remain; collect rows."""
    reader = (
        spark.readStream.format("tier_store")
        .option("path", store_dir)
        .option("tier", tier)
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    batches: list[int] = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            batches.append(batch_id)
        sink_rows.extend(rows)

    # Python data sources fall back to single-batch execution under
    # Trigger.AvailableNow; processAllAvailable keeps triggering until
    # latestOffset is fully committed, which exercises real multi-batch
    # admission (and the rate limit) the way a live stream would.
    q = (
        reader.load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return batches


def _vals(rows):
    return sorted(
        (r["source"], r["bucket_start"].isoformat(), r["v"], r["commit_seq"])
        for r in rows
    )


@pytest.fixture()
def registered(spark):
    register_tier_store_source(spark)
    return spark


def test_stream_delivers_appends_and_resumes(registered, tmp_path):
    spark = registered
    store = TierStore(spark, str(tmp_path / "s"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10), ("b", 2, 20)), s1, "r1")
    s2 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 11)), s2, "r2")

    got: list = []
    _drain(spark, str(tmp_path / "s"), str(tmp_path / "ck"), got)
    assert _vals(got) == [
        ("a", "2024-01-01T10:00:00", 10, s1),
        ("a", "2024-01-01T10:00:00", 11, s2),
        ("b", "2024-01-02T10:00:00", 20, s1),
    ]
    # p_date carries the hive partition value
    assert {str(r["p_date"]) for r in got} == {"2024-01-01", "2024-01-02"}

    # restart from the same checkpoint: only NEW commits stream
    s3 = store.next_commit_seq()
    store.append("t", _rows(spark, ("c", 3, 30)), s3, "r3")
    got2: list = []
    _drain(spark, str(tmp_path / "s"), str(tmp_path / "ck"), got2)
    assert _vals(got2) == [("c", "2024-01-03T10:00:00", 30, s3)]


def test_rate_limit_one_commit_per_batch(registered, tmp_path):
    spark = registered
    store = TierStore(spark, str(tmp_path / "s"))
    seqs = []
    for i in range(3):
        s = store.next_commit_seq()
        store.append("t", _rows(spark, ("a", i + 1, i)), s, f"r{i}")
        seqs.append(s)
    got: list = []
    batches = _drain(
        spark,
        str(tmp_path / "s"),
        str(tmp_path / "ck"),
        got,
        maxCommitsPerBatch="1",
    )
    assert len(got) == 3
    # one non-empty micro-batch per commit (seqs are consecutive here)
    assert len(batches) == 3


def test_wap_staged_invisible_until_publish(registered, tmp_path):
    spark = registered
    store = TierStore(spark, str(tmp_path / "s"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s1, "base")
    store.stage("t", _rows(spark, ("b", 2, 99)), "cand", "audit-1")

    got: list = []
    _drain(spark, str(tmp_path / "s"), str(tmp_path / "ck"), got)
    assert _vals(got) == [("a", "2024-01-01T10:00:00", 10, s1)]

    pub = store.publish("t", "audit-1")
    got2: list = []
    _drain(spark, str(tmp_path / "s"), str(tmp_path / "ck"), got2)
    # streams at the PUBLISH seq, not the staged file-name seq
    assert _vals(got2) == [("b", "2024-01-02T10:00:00", 99, pub)]


def test_rolled_back_commits_never_stream(registered, tmp_path):
    spark = registered
    store = TierStore(spark, str(tmp_path / "s"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s1, "r1")
    s2 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 666)), s2, "bad")
    store.rollback("t", s1)
    s3 = store.next_commit_seq()
    store.append("t", _rows(spark, ("b", 2, 20)), s3, "r3")

    got: list = []
    _drain(spark, str(tmp_path / "s"), str(tmp_path / "ck"), got)
    assert _vals(got) == [
        ("a", "2024-01-01T10:00:00", 10, s1),
        ("b", "2024-01-02T10:00:00", 20, s3),
    ]


def test_compaction_behind_cursor_is_transparent(registered, tmp_path):
    spark = registered
    store = TierStore(spark, str(tmp_path / "s"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s1, "r1")

    got: list = []
    _drain(spark, str(tmp_path / "s"), str(tmp_path / "ck"), got)
    assert len(got) == 1

    # compact WITHOUT expiring history past the cursor (horizon stays 0
    # <= cursor), then land a new commit: the new rows re-plan from the
    # compacted m-file via its row-range filter, exactly once
    s2 = store.next_commit_seq()
    store.append("t", _rows(spark, ("b", 2, 20)), s2, "r2")
    store.compact("t", keys=KEYS, expire_below=0)
    got2: list = []
    _drain(spark, str(tmp_path / "s"), str(tmp_path / "ck"), got2)
    assert _vals(got2) == [("b", "2024-01-02T10:00:00", 20, s2)]


def test_cursor_behind_horizon_fails_loud(registered, tmp_path):
    spark = registered
    store = TierStore(spark, str(tmp_path / "s"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s1, "r1")
    s2 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 11)), s2, "r2")
    store.compact("t", keys=KEYS)  # expires history below current seq

    got: list = []
    with pytest.raises(Exception, match="horizon|predates"):
        _drain(spark, str(tmp_path / "s"), str(tmp_path / "ck"), got)


def test_expired_rows_inside_a_kept_partition_never_stream(registered, tmp_path):
    """``1d`` rows land in one partition per 30d bucket, so an expiry
    whose floor cuts through that bucket drops no partition and hides
    the older rows by the retention mask. A stream planned after the
    expiry applies the same mask as ``read``; a row committed after
    the expiry is not the expiry's to hide."""
    spark = registered
    store = TierStore(spark, str(tmp_path / "s"))
    days = spark.createDataFrame(
        [("a", datetime(2024, 1, d), d) for d in range(1, 11)], SCHEMA
    )
    store.append("1d", days, store.next_commit_seq(), "r1")
    assert store.expire("1d", "2024-01-06") == 0
    late = store.next_commit_seq()
    store.append("1d", spark.createDataFrame([("b", datetime(2024, 1, 2), 99)], SCHEMA), late, "r2")

    def served(rows):
        return sorted((r["source"], r["bucket_start"].day, r["v"]) for r in rows)

    want = [("a", d, d) for d in range(6, 11)] + [("b", 2, 99)]
    assert served(store.read("1d", deduped=False).collect()) == sorted(want)
    got: list = []
    _drain(spark, str(tmp_path / "s"), str(tmp_path / "ck"), got, tier="1d")
    assert served(got) == sorted(want)
