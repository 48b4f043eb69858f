"""Additive-tier store tests: sum-mode compaction of counter partials
and append replay protection by idempotency key. The file now holds
only these two tests."""

from __future__ import annotations

from datetime import datetime


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
