"""Incremental materialized-view maintenance (plans/matview.py).

Invariant under test: after ANY base-tier history (appends that insert,
appends that supersede, equality deletes), one `refresh()` makes
`view.read()` equal the direct full aggregate of the base tier's
CURRENT newest-wins state — while touching only the changed keys.

Reference analog: incremental re-run layer
(`/root/reference/s1tiling/libs/otbpipeline.py:749-756`) — recompute
only what changed — applied to a downstream aggregate product.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import rollup_sequences
from s1tiling_spark.plans.matview import AdditiveMatView
from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.sources.synth import synth_sequences
from tests.helpers import assert_frames_match


@pytest.fixture()
def store(spark, tmp_path):
    return TierStore(spark, str(tmp_path / "mv_store"))


def _daily_view(store):
    return AdditiveMatView(
        store,
        name="daily_totals",
        base_tier="1h",
        base_keys=("bucket_start", "source"),
        group_cols={
            "bucket_start": F.date_trunc("day", F.col("bucket_start")),
            "source": F.col("source"),
        },
        sum_cols=("cnt", "sum_n_tok"),
    )


def _expected(store):
    """Direct full recompute of the view from the base's current state."""
    base = store.read("1h")
    return (
        base.groupBy(
            F.date_trunc("day", F.col("bucket_start")).alias("bucket_start"),
            "source",
        )
        .agg(F.sum("cnt").alias("cnt"), F.sum("sum_n_tok").alias("sum_n_tok"))
        .toPandas()
    )


def _view_state(mv):
    df = mv.read()
    assert df is not None
    return df.toPandas()


def test_incremental_refresh_matches_full_recompute(spark, store):
    mv = _daily_view(store)

    # batch 1: initial state → first refresh is the full aggregate
    b1 = rollup_sequences(synth_sequences(spark, 2000), "1h").cache()
    store.append("1h", b1, store.next_commit_seq(), "run-1")
    r1 = mv.refresh("mv-1")
    assert r1["rows"] > 0
    assert_frames_match(_view_state(mv), _expected(store))

    # batch 2: supersede overlapping keys with different totals
    # (newest-wins updates) + brand-new keys (inserts)
    b2 = rollup_sequences(synth_sequences(spark, 3000), "1h").cache()
    store.append("1h", b2, store.next_commit_seq(), "run-2")
    r2 = mv.refresh("mv-2")
    assert r2["from_seq"] == r1["to_seq"]
    assert_frames_match(_view_state(mv), _expected(store))

    # batch 3: equality-delete a whole source group → view must shrink
    store.delete(
        "1h",
        store.read("1h").filter(F.col("source") == "src_hot"),
        store.next_commit_seq(),
        "run-del",
        keys=("bucket_start", "source"),
    )
    mv.refresh("mv-3")
    got = _view_state(mv)
    assert (got["source"] != "src_hot").all()
    assert_frames_match(got, _expected(store))


def test_refresh_is_noop_without_new_commits_and_on_zero_delta(spark, store):
    mv = _daily_view(store)
    b1 = rollup_sequences(synth_sequences(spark, 1500), "1h").cache()
    store.append("1h", b1, store.next_commit_seq(), "run-1")
    mv.refresh("mv-1")

    # no new base commits → no-op, cursor unchanged
    r = mv.refresh("mv-2")
    assert r["rows"] == 0 and r["from_seq"] == r["to_seq"]

    # a byte-identical re-append supersedes every key with the SAME
    # values: every update delta is zero → nothing appended, but the
    # cursor still advances (the refresh happened; it was just empty)
    store.append("1h", b1, store.next_commit_seq(), "run-1b")
    r2 = mv.refresh("mv-3")
    assert r2["rows"] == 0
    assert r2["to_seq"] == store.last_commit_seq()
    assert mv.last_refreshed_seq() == r2["to_seq"]
    assert_frames_match(_view_state(mv), _expected(store))


def test_crash_between_delta_append_and_cursor_is_repaired(spark, store):
    """Crash injection: the delta append commits but the cursor write
    never happens. A fresh view object's next refresh must advance the
    cursor from the committed marker WITHOUT recomputing — recomputing
    (from the stale cursor over a wider range) would double-apply the
    crashed range's delta and read_summed would double-count."""
    mv = _daily_view(store)
    b1 = rollup_sequences(synth_sequences(spark, 1500), "1h").cache()
    store.append("1h", b1, store.next_commit_seq(), "run-1")
    mv.refresh("mv-1")

    b2 = rollup_sequences(synth_sequences(spark, 2500), "1h").cache()
    store.append("1h", b2, store.next_commit_seq(), "run-2")

    def boom(_seq):
        raise RuntimeError("injected crash before cursor write")

    mv._advance_cursor = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        mv.refresh("mv-2-crash")

    fresh = _daily_view(store)
    r = fresh.refresh("mv-2-retry")
    # the repair path advanced past the crashed range; the retry itself
    # found nothing new to apply
    assert r["rows"] == 0
    assert fresh.last_refreshed_seq() == store.last_commit_seq()
    assert_frames_match(_view_state(fresh), _expected(store))


def test_group_cols_must_partition_by_bucket_start(store):
    with pytest.raises(ValueError, match="bucket_start"):
        AdditiveMatView(
            store,
            name="bad",
            base_tier="1h",
            base_keys=("bucket_start", "source"),
            group_cols={"source": F.col("source")},
            sum_cols=("cnt",),
        )


def test_refresh_rebuilds_when_base_history_expired(spark, store):
    """Routine base-tier compaction can raise min_as_of past the view's
    cursor (the changelog from the cursor is gone). refresh must fall
    back to a full rebuild instead of raising forever."""
    mv = _daily_view(store)
    b1 = rollup_sequences(synth_sequences(spark, 1500), "1h").cache()
    store.append("1h", b1, store.next_commit_seq(), "run-1")
    mv.refresh("mv-1")

    # supersede every key so compaction has history to expire
    b2 = b1.withColumn("cnt", F.col("cnt") + F.lit(9)).cache()
    store.append("1h", b2, store.next_commit_seq(), "run-2")
    store.compact("1h")
    assert mv.last_refreshed_seq() < store.min_as_of("1h")

    r = mv.refresh("mv-rebuild")
    assert r["from_seq"] == 0 and r["rows"] > 0
    assert_frames_match(_view_state(mv), _expected(store))
    # and the rebuilt view keeps refreshing incrementally
    b3 = b2.withColumn("cnt", F.col("cnt") + F.lit(1)).cache()
    store.append("1h", b3, store.next_commit_seq(), "run-3")
    mv.refresh("mv-next")
    assert_frames_match(_view_state(mv), _expected(store))

