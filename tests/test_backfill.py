"""Backfill: bucket-aligned window recompute (plans/backfill.py).

Invariant: after backfilling [from, to) with a corrected raw table,
every stat tier equals the direct rollup of the corrected table — rows
outside the expanded window untouched, removed sources gone, and the
pre-backfill state still time-travel readable.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import rollup_sequences
from s1tiling_spark.plans.backfill import backfill_stat_tiers, expanded_window
from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.sources.synth import synth_sequences
from tests.helpers import assert_frames_match

FROM = datetime(2024, 1, 10)
TO = datetime(2024, 1, 13)


@pytest.fixture()
def raw(spark):
    return synth_sequences(spark, 3000, with_tokens=False).cache()


@pytest.fixture()
def corrected(spark, raw):
    """Inside [FROM, TO): src_hot removed entirely, everyone else's
    n_tok bumped — exercises both the removed-source case (only the
    bucket-prefix delete catches it) and plain value updates."""
    in_win = (F.col("event_ts") >= F.lit(FROM)) & (F.col("event_ts") < F.lit(TO))
    fixed = raw.filter(in_win & (F.col("source") != "src_hot")).withColumn(
        "n_tok", F.col("n_tok") + F.lit(3)
    )
    return raw.filter(~in_win).unionByName(fixed).cache()


def _state(store, tier):
    df = store.read(tier)
    assert df is not None
    return df.drop("commit_seq", "run_id", "p_date").toPandas()


def test_expanded_window_aligns_to_buckets():
    lo, hi = expanded_window("1d", datetime(2024, 1, 10, 7), datetime(2024, 1, 12, 1))
    assert (lo, hi) == (datetime(2024, 1, 10), datetime(2024, 1, 13))
    lo, hi = expanded_window("1h", datetime(2024, 1, 10, 7, 30), datetime(2024, 1, 10, 8, 0))
    assert (lo, hi) == (datetime(2024, 1, 10, 7), datetime(2024, 1, 10, 8))
    lo30, hi30 = expanded_window("30d", FROM, TO)
    assert (hi30 - lo30).total_seconds() % (30 * 86400) == 0
    assert lo30 <= FROM and hi30 >= TO


def test_backfill_matches_direct_rollup_of_corrected(spark, raw, corrected, tmp_path):
    store = TierStore(spark, str(tmp_path / "bf"))
    for tier in ("1h", "1d", "30d"):
        store.append(
            tier, rollup_sequences(raw, tier), store.next_commit_seq(), "orig"
        )
    pre_seq = store.last_commit_seq()
    pre_1d = _state(store, "1d")

    stats = backfill_stat_tiers(store, corrected, FROM, TO)
    # the correction removed src_hot in-window → tiers whose buckets sit
    # inside [FROM, TO) record removed-key deletes; the 30d bucket keeps
    # its src_hot key (rows OUTSIDE the corrected window still feed it,
    # so the recompute rewrites it and nothing needs deleting)
    assert all(s["appended_rows"] > 0 for s in stats)
    by_tier = {s["tier"]: s for s in stats}
    assert by_tier["1h"]["deleted_keys"] > 0
    assert by_tier["1d"]["deleted_keys"] > 0
    assert by_tier["30d"]["deleted_keys"] == 0

    for tier in ("1h", "1d", "30d"):
        assert_frames_match(
            _state(store, tier), rollup_sequences(corrected, tier).toPandas()
        )
    # the removed source is gone from the window but alive outside it
    s1d = store.read("1d")
    in_win = (F.col("bucket_start") >= F.lit(FROM)) & (
        F.col("bucket_start") < F.lit(TO)
    )
    assert s1d.filter(in_win & (F.col("source") == "src_hot")).isEmpty()
    assert not s1d.filter(F.col("source") == "src_hot").isEmpty()
    # pre-backfill state stays time-travel readable
    got_pre = (
        store.read("1d", as_of_seq=pre_seq)
        .drop("commit_seq", "run_id", "p_date")
        .toPandas()
    )
    assert_frames_match(got_pre, pre_1d)


def test_crash_between_append_and_delete_is_stale_not_empty(
    spark, raw, corrected, tmp_path, monkeypatch
):
    """Append-first crash residue (ADVICE r4): a crash after the
    recompute append but before the removed-key delete must leave the
    window serving the CORRECTED values (removed source stale-but-
    present) — never masked-empty — and a re-run must finish the job."""
    store = TierStore(spark, str(tmp_path / "bfcrash"))
    store.append("1d", rollup_sequences(raw, "1d"), store.next_commit_seq(), "orig")

    real_delete = TierStore.delete

    def boom(*a, **kw):
        raise RuntimeError("injected crash before delete")

    monkeypatch.setattr(TierStore, "delete", boom)
    with pytest.raises(RuntimeError, match="injected"):
        backfill_stat_tiers(store, corrected, FROM, TO, tiers=("1d",))
    monkeypatch.setattr(TierStore, "delete", real_delete)

    in_win = (F.col("bucket_start") >= F.lit(FROM)) & (F.col("bucket_start") < F.lit(TO))
    mid = store.read("1d")
    # corrected keys already serve the corrected values...
    want = rollup_sequences(corrected, "1d").filter(
        in_win & (F.col("source") != "src_hot")
    )
    assert_frames_match(
        mid.filter(in_win & (F.col("source") != "src_hot"))
        .drop("commit_seq", "run_id", "p_date")
        .toPandas(),
        want.toPandas(),
    )
    # ...and the removed source is stale-but-present, NOT a black hole
    assert not mid.filter(in_win & (F.col("source") == "src_hot")).isEmpty()
    assert not mid.filter(in_win).isEmpty()

    # re-run heals completely
    backfill_stat_tiers(store, corrected, FROM, TO, tiers=("1d",))
    assert_frames_match(
        store.read("1d").drop("commit_seq", "run_id", "p_date").toPandas(),
        rollup_sequences(corrected, "1d").toPandas(),
    )
