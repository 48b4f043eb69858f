"""Rollback (Iceberg ``rollback_to_snapshot``) + named tags on the
TierStore's commit_seq lineage.

Rollback rule under test: ``rollback(tier, to_seq)`` voids commits in
``(to_seq, now]`` — data versions AND equality deletes — for every read
whose horizon is past the rollback, while as-of reads INSIDE the voided
range keep seeing the orphaned history until a compaction expires it
physically.

Reference analog: forced re-run from a known-good product set
(`/root/reference/s1tiling/libs/otbpipeline.py:814-819` restarts from
existing products; a bad batch is discarded by deleting its outputs) —
generalized to exact snapshot arithmetic.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import rollup_sequences
from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.sources.synth import synth_sequences
from tests.helpers import assert_frames_match


@pytest.fixture()
def seq(spark):
    return synth_sequences(spark, 2000).cache()


def _state(store, tier, **kw):
    df = store.read(tier, **kw)
    assert df is not None
    drop = [c for c in ("commit_seq", "run_id", "p_date") if c in df.columns]
    return df.drop(*drop).toPandas()


def test_rollback_restores_previous_state_and_keeps_history(spark, seq, tmp_path):
    store = TierStore(spark, str(tmp_path / "rb"))
    b1 = rollup_sequences(seq, "1d").cache()
    b2 = b1.withColumn("cnt", F.col("cnt") + F.lit(100)).cache()
    s1 = store.next_commit_seq()
    store.append("1d", b1, s1, "run-1")
    state1 = _state(store, "1d")
    s2 = store.next_commit_seq()
    store.append("1d", b2, s2, "run-2")
    state2 = _state(store, "1d")

    store.rollback("1d", s1)
    # current reads serve the pre-bad-batch state
    assert_frames_match(_state(store, "1d"), state1)
    # the voided era stays reconstructable as history
    assert_frames_match(_state(store, "1d", as_of_seq=s2), state2)
    assert_frames_match(_state(store, "1d", as_of_seq=s1), state1)

    # a new append AFTER the rollback wins over the restored state
    b3 = b1.withColumn("cnt", F.col("cnt") + F.lit(7)).cache()
    s3 = store.next_commit_seq()
    store.append("1d", b3, s3, "run-3")
    assert_frames_match(_state(store, "1d"), b3.toPandas())
    # and an as-of read past the rollback also excludes the voided era
    assert_frames_match(_state(store, "1d", as_of_seq=s3), b3.toPandas())


def test_rollback_voids_deletes_too(spark, seq, tmp_path):
    store = TierStore(spark, str(tmp_path / "rbdel"))
    b1 = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", b1, s1, "run-1")
    full_state = _state(store, "1d")
    s2 = store.next_commit_seq()
    store.delete(
        "1d", store.read("1d").filter(F.col("source") == "src_hot"), s2, "run-del"
    )
    assert (_state(store, "1d")["source"] != "src_hot").all()

    store.rollback("1d", s1)
    # the delete is part of the voided era: the rows come back
    assert_frames_match(_state(store, "1d"), full_state)
    # but reading AT the delete's horizon still shows it applied
    assert (_state(store, "1d", as_of_seq=s2)["source"] != "src_hot").all()


def test_rollback_validation(spark, seq, tmp_path):
    store = TierStore(spark, str(tmp_path / "rbval"))
    b1 = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", b1, s1, "run-1")
    s2 = store.next_commit_seq()
    store.append("1d", b1, s2, "run-2")

    with pytest.raises(ValueError, match="future"):
        store.rollback("1d", s2 + 10)
    store.rollback("1d", s1)
    # a target inside the voided range is ambiguous → refused
    s3 = store.next_commit_seq()
    store.append("1d", b1, s3, "run-3")
    with pytest.raises(ValueError, match="itself rolled back"):
        store.rollback("1d", s2)
    # rolling back to a seq at/below an existing range start is fine;
    # the nested old range is kept (it pins the intermediate history)
    store.rollback("1d", s1)
    assert (s1, s3) in store._rollback_ranges("1d")
    assert (s1, s2) in store._rollback_ranges("1d")


def test_compact_applies_rollback_physically(spark, seq, tmp_path):
    store = TierStore(spark, str(tmp_path / "rbphys"))
    b1 = rollup_sequences(seq, "1d").cache()
    b2 = b1.withColumn("cnt", F.col("cnt") + F.lit(100)).cache()
    s1 = store.next_commit_seq()
    store.append("1d", b1, s1, "run-1")
    s2 = store.next_commit_seq()
    store.append("1d", b2, s2, "run-2")
    store.rollback("1d", s1)
    current = _state(store, "1d")

    store.compact("1d")
    # reads unchanged, voided versions physically gone
    assert_frames_match(_state(store, "1d"), current)
    raw = store.read("1d", deduped=False)
    assert raw.filter(F.col("commit_seq") == s2).isEmpty()
    # ranges are spent and the horizon covers the voided era: the
    # orphaned snapshot is no longer readable
    assert store._rollback_ranges("1d") == []
    assert store.min_as_of("1d") > s2
    with pytest.raises(ValueError, match="predates"):
        store.read("1d", as_of_seq=s2)


def test_compact_drops_partition_that_only_rolled_back_commits_created(
    spark, seq, tmp_path
):
    """A p_date introduced ONLY by the voided era must lose its
    directory on compact (the fully-masked-partition rule extends to
    rollback)."""
    store = TierStore(spark, str(tmp_path / "rbpart"))
    b1 = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", b1, s1, "run-1")
    ghost = b1.limit(1).withColumn(
        "bucket_start", F.to_timestamp(F.lit("2031-12-31 00:00:00"))
    )
    s2 = store.next_commit_seq()
    store.append("1d", ghost, s2, "run-ghost")
    store.rollback("1d", s1)

    store.compact("1d")
    parts = os.listdir(store.tier_path("1d"))
    assert "p_date=2031-12-31" not in parts
    assert_frames_match(_state(store, "1d"), b1.toPandas())


def test_expire_below_refuses_overlapping_rollback(spark, seq, tmp_path):
    store = TierStore(spark, str(tmp_path / "rbexp"))
    b1 = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", b1, s1, "run-1")
    s2 = store.next_commit_seq()
    store.append("1d", b1, s2, "run-2")
    store.rollback("1d", s1)
    with pytest.raises(ValueError, match="rollback range"):
        store.compact("1d", expire_below=s2)


def test_read_summed_excludes_rolled_back_partials(spark, tmp_path):
    store = TierStore(spark, str(tmp_path / "rbsum"))
    mk = lambda v: spark.createDataFrame(
        [("2024-01-01 00:00:00", "A", v)],
        "bucket_start string, source string, cnt long",
    ).withColumn("bucket_start", F.col("bucket_start").cast("timestamp"))
    s1 = store.next_commit_seq()
    store.append("c", mk(10), s1, "r1")
    s2 = store.next_commit_seq()
    store.append("c", mk(20), s2, "r2")
    store.rollback("c", s1)
    got = store.read_summed("c", ("bucket_start", "source"), ("cnt",)).collect()
    assert [r["cnt"] for r in got] == [10]
    # as-of inside the voided era still folds both partials
    got2 = store.read_summed(
        "c", ("bucket_start", "source"), ("cnt",), as_of_seq=s2
    ).collect()
    assert [r["cnt"] for r in got2] == [30]


def test_changes_surfaces_rollback_as_diff(spark, seq, tmp_path):
    """A rollback crossing the changelog range appears as the exact
    diff back to the restored state — even though the voided commits
    are OLDER than from_seq."""
    store = TierStore(spark, str(tmp_path / "rbmv"))
    b1 = rollup_sequences(seq, "1h").cache()
    s1 = store.next_commit_seq()
    store.append("1h", b1, s1, "run-1")

    # bad batch: supersede + insert a ghost source, then roll it back
    bad = b1.withColumn("cnt", F.col("cnt") + F.lit(1000)).unionByName(
        b1.limit(3).withColumn("source", F.lit("src_ghost"))
    )
    s2 = store.next_commit_seq()
    store.append("1h", bad, s2, "run-bad")

    store.rollback("1h", s1)
    ch = store.changes("1h", from_seq=s2, split_updates=True)
    ops = {r["op"] for r in ch.select("op").distinct().collect()}
    assert "delete" in ops  # the ghost source vanishes


def test_tags_resolve_and_guard(spark, seq, tmp_path):
    store = TierStore(spark, str(tmp_path / "tags"))
    b1 = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", b1, s1, "run-1")
    store.tag("v1")
    state1 = _state(store, "1d")

    s2 = store.next_commit_seq()
    store.append("1d", b1.withColumn("cnt", F.col("cnt") * 2), s2, "run-2")
    # tag read == as-of read at the pinned seq
    assert_frames_match(
        _state(store, "1d", as_of_seq=store.resolve_ref("v1")), state1
    )
    assert store.resolve_ref("v1") == s1

    with pytest.raises(ValueError, match="already points"):
        store.tag("v1")
    store.tag("v1", replace=True)
    assert store.resolve_ref("v1") == s2
    with pytest.raises(ValueError, match="not been committed"):
        store.tag("v2", seq=s2 + 99)
    with pytest.raises(KeyError):
        store.resolve_ref("nope")
    # a tag is resolved by the caller, never passed to a read
    with pytest.raises(TypeError, match="ref"):
        store.read("1d", ref="v1")
    store.drop_tag("v1")
    assert "v1" not in store.tags()


def test_tag_rejects_negative_seq(spark, tmp_path):
    store = TierStore(spark, str(tmp_path / "negtag"))
    with pytest.raises(ValueError, match="not a commit_seq"):
        store.tag("bad", seq=-3)


def test_snapshots_marks_voided_commits(spark, seq, tmp_path):
    store = TierStore(spark, str(tmp_path / "snapvoid"))
    b1 = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", b1, s1, "run-1")
    s2 = store.next_commit_seq()
    store.append("1d", b1, s2, "run-2")
    store.rollback("1d", s1)
    flags = {r["commit_seq"]: r["voided"] for r in store.snapshots("1d").collect()}
    assert flags == {s1: False, s2: True}
