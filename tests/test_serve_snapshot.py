"""Serving snapshots (``TierStore.snapshot``): the router serves its
tier reads from persisted deduped snapshots keyed by the tier's commit
state. Contract under test:
- reuse: a second routed query on an unchanged store scans no tier file,
  and neither does a head ``read(tier, sources=…)`` while that tier's
  head snapshot is held;
- invalidation: after any commit — by this store instance or another
  one on the same path — the routed answer and the ``sources=`` read
  equal the answers over a fresh ``TierStore``;
- bound: at most a head and an as-of snapshot per tier and store, all
  freed by ``release_cached()`` or by discarding the store, and rebuilt
  on their next use.
"""

from __future__ import annotations

import gc
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from s1tiling_spark.operators import cache
from s1tiling_spark.operators.cache import release_cached
from s1tiling_spark.plans.router import routed_range_totals_from_store
from s1tiling_spark.plans.store import TierStore, new_run_id
from s1tiling_spark.plans.tiers import TierPipeline, TierPipelineConfig

# ragged hour edges, whole days and the full 30d block
# [2024-01-18, 2024-02-17): every tier serves part of the range
_START = datetime(2024, 1, 2, 5)
_END = datetime(2024, 2, 25, 13)
_CUT = "2024-02-10"
_CFG = TierPipelineConfig(hist=False, compress=False)


@pytest.fixture(scope="module")
def raw(spark):
    """3000 sequences over 60 days and three sources."""
    return (
        spark.range(0, 3000)
        .select(
            F.col("id").cast("string").alias("doc_id"),
            (F.pmod(F.col("id"), F.lit(50)) + 1).cast("int").alias("n_tok"),
            F.concat(F.lit("s"), F.pmod(F.col("id"), F.lit(3)).cast("string")).alias(
                "source"
            ),
            F.timestamp_seconds(
                F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
                + F.pmod(F.col("id") * 9973, F.lit(60 * 24)) * 3600
            ).alias("event_ts"),
        )
        .cache()
    )


def _routed(store, as_of_seq=None):
    df = routed_range_totals_from_store(store, _START, _END, as_of_seq=as_of_seq)
    return sorted((r["source"], r["cnt"], r["sum_n_tok"]) for r in df.collect())


def _fresh(store):
    return TierStore(store.spark, store.base_dir)


def _sourced(store):
    """A ``sources=`` head read of 1h and 1d, plain and with ``p_dates``."""
    return [
        sorted(tuple(r) for r in store.read(t, sources=["s0", "s1"], **kw).collect())
        for t in ("1h", "1d")
        for kw in ({}, {"p_dates": ["2024-01-20"]})
    ]


@pytest.fixture
def served(spark, raw, tmp_path):
    """A store built from the raw rows before ``_CUT``, with warm head
    and as-of snapshots; yields (store, as-of horizon)."""
    store = TierStore(spark, str(tmp_path / "store"))
    TierPipeline(store, _CFG).run(raw.filter(F.col("event_ts") < _CUT))
    horizon = store.last_commit_seq()
    _routed(store)
    _routed(store, horizon)
    return store, horizon


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_second_query_scans_no_tier_file(spark, served):
    store, _ = served
    tier_files = {f.path for t in ("1h", "1d", "30d")
                  for f in store._data_files(store.tier_path(t))}

    def scanned(df):
        return {f.removeprefix("file://") for f in df.inputFiles()} & tier_files

    # the warm query plans no file scan at all...
    assert not scanned(routed_range_totals_from_store(store, _START, _END))
    # while a plain read of the same tier still scans its files
    assert scanned(store.read("1h"))
    # ...and launches fewer jobs than a cold query, which builds snapshots
    cold = _jobs(spark, "snapshot-cold", lambda: _routed(_fresh(store)))
    warm = _jobs(spark, "snapshot-warm", lambda: _routed(store))
    assert 0 < len(warm) < len(cold)
    # a single-source read is served from the held head snapshot, with
    # the rows a fresh store's file scan returns
    for kw in ({}, {"p_dates": ["2024-01-20"]}):
        assert not scanned(store.read("1h", sources=["s1"], **kw))
    rows = _sourced(store)
    assert rows == _sourced(_fresh(store))
    # a released snapshot is never served: the read scans files again
    release_cached()
    assert scanned(store.read("1h", sources=["s1"]))
    assert _sourced(store) == rows


def _day_rows(store, source, cnt):
    """One 1d row per day of the store's 1d tier, for ``source``."""
    return (
        store.read("1d")
        .select(
            "bucket_start",
            F.lit(source).alias("source"),
            F.lit(cnt).cast("long").alias("cnt"),
            F.lit(cnt).cast("long").alias("sum_n_tok"),
            F.lit(1).alias("min_n_tok"),
            F.lit(1).alias("max_n_tok"),
        )
        .distinct()
    )


def _run(store, raw):
    TierPipeline(store, _CFG).run(raw)


def _delete(store, raw):
    keys = store.read("1d").filter(F.col("source") == "s0")
    store.delete("1d", keys, store.next_commit_seq(), new_run_id())


def _rollback(store, raw):
    before = store.last_commit_seq()
    _run(store, raw)
    assert _routed(store) == _routed(_fresh(store))
    store.rollback("1d", before)


def _compact(store, raw):
    _run(store, raw)
    old = store.snapshot("1h")
    store.compact("1h")
    assert store.snapshot("1h") is not old


def _expire(store, raw):
    store.expire("1d", "2024-01-20")


def _second_writer(store, raw):
    other = TierStore(store.spark, store.base_dir)
    other.append("1d", _day_rows(store, "s1", 5), other.next_commit_seq(), new_run_id())


@pytest.mark.parametrize(
    "op",
    [_run, _delete, _rollback, _compact, _expire, _second_writer],
    ids=lambda f: f.__name__.strip("_"),
)
def test_commit_invalidates_snapshot(served, raw, op):
    store, _ = served
    before = _routed(store)
    op(store, raw)
    # a stale held snapshot is released, a rebuilt one served
    assert _sourced(store) == _sourced(_fresh(store))
    after = _routed(store)
    assert after == _routed(_fresh(store))
    assert _sourced(store) == _sourced(_fresh(store))
    if op is not _compact:  # invisible to the answer
        assert after != before


def test_wap_stage_publish_abandon(served):
    store, horizon = served
    before = _routed(store)
    store.stage("1d", _day_rows(store, "s0", 7), new_run_id(), "good")
    # staged rows stay invisible, as-of too
    assert _routed(store) == _routed(_fresh(store)) == before
    assert _routed(store, horizon) == _routed(_fresh(store), horizon)
    store.publish("1d", "good")
    published = _routed(store)
    assert published == _routed(_fresh(store)) != before
    store.stage("1d", _day_rows(store, "poisoned", 1), new_run_id(), "bad")
    assert _routed(store) == published
    store.abandon("1d", "bad")
    assert _routed(store) == _routed(_fresh(store)) == published
    assert "poisoned" not in {s for s, _, _ in published}


def test_empty_horizon_raises_even_with_warm_later_snapshot(spark, raw, tmp_path):
    """A tier whose first commit postdates ``as_of_seq`` is empty at
    that horizon: the as-of route raises instead of undercounting —
    also while a snapshot for a later horizon is warm."""
    built = TierStore(spark, str(tmp_path / "built"))
    TierPipeline(built, _CFG).run(raw.filter(F.col("event_ts") < _CUT))
    store = TierStore(spark, str(tmp_path / "late_1h"))
    for t in ("1d", "30d", "1h"):
        rows = built.read(t).drop("commit_seq", "run_id", "p_date")
        store.append(t, rows, store.next_commit_seq(), new_run_id())
        if t == "30d":
            horizon = store.last_commit_seq()
    later = store.last_commit_seq()
    assert _routed(store, later) == _routed(built)
    with pytest.raises(ValueError, match="'1h' is empty.*as of seq"):
        _routed(store, horizon)


def test_snapshots_are_bounded_and_released(spark, raw, served):
    store, horizon = served
    horizons = [horizon]
    for day in ("2024-02-12", "2024-02-14", "2024-02-16", "2024-02-18"):
        _run(store, raw.filter(F.col("event_ts") < day))
        horizons.append(store.last_commit_seq())
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    release_cached()
    base = len(persisted())
    for h in [None, *horizons]:
        _routed(store, h)
    # five horizons later: one head and one as-of snapshot per tier
    assert len(persisted()) - base <= 2 * 3
    release_cached()
    assert len(persisted()) == base
    for h in (None, horizons[2]):
        assert _routed(store, h) == _routed(_fresh(store), h)


def test_discarded_store_frees_its_snapshots(spark, served):
    store, horizon = served
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    base = len(persisted())
    other = _fresh(store)
    _routed(other)
    _routed(other, horizon)
    assert len(persisted()) == base + 2 * 3
    del other
    gc.collect()
    assert len(persisted()) == base


def test_failed_probe_persists_nothing(spark, served, monkeypatch):
    store, horizon = served

    def live():
        return [df for df in cache._TRACKED if cache.is_cached(df)]

    before = len(live())

    def fail(self):
        raise RuntimeError("probe failed")

    monkeypatch.setattr(type(spark.range(1)), "isEmpty", fail)
    with pytest.raises(RuntimeError, match="probe failed"):
        _fresh(store).snapshot("1h", horizon)
    assert len(live()) == before
