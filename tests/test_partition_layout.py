"""The tier store's partition rule (``partition_tier`` in
``operators/rollup.py``): 1d and hist_1d rows land in one partition per
30d bucket, every other tier in one partition per day. Readers map the
days they need onto partitions through the same rule, expiry masks the
partition its floor cuts through, and a store written when 1d/hist_1d
were partitioned by day keeps giving the answers a fresh build gives."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

import s1tiling_spark.plans.store as store_mod
from s1tiling_spark.operators.rollup import partition_floor
from s1tiling_spark.plans.store import TierStore, new_run_id, partition_span
from s1tiling_spark.plans.tiers import TierPipeline
from s1tiling_spark.sources.synth import synth_sequences
from tests.helpers import assert_frames_match

N = 3000
SPLIT_TS = "2024-01-20 00:00:00"
HIST_KEYS = ("bucket_start", "source", "bin")
KEYS = {"hist_1d": HIST_KEYS, "hist_30d": HIST_KEYS}
TIERS = ("1h", "1d", "30d", "hist_1d", "hist_30d", "blocks_1h")
LINEAGE = ("run_id", "p_date")


@pytest.fixture()
def seq(spark):
    return synth_sequences(spark, N).cache()


def _pdf(df):
    return df.drop(*[c for c in LINEAGE if c in df.columns]).toPandas()


def _state(store, tier, **kw):
    return _pdf(store.read(tier, keys=KEYS.get(tier, ("bucket_start", "source")), **kw))


def test_cold_build_writes_one_file_per_partition(spark, seq, tmp_path):
    """After a cold build, 1d and hist_1d hold one data file per 30d
    bucket their rows span; 1h holds one per day."""
    store = TierStore(spark, str(tmp_path / "cold"))
    TierPipeline(store).run(seq)
    for tier in ("1h", "1d", "hist_1d", "30d"):
        days = {
            r["d"] for r in store.read(tier, deduped=False)
            .select(F.to_date("bucket_start").alias("d")).distinct().collect()
        }
        want = sorted({partition_floor(tier, d).isoformat() for d in days})
        assert store.partition_dates(tier) == want, tier
        files = list(store._data_files(store.tier_path(tier)))
        assert len(files) == len(want), tier
    assert len(store.partition_dates("1d")) == 2
    assert len(store.partition_dates("1h")) > 40


def test_expire_masks_the_partition_it_cuts(spark, seq, tmp_path):
    """A 30d partition wholly before the floor is dropped; the one the
    floor cuts through is kept and its older rows are hidden from every
    reader, at every horizon, until a compaction rewrites them away.
    Rows committed below the floor after the expiry stay visible until
    the next expiry."""
    store = TierStore(spark, str(tmp_path / "exp"))
    TierPipeline(store).run(seq)
    floor = "2024-01-25"
    assert partition_span("1d", "2024-01-18") == (dt.date(2024, 1, 18), dt.date(2024, 2, 17))
    full = store.read("1d").localCheckpoint()  # outlives the dropped files
    kept = full.filter(F.col("bucket_start") >= floor)
    assert store.expire("1d", floor) == 1  # 2023-12-19 .. 2024-01-17
    assert store.partition_dates("1d") == ["2024-01-18"]
    assert_frames_match(_state(store, "1d"), _pdf(kept))
    assert_frames_match(_pdf(store.snapshot("1d")), _pdf(kept))
    head = store.last_commit_seq()
    assert_frames_match(_state(store, "1d", as_of_seq=head), _pdf(kept))
    assert store.read("1d", deduped=False).filter(
        F.col("bucket_start") < floor).count() == 0

    late = full.filter(F.col("bucket_start") < floor).limit(1).drop(*LINEAGE, "commit_seq")
    store.append("1d", late, store.next_commit_seq(), new_run_id())
    with_late = kept.drop(*LINEAGE, "commit_seq").unionByName(late).toPandas()
    assert_frames_match(_state(store, "1d").drop(columns="commit_seq"), with_late)

    store.compact("1d")
    assert_frames_match(_state(store, "1d").drop(columns="commit_seq"), with_late)
    assert sum(f["rows"] for f in store.files("1d")) == len(with_late)

    store.expire("1d", "2024-01-01")  # the floor only ratchets forward
    assert store.retention_floor("1d")[0] == floor
    assert_frames_match(_state(store, "1d"), _pdf(kept))
    assert store.expire("1d", floor) == 0


def _old_layout(ts, tier):
    """The partition column stores were written with before 1d and
    hist_1d moved to 30d partitions."""
    return F.to_date(ts)


def test_old_layout_store_upgrades(spark, seq, tmp_path, monkeypatch):
    """A store whose 1d/hist_1d use day partitions takes a refresh, a
    delete, changes(), read(as_of_seq=) and expire() with every answer
    equal to a store built fresh by the same commits."""
    early = seq.filter(F.col("event_ts") < SPLIT_TS)
    old = TierStore(spark, str(tmp_path / "old"))
    new = TierStore(spark, str(tmp_path / "new"))
    with monkeypatch.context() as m:
        m.setattr(store_mod, "partition_col", _old_layout)
        TierPipeline(old).run(early, run_id="r1")
    TierPipeline(new).run(early, run_id="r1")
    assert len(old.partition_dates("1d")) > 2 * len(new.partition_dates("1d"))
    s1 = old.last_commit_seq()
    assert s1 == new.last_commit_seq()

    for st in (old, new):
        TierPipeline(st).run(seq, run_id="r2")
        hot = st.read("1d").filter(
            (F.col("source") == "src_hot") & (F.col("bucket_start") < "2024-01-10"))
        st.delete("1d", hot, st.next_commit_seq(), "del")
    # the refresh wrote a 30d partition beside the day partitions
    for tier in ("1d", "hist_1d"):
        assert {"2024-01-05", "2024-01-18"} <= set(old.partition_dates(tier))

    def same(fn):
        assert_frames_match(_pdf(fn(old)), _pdf(fn(new)))

    for tier in TIERS:
        same(lambda st: st.read(tier, keys=KEYS.get(tier, ("bucket_start", "source"))))
        same(lambda st: st.read(tier, keys=KEYS.get(tier, ("bucket_start", "source")),
                                as_of_seq=s1))
    same(lambda st: st.changes("1d", from_seq=s1, split_updates=True))
    same(lambda st: st.changes("hist_1d", from_seq=s1, keys=HIST_KEYS))
    same(lambda st: st.read("1d", p_dates=["2024-01-19"]).filter(
        F.to_date("bucket_start") == "2024-01-19"))

    for st in (old, new):
        st.expire("1d", "2024-01-25")
        st.expire("hist_1d", "2024-01-25")
    for tier in ("1d", "hist_1d"):
        same(lambda st: st.read(tier, keys=KEYS.get(tier, ("bucket_start", "source"))))
        same(lambda st: st.read(tier, keys=KEYS.get(tier, ("bucket_start", "source")),
                                as_of_seq=st.last_commit_seq()))
        for st in (old, new):
            with pytest.raises(ValueError, match="retention expiry"):
                st.read(tier, as_of_seq=s1)
    same(lambda st: st.changes("1d", from_seq=s1, split_updates=True))
    TierPipeline(old).run(seq, run_id="r3")
    TierPipeline(new).run(seq, run_id="r3")
    for tier in TIERS:
        same(lambda st: st.read(tier, keys=KEYS.get(tier, ("bucket_start", "source"))))
