"""Incremental tier pipeline: end-state equivalence under growth,
re-run, and crash-resume.

Models the reference's restart discipline — rerun after partial results
must produce exactly the full-run outputs
(`/root/reference/tests/test_0200306-NR.py:178-256`, masks-only restart)
— as dataframe-equality of the deduped tier tables."""

from __future__ import annotations

import datetime as dt
import functools
import sys
import threading

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.plans.tiers import TierPipeline, TierPipelineConfig
from s1tiling_spark.sources.synth import synth_sequences
from tests.helpers import assert_frames_match

N = 4000
SPLIT_TS = "2024-01-20 00:00:00"
ALL_TIERS = ("1h", "1d", "30d", "hist_1d", "hist_30d", "blocks_1h")
HIST_KEYS = ("bucket_start", "source", "bin")


@pytest.fixture()
def seq(spark):
    return synth_sequences(spark, N).cache()


def _tier_state(store, tier, keys=("bucket_start", "source")):
    df = store.read(tier, keys=keys)
    assert df is not None
    drop = [c for c in ("commit_seq", "run_id", "p_date") if c in df.columns]
    return df.drop(*drop).toPandas()


def _tier_keys(tier):
    return HIST_KEYS if tier.startswith("hist_") else ("bucket_start", "source")


def _decoded_blocks(store):
    from s1tiling_spark.operators.compress import decompress_blocks

    blocks = store.read("blocks_1h").withColumnRenamed("bucket_start", "block_start")
    return decompress_blocks(blocks).toPandas()


def _assert_equals_oneshot(store, full):
    """All six tiers and the decoded block points equal ``full``'s."""
    for tier in ALL_TIERS:
        keys = _tier_keys(tier)
        assert_frames_match(_tier_state(store, tier, keys), _tier_state(full, tier, keys))
    assert_frames_match(_decoded_blocks(store), _decoded_blocks(full))


def _full_run_state(spark, seq, tmp_path, name):
    store = TierStore(spark, str(tmp_path / name))
    TierPipeline(store).run(seq)
    return store


def test_single_run_matches_direct(spark, seq, tmp_path):
    from s1tiling_spark.operators.rollup import rollup_sequences

    store = _full_run_state(spark, seq, tmp_path, "single")
    got = _tier_state(store, "1d")
    want = rollup_sequences(seq, "1d").toPandas()
    assert_frames_match(got, want)


def test_incremental_growth_equals_oneshot(spark, seq, tmp_path):
    """Run on the first 20 days, then on the grown table → identical
    deduped state to a single full run (late rows in the boundary bucket
    get MERGEd)."""
    early = seq.filter(F.col("event_ts") < SPLIT_TS)
    inc_store = TierStore(spark, str(tmp_path / "inc"))
    pipe = TierPipeline(inc_store)
    r1 = pipe.run(early)
    assert r1["rows_out_total"] > 0
    r2 = pipe.run(seq)  # table has grown; watermarks skip committed work
    assert r2["rows_out_total"] > 0

    full_store = _full_run_state(spark, seq, tmp_path, "full")
    for tier in ("1h", "1d", "30d"):
        assert_frames_match(
            _tier_state(inc_store, tier), _tier_state(full_store, tier)
        )
    hk = ("bucket_start", "source", "bin")
    for tier in ("hist_1d", "hist_30d"):
        assert_frames_match(
            _tier_state(inc_store, tier, hk), _tier_state(full_store, tier, hk)
        )


def test_incremental_skips_committed_buckets(spark, seq, tmp_path):
    """Second run over an unchanged table must re-process only the
    boundary bucket per source, not everything."""
    store = TierStore(spark, str(tmp_path / "skip"))
    pipe = TierPipeline(store, TierPipelineConfig(hist=False, compress=False))
    pipe.run(seq)
    r2 = pipe.run(seq)
    m1h = next(m for m in r2["metrics"] if m["tier"] == "1h")
    # boundary-bucket recompute only: a handful of rows per source
    assert 0 < m1h["rows_out"] < 50
    assert m1h["rows_in"] < seq.count() / 10


def test_rerun_idempotent(spark, seq, tmp_path):
    store = TierStore(spark, str(tmp_path / "idem"))
    pipe = TierPipeline(store, TierPipelineConfig(hist=False, compress=False))
    pipe.run(seq)
    before = _tier_state(store, "1h")
    pipe.run(seq)
    pipe.run(seq)
    assert_frames_match(_tier_state(store, "1h"), before)


def test_crash_between_append_and_checkpoint(spark, seq, tmp_path):
    """Simulate dying after the data append but before the checkpoint
    commit: resume must repair to the exact full state."""
    store = TierStore(spark, str(tmp_path / "crash"))
    pipe = TierPipeline(store, TierPipelineConfig(hist=False, compress=False))
    early = seq.filter(F.col("event_ts") < SPLIT_TS)
    pipe.run(early)

    # crash injection: append new tier data WITHOUT checkpointing
    from s1tiling_spark.operators.rollup import rollup_sequences

    crashed = rollup_sequences(seq.filter(F.col("event_ts") >= SPLIT_TS), "1h")
    store.append("1h", crashed, store.next_commit_seq(), "run-crashed")

    # resume: normal run over the full table
    pipe.run(seq)
    full_store = _full_run_state(spark, seq, tmp_path, "crash_full")
    assert_frames_match(_tier_state(store, "1h"), _tier_state(full_store, "1h"))


def test_metrics_and_lineage(spark, seq, tmp_path, monkeypatch):
    store = TierStore(spark, str(tmp_path / "metrics"))
    # hold the 1h write until hist_1d's has finished: the two chains
    # run side by side, and the metrics still come in schedule order
    append, hist_done = store.append, threading.Event()

    def ordered_append(tier, *args, **kwargs):
        if tier == "1h":
            assert hist_done.wait(120), "hist_1d did not run beside 1h"
        out = append(tier, *args, **kwargs)
        if tier == "hist_1d":
            hist_done.set()
        return out

    monkeypatch.setattr(store, "append", ordered_append)
    pipe = TierPipeline(store)
    # frequent thread switches, so a lost metrics update would show
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        res = pipe.run(seq)
    finally:
        sys.setswitchinterval(switch)
    m = store.read_metrics()
    assert m is not None
    rows = m.collect()
    tiers = {r["tier"] for r in rows}
    assert set(ALL_TIERS) <= tiers
    for got in (res["metrics"], store.refresh_state()["metrics"]):
        assert tuple(r["tier"] for r in got) == ALL_TIERS
    # a cold run reads input for every tier, counted on its write
    for got in (rows, res["metrics"]):
        rows_in = {r["tier"]: r["rows_in"] for r in got}
        assert all(rows_in[t] > 0 for t in ALL_TIERS), rows_in
    assert {r["tier"]: r["rows_in"] for r in rows}["1h"] == seq.count()
    raw = store.read("1h", deduped=False)
    assert {"commit_seq", "run_id", "p_date"} <= set(raw.columns)
    assert raw.filter(F.col("run_id") == res["run_id"]).count() > 0


def _run_in_group(spark, group, fn):
    """``fn()`` under job group ``group``; the ids of the jobs it ran
    in that group, and of those it ran in no group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return (out, tracker.getJobIdsForGroup(group),
            set(tracker.getJobIdsForGroup(None)) - ungrouped)


def test_refresh_jobs_keep_callers_job_group(spark, seq, tmp_path):
    """Every job of a refresh runs in the caller's job group (so
    ``cancelJobGroup`` reaches it), even those its tier writes launch
    from their own threads."""
    store = TierStore(spark, str(tmp_path / "group"))
    _, grouped, ungrouped = _run_in_group(
        spark, "refresh-group", lambda: TierPipeline(store).run(seq))
    assert grouped
    assert not ungrouped


def test_refresh_jobs_are_described_by_tier(spark, seq, tmp_path):
    """Each tier write describes its jobs as ``tiers/<run_id>/<tier>``."""
    store = TierStore(spark, str(tmp_path / "described"))
    res, grouped, _ = _run_in_group(
        spark, "refresh-described", lambda: TierPipeline(store).run(seq))
    status = spark.sparkContext._jsc.sc().statusStore()
    described = set()
    for jid in grouped:
        desc = status.job(jid).description()
        if desc.isDefined():
            described.add(desc.get())
    assert {f"tiers/{res['run_id']}/{t}" for t in ALL_TIERS} <= described


class _Crash(RuntimeError):
    pass


@pytest.mark.parametrize("where", ["third_tier_write", "before_commit_record"])
def test_crash_mid_refresh_repairs_on_rerun(spark, seq, tmp_path, monkeypatch, where):
    """A refresh dies after writing some or all of its six tier deltas
    but before its commit record: the next refresh repairs every tier
    and the decoded blocks to exactly a one-shot build."""
    store = TierStore(spark, str(tmp_path / "crash6"))
    pipe = TierPipeline(store)
    pipe.run(seq.filter(F.col("event_ts") < SPLIT_TS))
    state_before = store.refresh_state()

    if where == "third_tier_write":
        append, calls = store.append, []

        def failing_append(*args, **kwargs):
            calls.append(args[0])
            if len(calls) == 3:
                raise _Crash(f"killed writing {args[0]}")
            return append(*args, **kwargs)

        monkeypatch.setattr(store, "append", failing_append)
    else:
        def failing_commit(*args, **kwargs):
            raise _Crash("killed before the commit record")

        monkeypatch.setattr(store, "commit_refresh", failing_commit)
    with pytest.raises(_Crash):
        pipe.run(seq)
    monkeypatch.undo()
    # the crashed refresh left data behind but not its record
    assert store.refresh_state() == state_before
    if where == "before_commit_record":
        seq_crashed = store.last_commit_seq()
        for tier in ALL_TIERS:
            raw = store.read(tier, deduped=False)
            assert raw.filter(F.col("commit_seq") == seq_crashed).count() > 0, tier

    pipe.run(seq)
    full = _full_run_state(spark, seq, tmp_path, "crash6_full")
    _assert_equals_oneshot(store, full)


def test_watermark_state_after_many_refreshes(spark, seq, tmp_path, monkeypatch):
    """20 back-to-back refreshes over a growing table: every tier's
    watermarks equal its per-source newest bucket, no per-commit
    checkpoint or metrics files exist, and a late refresh reads the
    same metadata files as an early one."""
    import builtins
    import collections
    import os
    import re

    base = str(tmp_path / "wm20")
    store = TierStore(spark, base)
    pipe = TierPipeline(store)
    # the table grows by one day per refresh, over the last 20 days
    cuts = [f"2024-01-{d:02d} 12:00:00" for d in range(12, 32)]

    opened = collections.Counter()
    real_open = builtins.open

    def counting_open(file, *args, **kwargs):
        name = os.fspath(file) if isinstance(file, (str, os.PathLike)) else ""
        if isinstance(name, str) and name.startswith(base):
            # atomic writes open a uniquely named tmp file
            opened[re.sub(r"\.tmp\.\w+$", ".tmp", os.path.relpath(name, base))] += 1
        return real_open(file, *args, **kwargs)

    reads = {}
    for i, cut in enumerate(cuts, start=1):
        grown = seq.filter(F.col("event_ts") < cut)
        if i in (2, 20):
            opened.clear()
            monkeypatch.setattr(builtins, "open", counting_open)
            pipe.run(grown)
            monkeypatch.setattr(builtins, "open", real_open)
            reads[i] = {p: n for p, n in opened.items() if not p.endswith(".parquet")}
        else:
            pipe.run(grown)

    for tier in ALL_TIERS:
        want = (
            store.read(tier, keys=_tier_keys(tier))
            .groupBy("source")
            .agg(F.max("bucket_start").alias("watermark"))
            .toPandas()
        )
        got = store.read_watermarks(tier).toPandas()
        assert_frames_match(got, want)
    assert not any(
        os.path.exists(os.path.join(base, d)) for d in ("_checkpoint", "_metrics")
    )
    assert "_refresh_state.json" in reads[2]
    assert reads[20] == reads[2], reads


def test_watermark_filter_quotes_source_names(spark):
    """Watermarks reach the pushed-down filter as SQL literals: source
    names with quotes or backslashes filter exactly, and a source
    without a watermark passes whole."""
    import calendar
    from datetime import datetime

    from s1tiling_spark.plans.tiers import _at_or_after

    names = ["plain", "it's", "back\\slash", "new"]
    rows = [(n, f"2024-01-01 0{h}:00:00") for n in names for h in (1, 3)]
    df = spark.createDataFrame(rows, "source string, ts string").select(
        "source", F.to_timestamp("ts").alias("event_ts")
    )
    wm_us = calendar.timegm(datetime(2024, 1, 1, 2).timetuple()) * 1_000_000
    got = df.filter(_at_or_after("event_ts", {n: wm_us for n in names[:3]}))
    got = got.select("source", F.hour("event_ts").alias("h")).collect()
    assert sorted((r["source"], r["h"]) for r in got) == sorted(
        [(n, 3) for n in names] + [("new", 1)]
    )


def test_blocks_roundtrip_from_store(spark, seq, tmp_path):
    from s1tiling_spark.operators.compress import decompress_blocks

    store = TierStore(spark, str(tmp_path / "blocks"))
    TierPipeline(store).run(seq)
    blocks = store.read("blocks_1h")
    pts = decompress_blocks(
        blocks.withColumnRenamed("bucket_start", "block_start")
    ).toPandas()
    tier = _tier_state(store, "1h")
    assert len(pts) == len(tier)


def test_retention_expire(spark, seq, tmp_path):
    store = TierStore(spark, str(tmp_path / "exp"))
    pipe = TierPipeline(store, TierPipelineConfig(hist=False, compress=False))
    pipe.run(seq)
    before = store.read("1h").count()
    dropped = store.expire("1h", "2024-01-15")
    assert dropped > 0
    after = store.read("1h").count()
    assert after < before
    assert store.read("1h").filter(F.col("bucket_start") < "2024-01-15").count() == 0


def test_retention_blocks_silent_truncated_time_travel(spark, seq, tmp_path):
    """expire() records a retention floor: as-of reads of states that
    predate the expiry RAISE (never silently reconstruct a state
    missing the dropped dates), unless the caller scopes the read to
    surviving dates via p_dates; states at/after the expiry stay exact.
    (ADVICE r4: expire() vs the never-silently-wrong as-of contract.)"""
    import pytest as _pytest

    store = TierStore(spark, str(tmp_path / "expfloor"))
    pipe = TierPipeline(store, TierPipelineConfig(hist=False, compress=False))
    pipe.run(seq)
    pre_seq = store.last_commit_seq()
    assert store.expire("1h", "2024-01-15") > 0
    floor_date, floor_seq = store.retention_floor("1h")
    # the expiry consumed its own commit seq — every pre-expiry state
    # is strictly below the floor seq
    assert floor_date == "2024-01-15" and floor_seq > pre_seq
    with _pytest.raises(ValueError, match="retention expiry"):
        store.read("1h", as_of_seq=pre_seq)
    # explicit acknowledgment: scoped to surviving dates, the read works
    ok = store.read("1h", as_of_seq=pre_seq, p_dates=["2024-01-20"])
    assert ok.filter(F.to_date("bucket_start") == "2024-01-20").count() > 0
    # but a p_dates list reaching below the floor still raises
    with _pytest.raises(ValueError, match="retention expiry"):
        store.read("1h", as_of_seq=pre_seq, p_dates=["2024-01-10"])
    # post-expiry states are exact — no raise
    store.append(
        "1h",
        store.read("1h").limit(1).drop("commit_seq", "run_id", "p_date"),
        store.next_commit_seq(),
        "post",
    )
    assert store.read("1h", as_of_seq=store.last_commit_seq()) is not None


def test_repair_gc_collects_old_append_staging(spark, seq, tmp_path):
    """A crashed append's staging dir is GC'd by the compact repair once
    it is old enough — fresh staging (a live concurrent writer) is left
    alone. (ADVICE r4: staging-dir disk leak.)"""
    import os
    import time as _time

    store = TierStore(spark, str(tmp_path / "stagegc"))
    pipe = TierPipeline(store, TierPipelineConfig(hist=False, compress=False))
    pipe.run(seq)
    stale = store.tier_path("1h") + "_tmp_deadbeef"
    fresh = store.tier_path("1h") + "_tmp_cafebabe"
    os.makedirs(stale)
    os.makedirs(fresh)
    old = _time.time() - 7 * 3600
    os.utime(stale, (old, old))
    store._repair_crashed_compact("1h")
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)


def test_compaction_preserves_reads_and_shrinks_files(spark, seq, tmp_path):
    """compact() physically applies MERGE-on-read: identical read
    results, fewer files, original commit_seq kept so a LATER append
    still wins over compacted survivors."""
    from pyspark.sql import functions as F

    from s1tiling_spark.operators.rollup import rollup_sequences

    store = TierStore(spark, str(tmp_path / "compact"))
    tier = rollup_sequences(seq, "1d")
    # three overlapping appends → three versions of every key
    for i in range(3):
        store.append("1d", tier, store.next_commit_seq(), f"run-{i}")
    before = _tier_state(store, "1d")
    versions = store.read("1d", deduped=False).count()
    assert versions == 3 * len(before)

    stats = store.compact("1d")
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows"] == len(before)  # one surviving version per key
    after = _tier_state(store, "1d")
    assert_frames_match(after, before)

    # a post-compaction append (higher commit_seq) must still win
    bumped = tier.withColumn("cnt", F.col("cnt") + 1000)
    store.append("1d", bumped, store.next_commit_seq(), "run-post")
    newest = store.read("1d")
    assert newest.filter(F.col("cnt") < 1000).count() == 0


def _across_30d_buckets(seq, n=4):
    """``seq`` repeated ``n`` times, 30 days apart: its 1d rollup spans
    more than ``n`` 30d buckets, so the 1d tier has more than ``n``
    partitions."""
    return functools.reduce(DataFrame.unionByName, [
        seq.withColumn("event_ts", F.col("event_ts") + F.expr(f"INTERVAL {30 * k} DAYS"))
        for k in range(n)
    ])


def test_store_read_partition_pruning(spark, seq, tmp_path):
    """A date-filtered read of a tier table must prune p_date partitions
    AT THE SCAN (PartitionFilters in the FileScan) — the property that
    makes bucket-range queries O(partitions touched) at 100 TB."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from s1tiling_spark.operators.rollup import partition_floor, rollup_sequences

    store = TierStore(spark, str(tmp_path / "prune"))
    rows = rollup_sequences(_across_30d_buckets(seq), "1d")
    store.append("1d", rows, store.next_commit_seq(), "r0")
    assert len(store.partition_dates("1d")) > 3
    day = partition_floor("1d", dt.date(2024, 1, 5))
    df = store.read("1d", deduped=False).filter(F.col("p_date") == day)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "p_date" in pf_line, pf_line
    # and the filter actually prunes: one partition's rows only
    assert 0 < df.count() < store.read("1d", deduped=False).count()


def test_store_read_dynamic_partition_pruning(spark, seq, tmp_path):
    """Joining a tier table against a FILTERED date dimension must
    prune p_date partitions at RUNTIME (dynamic partition pruning:
    the scan's PartitionFilters carries a dynamicpruning subquery fed
    by the broadcast dim). At 100 TB this is the difference between
    scanning the whole store and only the dim-selected days when the
    date predicate lives on a dimension, not the fact table.

    Two preconditions found while building this test (both documented
    because each silently disables DPP with no log line):
    - the dim must be STORAGE-BACKED: a createDataFrame LocalRelation
      has its filter constant-folded into the local rows before the
      PartitionPruning rule runs, leaving no selective predicate
      (same materialize-your-dims lesson as the AQE skew-join,
      PERF.md §14);
    - the dim predicate must be a comparison (EqualTo/In/...): a bare
      boolean column filter is not 'likely selective' to the rule."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from s1tiling_spark.operators.rollup import rollup_sequences

    store = TierStore(spark, str(tmp_path / "dpp"))
    rows = rollup_sequences(_across_30d_buckets(seq), "1d")
    store.append("1d", rows, store.next_commit_seq(), "r0")
    fact = store.read("1d", deduped=False)
    dates = sorted(r["p_date"] for r in fact.select("p_date").distinct().collect())
    assert len(dates) > 3
    dimpath = str(tmp_path / "dpp_dim")
    spark.createDataFrame(
        [(d, i % 2) for i, d in enumerate(dates)], "p_date date, tag int"
    ).write.parquet(dimpath)
    dim = spark.read.parquet(dimpath)
    joined = fact.join(F.broadcast(dim.filter(F.col("tag") == 0)), "p_date")
    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "dynamicpruning" in pf_line.lower(), pf_line
    # and the join result is exactly the kept days' rows
    kept = {str(d) for i, d in enumerate(dates) if i % 2 == 0}
    got_days = {
        str(r["p_date"]) for r in joined.select("p_date").distinct().collect()
    }
    assert got_days == kept


def test_changes_survive_retention(spark, seq, tmp_path):
    """Retention must not brick incremental consumers: changes() over a
    range that starts below the expiry seq still works (both as-of
    states read the same surviving files — no spurious retraction)."""
    from s1tiling_spark.operators.rollup import rollup_sequences

    store = TierStore(spark, str(tmp_path / "retmv"))
    early = rollup_sequences(seq.filter(F.col("event_ts") < "2024-01-20"), "1h")
    lag_cursor = store.next_commit_seq()
    store.append("1h", early, lag_cursor, "b1")

    late = rollup_sequences(seq.filter(F.col("event_ts") >= "2024-01-20"), "1h")
    store.append("1h", late, store.next_commit_seq(), "b2")
    assert store.expire("1h", "2024-01-15") > 0

    # changes() from below the expiry seq still serves the diff
    ch = store.changes("1h", from_seq=lag_cursor)
    assert ch.filter(F.col("op") == "insert").count() > 0


def test_failed_lower_write_stops_its_cascades(spark, seq, tmp_path, monkeypatch):
    """A failed 1h write fails the refresh with that very exception:
    the tiers cascaded from 1h write nothing, the record stays, no
    thread of the refresh outlives it, and the next refresh repairs
    every tier to a one-shot build."""
    store = TierStore(spark, str(tmp_path / "fail1h"))
    pipe = TierPipeline(store)
    pipe.run(seq.filter(F.col("event_ts") < SPLIT_TS))
    state_before = store.refresh_state()

    append, boom = store.append, _Crash("killed writing 1h")

    def failing_append(tier, *args, **kwargs):
        if tier == "1h":
            raise boom
        return append(tier, *args, **kwargs)

    monkeypatch.setattr(store, "append", failing_append)
    threads_before = set(threading.enumerate())
    with pytest.raises(_Crash) as err:
        pipe.run(seq)
    assert err.value is boom
    assert set(threading.enumerate()) <= threads_before
    monkeypatch.undo()

    seq_crashed = store.last_commit_seq()
    for tier in ("1d", "30d", "blocks_1h"):
        raw = store.read(tier, deduped=False)
        assert raw.filter(F.col("commit_seq") == seq_crashed).count() == 0, tier
    assert store.refresh_state() == state_before

    pipe.run(seq)
    full = _full_run_state(spark, seq, tmp_path, "fail1h_full")
    _assert_equals_oneshot(store, full)
