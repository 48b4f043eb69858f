"""Equality deletes (Iceberg v2 delete-file analog) + incremental /
CDC reads on the TierStore.

Sequence-number masking rule under test: a delete with commit_seq D
masks exactly the row versions with commit_seq <= D for matching keys —
a LATER append re-inserts the key and wins; time travel applies only
the deletes visible at the requested horizon. Compaction applies
deletes physically when it expires history (and raises the as-of
horizon over them), but keeps them logical under history-preserving
``expire_below``. ``changes`` is the changelog view derived from the
same lineage.

Reference analog: forced re-run / cache eviction of an existing product
(`/root/reference/s1tiling/libs/S1FileManager.py:735-748`), generalized
to row-level DELETE with exact snapshot semantics.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import partition_col, rollup_sequences
from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.sources.synth import synth_sequences
from tests.helpers import assert_frames_match, diff_of_states


@pytest.fixture()
def seq(spark):
    return synth_sequences(spark, 3000).cache()


def _state(store, tier, **kw):
    df = store.read(tier, **kw)
    assert df is not None
    drop = [c for c in ("commit_seq", "run_id", "p_date") if c in df.columns]
    return df.drop(*drop).toPandas()


def _hot_keys(store, tier):
    return store.read(tier).filter(F.col("source") == "src_hot")


def test_delete_masks_and_later_reinsert_wins(spark, seq, tmp_path):
    """delete masks prior versions; as-of before the delete still sees
    them; a later append of the same keys wins over the delete."""
    store = TierStore(spark, str(tmp_path / "del"))
    full = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", full, s1, "run-1")
    full_state = _state(store, "1d")

    s2 = store.next_commit_seq()
    n = store.delete("1d", _hot_keys(store, "1d"), s2, "run-del")
    assert n > 0

    masked = _state(store, "1d")
    expect_masked = full.filter(F.col("source") != "src_hot").toPandas()
    assert_frames_match(masked, expect_masked)
    # time travel to before the delete sees the full table
    assert_frames_match(_state(store, "1d", as_of_seq=s1), full_state)
    # time travel AT the delete seq applies it
    assert_frames_match(_state(store, "1d", as_of_seq=s2), expect_masked)

    # re-insert the deleted keys: newer than the delete -> visible again
    s3 = store.next_commit_seq()
    store.append("1d", full.filter(F.col("source") == "src_hot"), s3, "run-3")
    assert_frames_match(_state(store, "1d"), full_state)
    # and the masked snapshot stays reconstructable
    assert_frames_match(_state(store, "1d", as_of_seq=s2), expect_masked)


def test_group_delete_key_prefix_masks_every_bin(spark, seq, tmp_path):
    """A delete keyed on a PREFIX of a long-form tier's natural key
    masks every row of the group (all bins of (bucket_start, source))."""
    from s1tiling_spark.operators.rollup import token_hist_long

    store = TierStore(spark, str(tmp_path / "grp"))
    hist = token_hist_long(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("hist_1d", hist, s1, "run-1")
    keys3 = ("bucket_start", "source", "bin")

    s2 = store.next_commit_seq()
    store.delete(
        "hist_1d",
        hist.filter(F.col("source") == "src_hot"),
        s2,
        "run-del",
        keys=("bucket_start", "source"),
    )
    got = _state(store, "hist_1d", keys=keys3)
    want = hist.filter(F.col("source") != "src_hot").toPandas()
    assert_frames_match(got, want)


def test_read_summed_masks_partials_row_level(spark, tmp_path):
    """Additive tiers mask at row level: partials <= the delete's seq
    drop out of the fold, later partials keep summing."""
    store = TierStore(spark, str(tmp_path / "sum"))
    mk = lambda a, b: spark.createDataFrame(
        [("2024-01-01 00:00:00", "A", a), ("2024-01-01 00:00:00", "B", b)],
        "bucket_start string, source string, cnt long",
    ).withColumn("bucket_start", F.col("bucket_start").cast("timestamp"))
    s1 = store.next_commit_seq()
    store.append("c", mk(10, 100), s1, "r1")
    s2 = store.next_commit_seq()
    store.append("c", mk(20, 200), s2, "r2")
    s3 = store.next_commit_seq()
    store.delete("c", mk(0, 0).filter("source = 'A'"), s3, "rdel")
    s4 = store.next_commit_seq()
    store.append("c", mk(40, 400), s4, "r4")

    got = {
        r["source"]: r["cnt"]
        for r in store.read_summed("c", ("bucket_start", "source"), ("cnt",)).collect()
    }
    assert got == {"A": 40, "B": 700}
    # as-of at the delete: A fully masked, B sums its two partials
    got2 = {
        r["source"]: r["cnt"]
        for r in store.read_summed(
            "c", ("bucket_start", "source"), ("cnt",), as_of_seq=s3
        ).collect()
    }
    assert got2 == {"B": 300}


def test_compact_applies_deletes_physically_and_raises_horizon(spark, seq, tmp_path):
    """Full-expiry compact drops masked versions from the files, GCs
    the delete files, and refuses as-of reads below the applied
    delete's seq (which a physical apply makes unreconstructable)."""
    store = TierStore(spark, str(tmp_path / "phys"))
    full = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", full, s1, "run-1")
    s2 = store.next_commit_seq()
    store.delete("1d", _hot_keys(store, "1d"), s2, "run-del")
    before = _state(store, "1d")

    stats = store.compact("1d")
    assert stats["rows"] == len(before)
    assert_frames_match(_state(store, "1d"), before)
    # physically gone: the raw (unmasked) version view has no hot rows
    raw = store.read("1d", deduped=False)
    assert raw.filter(F.col("source") == "src_hot").isEmpty()
    # delete files are spent and GC'd
    assert not os.path.isdir(store._deletes_path("1d"))
    # horizon covers the applied delete: the pre-delete snapshot is gone
    assert store.min_as_of("1d") >= s2
    with pytest.raises(ValueError, match="predates"):
        store.read("1d", as_of_seq=s1)


def test_compact_drops_fully_masked_partition(spark, seq, tmp_path):
    """Deleting every key of one p_date then compacting removes that
    partition directory entirely (not just its rows)."""
    store = TierStore(spark, str(tmp_path / "part"))
    full = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", full, s1, "run-1")
    first = store.partition_dates("1d")[0]
    in_first = partition_col(F.col("bucket_start"), "1d") == F.lit(first).cast("date")
    victims = store.read("1d").filter(in_first)
    keep = full.filter(~in_first)
    assert victims.count() > 0 and keep.count() > 0
    s2 = store.next_commit_seq()
    store.delete("1d", victims, s2, "run-del")

    store.compact("1d")
    parts = [p for p in os.listdir(store.tier_path("1d")) if p.startswith("p_date=")]
    assert f"p_date={first}" not in parts and parts
    assert_frames_match(_state(store, "1d"), keep.toPandas())


def test_expire_below_compact_keeps_deletes_logical(spark, seq, tmp_path):
    """History-preserving compact (expire_below=E) must NOT apply
    deletes physically: an as-of read in [E, delete_seq) still sees the
    version a physical apply would have removed."""
    store = TierStore(spark, str(tmp_path / "logical"))
    full = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", full, s1, "run-1")
    full_state = _state(store, "1d")
    s2 = store.next_commit_seq()
    store.delete("1d", _hot_keys(store, "1d"), s2, "run-del")
    masked_state = _state(store, "1d")

    store.compact("1d", expire_below=s1)
    assert os.path.isdir(store._deletes_path("1d"))  # still logical
    assert_frames_match(_state(store, "1d"), masked_state)
    # the [E, D) window: at s1 the delete (seq s2) is not yet visible
    assert_frames_match(_state(store, "1d", as_of_seq=s1), full_state)
    assert_frames_match(_state(store, "1d", as_of_seq=s2), masked_state)


def test_changes_emits_insert_update_delete_with_images(spark, tmp_path):
    """Changelog ops over a crafted scenario: an update, an insert and
    a delete in range; untouched keys absent; delete rows carry the
    pre-image."""
    store = TierStore(spark, str(tmp_path / "cdc"))
    mk = lambda rows: spark.createDataFrame(
        rows, "bucket_start string, source string, cnt long"
    ).withColumn("bucket_start", F.col("bucket_start").cast("timestamp"))
    t = "2024-01-01 00:00:00"
    s1 = store.next_commit_seq()
    store.append("t", mk([(t, "A", 1), (t, "B", 2), (t, "C", 3)]), s1, "r1")
    s2 = store.next_commit_seq()
    store.append("t", mk([(t, "B", 20), (t, "D", 4)]), s2, "r2")
    s3 = store.next_commit_seq()
    store.delete("t", mk([(t, "C", 0)]), s3, "rdel")

    ch = store.changes("t", from_seq=s1).select("op", "source", "cnt")
    got = {(r["op"], r["source"], r["cnt"]) for r in ch.collect()}
    assert got == {("update", "B", 20), ("insert", "D", 4), ("delete", "C", 3)}

    # applying the changelog to the pre state reconstructs the post state
    pre = store.read("t", as_of_seq=s1).select("source", "cnt").toPandas()
    post = store.read("t").select("source", "cnt").toPandas()
    out = {r["source"]: r["cnt"] for _, r in pre.iterrows()}
    for op, src, cnt in got:
        if op == "delete":
            out.pop(src)
        else:
            out[src] = cnt
    assert out == {r["source"]: r["cnt"] for _, r in post.iterrows()}


def test_mixed_keyset_deletes_apply_per_keyset(spark, seq, tmp_path):
    """Group-level (2-key) and row-level (3-key) delete commits on the
    SAME tier are applied per key set: each mask joins on its own key
    columns. A single schema-inferred scan over the mixed _deletes dir
    would either drop the `bin` column (masking whole groups the row
    delete never named) or NULL-fill it (the group delete stops
    matching and its rows resurrect)."""
    from s1tiling_spark.operators.rollup import token_hist_long

    store = TierStore(spark, str(tmp_path / "mix"))
    hist = token_hist_long(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("hist_1d", hist, s1, "run-1")
    keys3 = ("bucket_start", "source", "bin")

    # group delete: every bin of src_hot
    s2 = store.next_commit_seq()
    store.delete(
        "hist_1d",
        hist.filter(F.col("source") == "src_hot"),
        s2,
        "run-grp",
        keys=("bucket_start", "source"),
    )
    # row delete: ONE specific bin of a different source
    victim = (
        hist.filter(F.col("source") != "src_hot")
        .orderBy("bucket_start", "source", "bin")
        .limit(1)
        .cache()
    )
    vrow = victim.first()
    s3 = store.next_commit_seq()
    store.delete("hist_1d", victim, s3, "run-row", keys=keys3)

    got = _state(store, "hist_1d", keys=keys3)
    want = (
        hist.filter(F.col("source") != "src_hot")
        .join(victim.select(*keys3), list(keys3), "left_anti")
        .toPandas()
    )
    assert_frames_match(got, want)
    # sanity: the row delete removed exactly one row, not the group
    kept_same_group = got[
        (got["bucket_start"] == vrow["bucket_start"])
        & (got["source"] == vrow["source"])
    ]
    assert len(kept_same_group) > 0  # other bins of the victim's group survive


def test_changes_respects_extended_keys(spark, seq, tmp_path):
    """changes(keys=3-col natural key) on a long-form tier diffs per
    full key: only the bin that actually changed appears — the as-of
    states must be read with the SAME extended key (a default-key read
    would keep one arbitrary bin per (bucket_start, source) and emit
    spurious insert/delete rows for every other bin)."""
    from s1tiling_spark.operators.rollup import token_hist_long

    store = TierStore(spark, str(tmp_path / "cdk"))
    hist = token_hist_long(seq, "1d").cache()
    keys3 = ("bucket_start", "source", "bin")
    s1 = store.next_commit_seq()
    store.append("hist_1d", hist, s1, "run-1")

    upd = (
        hist.orderBy("bucket_start", "source", "bin")
        .limit(1)
        .withColumn("tok_cnt", F.col("tok_cnt") + F.lit(7))
        .cache()
    )
    urow = upd.first()
    s2 = store.next_commit_seq()
    store.append("hist_1d", upd, s2, "run-2")

    ch = store.changes("hist_1d", from_seq=s1, keys=keys3)
    rows = ch.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["op"], r["bucket_start"], r["source"], r["bin"], r["tok_cnt"]) == (
        "update",
        urow["bucket_start"],
        urow["source"],
        urow["bin"],
        urow["tok_cnt"],
    )


def test_changes_split_updates_emits_before_and_after_images(spark, seq, tmp_path):
    """split_updates: an update becomes update_before (pre-image) +
    update_after (post-image) — Iceberg's changelog convention, and the
    exact shape delta-based view maintenance consumes (signed union).
    Inserts and deletes stay single-row."""
    store = TierStore(spark, str(tmp_path / "split"))
    full = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", full, s1, "run-1")

    first_two = full.orderBy("bucket_start", "source").limit(2).collect()
    upd_key, del_key = first_two[0], first_two[1]
    # update: same key, cnt bumped
    upd = (
        full.filter(
            (F.col("bucket_start") == upd_key["bucket_start"])
            & (F.col("source") == upd_key["source"])
        ).withColumn("cnt", F.col("cnt") + F.lit(5))
    )
    # insert: a brand-new key
    ins = upd.withColumn("source", F.lit("src_brand_new"))
    s2 = store.next_commit_seq()
    store.append("1d", upd.unionByName(ins), s2, "run-2")
    s3 = store.next_commit_seq()
    store.delete(
        "1d",
        full.filter(
            (F.col("bucket_start") == del_key["bucket_start"])
            & (F.col("source") == del_key["source"])
        ),
        s3,
        "run-del",
    )

    ch = store.changes("1d", from_seq=s1, split_updates=True)
    rows = {(r["op"], r["source"]): r for r in ch.collect()}
    assert set(rows) == {
        ("update_before", upd_key["source"]),
        ("update_after", upd_key["source"]),
        ("insert", "src_brand_new"),
        ("delete", del_key["source"]),
    }
    assert rows[("update_before", upd_key["source"])]["cnt"] == upd_key["cnt"]
    assert rows[("update_after", upd_key["source"])]["cnt"] == upd_key["cnt"] + 5
    assert rows[("delete", del_key["source"])]["cnt"] == del_key["cnt"]
    # the signed union cancels exactly for unchanged measures
    assert (
        rows[("update_after", upd_key["source"])]["sum_n_tok"]
        == rows[("update_before", upd_key["source"])]["sum_n_tok"]
    )


def test_changes_pruned_equals_unpruned_through_delete_and_rollback(
    spark, seq, tmp_path
):
    """Partition pruning must be a pure optimization: the (pruned)
    changelog equals the diff of two unpruned as-of reads through
    updates, an equality delete AND a rollback horizon crossing — and
    the derived p_date filter must reach the scan's PartitionFilters
    (not a post-scan DataFilter), or the PERF.md §19 O(touched days)
    claim silently reverts to full-table reads."""
    import io
    from contextlib import redirect_stdout

    store = TierStore(spark, str(tmp_path / "prune_ch"))
    full = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", full, s1, "run-1")

    # update one key, delete another, then roll back PAST the delete so
    # the changelog range contains a rollback horizon crossing
    first_two = full.orderBy("bucket_start", "source").limit(2).cache()
    upd = first_two.limit(1).withColumn("cnt", F.col("cnt") + F.lit(7))
    s2 = store.next_commit_seq()
    store.append("1d", upd, s2, "run-upd")
    victim = first_two.orderBy(F.desc("source")).limit(1)
    s3 = store.next_commit_seq()
    store.delete("1d", victim, s3, "run-del")
    store.rollback("1d", s2)

    ch = store.changes("1d", from_seq=s1, split_updates=True)
    pruned = ch.toPandas()
    assert_frames_match(pruned, diff_of_states(store, "1d", ch, s1))
    assert len(pruned) > 0

    # the static date list must prune AT THE SCAN
    some_date = str(full.agg(F.min(F.to_date("bucket_start"))).first()[0])
    df = store.read("1d", p_dates=[some_date])
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    pf_line = next(
        l for l in buf.getvalue().splitlines() if "PartitionFilters" in l
    )
    assert "p_date" in pf_line, pf_line
    assert 0 < df.count() < store.read("1d").count()


def test_files_metadata_table(spark, seq, tmp_path):
    """files(): footer-derived per-file rows/bytes/commit-seq ranges
    must reconcile exactly with the physical row-version view, and a
    compact must be visible as fewer files with merged seq ranges."""
    store = TierStore(spark, str(tmp_path / "files"))
    full = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", full, s1, "run-1")
    s2 = store.next_commit_seq()
    store.append("1d", full, s2, "run-2")

    fl = store.files("1d")
    assert len(fl) > 0
    assert sum(f["rows"] for f in fl) == store.read("1d", deduped=False).count()
    assert all(f["bytes"] > 0 and f["row_groups"] >= 1 for f in fl)
    assert {f["seq_min"] for f in fl} == {s1, s2}  # one commit per file
    assert all(f["seq_min"] == f["seq_max"] for f in fl)

    store.compact("1d")
    fl2 = store.files("1d")
    assert len(fl2) < len(fl)
    assert sum(f["rows"] for f in fl2) == full.count()
    # survivors keep their original commit_seq through the rewrite
    assert all(f["seq_min"] == s2 and f["seq_max"] == s2 for f in fl2)


def test_partitions_metadata_summary(spark, seq, tmp_path):
    """partitions(): the per-p_date fold of files() must reconcile with
    both the file table (sums preserved) and the physical rows, expose
    per-date small-file buildup (two appends -> n_files == 2 per date),
    and collapse after a compact (n_files == 1, seq span intact)."""
    store = TierStore(spark, str(tmp_path / "parts"))
    full = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", full, s1, "run-1")
    s2 = store.next_commit_seq()
    store.append("1d", full, s2, "run-2")

    parts = store.partitions("1d")
    fl = store.files("1d")
    assert [p["p_date"] for p in parts] == sorted({f["p_date"] for f in fl})
    assert sum(p["rows"] for p in parts) == sum(f["rows"] for f in fl)
    assert sum(p["bytes"] for p in parts) == sum(f["bytes"] for f in fl)
    assert all(p["n_files"] == 2 for p in parts)  # one file per append per date
    assert all(p["seq_min"] == s1 and p["seq_max"] == s2 for p in parts)

    store.compact("1d")
    parts2 = store.partitions("1d")
    assert [p["p_date"] for p in parts2] == [p["p_date"] for p in parts]
    assert all(p["n_files"] == 1 for p in parts2)
    assert sum(p["rows"] for p in parts2) == full.count()
    assert all(p["seq_min"] == s2 and p["seq_max"] == s2 for p in parts2)


def test_changes_group_delete_prefix_expands_touched_keys(spark, seq, tmp_path):
    """A GROUP delete (key-prefix file: just ``source``) must surface in
    the changelog as one delete row per (bucket_start, source) key of
    the group — the touched-key expansion has to go through the table
    scan because the delete file does not carry ``bucket_start``.
    (Row-level deletes take a direct path: the delete rows ARE the
    touched keys — this test pins the OTHER branch.) The changelog
    must equal the diff of two unpruned as-of reads through it."""
    store = TierStore(spark, str(tmp_path / "grp_ch"))
    full = rollup_sequences(seq, "1d").cache()
    s1 = store.next_commit_seq()
    store.append("1d", full, s1, "run-1")
    n_hot = full.filter(F.col("source") == "src_hot").count()
    assert n_hot > 1  # a group, not a single row
    s2 = store.next_commit_seq()
    store.delete(
        "1d",
        spark.createDataFrame([("src_hot",)], "source string"),
        s2,
        "run-grp-del",
        keys=("source",),
    )
    ch = store.changes("1d", from_seq=s1, split_updates=True)
    pruned = ch.toPandas()
    assert_frames_match(pruned, diff_of_states(store, "1d", ch, s1))
    # every key of the group is a delete row; nothing else changed
    assert set(pruned["op"]) == {"delete"}
    assert set(pruned["source"]) == {"src_hot"}
    assert len(pruned) == n_hot
