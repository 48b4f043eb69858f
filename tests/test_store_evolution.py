"""Sort-order clustering on compaction + schema-evolution reads.

Two Iceberg semantics completing the TierStore story:

- ``compact(cluster_by=...)`` = ``rewrite_data_files`` with a sort
  strategy: each rewritten file is internally ordered on the cluster
  keys, so parquet row-group min/max stats become tight disjoint
  ranges and a routed read filtering on those keys skips row groups
  at the scan. The test proves the mechanism (file-level ordering via
  the parquet footer/page data itself) and that clustering changes
  nothing about MERGE-on-read results.
- add-column schema evolution: a later append may carry new columns;
  every reader serves them, old rows as NULL, without opting in.

Reference analog: the rewrite discipline mirrors the reference's
tmp→rename product re-write (`/root/reference/s1tiling/libs/
steps.py:123-145`); clustering generalizes its per-tile/per-date file
layout to intra-file ordering.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import rollup_sequences
from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.sources.synth import synth_sequences
from tests.helpers import assert_frames_match


@pytest.fixture()
def seq(spark):
    return synth_sequences(spark, 3000).cache()


def _deduped_state(store, tier):
    df = store.read(tier)
    assert df is not None
    return (
        df.drop("commit_seq", "run_id", "p_date")
        .toPandas()
        .sort_values(["bucket_start", "source"])
        .reset_index(drop=True)
    )


def _tier_files(store, tier):
    path = store.tier_path(tier)
    for part in sorted(os.listdir(path)):
        if not part.startswith("p_date="):
            continue
        for fn in sorted(os.listdir(os.path.join(path, part))):
            if fn.endswith(".parquet"):
                yield os.path.join(path, part, fn)


def test_compact_cluster_by_orders_rows_inside_each_file(spark, seq, tmp_path):
    store = TierStore(spark, str(tmp_path / "clustered"))
    t1h = rollup_sequences(seq, "1h")
    s1 = store.next_commit_seq()
    # shuffle the write order so pre-compact files are NOT clustered
    store.append("1h", t1h.repartition(8), s1, "run-1")
    before = _deduped_state(store, "1h")

    stats = store.compact("1h", cluster_by=("source", "bucket_start"))
    assert stats["rows"] == len(before)

    checked_rows = 0
    for f in _tier_files(store, "1h"):
        t = pq.read_table(f, columns=["source", "bucket_start"])
        pairs = list(zip(t["source"].to_pylist(), t["bucket_start"].to_pylist()))
        assert pairs == sorted(pairs), f"{f} not clustered on (source, bucket_start)"
        checked_rows += len(pairs)
    assert checked_rows == len(before)

    # clustering is purely physical: MERGE-on-read result unchanged
    assert_frames_match(_deduped_state(store, "1h"), before)

    # the serving filter on the cluster key reaches the parquet scan
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        store.read("1h", deduped=False).filter(
            F.col("source") == "web"
        ).explain("formatted")
    text = buf.getvalue()
    assert "PushedFilters" in text and "source" in text


def test_compact_cluster_by_composes_with_expire_below(spark, seq, tmp_path):
    """cluster_by is orthogonal to snapshot expiry: a clustered
    history-preserving compaction keeps every as-of read exact."""
    store = TierStore(spark, str(tmp_path / "clustered_asof"))
    early = rollup_sequences(
        seq.filter(F.col("event_ts") < "2024-01-20 00:00:00"), "1d"
    )
    full = rollup_sequences(seq, "1d")
    s1 = store.next_commit_seq()
    store.append("1d", early.repartition(8), s1, "run-1")
    state_s1 = _deduped_state(store, "1d")
    s2 = store.next_commit_seq()
    store.append("1d", full.repartition(8), s2, "run-2")
    state_s2 = _deduped_state(store, "1d")

    store.compact("1d", expire_below=s1, cluster_by=("source", "bucket_start"))

    for f in _tier_files(store, "1d"):
        t = pq.read_table(f, columns=["source", "bucket_start"])
        pairs = list(zip(t["source"].to_pylist(), t["bucket_start"].to_pylist()))
        assert pairs == sorted(pairs)

    df_s1 = store.read("1d", as_of_seq=s1)
    assert_frames_match(
        df_s1.drop("commit_seq", "run_id", "p_date")
        .toPandas()
        .sort_values(["bucket_start", "source"])
        .reset_index(drop=True),
        state_s1,
    )
    assert_frames_match(_deduped_state(store, "1d"), state_s2)


def test_schema_evolution_merge_read(spark, seq, tmp_path):
    """A later append carrying a NEW column is readable: old rows
    back-fill NULL, the newest version per key still wins, and the
    evolved column survives compaction."""
    store = TierStore(spark, str(tmp_path / "evolve"))
    early = rollup_sequences(
        seq.filter(F.col("event_ts") < "2024-01-20 00:00:00"), "1d"
    )
    late = rollup_sequences(
        seq.filter(F.col("event_ts") >= "2024-01-20 00:00:00"), "1d"
    ).withColumn("quality_flag", F.lit("ok"))
    s1 = store.next_commit_seq()
    store.append("1d", early, s1, "run-1")
    s2 = store.next_commit_seq()
    store.append("1d", late, s2, "run-2")

    df = store.read("1d")
    assert "quality_flag" in df.columns
    pdf = df.toPandas()
    old = pdf[pdf["commit_seq"] == s1]
    new = pdf[pdf["commit_seq"] == s2]
    assert len(old) and len(new)
    assert old["quality_flag"].isna().all()
    assert (new["quality_flag"] == "ok").all()

    # disjoint date ranges: merge-read row count is the sum
    assert len(pdf) == early.count() + late.count()

    # evolution survives a clustered rewrite
    store.compact(
        "1d", cluster_by=("source", "bucket_start"),
    )
    pdf2 = store.read("1d").toPandas()
    assert "quality_flag" in pdf2.columns
    assert len(pdf2) == len(pdf)


_ADD_SCHEMA = "bucket_start timestamp, source string, v long"


def _add_rows(spark, rows, with_flag=False):
    """Rows of (ts, source, v[, n_flag]); ``with_flag`` adds the
    ``n_flag`` column the tier did not have."""
    from datetime import datetime

    return spark.createDataFrame(
        [(datetime.fromisoformat(ts), *rest) for ts, *rest in rows],
        _ADD_SCHEMA + (", n_flag long" if with_flag else ""),
    )


def _served(store, as_of, from_seq):
    """What each reader serves of the added ``n_flag`` column."""

    def rows(df, *cols):
        assert "n_flag" in df.columns, df.columns
        return {tuple(r[c] for c in cols) for r in df.collect()}

    summed = store.read_summed(
        "t", keys=("bucket_start", "source"), sum_cols=("v", "n_flag")
    )
    return {
        "read": rows(store.read("t"), "source", "v", "n_flag"),
        "snapshot": rows(store.snapshot("t"), "source", "v", "n_flag"),
        "as_of": rows(store.read("t", as_of_seq=as_of), "source", "v", "n_flag"),
        "changes": rows(store.changes("t", from_seq=from_seq), "op", "source", "n_flag"),
        "summed": rows(summed, "source", "v", "n_flag"),
    }


@pytest.mark.parametrize("new_day", ["2024-01-05", "2024-01-20"], ids=["before", "after"])
def test_added_column_served_by_every_reader(spark, tmp_path, new_day):
    """An append that brings a column the tier never had is served by
    every reader, NULL for older rows, with no reader opting in:
    whether the new column's file sorts before or after the old files,
    after a compaction that bakes the add, and after a later append
    that omits the column and lands in the earliest partition (the
    footer a plain scan samples)."""
    store = TierStore(spark, str(tmp_path / "add"))
    s1 = store.next_commit_seq()
    store.append(
        "t",
        _add_rows(spark, [("2024-01-10 10:00:00", "a", 1), ("2024-01-11 10:00:00", "b", 2)]),
        s1,
        "b1",
    )
    # a new key on new_day plus a new version of key a: the second
    # version makes a full compaction's horizon cover the add
    s2 = store.next_commit_seq()
    store.append(
        "t",
        _add_rows(
            spark,
            [(f"{new_day} 10:00:00", "c", 3, 7), ("2024-01-10 10:00:00", "a", 5, 9)],
            with_flag=True,
        ),
        s2,
        "b2",
    )
    state = {("a", 5, 9), ("b", 2, None), ("c", 3, 7)}
    assert _served(store, s2, s1) == {
        "read": state,
        "snapshot": state,
        "as_of": state,
        "changes": {("update", "a", 9), ("insert", "c", 7)},
        "summed": {("a", 6, 9), ("b", 2, None), ("c", 3, 7)},
    }

    store.compact("t")
    assert store.min_as_of("t") >= s2  # the add is baked into the files
    compacted = {
        "read": state,
        "snapshot": state,
        "as_of": state,
        "changes": set(),
        "summed": state,
    }
    assert _served(store, s2, s2) == compacted

    s3 = store.next_commit_seq()
    store.append("t", _add_rows(spark, [("2024-01-01 10:00:00", "d", 4)]), s3, "b3")
    head = state | {("d", 4, None)}
    assert _served(store, s2, s2) == {
        "read": head,
        "snapshot": head,
        "as_of": state,
        "changes": {("insert", "d", None)},
        "summed": head,
    }


def test_maybe_compact_triggers_on_version_ratio(spark, seq, tmp_path):
    """The ratio-driven maintenance policy (PERF.md par.16): a single
    append (ratio ~1) must NOT rewrite; a second fully-overlapping
    append (ratio ~2) must; results are unchanged either way."""
    store = TierStore(spark, str(tmp_path / "auto"))
    t1d = rollup_sequences(seq, "1d")
    store.append("1d", t1d, store.next_commit_seq(), "run-1")

    r1 = store.maybe_compact("1d", max_version_ratio=1.9)
    assert r1["compacted"] is False and 0.9 < r1["version_ratio"] < 1.1

    store.append("1d", t1d.withColumn("cnt", F.col("cnt") + 1), store.next_commit_seq(), "run-2")
    before = _deduped_state(store, "1d")
    r2 = store.maybe_compact(
        "1d", max_version_ratio=1.9, cluster_by=("source", "bucket_start")
    )
    assert r2["compacted"] is True and r2["version_ratio"] > 1.8
    assert r2["files_after"] <= r2["files_before"]
    assert_frames_match(_deduped_state(store, "1d"), before)

    # convergence guard: no appends since the rewrite -> the next
    # scheduled run SKIPS without even probing (the retained-history
    # ratio would otherwise re-trigger a useless full rewrite forever
    # under expire_below retention)
    r3 = store.maybe_compact("1d", max_version_ratio=1.9)
    assert r3 == {"compacted": False, "version_ratio": None}
    # ...and a fresh append re-arms the policy
    store.append(
        "1d", t1d.withColumn("cnt", F.col("cnt") + 2), store.next_commit_seq(), "run-3"
    )
    r4 = store.maybe_compact("1d", max_version_ratio=1.9)
    assert r4["version_ratio"] is not None


def _typed_rows(spark, ts, src, val, vtype="int"):
    from datetime import datetime as _dt

    return spark.createDataFrame(
        [(_dt.fromisoformat(ts), src, val)],
        f"bucket_start timestamp, source string, v {vtype}",
    )


# ---------- write-time schema alignment (the Iceberg write contract) ----------


def test_append_wider_than_declared_raises(spark, tmp_path):
    """A column's type never changes: a batch carrying a value wider
    than the declared type fails fast instead of landing a footer
    that disagrees with the tier."""
    store = TierStore(spark, str(tmp_path / "awr"))
    store.append(
        "t",
        _typed_rows(spark, "2024-01-01 10:00:00", "a", 7),
        store.next_commit_seq(),
        "b1",
    )
    with pytest.raises(ValueError, match="wider than the declared int"):
        store.append(
            "t",
            _typed_rows(spark, "2024-01-02 10:00:00", "b", 3_000_000_000, "bigint"),
            store.next_commit_seq(),
            "b2",
        )
    # cross-family conflict is a rewrite, not an evolution
    with pytest.raises(ValueError, match="type families"):
        store.append(
            "t",
            spark.createDataFrame(
                [(__import__("datetime").datetime(2024, 1, 2, 10), "b", "oops")],
                "bucket_start timestamp, source string, v string",
            ),
            store.next_commit_seq(),
            "b3",
        )


def test_append_aligns_add_column_evolutions_later_spelling(spark, tmp_path):
    """Add-column evolution passes through; a LATER batch spelling the
    new column narrower is aligned against the remembered declared
    type, not treated as a fresh column."""
    from datetime import datetime as _dt

    store = TierStore(spark, str(tmp_path / "ac"))
    store.append(
        "t",
        _typed_rows(spark, "2024-01-01 10:00:00", "a", 7),
        store.next_commit_seq(),
        "b1",
    )
    store.append(
        "t",
        spark.createDataFrame(
            [(_dt(2024, 1, 2, 10), "b", 8, 6_000_000_000)],
            "bucket_start timestamp, source string, v int, extra bigint",
        ),
        store.next_commit_seq(),
        "b2",
    )
    store.append(
        "t",
        spark.createDataFrame(
            [(_dt(2024, 1, 3, 10), "c", 9, 11)],
            "bucket_start timestamp, source string, v int, extra int",
        ),
        store.next_commit_seq(),
        "b3",
    )
    for part in os.listdir(store.tier_path("t")):
        if part.startswith("p_date=2024-01-03"):
            pdir = os.path.join(store.tier_path("t"), part)
            for fn in os.listdir(pdir):
                if fn.endswith(".parquet"):
                    sch = pq.read_schema(os.path.join(pdir, fn))
                    assert str(sch.field("extra").type) == "int64"
    cur = store.read("t")
    assert dict(cur.dtypes)["extra"] == "bigint"
    got = {(r["source"], r["v"], r["extra"]) for r in cur.collect()}
    assert got == {("a", 7, None), ("b", 8, 6_000_000_000), ("c", 9, 11)}


def test_live_retired_schema_op_is_refused(spark, tmp_path):
    """Earlier releases recorded metadata-only rename, widen and drop
    ops. While one is live (above the compaction horizon) the store
    refuses the tier, naming the op kind, instead of serving columns
    under the wrong names or types; an op at or below the horizon is
    baked into the files and harmless."""
    store = TierStore(spark, str(tmp_path / "retired"))
    s1 = store.next_commit_seq()
    store.append("t", _typed_rows(spark, "2024-01-01 10:00:00", "a", 7), s1, "b1")
    ops = {
        "rename": {"kind": "rename", "from": "v", "to": "val"},
        "widen": {"kind": "widen", "col": "v", "from": "int", "to": "bigint"},
        "drop": {"kind": "drop", "col": "v"},
    }
    for kind, op in ops.items():
        seq = store.next_commit_seq()
        store._update_meta(lambda m, o={**op, "seq": seq}: m.__setitem__("_schema_t", [o]))
        calls = {
            "read": lambda: store.read("t"),
            "snapshot": lambda: store.snapshot("t"),
            "append": lambda: store.append(
                "t",
                _typed_rows(spark, "2024-01-02 10:00:00", "b", 8),
                store.next_commit_seq(),
                "b2",
            ),
        }
        for what, call in calls.items():
            with pytest.raises(ValueError, match=f"'t': live '{kind}' schema op"):
                call()
    # a compaction horizon at the op's seq: baked, served as the files are
    store._update_meta(lambda m: m.__setitem__("t", seq))
    assert {(r["source"], r["v"]) for r in store.read("t").collect()} == {("a", 7)}
