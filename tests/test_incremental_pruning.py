"""Incremental file planning (r5): data-file names carry the max
commit_seq they contain (`c<seq>-` append files, `m<maxseq>-` compact
outputs), so `changes` plans ONLY the files that can hold rows past
its cursor — the Iceberg incremental-manifest analog.
Without it every incremental batch lists and opens the whole table's
footers just to let row-group stats discard compacted history; at
10^12 rows that metadata storm is the thing manifests exist to avoid.

Correctness contract: `_scan`'s `min_seq_hint` is a pure optimization
hint — the caller always re-filters on commit_seq, so a skipped file
may only be one whose every row the filter would drop anyway. Legacy
(unprefixed) files are conservatively included.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from s1tiling_spark.plans.store import TierStore

SCHEMA = "source string, bucket_start timestamp, v long"


def _row(spark, day, v, source="s"):
    return spark.createDataFrame(
        [(source, datetime.fromisoformat(f"2024-01-0{day} 10:00:00"), v)], SCHEMA
    )


def _seed(spark, base):
    """3 appends (2 dates) + compact + 2 more appends. Returns
    (store, [seq1..seq5], compact-time horizon)."""
    store = TierStore(spark, base)
    seqs = []
    for day, v in ((1, 10), (2, 20), (1, 11)):
        s = store.next_commit_seq()
        store.append("t", _row(spark, day, v), s, f"r{s}")
        seqs.append(s)
    store.compact("t", keys=("source", "bucket_start"))
    for day, v in ((2, 21), (3, 30)):
        s = store.next_commit_seq()
        store.append("t", _row(spark, day, v), s, f"r{s}")
        seqs.append(s)
    return store, seqs


def test_compact_outputs_are_seq_named(spark, tmp_path):
    store, seqs = _seed(spark, str(tmp_path / "names"))
    tier = store.tier_path("t")
    named = {}
    for part in os.listdir(tier):
        if not part.startswith("p_date="):
            continue
        for fn in os.listdir(os.path.join(tier, part)):
            if fn.endswith(".parquet"):
                named.setdefault(part, []).append(fn)
    flat = [fn for fns in named.values() for fn in fns]
    # every live file is either an append (c<seq>-) or a compact
    # output (m<maxseq>-) — nothing unnamed survives the rewrite
    assert all(store._FILE_SEQ_RE.match(fn) for fn in flat), flat
    m_files = [fn for fn in flat if fn.startswith("m")]
    assert len(m_files) == 2  # one folded file per pre-compact date
    # the name-encoded max equals the real max seq folded into the file
    got = sorted(int(store._FILE_SEQ_RE.match(fn).group(1)) for fn in m_files)
    assert got == [seqs[1], seqs[2]]  # day2's winner, day1's winner


def test_plan_skips_compacted_history(spark, tmp_path):
    store, seqs = _seed(spark, str(tmp_path / "plan"))
    planned = store._plan_files_above_seq("t", seqs[2], store._visibility("t"))
    assert planned is not None and len(planned) == 2
    assert all(os.path.basename(p).startswith(f"c") for p in planned)
    # a scan with the hint reads exactly those files
    df = store._scan("t", store._visibility("t"), min_seq_hint=seqs[2])
    opened = {os.path.basename(p) for p in df.inputFiles()}
    assert opened == {os.path.basename(p) for p in planned}
    # p_date partition parsing is preserved on the explicit file list
    assert set(df.select("p_date").distinct().toPandas()["p_date"].astype(str)) == {
        "2024-01-02", "2024-01-03",
    }
    # nothing skippable → None (plain dir scan keeps the plan identical)
    assert store._plan_files_above_seq("t", 0, store._visibility("t")) is None


def test_changes_parity_with_pruned_touched_scan(spark, tmp_path):
    store, seqs = _seed(spark, str(tmp_path / "chg"))
    ch = store.changes("t", from_seq=seqs[2])
    got = {(r["op"], r["bucket_start"].isoformat(), r["v"]) for r in ch.collect()}
    assert got == {
        ("update", "2024-01-02T10:00:00", 21),
        ("insert", "2024-01-03T10:00:00", 30),
    }


def test_hint_never_changes_results_under_mixed_layout(spark, tmp_path):
    """Randomized-ish layout: appends, compact, deletes, more appends —
    every (hint vs no-hint) read pair agrees exactly."""
    base = str(tmp_path / "mix")
    store, seqs = _seed(spark, base)
    # delete day-2's key, then re-insert it
    sd = store.next_commit_seq()
    store.delete("t", _row(spark, 2, 0), sd, "del", keys=("source", "bucket_start"))
    s6 = store.next_commit_seq()
    store.append("t", _row(spark, 2, 22), s6, "r6")
    for cursor in [0, seqs[2], seqs[4], sd]:
        plain = store.read("t", deduped=False).filter(
            F.col("commit_seq") > cursor
        )
        vis = store._visibility("t")
        hinted = store._scan("t", vis, min_seq_hint=cursor).filter(
            F.col("commit_seq") > cursor
        )
        a = sorted((r["v"], r["commit_seq"]) for r in plain.collect())
        b = sorted((r["v"], r["commit_seq"]) for r in hinted.collect())
        assert a == b, (cursor, a, b)


def test_torn_repair_ignores_compact_named_files(spark, tmp_path):
    """`_remove_commit_files(seq)` must remove only single-commit
    append files (`c<seq>-`), never a compact output whose name-encoded
    MAX happens to equal that seq (`m<seq>-`) — the two prefixes exist
    precisely so torn-commit repair cannot destroy folded data."""
    store, seqs = _seed(spark, str(tmp_path / "repair"))
    tier = store.tier_path("t")
    before = {
        fn
        for p in os.listdir(tier)
        if p.startswith("p_date=")
        for fn in os.listdir(os.path.join(tier, p))
        if fn.startswith("m")
    }
    # seqs[1] / seqs[2] are exactly the name-encoded maxes of the
    # compact outputs — repair of those seqs must leave them alone
    store._remove_commit_files("t", seqs[1])
    store._remove_commit_files("t", seqs[2])
    after = {
        fn
        for p in os.listdir(tier)
        if p.startswith("p_date=")
        for fn in os.listdir(os.path.join(tier, p))
        if fn.startswith("m")
    }
    assert before == after and len(after) == 2
