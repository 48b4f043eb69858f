"""Store-to-store streaming (tier_store source → TierStore sink):
the continuous-aggregate cascade and the replica, each proven by exact
convergence against the batch computation of the same final state —
including across a stop, more upstream commits, and a checkpointed
resume."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.streaming.store_tail import (
    run_additive_cascade,
    run_store_mirror,
)
from tests.helpers import assert_frames_match

PARTIAL_SCHEMA = "bucket_start timestamp, source string, cnt long, sum_n_tok long"
KEYS = ("bucket_start", "source")
T0 = datetime.fromisoformat("2024-03-01 00:00:00")


def _partials(spark, rows):
    """rows: (hour_offset, source, cnt, sum_n_tok)."""
    return spark.createDataFrame(
        [(T0 + timedelta(hours=h), s, c, t) for h, s, c, t in rows],
        PARTIAL_SCHEMA,
    )


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_additive_cascade_converges_and_resumes(spark, tmp_path):
    src = TierStore(spark, str(tmp_path / "src"))
    dst = TierStore(spark, str(tmp_path / "dst"))
    ckpt = str(tmp_path / "ck")

    # three additive 1h-partial commits, same keys touched repeatedly
    batches = [
        [(0, "a", 1, 10), (1, "a", 2, 20), (25, "b", 3, 30)],
        [(0, "a", 4, 40), (25, "b", 5, 50)],
        [(2, "a", 6, 60)],
    ]
    for i, rows in enumerate(batches[:2]):
        src.append("1h", _partials(spark, rows), src.next_commit_seq(), f"r{i}")

    q = run_additive_cascade(
        spark, str(tmp_path / "src"), "1h", dst, "1d", ckpt,
        trigger={"processingTime": "50 milliseconds"},
    )
    _drain(q)

    def expected(n_batches):
        all_rows = [r for b in batches[:n_batches] for r in b]
        return (
            _partials(spark, all_rows)
            .groupBy(F.date_trunc("day", "bucket_start").alias("bucket_start"), "source")
            .agg(F.sum("cnt").alias("cnt"), F.sum("sum_n_tok").alias("sum_n_tok"))
            .toPandas()
        )

    got = dst.read_summed("1d", keys=KEYS, sum_cols=("cnt", "sum_n_tok"))
    assert_frames_match(
        got.select("bucket_start", "source", "cnt", "sum_n_tok").toPandas(),
        expected(2),
    )

    # late data upstream + resume from the same checkpoint: only the
    # new commit is folded in (no double-count of batches 0-1)
    src.append("1h", _partials(spark, batches[2]), src.next_commit_seq(), "late")
    q2 = run_additive_cascade(
        spark, str(tmp_path / "src"), "1h", dst, "1d", ckpt,
        trigger={"processingTime": "50 milliseconds"},
    )
    _drain(q2)
    got2 = dst.read_summed("1d", keys=KEYS, sum_cols=("cnt", "sum_n_tok"))
    assert_frames_match(
        got2.select("bucket_start", "source", "cnt", "sum_n_tok").toPandas(),
        expected(3),
    )


def test_store_mirror_matches_source_read(spark, tmp_path):
    src = TierStore(spark, str(tmp_path / "src"))
    dst = TierStore(spark, str(tmp_path / "dst"))
    ckpt = str(tmp_path / "ck")

    # upsert lifecycle: v1, superseding v2 (same key), a fresh key
    src.append("t", _partials(spark, [(0, "a", 1, 10)]), src.next_commit_seq(), "v1")
    src.append("t", _partials(spark, [(0, "a", 9, 90)]), src.next_commit_seq(), "v2")
    src.append("t", _partials(spark, [(1, "b", 2, 20)]), src.next_commit_seq(), "v3")

    q = run_store_mirror(
        spark, str(tmp_path / "src"), "t", dst, "t", ckpt,
        trigger={"processingTime": "50 milliseconds"},
    )
    _drain(q)

    cols = ["bucket_start", "source", "cnt", "sum_n_tok"]
    assert_frames_match(
        dst.read("t", keys=KEYS).select(*cols).toPandas(),
        src.read("t", keys=KEYS).select(*cols).toPandas(),
    )
    # supersede resolved: the mirrored value for key (h0, a) is v2's
    row = dst.read("t", keys=KEYS).filter(F.col("source") == "a").collect()
    assert [(r["cnt"], r["sum_n_tok"]) for r in row] == [(9, 90)]


def test_cli_tail_cascade_drain(spark, tmp_path):
    """`python -m s1tiling_spark tail cascade --drain` end-to-end as a
    subprocess (the CLI builds its own session; running it in-process
    would stop the shared test session)."""
    import json
    import os
    import subprocess
    import sys

    src = TierStore(spark, str(tmp_path / "src"))
    src.append(
        "1h",
        _partials(spark, [(0, "a", 1, 10), (25, "b", 3, 30)]),
        src.next_commit_seq(),
        "r0",
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        SPARK_GRAFT_MASTER="local[2]",
    )
    out = subprocess.run(
        [
            sys.executable, "-m", "s1tiling_spark", "tail", "cascade",
            "--src", str(tmp_path / "src"), "--src-tier", "1h",
            "--dst", str(tmp_path / "dst"), "--dst-tier", "1d",
            "--checkpoint", str(tmp_path / "ck"), "--drain",
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    assert json.loads(line)["drained"] is True

    dst = TierStore(spark, str(tmp_path / "dst"))
    got = dst.read_summed("1d", keys=KEYS, sum_cols=("cnt", "sum_n_tok"))
    vals = {(r["source"], r["cnt"], r["sum_n_tok"]) for r in got.collect()}
    assert vals == {("a", 1, 10), ("b", 3, 30)}


def test_matview_maintenance_stream_tracks_base_lifecycle(spark, tmp_path):
    """run_matview_maintenance keeps an AdditiveMatView live against a
    base-tier lifecycle: appends, a superseding update, and a
    DELETE-ONLY commit (whose micro-batch carries zero rows — the
    refresh-on-empty-batch path) — across a checkpointed restart."""
    from s1tiling_spark.plans.matview import AdditiveMatView
    from s1tiling_spark.streaming.store_tail import run_matview_maintenance

    store = TierStore(spark, str(tmp_path / "s"))
    mv = AdditiveMatView(
        store,
        name="daily",
        base_tier="1h",
        base_keys=KEYS,
        group_cols={
            "bucket_start": F.date_trunc("day", F.col("bucket_start")),
            "source": F.col("source"),
        },
        sum_cols=("cnt", "sum_n_tok"),
    )

    def expected():
        base = store.read("1h", keys=KEYS)
        return (
            base.groupBy(
                F.date_trunc("day", "bucket_start").alias("bucket_start"),
                "source",
            )
            .agg(F.sum("cnt").alias("cnt"), F.sum("sum_n_tok").alias("sum_n_tok"))
            .toPandas()
        )

    def view_pdf():
        v = mv.read()
        return v.select("bucket_start", "source", "cnt", "sum_n_tok").toPandas()

    store.append(
        "1h",
        _partials(spark, [(0, "a", 1, 10), (1, "a", 2, 20), (25, "b", 3, 30)]),
        store.next_commit_seq(),
        "b1",
    )
    q = run_matview_maintenance(
        spark, mv, str(tmp_path / "ck"),
        trigger={"processingTime": "50 milliseconds"},
    )
    _drain(q)
    assert_frames_match(view_pdf(), expected())

    # superseding update + a DELETE-ONLY commit, then a restart
    store.append(
        "1h", _partials(spark, [(0, "a", 9, 90)]), store.next_commit_seq(), "b2"
    )
    store.delete(
        "1h",
        _partials(spark, [(25, "b", 0, 0)]).select("bucket_start", "source"),
        store.next_commit_seq(),
        "del",
        keys=KEYS,
    )
    q2 = run_matview_maintenance(
        spark, mv, str(tmp_path / "ck"),
        trigger={"processingTime": "50 milliseconds"},
    )
    _drain(q2)
    assert_frames_match(view_pdf(), expected())
