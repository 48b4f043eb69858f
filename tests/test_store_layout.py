"""The tier file layout has one owner: ``TierStore._data_files``.

One tier dir holds every kind of entry the layout knows — ``c<seq>-``
append files, an ``m<maxseq>-`` compact output, an unprefixed legacy
parquet, an empty ``p_date=`` dir, the ``__HIVE_DEFAULT_PARTITION__``
partition, a non-parquet stray and a ``_stale_`` compaction aside — and
every view of the live files (``files``, ``partition_dates``, the
commit and incremental planners, the Spark scan) must agree with the
walker's.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from urllib.parse import unquote, urlparse

import pytest

from s1tiling_spark.plans.store import TierStore

HIVE = "__HIVE_DEFAULT_PARTITION__"


def _rows(spark, *rows):
    return spark.createDataFrame(
        list(rows), "bucket_start timestamp, source string, v long"
    )


def _day(d: int) -> dt.datetime:
    return dt.datetime(2024, 1, d, 10)


@pytest.fixture()
def layout(spark, tmp_path):
    store = TierStore(spark, str(tmp_path / "layout"))
    tier = store.tier_path("t")
    s1 = store.next_commit_seq()
    store.append("t", _rows(spark, (_day(1), "a", 1), (_day(2), "a", 2)), s1, "r1")
    store.compact("t")  # days 1-2 → one m<s1>- file each
    s2 = store.next_commit_seq()
    store.append("t", _rows(spark, (_day(2), "b", 3), (_day(3), "a", 4)), s2, "r2")
    s3 = store.next_commit_seq()
    store.append("t", _rows(spark, (None, "a", 5)), s3, "r3")  # NULL date
    s4 = store.next_commit_seq()
    store.append("t", _rows(spark, (_day(4), "a", 6)), s4, "r4")
    # strip day 4's commit prefix: an unprefixed legacy data file
    d4 = os.path.join(tier, "p_date=2024-01-04")
    (cfile,) = os.listdir(d4)
    os.rename(os.path.join(d4, cfile), os.path.join(d4, cfile.split("-", 1)[1]))
    os.makedirs(os.path.join(tier, "p_date=2024-01-05"))  # empty partition
    with open(os.path.join(tier, "p_date=2024-01-02", ".part-0.crc"), "wb") as f:
        f.write(b"stray")
    aside = os.path.join(tier, "_stale_p_date~2024-01-03.deadbeef")
    shutil.copytree(os.path.join(tier, "p_date=2024-01-03"), aside)
    return store, tier, (s1, s2, s3, s4)


def _paths(df) -> set[str]:
    return {os.path.normpath(unquote(urlparse(u).path)) for u in df.inputFiles()}


def test_walker_yields_exactly_the_live_parquet_files(layout):
    store, tier, (s1, s2, s3, _) = layout
    walked = list(store._data_files(tier))
    assert [(f.p_date, f.kind, f.seq) for f in walked] == [
        ("2024-01-01", "m", s1),
        ("2024-01-02", "c", s2),
        ("2024-01-02", "m", s1),
        ("2024-01-03", "c", s2),
        ("2024-01-04", None, None),
        (HIVE, "c", s3),
    ]
    on_disk = sorted(
        (part, fn)
        for part in os.listdir(tier)
        if part.startswith("p_date=")
        for fn in os.listdir(os.path.join(tier, part))
        if fn.endswith(".parquet")
    )
    assert [(f.part, f.name) for f in walked] == on_disk
    for f in walked:
        assert f.rel == f"{f.part}/{f.name}"
        assert f.path == os.path.join(tier, f.part, f.name)
    assert list(store._data_files(os.path.join(tier, "missing"))) == []


def test_store_views_agree_with_the_walker(layout):
    store, tier, (s1, s2, s3, _) = layout
    walked = list(store._data_files(tier))
    assert [(f["p_date"], f["file"]) for f in store.files("t")] == [
        (f.p_date, f.name) for f in walked
    ]
    dates = store.partition_dates("t")
    assert dates == ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04", HIVE]
    assert dates == [p["p_date"] for p in store.partitions("t")]
    assert store._commit_files("t", s2) == [
        f.path for f in walked if f.kind == "c" and f.seq == s2
    ]
    # the m<s1>- compact outputs are not commit s1's append files
    assert store._commit_files("t", s1) == []
    planned = store._plan_files_above_seq("t", s1, store._visibility("t"))
    assert planned == [f.path for f in walked if f.seq is None or f.seq > s1]
    assert _paths(store.read("t", deduped=False)) == {f.path for f in walked}
    hinted = store._scan("t", store._visibility("t"), min_seq_hint=s1)
    assert _paths(hinted) == set(planned)


def test_partition_vanishing_mid_walk_does_not_fail_read(layout, monkeypatch):
    store, tier, _ = layout
    rows = store.read("t", deduped=False).count()
    gone = os.path.join(tier, "p_date=2024-01-01")
    real = os.listdir

    def listdir(path="."):
        if os.fspath(path) == gone:
            raise FileNotFoundError(path)
        return real(path)

    monkeypatch.setattr(os, "listdir", listdir)
    assert "2024-01-01" not in [f.p_date for f in store._data_files(tier)]
    df = store.read("t", deduped=False)
    assert df is not None and df.count() == rows


def test_compact_refuses_wrong_sketch_keys(spark, tmp_path):
    """Compacting a long-form sketch tier without its bin key must be
    REFUSED (it would physically delete all but one counter/group)."""
    import pytest
    from pyspark.sql import functions as F

    from s1tiling_spark.plans.store import TierStore

    store = TierStore(spark, str(tmp_path / "guard"))
    hist = spark.createDataFrame(
        [("2024-01-01 00:00:00", "s", 0, 5), ("2024-01-01 00:00:00", "s", 1, 7)],
        "bucket_start string, source string, bin int, tok_cnt long",
    ).withColumn("bucket_start", F.col("bucket_start").cast("timestamp"))
    store.append("hist_1h", hist, store.next_commit_seq(), "r0")
    with pytest.raises(ValueError, match="sketch key"):
        store.compact("hist_1h")  # default keys lack 'bin'
    stats = store.compact("hist_1h", keys=("bucket_start", "source", "bin"))
    assert stats["rows"] == 2
