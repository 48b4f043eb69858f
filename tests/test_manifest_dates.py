"""Driver-side touched-date derivation for ``TierStore.changes``
(r6 session 2): ``_touched_dates_from_manifest`` must return a SUPERSET
of the dates the Spark-side derivation would collect whenever it claims
to handle a range, and must DECLINE (handled=False → generic path)
whenever name-level reasoning cannot bound the range — rollback
crossings, live WAP/staged entries, delete key sets without
``bucket_start``.

The changelog's correctness never depends on this list (the semi-join
on the touched keys does); these tests pin the superset property and
the fallback triggers so a future edit cannot silently turn the
optimization into a correctness mechanism.
"""

from __future__ import annotations

from datetime import date, datetime

from pyspark.sql import functions as F

from s1tiling_spark.plans.store import TierStore
from tests.helpers import assert_frames_match, diff_of_states

SCHEMA = "bucket_start timestamp, source string, cnt long"


def _rows(spark, rows):
    return spark.createDataFrame(
        [(datetime.fromisoformat(ts), s, n) for ts, s, n in rows], SCHEMA
    )


def _store(spark, tmp_path, sub):
    return TierStore(spark, str(tmp_path / sub))


def test_manifest_dates_cover_appends_and_deletes(spark, tmp_path):
    st = _store(spark, tmp_path, "mf1")
    st.append("1h", _rows(spark, [
        ("2024-02-01T00:00:00", "a", 1),
        ("2024-02-02T00:00:00", "b", 2),
    ]), st.next_commit_seq(), "r1")
    st.append("1h", _rows(spark, [
        ("2024-02-03T00:00:00", "a", 3),
    ]), st.next_commit_seq(), "r2")
    st.delete(
        "1h",
        _rows(spark, [("2024-02-04T00:00:00", "zz", 0)]).select(
            "bucket_start", "source"
        ),
        st.next_commit_seq(),
        "rd",
        keys=("bucket_start", "source"),
    )
    # range (1, 3]: commit 2's append (02-03) + the delete (02-04);
    # commit 1's dates must NOT appear (c1 files are below the range)
    handled, dates = st._touched_dates_from_manifest("1h", 1, 3, st._visibility("1h"))
    assert handled
    assert set(dates) == {date(2024, 2, 3), date(2024, 2, 4)}
    # range (0, 3]: everything
    handled, dates = st._touched_dates_from_manifest("1h", 0, 3, st._visibility("1h"))
    assert handled
    assert set(dates) == {
        date(2024, 2, 1), date(2024, 2, 2), date(2024, 2, 3),
        date(2024, 2, 4),
    }
    # and the (pruned) changelog built on top is exact for the range
    ch = st.changes("1h", from_seq=1)
    got = {(r["op"], r["source"]) for r in ch.collect()}
    assert ("insert", "a") in got  # the 02-03 append
    # the 02-04 delete named a key with no live row: no diff row for it
    assert all(src != "zz" for _, src in got)
    assert_frames_match(
        ch.toPandas(), diff_of_states(st, "1h", ch, 1, split_updates=False)
    )


def test_manifest_dates_decline_on_crossing_and_staged(spark, tmp_path):
    st = _store(spark, tmp_path, "mf2")
    st.append("1h", _rows(spark, [
        ("2024-02-01T00:00:00", "a", 1),
    ]), st.next_commit_seq(), "r1")
    # a rollback range crossing the diff range declines outright
    crossing = st._visibility("1h")._replace(rollbacks=((0, 0),))
    handled, dates = st._touched_dates_from_manifest("1h", 0, 1, crossing)
    assert not handled and dates is None
    # a live staged (WAP) commit declines — its effective seq is not
    # its file-name seq until publish+compact bake it
    st.stage("1h", _rows(spark, [
        ("2024-02-02T00:00:00", "b", 2),
    ]), "cand", "audit-1")
    handled, dates = st._touched_dates_from_manifest("1h", 0, 99, st._visibility("1h"))
    assert not handled and dates is None


def test_manifest_dates_decline_without_bucket_start_key(spark, tmp_path):
    st = _store(spark, tmp_path, "mf3")
    st.append("1h", _rows(spark, [
        ("2024-02-01T00:00:00", "a", 1),
        ("2024-02-02T00:00:00", "b", 2),
    ]), st.next_commit_seq(), "r1")
    # group delete keyed by source only: the touched dates are
    # unknowable from the delete file → must decline
    st.delete(
        "1h",
        spark.createDataFrame([("a",)], "source string"),
        st.next_commit_seq(),
        "rd",
        keys=("source",),
    )
    handled, dates = st._touched_dates_from_manifest("1h", 0, 2, st._visibility("1h"))
    assert not handled and dates is None
    # the generic path still produces the exact changelog
    ch = st.changes("1h", from_seq=1)
    got = {(r["op"], r["source"]) for r in ch.collect()}
    assert got == {("delete", "a")}
    assert_frames_match(
        ch.toPandas(), diff_of_states(st, "1h", ch, 1, split_updates=False)
    )
