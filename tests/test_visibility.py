"""Commit visibility, end to end: every reader of a tier serves the row
versions that ONE rule admits at its horizon.

One tiny tier holds at once a published WAP commit (served at its
publish seq, so it outranks a commit appended while it was staged), an
abandoned stage, an unaudited staged commit, a rollback range and two
equality deletes, one of them voided by the rollback. Each reader —
current and as-of ``read``, the physical ``read(deduped=False)``,
``read_summed``, ``changes`` and ``snapshots().voided`` — is checked
against :class:`Model`, a pure-Python statement of the rule over the
appended rows.
"""

from __future__ import annotations

import math
from datetime import datetime

import pytest

from s1tiling_spark.plans.store import TierStore

SCHEMA = "bucket_start timestamp, source string, v long"
KEYS = ("bucket_start", "source")


class Model:
    """The visibility rule over plain tuples: rows are (written seq,
    key, v); ``remap``/``hidden`` are the WAP states, ``rollbacks`` the
    voided (lo, hi] ranges, ``deletes`` (seq, keys) equality deletes."""

    def __init__(self, rows, remap, hidden, rollbacks, deletes):
        self.rows, self.remap, self.hidden = rows, remap, hidden
        self.rollbacks, self.deletes = rollbacks, deletes

    def versions(self, h=None):  # staging + as-of: read(deduped=False)
        H = math.inf if h is None else h
        eff = [(self.remap.get(s, s), k, v) for s, k, v in self.rows if s not in self.hidden]
        return sorted((s, k, v) for s, k, v in eff if s <= H)

    def voided(self, s, h=None):
        return any(lo < s <= hi and (h is None or h > hi) for lo, hi in self.rollbacks)

    def masked(self, s, k, h=None):
        H = math.inf if h is None else h
        return any(
            s <= d <= H and k in keys and not self.voided(d, h) for d, keys in self.deletes
        )

    def live(self, h=None):
        return [(s, k, v) for s, k, v in self.versions(h) if not self.voided(s, h)]

    def state(self, h=None):  # read()
        best = {k: (s, v) for s, k, v in self.live(h)}  # seq-sorted: newest wins
        return {k: sv for k, sv in best.items() if not self.masked(sv[0], k, h)}

    def summed(self, h=None):
        acc: dict = {}
        for s, k, v in self.live(h):
            if not self.masked(s, k, h):
                acc[k] = acc.get(k, 0) + v
        return acc

    def changes(self, a, b):
        pre, post = self.state(a), self.state(b)
        out = {}
        for k in pre.keys() | post.keys():
            p, q = pre.get(k), post.get(k)
            if p is None or q is None or p[0] != q[0]:
                op = "insert" if p is None else "delete" if q is None else "update"
                out[k] = (op, p if q is None else q)
        return out


def _df(spark, *rows):
    return spark.createDataFrame(
        [(datetime(2024, 1, day, 10), src, v) for (day, src), v in rows], SCHEMA
    )


def _key(r):
    return (r["bucket_start"].day, r["source"])


def _build(spark, base):
    """The tier, and the model built from what each call returned."""
    st = TierStore(spark, base)
    rows: list = []
    deletes: list = []

    def append(*kv):
        s = st.next_commit_seq()
        st.append("t", _df(spark, *kv), s, f"r{s}")
        rows.extend((s, k, v) for k, v in kv)
        return s

    def delete(k):
        s = st.next_commit_seq()
        st.delete("t", _df(spark, (k, 0)).select(*KEYS), s, f"d{s}")
        deletes.append((s, {k}))

    def stage(audit, *kv):
        s = st.stage("t", _df(spark, *kv), f"r-{audit}", audit)
        rows.extend((s, k, v) for k, v in kv)
        return s

    k1, k2, k3, k4, k5, k6 = (1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "b")
    append((k1, 10), (k2, 20), (k3, 30))
    append((k1, 11), (k4, 40))
    pub = stage("pub", (k2, 21), (k5, 50))
    abandoned = stage("ab", (k3, 31))
    unaudited = stage("unaud", (k1, 99))
    s6 = append((k2, 23), (k3, 32), (k4, 41))
    append((k1, 12), (k6, 60))
    delete(k3)  # inside the rollback range: voided with it
    st.abandon("t", "ab")
    rb = st.rollback("t", s6)["excluded"]
    pub_seq = st.publish("t", "pub")
    delete(k4)
    append((k3, 33))
    model = Model(rows, {pub: pub_seq}, {abandoned, unaudited}, [rb], deletes)
    return st, model


@pytest.fixture(scope="module")
def tier(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("vis") / "s"))


def _state(df):
    return {_key(r): (r["commit_seq"], r["v"]) for r in df.collect()}


def _versions(df):
    return sorted((r["commit_seq"], _key(r), r["v"]) for r in df.collect())


def test_readers_agree_with_the_model(tier):
    st, m = tier
    last = st.last_commit_seq()
    for h in [None, *range(1, last + 1)]:
        assert _state(st.read("t", as_of_seq=h)) == m.state(h), h
        assert _versions(st.read("t", deduped=False, as_of_seq=h)) == m.versions(h), h
        summed = st.read_summed("t", keys=KEYS, sum_cols=("v",), as_of_seq=h)
        assert {_key(r): r["v"] for r in summed.collect()} == m.summed(h), h
    snaps = {r["commit_seq"]: r["voided"] for r in st.snapshots("t").collect()}
    assert snaps == {s: m.voided(s) for s, _, _ in m.versions()}
    # the published commit outranks the commit appended while it was staged
    assert m.state()[(1, "b")][1] == 21


def test_changes_agree_with_the_model(tier):
    st, m = tier
    last = st.last_commit_seq()
    for a in range(last + 1):
        for b in range(a + 1, last + 1):
            got = {
                _key(r): (r["op"], (r["commit_seq"], r["v"]))
                for r in st.changes("t", from_seq=a, to_seq=b, keys=KEYS).collect()
            }
            assert got == m.changes(a, b), (a, b)


def test_each_read_loads_visibility_metadata_once(tier, monkeypatch):
    st, _ = tier
    calls = {"_read_compact_meta": 0, "_rollback_ranges": 0}
    for name in calls:
        orig = getattr(st, name)

        def counted(*a, _orig=orig, _name=name, **kw):
            calls[_name] += 1
            return _orig(*a, **kw)

        monkeypatch.setattr(st, name, counted)
    reads = {
        "read": lambda: st.read("t"),
        "read(as_of_seq)": lambda: st.read("t", as_of_seq=3),
        "read_summed": lambda: st.read_summed("t", keys=KEYS, sum_cols=("v",)),
        "changes": lambda: st.changes("t", from_seq=1, keys=KEYS),
    }
    for what, call in reads.items():
        for name in calls:
            calls[name] = 0
        call()
        assert calls == {"_read_compact_meta": 1, "_rollback_ranges": 1}, what


def test_horizon_guard_after_compaction(spark, tmp_path):
    st, _ = _build(spark, str(tmp_path / "s"))
    st.compact("t", keys=KEYS)
    assert st.min_as_of("t") > 1
    msg = "predates the compaction horizon"
    with pytest.raises(ValueError, match=msg):
        st.read("t", as_of_seq=1)
    with pytest.raises(ValueError, match=msg):
        st.changes("t", from_seq=1, keys=KEYS)
    with pytest.raises(ValueError, match=msg):
        st.rollback("t", 1)
