"""Golden-comparison helpers — the analog of the reference's
``otb_compare`` (value compare at 1e-12) + ``comparable_metadata``
(`/root/reference/tests/helpers.py:40-82`), adapted to DataFrames:
order-insensitive row compare with exact integer equality and a float
tolerance."""

from __future__ import annotations

import math

import pandas as pd


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, rows by all values; reset index."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True, kind="mergesort")
    return pdf


def assert_frames_match(actual: pd.DataFrame, expected: pd.DataFrame, rtol: float = 1e-9):
    a, e = normalize(actual), normalize(expected)
    assert list(a.columns) == list(e.columns), f"columns differ: {list(a.columns)} vs {list(e.columns)}"
    assert len(a) == len(e), f"row counts differ: {len(a)} vs {len(e)}"
    for col in a.columns:
        av, ev = a[col].tolist(), e[col].tolist()
        for i, (x, y) in enumerate(zip(av, ev)):
            if isinstance(x, float) or isinstance(y, float):
                if x is None and y is None:
                    continue
                if (x is None) != (y is None) or (math.isnan(x) != math.isnan(y)):
                    raise AssertionError(f"{col}[{i}]: {x!r} vs {y!r}")
                if not math.isnan(x) and not math.isclose(x, y, rel_tol=rtol, abs_tol=1e-12):
                    raise AssertionError(f"{col}[{i}]: {x!r} vs {y!r}")
            else:
                assert x == y, f"{col}[{i}]: {x!r} vs {y!r}"


def assert_spark_matches_duck(spark_df, duck_con, sql: str, rtol: float = 1e-9):
    assert_frames_match(spark_df.toPandas(), duck_con.sql(sql).df(), rtol=rtol)


def diff_of_states(store, tier, ch, from_seq, split_updates=True):
    """Independent reference for ``store.changes(tier, from_seq)`` under
    the default keys: the per-key diff of two unpruned as-of reads,
    ``from_seq`` and the head, as a pandas frame in the changelog
    ``ch``'s column layout."""
    keys = ("bucket_start", "source")

    def by_key(seq):
        df = store.read(tier, as_of_seq=seq)
        return {tuple(r[k] for k in keys): r.asDict() for r in df.collect()}

    pre, post = by_key(from_seq), by_key(store.last_commit_seq())
    rows = []
    for k in pre.keys() | post.keys():
        a, b = pre.get(k), post.get(k)
        if a is None:
            rows.append({**b, "op": "insert"})
        elif b is None:
            rows.append({**a, "op": "delete"})
        elif a["commit_seq"] != b["commit_seq"]:
            if split_updates:
                rows += [{**a, "op": "update_before"}, {**b, "op": "update_after"}]
            else:
                rows.append({**b, "op": "update"})
    return store.spark.createDataFrame(
        [tuple(r[c] for c in ch.columns) for r in rows], ch.schema
    ).toPandas()
