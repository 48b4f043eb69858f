"""Independent answers computed by DuckDB over the generated parquet,
and the comparisons the correctness gate makes against them.

Nothing here calls the engine: tiers, histograms and gap-filled series
are recomputed from the raw input with SQL; only the bucket expressions
(:func:`bucket_sql`) and the histogram binning constants are shared.
"""

from __future__ import annotations

from datetime import datetime

import duckdb
import numpy as np
import pandas as pd

from s1tiling_spark.operators.rollup import N_HIST_BINS, VOCAB, bucket_sql

STAT_COLS = ("cnt", "sum_n_tok", "min_n_tok", "max_n_tok")
HIST_KEYS = ("bucket_start", "source", "bin")
TIER_KEYS = ("bucket_start", "source")


def epoch_s(col) -> np.ndarray:
    """Timestamps (naive UTC, any resolution) → int64 epoch seconds."""
    return pd.to_datetime(pd.Series(col)).to_numpy().astype("datetime64[s]").astype(np.int64)


class Oracle:
    def __init__(self, raw_glob: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        self.raw = f"read_parquet('{raw_glob}')"

    def df(self, sql: str, params=None) -> pd.DataFrame:
        return self.con.execute(sql, params or []).df()

    def raw_rows(self) -> int:
        return self.con.execute(f"SELECT count(*) FROM {self.raw}").fetchone()[0]

    def tier_sql(self, tier: str) -> str:
        b = bucket_sql("event_ts", tier)
        return (
            f"SELECT {b} AS bucket_start, source, count(*) AS cnt, "
            "sum(n_tok) AS sum_n_tok, min(n_tok) AS min_n_tok, "
            f"max(n_tok) AS max_n_tok FROM {self.raw} GROUP BY 1, 2"
        )

    def tier(self, tier: str) -> pd.DataFrame:
        return self.df(self.tier_sql(tier))

    def hist_sql(self, tier: str) -> str:
        width = VOCAB // N_HIST_BINS
        b = bucket_sql("event_ts", tier)
        return (
            f"SELECT {b} AS bucket_start, source, "
            f"CAST(least(tok // {width}, {N_HIST_BINS - 1}) AS INT) AS bin, "
            "count(*) AS tok_cnt FROM (SELECT event_ts, source, "
            f"unnest(tokens) AS tok FROM {self.raw}) GROUP BY 1, 2, 3"
        )

    def hist(self, tier: str) -> pd.DataFrame:
        return self.df(self.hist_sql(tier))

    def range_totals(self, start: datetime, end: datetime) -> pd.DataFrame:
        return self.df(
            f"SELECT source, count(*) AS cnt, sum(n_tok) AS sum_n_tok "
            f"FROM {self.raw} WHERE event_ts >= ? AND event_ts < ? "
            "GROUP BY source",
            [start, end],
        )

    def gapfill(self, source: str) -> pd.DataFrame:
        """Hourly grid of one source from its first to last bucket; cnt
        carried forward, sum_n_tok linearly interpolated in time."""
        b = bucket_sql("event_ts", "1h")
        return self.df(
            f"""
            WITH t AS (
              SELECT {b} AS bucket_start, count(*) AS cnt, sum(n_tok) AS v
              FROM {self.raw} WHERE source = ? GROUP BY 1),
            g AS (
              SELECT unnest(generate_series(min(bucket_start), max(bucket_start),
                                            INTERVAL 1 HOUR)) AS bucket_start FROM t),
            j AS (
              SELECT g.bucket_start, t.cnt, CAST(t.v AS DOUBLE) AS v,
                     CASE WHEN t.v IS NOT NULL THEN epoch(g.bucket_start) END AS at
              FROM g LEFT JOIN t USING (bucket_start)),
            w AS (
              SELECT bucket_start, cnt IS NULL AS gap_filled, v,
                epoch(bucket_start) AS ts,
                last_value(cnt IGNORE NULLS) OVER p AS cnt_locf,
                last_value(v IGNORE NULLS) OVER p AS pv,
                last_value(at IGNORE NULLS) OVER p AS pt,
                first_value(v IGNORE NULLS) OVER n AS nv,
                first_value(at IGNORE NULLS) OVER n AS nt
              FROM j
              WINDOW p AS (ORDER BY bucket_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     n AS (ORDER BY bucket_start ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
            SELECT bucket_start, gap_filled, cnt_locf AS cnt,
              CASE WHEN v IS NOT NULL THEN v
                   WHEN pv IS NOT NULL AND nv IS NOT NULL
                     THEN pv + (nv - pv) * ((ts - pt) / (nt - pt))
                   WHEN pv IS NOT NULL THEN pv ELSE nv END AS sum_n_tok
            FROM w ORDER BY bucket_start
            """,
            [source],
        )

    def watermark_rows_in(self, rel_sql: str, ts_col: str, wm: pd.DataFrame | None) -> int:
        """Rows of ``rel_sql`` at/after their source's watermark (all rows
        of sources without one) — what a tier run reads as fresh."""
        if wm is None or wm.empty:
            return self.con.execute(f"SELECT count(*) FROM ({rel_sql})").fetchone()[0]
        self.con.register("_wm", wm)
        try:
            return self.con.execute(
                f"SELECT count(*) FROM ({rel_sql}) r LEFT JOIN _wm USING (source) "
                "WHERE _wm.watermark IS NULL OR "
                f"CAST(r.{ts_col} AS TIMESTAMP) >= CAST(_wm.watermark AS TIMESTAMP)"
            ).fetchone()[0]
        finally:
            self.con.unregister("_wm")


def _keyed(df: pd.DataFrame, keys, cols) -> pd.DataFrame:
    out = pd.DataFrame({k: df[k].to_numpy() for k in keys})
    for k in keys:
        if k == "bucket_start":
            out[k] = epoch_s(df[k])
    for c in cols:
        out[c] = df[c].to_numpy()
    return out.sort_values(list(keys), kind="mergesort").reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame, keys, cols,
                 rtol: float = 0.0) -> str | None:
    """None when ``got`` and ``want`` hold the same keyed rows with equal
    values (exact unless ``rtol``); else a one-line reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    g, w = _keyed(got, keys, cols), _keyed(want, keys, cols)
    for k in keys:
        if not np.array_equal(g[k].to_numpy(), w[k].to_numpy()):
            return f"key column {k} differs"
    for c in cols:
        a = g[c].to_numpy(dtype=float)
        b = w[c].to_numpy(dtype=float)
        ok = np.allclose(a, b, rtol=rtol, atol=0.0) if rtol else np.array_equal(a, b)
        if not ok:
            return f"column {c} differs"
    return None
