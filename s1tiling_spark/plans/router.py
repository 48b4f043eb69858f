"""Tier query router: answer a time-range aggregate from the
COARSEST tiers that cover it — 30d blocks for the aligned interior,
1d for the day-aligned remainder, 1h for the ragged hour edges — and
merge the partials. This is the continuous-aggregate query rewrite
(TimescaleDB's real-time aggregate / Druid's query-time rollup): the
tier tables aren't just built, they SERVE.

The reference analog is serving a mosaic from already-materialized
tile products instead of re-running the cascade
(`/root/reference/s1tiling/libs/otbpipeline.py:749-756` product-exists
pruning — work is only done where no materialization covers the ask).

Correctness rests on the same merge-able-partial algebra as the
cascade: every stat is a sum/min/max of integers, so
(30d ⊎ 1d ⊎ 1h) partials == a direct scan of raw rows, exactly —
gated against a raw-scan DuckDB oracle.

Scale shape: each tier contributes a range filter on its own (small)
table — ``bucket_start`` against half-open timestamp literals, which
Parquet row-group stats and in-memory cache batch stats can both skip
on; a month-long query touches ~1 30d row + ~29 1d rows + ~47 1h rows
per source instead of ~10^9 raw rows. Served from a store, the three
tier reads come from its persisted snapshots (``TierStore.snapshot``),
so repeated queries over an unchanged store rescan no tier files.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import TIER_SPAN_S, bucket_floor


def _epoch(ts: datetime) -> int:
    return int(ts.replace(tzinfo=timezone.utc).timestamp())


def _instant(e: int):
    """Timestamp literal for epoch second ``e`` (UTC-aware, so the
    literal names the same instant whatever the driver's timezone)."""
    return F.lit(datetime.fromtimestamp(e, tz=timezone.utc))


def _bucket_ceil(tier: str, ts: datetime) -> datetime:
    """Start of the first ``tier`` bucket at or after ``ts``."""
    lo = bucket_floor(tier, ts)
    return lo if lo == ts else lo + timedelta(seconds=TIER_SPAN_S[tier])


@dataclass(frozen=True)
class RoutePlan:
    """Half-open [lo, hi) epoch spans served by each tier."""

    spans_1h: tuple[tuple[int, int], ...]
    spans_1d: tuple[tuple[int, int], ...]
    spans_30d: tuple[tuple[int, int], ...]


def plan_range(start: datetime, end: datetime) -> RoutePlan:
    """Decompose [start, end) (hour-aligned) into tier spans.

    Driver-side bucket arithmetic (``operators/rollup.py``
    ``bucket_floor``) — no data access. The wall-clock time of
    ``start``/``end`` is read as UTC.
    """
    lo, hi = start.replace(tzinfo=None), end.replace(tzinfo=None)
    if bucket_floor("1h", lo) != lo or bucket_floor("1h", hi) != hi:
        raise ValueError("range must be hour-aligned")
    if lo >= hi:
        raise ValueError("empty range")
    day_lo, day_hi = _bucket_ceil("1d", lo), bucket_floor("1d", hi)
    h_spans: list[tuple[datetime, datetime]] = []
    d_spans: list[tuple[datetime, datetime]] = []
    b_spans: list[tuple[datetime, datetime]] = []
    if day_lo >= day_hi:  # range inside one day: all hours
        h_spans.append((lo, hi))
    else:
        if lo < day_lo:
            h_spans.append((lo, day_lo))
        if day_hi < hi:
            h_spans.append((day_hi, hi))
        blk_lo, blk_hi = _bucket_ceil("30d", day_lo), bucket_floor("30d", day_hi)
        if blk_lo >= blk_hi:  # no full 30d block: all days
            d_spans.append((day_lo, day_hi))
        else:
            if day_lo < blk_lo:
                d_spans.append((day_lo, blk_lo))
            if blk_hi < day_hi:
                d_spans.append((blk_hi, day_hi))
            b_spans.append((blk_lo, blk_hi))
    return RoutePlan(*(
        tuple((_epoch(a), _epoch(b)) for a, b in spans)
        for spans in (h_spans, d_spans, b_spans)
    ))


def _slice(tier: DataFrame, spans: tuple[tuple[int, int], ...]) -> DataFrame | None:
    if not spans:
        return None
    ts = F.col("bucket_start")
    cond = None
    for lo, hi in spans:
        c = (ts >= _instant(lo)) & (ts < _instant(hi))
        cond = c if cond is None else (cond | c)
    return tier.filter(cond).select("source", "cnt", "sum_n_tok")


def routed_range_totals(
    t1h: DataFrame,
    t1d: DataFrame,
    t30d: DataFrame,
    start: datetime,
    end: datetime,
) -> DataFrame:
    """Per-source (cnt, sum_n_tok) totals over [start, end), served
    from the coarsest covering tiers and merged — exactly equal to a
    direct scan of the raw table over the same range."""
    plan = plan_range(start, end)
    parts = [
        p
        for p in (
            _slice(t1h, plan.spans_1h),
            _slice(t1d, plan.spans_1d),
            _slice(t30d, plan.spans_30d),
        )
        if p is not None
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("source").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_n_tok").alias("sum_n_tok"),
    )


def routed_range_totals_from_store(
    store,
    start: datetime,
    end: datetime,
    as_of_seq: int | None = None,
) -> DataFrame:
    """Serve a routed range straight from a TierStore — optionally AS
    OF a past commit (time travel through the serving path): the same
    tier decomposition, with every tier read reconstructed at the
    ``as_of_seq`` horizon. "What did the dashboard say before
    yesterday's backfill?" becomes one parameter, not a restore job.

    All three tiers must exist — including AT THE HORIZON: a tier
    whose first commit postdates ``as_of_seq`` reads as an empty
    relation, and routing over it would silently undercount the spans
    that tier serves, so it raises instead (the tier's snapshot probes
    that emptiness once per build; the same never-silently-wrong
    contract as ``store.read``). Pick horizons at run boundaries
    (``store.last_commit_seq()`` after a pipeline run) — a mid-run
    horizon reproduces whatever mid-run state the dashboard actually
    showed then.

    Each tier is served from ``store.snapshot`` — persisted once per
    commit state and horizon, so repeated queries over an unchanged
    store run only the final aggregate."""
    tiers = {}
    for t in ("1h", "1d", "30d"):
        df = store.snapshot(t, as_of_seq=as_of_seq)
        if df is None:
            raise ValueError(
                f"tier {t!r} is empty"
                + (f" as of seq {as_of_seq}" if as_of_seq is not None else "")
                + " — run the pipeline (or use a later snapshot) first"
            )
        tiers[t] = df
    return routed_range_totals(tiers["1h"], tiers["1d"], tiers["30d"], start, end)
