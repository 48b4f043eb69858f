"""Backfill: bucket-aligned recompute of a time window through the
tier store.

The production operation every pipeline eventually needs: a window of
raw data was wrong (late correction, upstream re-delivery, bad batch)
and every derived tier must be re-derived for exactly that window —
without touching the rest of the table and without breaking downstream
incremental consumers.

Reference analog: the forced re-run path
(`/root/reference/s1tiling/libs/S1FileManager.py:735-748` evicts an
existing product so the planner recomputes it) — generalized from
file-granular to bucket-granular with exact snapshot semantics.

Mechanics per tier:

1. EXPAND the window to tier-bucket boundaries (a 30d bucket straddling
   the corrected window must be recomputed whole, from raw rows inside
   AND outside the window — so the caller passes the full corrected raw
   table and each tier filters its own expansion).
2. APPEND the recomputed rollup of the expanded window — newest-wins
   supersedes every stale version of a rewritten key immediately.
3. DELETE the keys the correction REMOVED (window winners older than
   the append — e.g. a source dropped entirely, which the appended
   rows' own keys cannot mask).

Append-first ordering is deliberate crash safety (ADVICE r4): a crash
between the two steps leaves removed keys stale-but-present — re-run
the backfill to finish — whereas delete-first left the ENTIRE window
masked-empty for current reads and the changelog until a manual re-run.

Both steps ride the normal commit lineage, so time travel shows the
pre-backfill state and `changes()` emits the exact per-key diff with
no special casing. Cost shape: O(window) recompute + O(keys in window)
delete — never a full-table rewrite; at 10^12 rows a one-day correction touches
one day.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import TIER_SPAN_S, bucket_floor, rollup_sequences
from .store import TierStore


def expanded_window(
    tier: str, from_ts: datetime, to_ts: datetime
) -> tuple[datetime, datetime]:
    """[from, to) expanded outward to tier-bucket boundaries."""
    lo = bucket_floor(tier, from_ts)
    hi = bucket_floor(tier, to_ts - timedelta(microseconds=1)) + timedelta(
        seconds=TIER_SPAN_S[tier]
    )
    return lo, hi


def backfill_stat_tiers(
    store: TierStore,
    corrected_raw: DataFrame,
    from_ts: datetime,
    to_ts: datetime,
    tiers: tuple[str, ...] = ("1h", "1d", "30d"),
    run_id: str = "backfill",
) -> list[dict]:
    """Recompute ``[from_ts, to_ts)`` of every stat tier from the
    corrected raw table. ``corrected_raw`` must cover at least the
    widest tier expansion of the window (pass the full corrected table;
    only the expansions are scanned — Catalyst pushes the bucket-range
    filter into the scan).

    Returns one dict per tier: window, deleted key count, appended
    rows.
    """
    out = []
    for tier in tiers:
        lo, hi = expanded_window(tier, from_ts, to_ts)
        stats = {"tier": tier, "window": [str(lo), str(hi)]}
        window_raw = corrected_raw.filter(
            (F.col("event_ts") >= F.lit(lo)) & (F.col("event_ts") < F.lit(hi))
        )
        recomputed = rollup_sequences(window_raw, tier)
        # APPEND FIRST: newest-wins already makes the recomputed rows
        # supersede every stale version of the same key, so a crash
        # right after this step leaves the window stale-but-present for
        # the removed keys — never masked-empty (the delete-then-append
        # ordering had exactly that window: a crash between the two
        # served NOTHING for the whole backfill range until a manual
        # re-run). Re-running the backfill heals: the duplicate append
        # is absorbed by dedup-on-read and the delete below completes.
        append_seq = store.next_commit_seq()
        stats["appended_rows"] = store.append(tier, recomputed, append_seq, run_id)
        # THEN delete only the keys the correction REMOVED: window
        # winners older than our append are precisely the keys the
        # recompute did not rewrite (e.g. a source dropped entirely).
        # Keyed on the full natural key — a later-seq bucket-prefix
        # delete would mask the fresh rows too (deletes mask versions
        # committed before them).
        current = store.read(tier)
        if current is not None:
            victims = current.filter(
                (F.col("bucket_start") >= F.lit(lo))
                & (F.col("bucket_start") < F.lit(hi))
                & (F.col("commit_seq") < append_seq)
            ).select("bucket_start", "source")
            stats["deleted_keys"] = store.delete(
                tier,
                victims,
                store.next_commit_seq(),
                run_id,
                keys=("bucket_start", "source"),
            )
        else:
            stats["deleted_keys"] = 0
        out.append(stats)
    return out
