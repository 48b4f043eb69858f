"""Declarative tiered retention: downsample-guarded expiry.

The reference keeps only the newest K products per tile on disk and
silently deletes the rest (`/root/reference/s1tiling/libs/
S1FileManager.py:735-748` — ``_filter_images_or_ortho`` +
``keep_X_latest_S1_files``). A timeseries engine generalizes that
cache policy into a *retention policy* coordinated with its continuous
aggregates (the TimescaleDB ``add_retention_policy`` +
continuous-aggregate interplay): a fine tier's partitions may be
dropped ONLY after the coarser tier has provably absorbed them, so a
range query routed through the tier cascade (``plans/router.py``)
still answers over the expired range — from rolled-up points instead
of raw ones.

"Provably absorbed" is a watermark test, not a scan: the pipeline
commits a per-source watermark = start of the newest materialized
bucket AFTER each cascade append (``plans/tiers.py``), and every
bucket strictly below the watermark is final (only the newest bucket
is ever recomputed). So a victim date ``d`` of source ``s`` is covered
by the guard tier iff ``watermark(s) > covering_bucket_start(d)`` —
strictly, because the watermark bucket itself is still open and its
next recompute READS the tier being expired. The check costs one
metadata-scale scan of the partitions holding victim rows (distinct
(source, date) pairs of the rows before the cutoff; a 30d-partitioned
tier's partition can hold days on both sides of it) plus a read of
the refresh record's watermarks (no Spark job).

Scale note (100 TB): the guard reads only the partitions about to be
dropped (a partition-pruned store read, two columns) and the O(sources)
watermark record; ``expire`` itself is directory surgery. Nothing here
scans retained data.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import bucket_floor, utc_date
from s1tiling_spark.plans.store import TierStore

_EPOCH = dt.datetime(1970, 1, 1)


class RetentionGuardError(RuntimeError):
    """A retention rule would drop rows its guard tier has not
    absorbed yet — carries the uncovered (source, date) pairs."""

    def __init__(self, tier: str, guard_tier: str, uncovered: list[tuple[str, str]]):
        self.uncovered = uncovered
        shown = ", ".join(f"{s}@{d}" for s, d in uncovered[:8])
        more = f" (+{len(uncovered) - 8} more)" if len(uncovered) > 8 else ""
        super().__init__(
            f"retention on tier {tier!r}: guard tier {guard_tier!r} has not "
            f"materialized past {len(uncovered)} victim (source, date) "
            f"pair(s): {shown}{more} — run the cascade first"
        )


@dataclass(frozen=True)
class RetentionRule:
    """Keep ``tier`` partitions for ``keep_days`` days; ``None`` keeps
    forever. ``guard_tier`` (a coarser tier) must have materialized
    every dropped (source, date) before the drop is allowed."""

    tier: str
    keep_days: int | None
    guard_tier: str | None = None


def covering_bucket_start(day: dt.date, guard_tier: str) -> dt.datetime:
    """Start of the ``guard_tier`` bucket containing calendar ``day``.
    1d buckets are the day itself; 30d buckets are epoch-aligned and
    86400 divides their span, so a day never straddles two buckets."""
    start = dt.datetime(day.year, day.month, day.day)
    if guard_tier == "1h":
        # a sub-day guard covers a victim DAY only when every one of the
        # day's guard buckets is final — i.e. the watermark is strictly
        # past the start of the day's LAST 1h bucket (23:00). Returning
        # the day start would pass the check with hours 01-23 never
        # absorbed (ADVICE r5, medium).
        return start + dt.timedelta(hours=23)
    return bucket_floor(guard_tier, start)


def _victim_dates(store: TierStore, tier: str, cutoff: dt.date) -> list[str]:
    """The partitions that can hold rows dated before ``cutoff``."""
    return [d for d in store.partition_dates(tier) if d < cutoff.isoformat()]


def _check_guard(
    store: TierStore, tier: str, guard_tier: str, victim_dates: list[str],
    cutoff: dt.date,
) -> int:
    """Raise :class:`RetentionGuardError` unless every (source, date)
    of the rows dated before ``cutoff`` sits strictly below the guard
    tier's per-source watermark. Returns the number of pairs checked.

    The victim rows come from the store's physical row-version view
    (every version, rolled back or masked ones too), partition-pruned
    to the victim partitions. It hides staged rows; victims holding
    those are refused by the expiry itself."""
    day = utc_date(F.col("bucket_start"))
    pairs = (
        store.read(tier, deduped=False, p_dates=victim_dates)
        .select("source", day.alias("day"))
        .filter(F.col("day") < F.lit(cutoff))
        .distinct()
        .collect()
    )
    # per source, epoch micros of the newest committed guard bucket
    wm = store.refresh_state().get("watermarks", {}).get(guard_tier, {})

    def covered_us(day: dt.date) -> int:
        start = covering_bucket_start(day, guard_tier)
        return (start - _EPOCH) // dt.timedelta(microseconds=1)

    uncovered = sorted(
        (r["source"], str(r["day"]))
        for r in pairs
        if r["source"] not in wm or wm[r["source"]] <= covered_us(r["day"])
    )
    if uncovered:
        raise RetentionGuardError(tier, guard_tier, uncovered)
    return len(pairs)


def apply_retention_policy(
    store: TierStore,
    rules: list[RetentionRule] | tuple[RetentionRule, ...],
    as_of: dt.date,
) -> list[dict]:
    """Apply each rule in order; returns one report dict per rule.

    A guarded rule that finds uncovered pairs raises BEFORE any drop
    (the whole rule is refused — partial expiry would leave a range
    query silently mixing covered and lost dates). An earlier rule's
    failure stops the policy: rules are ordered finest-first by
    convention, and expiring a coarse tier while its finer source
    still holds unabsorbed dates is never what the caller meant.
    """
    reports: list[dict] = []
    for rule in rules:
        rep = {
            "tier": rule.tier,
            "keep_days": rule.keep_days,
            "guard_tier": rule.guard_tier,
            "cutoff": None,
            "checked_pairs": 0,
            "dropped_partitions": 0,
        }
        if rule.keep_days is not None:
            cutoff = as_of - dt.timedelta(days=rule.keep_days)
            rep["cutoff"] = cutoff.isoformat()
            # ONE maintenance-lock span over victim enumeration, guard
            # check and drop (ADVICE r5): an append into a victim date
            # between check and drop would otherwise be deleted
            # unguarded, and a victim partition created after the
            # enumeration would be dropped without ever being checked.
            # Appends/deletes wait at publish time while this holds.
            with store._maint_lock(rule.tier):
                # the expiry ratchets to the recorded floor: guard all
                # it hides
                floor = store.retention_floor(rule.tier)[0]
                if floor is not None:
                    cutoff = max(cutoff, dt.date.fromisoformat(floor))
                victims = _victim_dates(store, rule.tier, cutoff)
                if victims:
                    if rule.guard_tier is not None:
                        rep["checked_pairs"] = _check_guard(
                            store, rule.tier, rule.guard_tier, victims, cutoff
                        )
                    rep["dropped_partitions"] = store._expire_locked(
                        rule.tier, cutoff
                    )
        reports.append(rep)
    return reports
