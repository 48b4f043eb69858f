"""Custom stateful streaming operator: per-source gap detector via
``applyInPandasWithState``.

Watches the stream of 1h tier rows and, per source, remembers the last
hour seen; whenever a new bucket arrives it emits one row per SKIPPED
hour in between — the streaming counterpart of the batch gap-fill's
grid densification (operators/gapfill.py), and the engine's example of
a custom stateful operator the built-in windowed aggregates can't
express (state = last bucket per key, output = derived gap events).

State is one timestamp per source — bounded regardless of throughput.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("gap_hour", TimestampType()),
        StructField("gap_len_hours", LongType()),
    ]
)

STATE_SCHEMA = StructType([StructField("last_hour_epoch", LongType())])

HOUR = 3600


def _detect_gaps(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (source,) = key
    hours: set[int] = set()
    for pdf in pdfs:
        hours.update(
            int(v) // HOUR * HOUR
            for v in pdf["bucket_start"].astype("int64") // 1_000_000_000
        )
    if not hours:
        return
    last = state.get[0] if state.exists else None
    new_last = max(hours) if last is None else max(max(hours), last)
    seen = sorted(h for h in hours if last is None or h > last)
    gaps: list[tuple[str, int, int]] = []
    prev = last if last is not None else (seen[0] if seen else None)
    for h in seen:
        if prev is not None and h > prev + HOUR:
            run_start = prev + HOUR
            gaps.append((source, run_start, (h - run_start) // HOUR))
        prev = h
    state.update((new_last,))
    if gaps:
        out = pd.DataFrame(gaps, columns=["source", "gap_hour", "gap_len_hours"])
        out["gap_hour"] = pd.to_datetime(out["gap_hour"], unit="s")
        yield out


def gap_detector_stream(tier_stream: DataFrame) -> DataFrame:
    """tier_stream: streaming (bucket_start, source, ...) rows →
    streaming (source, gap_hour, gap_len_hours) gap events."""
    return (
        tier_stream.groupBy("source")
        .applyInPandasWithState(
            _detect_gaps,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------
# Streaming counter increase: the stateful counterpart of
# operators/rollup.counter_increase. State per series is the last
# observed counter value, so a delta spanning a micro-batch boundary
# — including a RESET between batches — is computed exactly.
# Output rows are MERGEABLE PARTIALS per (series, 1h bucket): the same
# bucket may appear once per micro-batch; downstream folds them with a
# grouped sum (the tier-store MERGE discipline). Counter semantics are
# inherently order-dependent: per-series in-order delivery is assumed
# (true of metric scrapes); out-of-order late samples would need
# retraction, which append-mode streaming cannot express.

COUNTER_OUTPUT_SCHEMA = StructType(
    [
        StructField("series", StringType()),
        StructField("bucket_start", TimestampType()),
        StructField("increase", LongType()),
        StructField("n_samples", LongType()),
    ]
)

COUNTER_STATE_SCHEMA = StructType([StructField("last_counter", LongType())])


def _counter_increase(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (series,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    # sort on the datetime column itself — unit-agnostic (Arrow may
    # hand ns- or µs-resolution frames depending on version/config)
    batch = batch.sort_values(["ts", "order_id"], kind="mergesort")
    counters = [int(c) for c in batch["counter"]]
    prev_counter = int(state.get[0]) if state.exists else None
    deltas: list[int | None] = []
    for cur in counters:
        if prev_counter is None:
            deltas.append(None)
        elif cur >= prev_counter:
            deltas.append(cur - prev_counter)
        else:
            deltas.append(cur)  # reset: post-restart value
        prev_counter = cur
    batch["_delta"] = pd.array(deltas, dtype="Int64")
    batch["bucket_start"] = batch["ts"].dt.floor("h")
    grouped = batch.groupby("bucket_start", sort=True)["_delta"].agg(
        increase="sum", n_samples="count"
    )
    out = grouped.reset_index()
    # pandas sums an all-NA Int64 slice to 0; the batch operator keeps
    # NULL for a bucket with no usable delta — match it
    out.loc[out["n_samples"] == 0, "increase"] = pd.NA
    out["increase"] = pd.array(out["increase"], dtype="Int64")
    out["n_samples"] = out["n_samples"].astype("int64")
    out.insert(0, "series", series)
    state.update((int(counters[-1]),))
    yield out[["series", "bucket_start", "increase", "n_samples"]]


def counter_increase_stream(counter_stream: DataFrame) -> DataFrame:
    """counter_stream: streaming (series, ts, order_id, counter) rows →
    streaming per-bucket increase PARTIALS (fold with a grouped sum)."""
    return (
        counter_stream.groupBy("series")
        .applyInPandasWithState(
            _counter_increase,
            COUNTER_OUTPUT_SCHEMA,
            COUNTER_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------
# Streaming gap-FILL: the stateful counterpart of the batch
# densify → locf → linear_interpolate chain (operators/gapfill.py).
# Where gap_detector_stream only REPORTS skipped buckets, this emits
# the filled rows themselves: LOCF columns carry the previous anchor's
# values forward, the interpolated column is reconstructed linearly
# between the two real anchors. Interpolation needs the NEXT anchor,
# which streaming cannot see until it arrives — so filled rows for a
# gap are emitted in the micro-batch that delivers the gap's closing
# anchor (no watermark wait, no speculative emission to retract).
# Convergence contract: on per-source in-order delivery of NON-NULL
# anchor values (tier rows are aggregates — never null) the collected
# stream output equals the batch operator row-for-row and bit-for-bit
# (the interpolation evaluates the same IEEE-double expression the
# batch plan does: prev + (cur - prev) * ((t - t_prev)/(t_cur - t_prev))),
# because the batch grid spans [min,max] per source — exactly the
# interior gaps a closing anchor defines. Same caveat as the counter
# and z-score streams: late out-of-order rows would need retraction,
# which append mode cannot express — they are dropped (documented).
# State per source is one (epoch, anchor values) tuple — bounded.


def gapfill_stream(
    tier_stream: DataFrame,
    locf_cols: tuple[str, ...] = ("cnt", "sum_n_tok"),
    interp_col: str = "avg_n_tok",
    key: str = "source",
    step_s: int = HOUR,
) -> DataFrame:
    """tier_stream: streaming (key, bucket_start, *locf_cols,
    interp_col) rows → the same rows plus LOCF/interpolated fill rows
    for every missing interior bucket, flagged ``gap_filled``."""
    by_name = {f.name: f.dataType for f in tier_stream.schema.fields}
    out_schema = StructType(
        [
            StructField(key, by_name[key]),
            StructField("bucket_start", TimestampType()),
            *[StructField(c, by_name[c]) for c in locf_cols],
            StructField(interp_col, DoubleType()),
            StructField("gap_filled", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_epoch", LongType()),
            *[StructField(f"last_{c}", by_name[c]) for c in locf_cols],
            StructField("last_interp", DoubleType()),
        ]
    )
    n_locf = len(locf_cols)

    def _fill(
        key_t: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (src,) = key_t
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch) == 0:
            return
        # fail LOUD on null anchors: the batch operator's
        # last(ignorenulls)/interpolate-through-null semantics would
        # need retraction to mirror online, and a silent NaN here
        # poisons every later fill for the source — tier rows are
        # aggregates and never null, so a null is upstream corruption
        value_cols = [*locf_cols, interp_col]
        if batch[value_cols].isna().any().any():
            raise ValueError(
                f"gapfill_stream: null anchor value(s) for source {src!r} "
                f"in {value_cols}; null-valued rows cannot be anchors "
                "(batch locf/interpolate semantics are not expressible "
                "in append mode) — clean the input upstream"
            )
        batch = batch.sort_values("bucket_start", kind="mergesort")
        epochs = (
            batch["bucket_start"].astype("datetime64[ns]").astype("int64")
            // 1_000_000_000
        )
        prev: tuple | None = tuple(state.get) if state.exists else None
        rows: list[tuple] = []
        for i, t in enumerate(int(e) for e in epochs):
            if prev is not None and t <= prev[0]:
                continue  # late out-of-order: append mode cannot retract
            cur_locf = tuple(
                v.item() if hasattr(v, "item") else v
                for v in (batch[c].iloc[i] for c in locf_cols)
            )
            cur_interp = float(batch[interp_col].iloc[i])
            if prev is not None:
                t0, v0 = prev[0], prev[1 + n_locf]
                for h in range(t0 + step_s, t, step_s):
                    # the batch plan's exact expression shape, in the
                    # same IEEE doubles
                    interp = v0 + (cur_interp - v0) * ((h - t0) / (t - t0))
                    rows.append((src, h, *prev[1 : 1 + n_locf], interp, True))
            rows.append((src, t, *cur_locf, cur_interp, False))
            prev = (t, *cur_locf, cur_interp)
        state.update(prev)
        if rows:
            out = pd.DataFrame(
                rows,
                columns=[key, "bucket_start", *locf_cols, interp_col, "gap_filled"],
            )
            out["bucket_start"] = pd.to_datetime(out["bucket_start"], unit="s")
            yield out

    return tier_stream.groupBy(key).applyInPandasWithState(
        _fill,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# ship by value for foreign sessions
import sys as _sys  # noqa: E402

from pyspark import cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
