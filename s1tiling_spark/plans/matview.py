"""Incremental materialized-view maintenance over the tier store's
CDC changelog.

The reference re-runs a product only when its inputs changed
(`/root/reference/s1tiling/libs/otbpipeline.py:749-756` prunes tasks
whose outputs exist; `meta.py:95-103` is the freshness test). This
module generalizes that to ANALYTICAL products: a downstream aggregate
tier (the "view") is kept in sync with its base tier by applying only
the delta since the last refresh — never a full recompute.

The math is classic incremental view maintenance for distributive
aggregates: ``changes(base, split_updates=True)`` emits
insert/update_after rows (post-images) and delete/update_before rows
(pre-images); summing post-images with sign +1 and pre-images with
sign -1, re-grouped to the view's grain, IS the view delta. The view
itself is stored as an ADDITIVE tier (:meth:`TierStore.read_summed`
folds the partials; ``compact(mode="sum")`` folds them physically), so
"applying" the delta is a plain append.

Cost shape at 10^12 rows: ``changes`` prunes both as-of states to the
touched key set, so a refresh costs O(keys touched since last refresh)
plus one append — the continuous-aggregate model (TimescaleDB's
refresh policy, Materialize's delta dataflow), not a view rebuild.

Crash safety: the delta append carries an idempotency key
``mv~<from>~<to>`` and the refresh cursor is advanced only after the
append. A crash in between is repaired on the next refresh by reading
the committed marker (its name carries the range) and advancing the
cursor WITHOUT recomputing — the delta is applied exactly once. The
residual window is append's own marker-after-data-move window,
documented there (Iceberg closes it by committing the marker inside
the snapshot transaction).
"""

from __future__ import annotations

import os
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .store import TierStore, atomic_json_write


class AdditiveMatView:
    """An incrementally-maintained additive aggregate over a base tier.

    The view definition lives in code (like any Spark logical plan):
    ``group_cols`` maps each view key column to the expression that
    derives it from a base row (e.g. re-truncating ``bucket_start`` to
    the coarser grain), ``sum_cols`` are the additive measures summed
    from the base's columns. Measures must be non-null — the same
    contract :meth:`TierStore.read_summed` already imposes on additive
    tiers (``F.sum`` would silently skip NULLs and the delta algebra
    would not cancel).

    ``group_cols`` must include ``bucket_start`` — the store partitions
    every tier by its calendar date, which is also what makes refresh
    appends prune on read.

    The BASE tier must follow the newest-wins merge discipline
    (:meth:`TierStore.read`): the changelog diffs newest-wins states.
    An ADDITIVE base tier (``read_summed`` partials) has no changelog
    — its partials already ARE deltas; aggregate them directly instead
    of stacking a matview on top.
    """

    def __init__(
        self,
        store: TierStore,
        name: str,
        base_tier: str,
        base_keys: tuple[str, ...],
        group_cols: dict[str, Column],
        sum_cols: tuple[str, ...],
    ) -> None:
        if "bucket_start" not in group_cols:
            raise ValueError(
                "group_cols must include 'bucket_start' (tier tables are "
                "partitioned by its calendar date)"
            )
        self.store = store
        self.name = name
        self.base_tier = base_tier
        self.base_keys = tuple(base_keys)
        self.group_cols = dict(group_cols)
        self.sum_cols = tuple(sum_cols)
        self.view_tier = f"mv_{name}"
        self.view_keys = tuple(group_cols)

    # ---------- cursor ----------
    def _meta_path(self) -> str:
        return os.path.join(self.store.base_dir, f"_matview_{self.name}.json")

    def last_refreshed_seq(self) -> int:
        """Base commit_seq the view is current as of (0 = never)."""
        path = self._meta_path()
        if not os.path.exists(path):
            return 0
        import json

        with open(path) as f:
            return int(json.load(f)["base_seq"])

    def _advance_cursor(self, base_seq: int) -> None:
        atomic_json_write(self._meta_path(), {"base_seq": int(base_seq)})

    def _repair_crashed_refresh(self, base_seq: int) -> int:
        """A crash between the delta append and the cursor write leaves
        a COMMITTED ``mv~<from>~<to>`` marker with ``from == cursor``:
        that delta IS applied, so complete the refresh by advancing the
        cursor to the marker's ``to`` — recomputing it would
        double-count the range (append's idempotency key blocks the
        exact replay, but a RETRY computes a wider range ``(from,
        to']`` that overlaps the applied one).

        A ``pending`` marker (the two-phase append protocol, r5) means
        the crash hit DURING the delta's file moves: that delta is torn
        and must NOT advance the cursor. Repair it here — remove the
        torn commit's files and the marker — because the retry's range
        end (a fresh ``last_commit_seq``) yields a DIFFERENT
        idempotency key, so append()'s own same-key repair would never
        fire and the partial files would stay live forever (review
        catch, r5)."""
        import json

        runs_dir = os.path.join(
            self.store.base_dir, "_committed_runs", self.view_tier
        )
        if not os.path.isdir(runs_dir):
            return base_seq
        applied_to = base_seq
        prefix = f"mv~{base_seq}~"
        for fn in os.listdir(runs_dir):
            if not fn.startswith(prefix):
                continue
            path = os.path.join(runs_dir, fn)
            with open(path) as f:
                rec = json.load(f)
            # legacy markers (no state) were written post-move: committed
            if rec.get("state", "committed") == "committed":
                applied_to = max(applied_to, int(fn.split("~")[2]))
            else:
                self.store._remove_commit_files(
                    self.view_tier, int(rec["commit_seq"])
                )
                os.remove(path)
        if applied_to != base_seq:
            self._advance_cursor(applied_to)
        return applied_to

    # ---------- delta algebra ----------
    def _signed_aggregate(self, rows: DataFrame, sign: Column) -> DataFrame:
        """Re-group ``rows`` (base-shaped) to the view grain, summing
        each measure multiplied by ``sign``. One shuffle on the view
        keys; map-side partial aggregation applies (plain sum).

        ``_mv_n`` is the classic IVM group-cardinality counter: each
        live base row contributes +1, its retraction -1 (an update's
        before/after pair cancels). Without it a group whose base rows
        were ALL deleted would cancel to a zero-valued row instead of
        disappearing — ``read`` serves only groups with ``_mv_n > 0``."""
        projected = rows.select(
            *[expr.alias(k) for k, expr in self.group_cols.items()],
            *[(sign * F.col(c)).alias(c) for c in self.sum_cols],
            sign.alias("_mv_n"),
        )
        return projected.groupBy(*self.view_keys).agg(
            *[F.sum(c).alias(c) for c in self.sum_cols],
            F.sum("_mv_n").alias("_mv_n"),
        )

    def _rebuild_reset(self) -> None:
        """Drop the view's accumulated deltas, markers and cursor so the
        next refresh runs the cursor==0 full load. Crash-safe: any
        partial reset leaves cursor 0 (or a missing tier), both of
        which the full-load path handles; a crash between the data
        rmtree and the meta removal re-enters here on the next refresh
        because the stale cursor still predates the base horizon."""
        import shutil

        shutil.rmtree(self.store.tier_path(self.view_tier), ignore_errors=True)
        shutil.rmtree(
            os.path.join(self.store.base_dir, "_committed_runs", self.view_tier),
            ignore_errors=True,
        )
        if os.path.exists(self._meta_path()):
            os.remove(self._meta_path())

    def refresh(self, run_id: str) -> dict:
        """Bring the view up to the base tier's current state; returns
        ``{"from_seq", "to_seq", "rows"}`` (rows = delta rows appended,
        0 for a no-op refresh).

        If a base-tier compaction expired history below the refresh
        cursor (the changelog from the cursor is gone), the view is
        REBUILT: deltas are dropped and the full aggregate re-runs —
        the lagging-view recovery Iceberg-backed MV engines perform
        when the incremental log is unavailable. Routine maintenance
        must never brick the view."""
        from s1tiling_spark.operators.cache import scoped_persists

        cursor = self._repair_crashed_refresh(self.last_refreshed_seq())
        if cursor > 0 and cursor < self.store.min_as_of(self.base_tier):
            self._rebuild_reset()
            cursor = 0
        to_seq = self.store.last_commit_seq()
        if to_seq == cursor:
            return {"from_seq": cursor, "to_seq": to_seq, "rows": 0}
        with scoped_persists():
            return self._refresh_range(cursor, to_seq, run_id)

    def _refresh_range(self, cursor: int, to_seq: int, run_id: str) -> dict:
        """Refresh body — every action completes in here, so the caller
        can release the scope's tracked persists (the changelog's
        touched-key cache) on exit; a long-lived per-batch refresher
        must not accumulate caches across refreshes."""
        if cursor == 0:
            base = self.store.read(
                self.base_tier, as_of_seq=to_seq, keys=self.base_keys
            )
            delta = None if base is None else self._signed_aggregate(base, F.lit(1))
        else:
            ch = self.store.changes(
                self.base_tier,
                from_seq=cursor,
                to_seq=to_seq,
                keys=self.base_keys,
                split_updates=True,
                # scan I/O scales with touched DAYS, not table size:
                # the changelog opens only the partitions the touched
                # keys live in
                prune_partitions="bucket_start" in self.base_keys,
            )
            if ch is None:
                delta = None
            else:
                sign = F.when(
                    F.col("op").isin("insert", "update_after"), F.lit(1)
                ).otherwise(F.lit(-1))
                delta = self._signed_aggregate(ch, sign)
                # all-zero delta groups (e.g. a rewrite of identical
                # values) add nothing — don't append them (_mv_n included:
                # values summing to zero with a cardinality change must
                # still be applied)
                delta = delta.filter(
                    reduce(
                        or_,
                        [F.col(c) != 0 for c in (*self.sum_cols, "_mv_n")],
                    )
                )
        rows = 0
        cursor_target = to_seq
        if delta is not None:
            # Count before committing: an empty delta (a commit range
            # touching only OTHER tiers, or pure rewrites) must not
            # consume a commit_seq — otherwise every refresh would bump
            # the store-global seq and the next refresh could never
            # no-op. Eager localCheckpoint (guide §3.3) materializes
            # the delta ONCE and truncates the changelog tree, so the
            # count and the append analyze a leaf scan instead of
            # re-walking the diff plan (refresh retries are idempotent
            # via the mv~from~to marker, so a lost block fails clean).
            delta = delta.localCheckpoint(eager=True)
            if delta.count() > 0:
                seq = self.store.next_commit_seq()
                rows = self.store.append(
                    self.view_tier,
                    delta,
                    seq,
                    run_id,
                    # keyed by the BASE range applied, not our own
                    # append seq: the repair advances the cursor to
                    # the marker's `to`, and under concurrent
                    # writers only the base range is safe to skip
                    idempotency_key=f"mv~{cursor}~{to_seq}",
                )
                # Advance the cursor OVER our own delta append only
                # when nothing interleaved: with concurrent writers
                # (CAS seq, r5) a base commit may land between
                # to_seq and our seq — skipping it would lose its
                # delta forever. When seq == to_seq + 1 the range
                # (to_seq, seq] contains exactly our own
                # different-tier append and the skip is free.
                cursor_target = seq if seq == to_seq + 1 else to_seq
        self._advance_cursor(cursor_target)
        return {"from_seq": cursor, "to_seq": cursor_target, "rows": rows}

    # ---------- serving ----------
    def read(self, as_of_seq: int | None = None) -> DataFrame | None:
        """The view's current (or as-of) state: additive fold of the
        accumulated deltas, restricted to groups with live base rows
        (``_mv_n > 0`` — see :meth:`_signed_aggregate`)."""
        df = self.store.read_summed(
            self.view_tier,
            keys=self.view_keys,
            sum_cols=(*self.sum_cols, "_mv_n"),
            as_of_seq=as_of_seq,
        )
        if df is None:
            return None
        return df.filter(F.col("_mv_n") > 0).drop("_mv_n")


class MergeMatView(AdditiveMatView):
    """Incrementally-maintained view over NON-subtractable aggregates:
    count / sum / min / max / HLL distinct-count registers.

    Min, max and HLL registers are mergeable but not retractable — an
    insert folds into the group state (``least``/``greatest``/register
    max), but a delete cannot be "subtracted" (the retracted value may
    BE the extremum / the only witness of a register). The classic IVM
    answer (and this class's algebra):

    - groups touched ONLY by inserts → MERGE the insert partial into
      the group's current row (no base scan at all);
    - groups touched by any retraction (delete / update_before) →
      RECOMPUTE the group from the base's current state (the changelog
      already yields the touched keys, so the recompute reads only
      those groups' rows — a broadcast semi-join, partition-pruned when
      the group's date span is declared);
    - groups whose base rows all disappeared → equality-DELETE the view
      row (a tombstone-free disappear, reusing the store's delete
      masks).

    The view tier is NEWEST-WINS (each refresh appends the full updated
    group rows; :meth:`TierStore.read` serves the latest per key) —
    unlike :class:`AdditiveMatView`'s additive-partials tier, a stale
    extremum must be REPLACED, not folded. TimescaleDB's continuous
    aggregates make the same split: additive measures are finalized by
    summing partials, min/max by invalidation + re-aggregation of the
    touched buckets.

    Crash safety: view-row deletes are committed BEFORE the upsert
    append that carries the ``mv~<from>~<to>`` idempotency marker — a
    crash between them re-runs the whole range (no marker yet) and the
    duplicate delete is harmless (the key sets are disjoint from the
    append's by construction); a crash after the append repairs by
    cursor advance exactly like the additive view.

    ``hll_cols`` maps an output prefix to the base column whose
    distinct values are counted per group; the group state is a dense
    ``array<int>`` of 2^log2(m) registers (``<name>_regs``), merged by
    element-wise max — bit-identical to the long-form registers of
    ``operators/sketch.py`` (same hash, same split), so the gated
    oracle can compare register vectors across engines.
    """

    def __init__(
        self,
        store: TierStore,
        name: str,
        base_tier: str,
        base_keys: tuple[str, ...],
        group_cols: dict[str, Column],
        sum_cols: tuple[str, ...] = (),
        min_cols: tuple[str, ...] = (),
        max_cols: tuple[str, ...] = (),
        hll_cols: dict[str, str] | None = None,
        hll_m: int = 64,
        group_date_span_days: int | None = None,
    ) -> None:
        super().__init__(store, name, base_tier, base_keys, group_cols, sum_cols)
        self.min_cols = tuple(min_cols)
        self.max_cols = tuple(max_cols)
        self.hll_cols = dict(hll_cols or {})
        self.hll_m = int(hll_m)
        self.group_date_span_days = group_date_span_days

    # ---------- aggregate shape ----------
    @property
    def _measure_cols(self) -> list[str]:
        return [
            "n_rows",
            *self.sum_cols,
            *[f"{c}_min" for c in self.min_cols],
            *[f"{c}_max" for c in self.max_cols],
            *[f"{name}_regs" for name in self.hll_cols],
        ]

    def _aggregate(self, rows: DataFrame, with_retract: bool = False) -> DataFrame:
        """Base-shaped rows → one view row per group: the full-load,
        recompute AND insert-partial aggregate (one definition — the
        three paths must agree exactly or merges drift from rebuilds).

        ONE hash aggregate, map-side combinable: the HLL register
        vector is expressed as m conditional-max columns (register
        index tested per row, JVM codegen), folded into a dense array —
        partial aggregation applies, unlike a two-level
        (group, reg)-then-regroup shape which would shuffle twice.

        ``with_retract`` (changelog input, r6): also emit ``_retract``
        = max over the group of op∈{delete, update_before}. A group
        with ``_retract == 0`` was touched ONLY by inserts/post-images,
        so its measure columns — computed over all its changelog rows —
        ARE the insert partial (no pre-image rows exist to pollute
        them); a ``_retract == 1`` group's measures are discarded and
        only its key survives (the recompute set). This folds what used
        to be three relations (touched-key set, side split, insert
        partial re-aggregate + broadcast semi-join) into the ONE
        aggregate the changelog feeds anyway."""
        from s1tiling_spark.operators.sketch import hll_reg_rho

        passthru = list(
            dict.fromkeys([*self.sum_cols, *self.min_cols, *self.max_cols])
        )
        retract_proj = (
            [
                F.when(
                    F.col("op").isin("delete", "update_before"), F.lit(1)
                )
                .otherwise(F.lit(0))
                .alias("_retract_row")
            ]
            if with_retract
            else []
        )
        proj = rows.select(
            *[expr.alias(k) for k, expr in self.group_cols.items()],
            *passthru,
            *[
                c
                for pair in [
                    (reg.alias(f"_{name}_reg"), rho.alias(f"_{name}_rho"))
                    for name, (reg, rho) in [
                        (n, hll_reg_rho(F.col(src), self.hll_m))
                        for n, src in self.hll_cols.items()
                    ]
                ]
                for c in pair
            ],
            *retract_proj,
        )
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        aggs += [F.sum(c).alias(c) for c in self.sum_cols]
        aggs += [F.min(c).alias(f"{c}_min") for c in self.min_cols]
        aggs += [F.max(c).alias(f"{c}_max") for c in self.max_cols]
        if with_retract:
            aggs.append(F.max("_retract_row").alias("_retract"))
        reg_maxes = {}
        for name in self.hll_cols:
            for i in range(self.hll_m):
                col = F.max(
                    F.when(F.col(f"_{name}_reg") == i, F.col(f"_{name}_rho"))
                ).alias(f"_{name}_r{i}")
                aggs.append(col)
                reg_maxes.setdefault(name, []).append(f"_{name}_r{i}")
        out = proj.groupBy(*self.view_keys).agg(*aggs)
        for name, parts in reg_maxes.items():
            out = out.withColumn(
                f"{name}_regs",
                F.array(*[F.coalesce(F.col(p), F.lit(0)) for p in parts]),
            ).drop(*parts)
        extra = ["_retract"] if with_retract else []
        return out.select(*self.view_keys, *self._measure_cols, *extra)

    def _merge_rows(self, part: DataFrame, current: DataFrame | None) -> DataFrame:
        """Fold an insert-only partial into the groups' current rows
        (current is None when the view tier does not exist yet)."""
        if current is None:
            return part.select(*self.view_keys, *self._measure_cols)
        cur = current.select(
            *self.view_keys,
            *[F.col(c).alias(f"_old_{c}") for c in self._measure_cols],
        )
        j = part.join(cur, list(self.view_keys), "left")
        merged = [
            (F.col("n_rows") + F.coalesce(F.col("_old_n_rows"), F.lit(0))).alias(
                "n_rows"
            )
        ]
        merged += [
            (F.col(c) + F.coalesce(F.col(f"_old_{c}"), F.lit(0))).alias(c)
            for c in self.sum_cols
        ]
        merged += [
            F.least(F.col(f"{c}_min"), F.coalesce(F.col(f"_old_{c}_min"),
                                                  F.col(f"{c}_min"))).alias(f"{c}_min")
            for c in self.min_cols
        ]
        merged += [
            F.greatest(F.col(f"{c}_max"), F.coalesce(F.col(f"_old_{c}_max"),
                                                     F.col(f"{c}_max"))).alias(f"{c}_max")
            for c in self.max_cols
        ]
        merged += [
            F.when(
                F.col(f"_old_{name}_regs").isNull(), F.col(f"{name}_regs")
            )
            .otherwise(
                F.zip_with(
                    F.col(f"{name}_regs"),
                    F.col(f"_old_{name}_regs"),
                    lambda a, b: F.greatest(a, b),
                )
            )
            .alias(f"{name}_regs")
            for name in self.hll_cols
        ]
        return j.select(*self.view_keys, *merged)

    # ---------- refresh ----------
    def _refresh_range(self, cursor: int, to_seq: int, run_id: str) -> dict:
        if cursor == 0:
            base = self.store.read(
                self.base_tier, as_of_seq=to_seq, keys=self.base_keys
            )
            upsert = None if base is None else self._aggregate(base)
            dead_keys = None
        else:
            upsert, dead_keys = self._incremental_upsert(cursor, to_seq)
        rows = 0
        cursor_target = to_seq
        if upsert is not None or dead_keys is not None:
            # upsert may be None on an all-recompute range whose base
            # read came back empty (every touched partition deleted):
            # the dead-group deletes must still commit
            if upsert is not None:
                upsert = upsert.persist()
            try:
                if dead_keys is not None:
                    dead_keys = dead_keys.persist()
                # ONE action materializes both persisted sides (the
                # counts gate whether anything commits at all): a
                # tagged union instead of two sequential count() jobs
                # — each job is ~0.2-0.4 s of fixed latency on a
                # lifecycle refresh (PERF.md §20 cost model)
                if upsert is not None and dead_keys is not None:
                    counts = {
                        int(r["_s"]): int(r["count"])
                        for r in upsert.select(F.lit(1).alias("_s"))
                        .unionByName(dead_keys.select(F.lit(0).alias("_s")))
                        .groupBy("_s")
                        .count()
                        .collect()
                    }
                    n_up = counts.get(1, 0)
                    n_dead = counts.get(0, 0)
                else:
                    n_up = upsert.count() if upsert is not None else 0
                    n_dead = dead_keys.count() if dead_keys is not None else 0
                if n_up > 0 or n_dead > 0:
                    seq = self.store.next_commit_seq()
                    if n_dead > 0:
                        # delete BEFORE the marker-carrying append (see
                        # class docstring crash-safety note)
                        self.store.delete(
                            self.view_tier,
                            dead_keys,
                            seq,
                            run_id,
                            keys=self.view_keys,
                        )
                    if n_up > 0:
                        rows = self.store.append(
                            self.view_tier,
                            upsert,
                            seq,
                            run_id,
                            idempotency_key=f"mv~{cursor}~{to_seq}",
                        )
                    else:
                        # delete-only refresh: commit the marker so a
                        # crash before the cursor write cannot re-run
                        # the range (append() records committed markers
                        # even for empty frames)
                        self.store.append(
                            self.view_tier,
                            (upsert if upsert is not None else dead_keys).limit(0),
                            seq,
                            run_id,
                            idempotency_key=f"mv~{cursor}~{to_seq}",
                        )
                    cursor_target = seq if seq == to_seq + 1 else to_seq
            finally:
                if upsert is not None:
                    upsert.unpersist()
                if dead_keys is not None:
                    dead_keys.unpersist()
        self._advance_cursor(cursor_target)
        return {"from_seq": cursor, "to_seq": cursor_target, "rows": rows}

    def _incremental_upsert(
        self, cursor: int, to_seq: int
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """(upsert rows, dead group keys) for the range (cursor, to_seq]."""
        ch = self.store.changes(
            self.base_tier,
            from_seq=cursor,
            to_seq=to_seq,
            keys=self.base_keys,
            split_updates=True,
            prune_partitions="bucket_start" in self.base_keys,
        )
        if ch is None:
            return None, None
        # ONE materialization for the whole decision layer (eager
        # localCheckpoint, guide §3.3): the changelog tree (version
        # scan + touched semi-join + dual-horizon aggregate) flows
        # STRAIGHT into the per-group partial aggregate — with the
        # ``_retract`` flag riding the same groupBy — and only that
        # O(touched groups) result is checkpointed. Its ``_retract==0``
        # rows ARE the merge path's insert partials (see _aggregate:
        # such a group has no pre-image rows, so the unconditional
        # measures equal the insert-only measures) and its
        # ``_retract==1`` keys are the recompute set. The previous
        # shape materialized the changelog AND a separate touched-key
        # aggregate, then re-aggregated the changelog for the merge
        # partials and semi-joined them back against the touched set —
        # two checkpoint actions, one re-aggregate and one broadcast
        # exchange more than this. Truncation is safe here
        # specifically: a refresh is crash-idempotent (the mv~from~to
        # marker protocol), so a lost checkpoint block fails the
        # refresh cleanly and the retry recomputes — never a wrong
        # result.
        part_agg = self._aggregate(ch, with_retract=True).localCheckpoint(
            eager=True
        )
        # One tiny action over the checkpointed partials decides which
        # paths exist AT ALL this range. Real ranges are usually
        # one-sided — steady-state appends are all-merge, a supersede
        # or backfill is all-recompute — and each path costs several
        # unique Catalyst plans (the merge path alone reads the view
        # tier and compiles the register zip_with fold; the recompute
        # path compiles the as-of base read + HLL re-aggregate).
        # Compiling the dead branch used to dominate the mixed-refresh
        # gate's wall time; data volume never did (PERF.md §26).
        # The recompute path's partition list rides the SAME collect
        # (grouped by touched date) instead of a second job (r6).
        span_dates = (
            self.group_date_span_days is not None
            and "bucket_start" in self.view_keys
        )
        date_col = (
            F.to_date("bucket_start")
            if span_dates
            else F.lit(None).cast("date")
        )
        stat_rows = (
            part_agg.groupBy(date_col.alias("_d"), "_retract")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        side_counts: dict[int, int] = {}
        recompute_days = set()
        for r in stat_rows:
            side_counts[int(r["_retract"])] = (
                side_counts.get(int(r["_retract"]), 0) + int(r["n"])
            )
            if int(r["_retract"]) == 1 and r["_d"] is not None:
                recompute_days.add(r["_d"])
        has_merge = side_counts.get(0, 0) > 0
        has_recompute = side_counts.get(1, 0) > 0
        recompute_keys = (
            part_agg.filter(F.col("_retract") == 1).select(*self.view_keys)
        )
        merged = None
        if has_merge:
            # -- merge path: fold insert partials into current rows.
            # update_after is included for the cross-group-move case (a
            # group col derived from a non-key column): the after-image
            # can land in a group whose only touch is that arrival —
            # without a retraction there, it merges like an insert. In
            # the common key-derived-group case the pair lands in ONE
            # group, which is then retraction-touched and recomputed,
            # so the merge path never sees it (review catch, r5).
            part = part_agg.filter(F.col("_retract") == 0).drop("_retract")
            merged = self._merge_rows(
                part, self.store.read(self.view_tier, keys=self.view_keys)
            )
        recomputed = None
        dead = None
        if has_recompute:
            # -- recompute path: re-aggregate touched groups from base
            p_dates = self._expand_span_dates(recompute_days) if span_dates else None
            base = self.store.read(
                self.base_tier,
                as_of_seq=to_seq,
                keys=self.base_keys,
                p_dates=p_dates,
            )
            if base is not None:
                # materialize + truncate: the recompute aggregate
                # (as-of base read + the full HLL/extrema aggregate —
                # the refresh's biggest logical tree) feeds the upsert
                # union AND the dead-group anti-join; the checkpoint
                # computes it once and every later action analyzes a
                # leaf scan instead of the whole tree (same retry-
                # idempotency argument as the changelog above)
                recomputed = self._aggregate(base).join(
                    F.broadcast(recompute_keys), list(self.view_keys), "semi"
                ).localCheckpoint(eager=True)
            if recomputed is None:
                dead = recompute_keys
            else:
                dead = recompute_keys.join(
                    recomputed.select(*self.view_keys), list(self.view_keys), "anti"
                )
        if merged is None:
            upsert = recomputed
        elif recomputed is None:
            upsert = merged
        else:
            upsert = merged.unionByName(recomputed)
        return upsert, dead

    def _expand_span_dates(self, days) -> list | None:
        """Partition list covering the recompute groups' base rows, when
        the view grain's date span is declared: each group's base rows
        live in [date(bucket_start), +span days). The touched dates come
        from the side-count collect (metadata-scale, same discipline as
        the changelog's touched-partition pruning — no extra job)."""
        from datetime import timedelta

        out = set()
        for d in days:
            for i in range(self.group_date_span_days):
                out.add(d + timedelta(days=i))
        return sorted(out) if out else None

    # ---------- serving ----------
    def read(self, as_of_seq: int | None = None) -> DataFrame | None:
        """Current (or as-of) view rows: newest-wins per group, delete
        masks applied by the store."""
        return self.store.read(
            self.view_tier, keys=self.view_keys, as_of_seq=as_of_seq
        )

    def read_with_estimates(self, as_of_seq: int | None = None) -> DataFrame | None:
        """:meth:`read` plus an ``<name>_est`` HLL cardinality estimate
        per register vector (raw HLL estimator; serving surface — the
        oracle-compared artifact is the registers themselves)."""
        from s1tiling_spark.operators.sketch import _hll_params

        df = self.read(as_of_seq)
        if df is None:
            return None
        _, _, alpha = _hll_params(self.hll_m)
        for name in self.hll_cols:
            inv_sum = F.aggregate(
                F.col(f"{name}_regs"),
                F.lit(0.0),
                lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double")),
            )
            df = df.withColumn(
                f"{name}_est",
                F.lit(alpha) * F.lit(float(self.hll_m)) ** 2 / inv_sum,
            )
        return df
