"""Incremental tier pipeline: one refresh = one plan, one commit.

The planner is the Spark reincarnation of the reference's task pruning:
"Ignoring %s as the product already exists"
(`/root/reference/s1tiling/libs/otbpipeline.py:749-756`) plus
restart-from-existing-files (`otbpipeline.py:814-819`). Instead of
testing file existence per product, each tier keeps a per-source
watermark (start of the newest materialized bucket). A refresh:

1. loads every tier's watermarks from the store's refresh record (one
   small JSON file, no Spark job) and allocates ONE commit seq;
2. plans each tier's fresh input with literal filters that push down:
   raw rows at/after their source's 1h / hist_1d watermark, and, for
   the cascades (1d, 30d, hist_30d, blocks_1h), the lower tier read
   with partition pruning to the dates at/after the upper tier's
   oldest watermark, then the same per-source filter on bucket_start.
   Sources a tier has no watermark for pass whole. The last committed
   bucket is recomputed in full, so late rows landing in it are MERGED
   idempotently — the north rule's late-data requirement, which the
   reference explicitly does NOT handle
   (`docs/dataflow-main.rst:148-155`);
3. appends all six tier deltas under that seq with lineage columns
   (commit_seq, run_id) — dedup-on-read gives MERGE semantics. Rows in
   and out of every tier are counted by Observations riding the writes.
   The six appends run as a dependency schedule, the Spark analog of
   the reference's Dask task graph (`otbpipeline.py:766-820`): one
   thread per tier, each starting once the tier below it is written
   (1h → 1d → 30d, 1h → blocks_1h, hist_1d → hist_30d), so the fixed
   cost of independent Spark jobs overlaps. A failed step fails the
   steps above it and the refresh re-raises its exception before the
   commit point, so a failure in any step still leaves the old record;
4. reads the new watermarks back from the files this refresh wrote
   (two columns, driver-side, no Spark job), then atomically replaces
   the refresh record (watermarks, seq, run id, per-tier metrics) — the
   commit point. A crash anywhere before it leaves the old record, so
   the next refresh re-runs the same buckets and dedup-on-read keeps
   the newest copy → identical final state (the kill-resume guarantee,
   mirroring the reference's masks-only restart test
   `tests/test_0200306-NR.py:178-256`). A store without a record gets
   a full recompute.

Skew: groupBy partial aggregation already collapses the hot source
map-side (the aggregate equivalent of salting), and AQE handles skewed
shuffle reads. Where partial agg can't help — grouped-map kernels like
block compression, where one (source, block) group is one Python worker
call — an explicit salt sub-splits hot groups (see
``operators/compress.py`` + ``salt_col``). MEASURED at an 80 %-hot
source (PERF.md §14): cascade
1.15× hot-vs-uniform (neutral), salted compress 6.3× over unsalted,
AQE skew-join split 2.3× with `skew=true` in the final plan.
"""

from __future__ import annotations

import datetime as dt
import functools
import time
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from s1tiling_spark.operators.compress import compress_blocks
from s1tiling_spark.operators.rollup import (
    merge_hist_long,
    rollup_from_lower,
    rollup_sequences,
    token_hist_long,
)
from s1tiling_spark.plans.store import DEFAULT_KEYS, TierStore, new_run_id

STAT_COLS = ("bucket_start", "source", "cnt", "sum_n_tok", "min_n_tok", "max_n_tok")
HIST_KEYS = ("bucket_start", "source", "bin")


def salt_col(key: Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts) from a high-cardinality key."""
    return F.pmod(F.xxhash64(key), F.lit(n_salts)).cast("int")


def _sql_list(values) -> str:
    """``values`` (strings) as a Spark SQL ``IN`` list, sorted."""
    quoted = ("'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
              for v in sorted(values))
    return f"({', '.join(quoted)})"


def _unseen(sources) -> str:
    """SQL: rows whose source is not one of ``sources`` (null sources
    too). Predicates are built as SQL text — one JVM call to parse,
    where the Column API costs one per literal."""
    if not sources:
        return "TRUE"
    return f"(source IS NULL OR source NOT IN {_sql_list(sources)})"


def _at_or_after(ts_col: str, wm: dict[str, int]) -> Column | None:
    """Rows at/after their source's watermark (epoch micros); sources
    without one pass whole. Sources sharing a watermark share one term,
    so the predicate grows with the distinct watermarks, not the
    sources. None when there is nothing to filter."""
    if not wm:
        return None
    by_wm: dict[int, list[str]] = {}
    for src, us in wm.items():
        by_wm.setdefault(int(us), []).append(src)
    terms = [_unseen(wm)] + [
        f"(source IN {_sql_list(srcs)} AND {ts_col} >= timestamp_micros({us}))"
        for us, srcs in sorted(by_wm.items())
    ]
    return F.expr(" OR ".join(terms))


@dataclass
class TierPipelineConfig:
    tiers: tuple[str, ...] = ("1h", "1d", "30d")
    hist: bool = True
    compress: bool = True
    compress_value: str = "sum_n_tok"


@dataclass
class TierPipeline:
    store: TierStore
    cfg: TierPipelineConfig = field(default_factory=TierPipelineConfig)

    def run(self, seq: DataFrame, run_id: str | None = None) -> dict:
        """One incremental refresh over the (possibly grown) raw table."""
        return _Refresh(self.store, self.cfg, run_id or new_run_id()).run(seq)


class _Refresh:
    """The state of one refresh: the committed watermarks it plans
    from, its commit seq, and what it has written so far."""

    def __init__(self, store: TierStore, cfg: TierPipelineConfig, run_id: str):
        self.store = store
        self.cfg = cfg
        self.run_id = run_id
        self.wm: dict[str, dict[str, int]] = store.refresh_state().get(
            "watermarks", {}
        )
        self.commit_seq = store.next_commit_seq()
        self.unseen_rows: dict[str, int] = {}
        self.metrics: dict[str, dict] = {}

    def _fresh(self, df: DataFrame, ts_col: str, tier: str):
        """``df`` filtered to ``tier``'s fresh rows, observed: rows in,
        and rows whose source lies outside :attr:`known`."""
        cond = _at_or_after(ts_col, self.wm.get(tier, {}))
        if cond is not None:
            df = df.filter(cond)
        obs = Observation()
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.expr(f"count_if({_unseen(self.known)})").alias("unseen"),
        ), obs

    def _write(self, tier: str, delta: DataFrame, obs: Observation, t0: float) -> None:
        rows_out = self.store.append(tier, delta, self.commit_seq, self.run_id)
        try:
            seen = obs.get
        except Py4JJavaError:
            # the write ran without the observed plan: the optimizer
            # drops it when its input is provably empty (an empty local
            # relation), so the observation never reports
            seen = {"rows_in": 0, "unseen": 0}
        self.unseen_rows[tier] = int(seen["unseen"])
        self.metrics[tier] = {
            "run_id": self.run_id,
            "tier": tier,
            "partition": "*",
            "rows_in": int(seen["rows_in"]),
            "rows_out": rows_out,
            "errors": 0,
            "wall_ms": int((time.time() - t0) * 1000),
        }

    def _cascade(self, lower: str, upper: str, build, cols=STAT_COLS,
                 keys=DEFAULT_KEYS) -> None:
        """``upper`` from the deduped ``lower`` tier, read only from the
        date partitions at/after ``upper``'s oldest watermark (one day
        of margin keeps the date right in any session time zone). The
        whole tier is read when ``upper`` has no watermarks, or when
        ``lower`` may hold a source ``upper`` has none for: one
        ``lower``'s record names, or one in this refresh's ``lower``
        delta outside :attr:`known`."""
        t0 = time.time()
        wm = self.wm.get(upper)
        p_dates = None
        lower_srcs = set(self.wm.get(lower, ()))
        if wm and not self.unseen_rows.get(lower, 1) and lower_srcs <= set(wm):
            cut = dt.datetime.fromtimestamp(min(wm.values()) / 1e6, dt.timezone.utc)
            cut = (cut.date() - dt.timedelta(days=1)).isoformat()
            p_dates = [d for d in self.store.partition_dates(lower) if d >= cut]
        lower_df = self.store.read(lower, keys=keys, p_dates=p_dates)
        if lower_df is None:
            return
        fresh, obs = self._fresh(lower_df.select(*cols), "bucket_start", upper)
        self._write(upper, build(fresh), obs, t0)

    def _base(self, seq: DataFrame, tier: str, build) -> None:
        """``tier`` from the raw rows at/after its watermarks."""
        t0 = time.time()
        fresh, obs = self._fresh(seq, "event_ts", tier)
        self._write(tier, build(fresh), obs, t0)

    def _schedule(self, seq: DataFrame) -> list[tuple[str, str | None, Callable[[], None]]]:
        """The refresh's tier writes as ``(tier, lower tier, step)``, in
        dependency order: 1h and hist_1d come from the raw rows, every
        other tier cascades from the one below it."""
        cfg = self.cfg
        part = functools.partial
        stat = ("1h",) + tuple(t for t in cfg.tiers if t != "1h")
        steps = [("1h", None, part(self._base, seq, "1h", part(rollup_sequences, tier="1h")))]
        steps += [
            (upper, lower, part(self._cascade, lower, upper, part(rollup_from_lower, tier=upper)))
            for lower, upper in zip(stat, stat[1:])
        ]
        if cfg.hist:
            steps += [
                ("hist_1d", None,
                 part(self._base, seq, "hist_1d", part(token_hist_long, tier="1d"))),
                ("hist_30d", "hist_1d",
                 part(self._cascade, "hist_1d", "hist_30d", part(merge_hist_long, tier="30d"),
                      cols=(*HIST_KEYS, "tok_cnt"), keys=HIST_KEYS)),
            ]
        if cfg.compress:
            steps.append(("blocks_1h", "1h", part(
                self._cascade, "1h", "blocks_1h",
                lambda fresh: compress_blocks(fresh, cfg.compress_value)
                .withColumnRenamed("block_start", "bucket_start"),
                cols=("bucket_start", "source", cfg.compress_value),
            )))
        return steps

    def _step(self, tier: str, lower: Future | None, step: Callable[[], None]) -> None:
        """Run ``step`` once its lower tier's write has finished; a
        failed lower write fails this step with the same exception. Its
        jobs are described as ``tiers/<run_id>/<tier>`` and keep the
        caller's job group."""
        if lower is not None:
            lower.result()
        self.store.spark.sparkContext.setJobDescription(f"tiers/{self.run_id}/{tier}")
        step()

    def run(self, seq: DataFrame) -> dict:
        steps = self._schedule(seq)
        # sources every tier of this refresh has a watermark for; an
        # input row outside them may carry a source some upper tier
        # has never seen, which disables that cascade's date pruning
        self.known = set.intersection(*(set(self.wm.get(t, ())) for t, _, _ in steps))
        # one thread per step, so a step waiting on its lower tier never
        # holds back another; Spark runs jobs from separate threads
        # concurrently. Each thread is wrapped when submitted, so it
        # starts from its own copy of the caller's local properties
        # (job group included).
        with ThreadPoolExecutor(len(steps), thread_name_prefix="tiers") as pool:
            futures: dict[str, Future] = {}
            for tier, lower, step in steps:
                target = inheritable_thread_target(self.store.spark)(self._step)
                futures[tier] = pool.submit(target, tier, futures.get(lower), step)
            for f in futures.values():
                f.result()
        metrics = [self.metrics[t] for t, _, _ in steps if t in self.metrics]
        # the commit point: the watermarks of what this refresh wrote,
        # read back from its own files, replace the record atomically
        wms = {
            m["tier"]: self.store.commit_watermarks(m["tier"], self.commit_seq)
            for m in metrics if m["rows_out"]
        }
        self.store.commit_refresh(self.commit_seq, self.run_id, wms, metrics)
        return {
            "run_id": self.run_id,
            "commit_seq": self.commit_seq,
            "metrics": metrics,
            "rows_out_total": sum(m["rows_out"] for m in metrics),
        }
