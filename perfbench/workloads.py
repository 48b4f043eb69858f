"""The benchmark's workloads. Each drives the engine only through its
public calls, times a closed loop (one client; the next operation starts
when the previous one returns), then checks every result against
DuckDB outside the timed window.

- ``cold_build``: full ``TierPipeline.run`` into empty stores.
- ``incremental_hourly``: one hour of new events lands, then a
  refresh; slices start at half past, so each refresh merges late rows
  into the newest committed hour.
- ``serve_dashboard``: read-only dashboard queries against a store
  holding several versions of every key.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from s1tiling_spark.functions.compression import (
    dod_decode,
    dod_encode,
    gorilla_decode,
    gorilla_encode,
)
from s1tiling_spark.operators.compress import compress_blocks, decompress_blocks
from s1tiling_spark.operators.gapfill import densify, linear_interpolate, locf
from s1tiling_spark.operators.rollup import (
    rollup_from_lower,
    rollup_sequences,
    token_hist_long,
)
from s1tiling_spark.plans.router import routed_range_totals_from_store
from s1tiling_spark.plans.store import TierStore, new_run_id
from s1tiling_spark.plans.tiers import TierPipeline, TierPipelineConfig
from s1tiling_spark.sources.sequences import BASE_TS, SPAN_MINUTES
from s1tiling_spark.sources.synth import synth_sequences

from oracle import HIST_KEYS, STAT_COLS, TIER_KEYS, Oracle, epoch_s, frames_match
from spans import Tracer
from stats import median

# input sizes (rows of the synthetic sequence table, 45 days of events)
N_ROWS = 10_000
# incremental: the store is built from everything before CUT; slice k
# holds the events of [CUT + k h, CUT + (k+1) h)
CUT = datetime(2024, 2, 1, 0, 30)
MAX_SLICES = 8
# serve: extra full re-appends of every served tier after the build
EXTRA_VERSIONS = 1
SERVED_TIERS = ("1h", "1d", "30d", "blocks_1h")
SOURCES = ("src_hot",) + tuple(f"src_{i}" for i in range(7))
LINEAGE = ("commit_seq", "run_id", "p_date")

BASE = datetime.fromisoformat(BASE_TS)
SPAN_HOURS = SPAN_MINUTES // 60


@dataclass
class Outcome:
    setup_s: float
    latencies: list = field(default_factory=list)  # seconds, untraced ops
    traced_latencies: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    store_bytes_per_row: float = 0.0
    notes: dict = field(default_factory=dict)  # workload-specific readouts
    layers: dict = field(default_factory=dict)  # per-layer metrics


class Run:
    """Shared plumbing of one benchmark process."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool,
                 threads: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.raw_dir = os.path.join(work, "raw")
        self.oracle = Oracle(os.path.join(self.raw_dir, "*.parquet"), threads)
        self.tracer = Tracer(spark) if trace else None
        self.errors: list[str] = []
        self.gate_s = 0.0

    # ---------- inputs ----------
    def generate(self, slice_hours: bool) -> None:
        """Write the seeded synthetic table. With ``slice_hours`` the rows
        from CUT on are split into hourly slices (``slice=k``) and the rows
        before CUT form the raw table; otherwise everything is raw."""
        gen = os.path.join(self.work, "gen")
        shutil.rmtree(gen, ignore_errors=True)
        shutil.rmtree(self.raw_dir, ignore_errors=True)
        seq = synth_sequences(self.spark, N_ROWS, seed=self.seed)
        if not slice_hours:
            seq.write.parquet(self.raw_dir)
            return
        since_cut = F.unix_timestamp("event_ts") - F.unix_timestamp(F.lit(CUT))
        sl = F.when(since_cut < 0, F.lit(-1)).otherwise(F.floor(since_cut / 3600))
        (seq.withColumn("slice", sl.cast("int"))
            .filter(F.col("slice") < MAX_SLICES)
            .write.partitionBy("slice").parquet(gen))
        self.land_slice(-1)

    def land_slice(self, k: int) -> int:
        """Move slice ``k``'s files into the raw table; returns its rows."""
        os.makedirs(self.raw_dir, exist_ok=True)
        rows = 0
        for f in sorted(glob.glob(os.path.join(self.work, "gen", f"slice={k}", "*.parquet"))):
            rows += pq.read_metadata(f).num_rows
            os.rename(f, os.path.join(self.raw_dir, f"s{k}-{os.path.basename(f)}"))
        return rows

    def raw(self):
        return self.spark.read.parquet(self.raw_dir)

    # ---------- tracing ----------
    def traced_op(self, i: int) -> bool:
        """In a traced run, odd operations are traced and even ones are
        not, so the tracing overhead is measured in the same process."""
        return bool(self.trace and i % 2 == 1)

    def timed(self, out: Outcome, i: int, op):
        """Run ``op`` once, timed; exceptions count as failures."""
        tracing = self.traced_op(i)
        if self.tracer:
            self.tracer.enabled = tracing
        t0 = time.perf_counter()
        try:
            result = op()
        except Exception as e:  # noqa: BLE001 — every failure is counted
            result = e
        dt = time.perf_counter() - t0
        (out.traced_latencies if tracing else out.latencies).append(dt)
        if tracing:
            self.tracer.enabled = False
            self.tracer.resolve()
        return result

    def loop_done(self, t_end: float, out: Outcome, batch: int = 1) -> bool:
        """The timed window is over once the next ``batch`` operations, if
        each takes as long as the median one so far, would end past
        ``t_end``. A run measures at least one operation (one of each kind
        when traced)."""
        done = out.latencies + out.traced_latencies
        if not out.latencies or (self.trace and not out.traced_latencies):
            return False
        return time.perf_counter() + batch * median(done) > t_end

    def check(self, out: Outcome, what: str, fn) -> None:
        """One gate check: counts as attempted, and as failed on a
        mismatch or exception."""
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            why = fn()
        except Exception as e:  # noqa: BLE001
            why = f"raised {type(e).__name__}: {e}"
        self.gate_s += time.perf_counter() - t0
        if why:
            out.failed += 1
            self.errors.append(f"{what}: {why}")

    # ---------- store state ----------
    def new_store(self, name: str) -> TierStore:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        store = TierStore(self.spark, path)
        if self.tracer:
            self.tracer.wrap_store(store)
        return store

    def bytes_per_row(self, store) -> float:
        """Bytes on disk under the store per row of the raw table."""
        return sum(self.tree(store.base_dir).values()) / self.oracle.raw_rows()

    @staticmethod
    def tree(path: str) -> dict[str, int]:
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
        return out

    def read_tier(self, store, tier: str):
        keys = HIST_KEYS if tier.startswith("hist") else TIER_KEYS
        return store.read(tier, keys=keys).drop(*LINEAGE).toPandas()

    def check_tiers(self, out: Outcome, store, tiers, hist: bool) -> None:
        """Every stored tier, histogram and decoded block against DuckDB."""
        want_1h = self.oracle.tier("1h")
        for t in tiers:
            want = want_1h if t == "1h" else self.oracle.tier(t)
            self.check(out, f"tier {t}", lambda t=t, want=want: frames_match(
                self.read_tier(store, t), want, TIER_KEYS, STAT_COLS))
        if hist:
            for t in ("hist_1d", "hist_30d"):
                self.check(out, f"tier {t}", lambda t=t: frames_match(
                    self.read_tier(store, t), self.oracle.hist(t[5:]),
                    HIST_KEYS, ("tok_cnt",)))
        want_pts = want_1h.rename(columns={"sum_n_tok": "value"})
        self.check(out, "blocks_1h decoded", lambda: frames_match(
            decode_blocks(store), want_pts, TIER_KEYS, ("value",)))

    def store_stats(self, store, tiers) -> dict:
        """Files and stored row versions of ``tiers`` against their live
        rows (the oracle's row counts; a block is one per source and 30d
        bucket)."""
        rows = files = live = 0
        for t in tiers:
            fl = store.files(t)
            files += len(fl)
            rows += sum(f["rows"] for f in fl)
            if t.startswith("hist_"):
                live += len(self.oracle.hist(t[5:]))
            else:
                live += len(self.oracle.tier("30d" if t == "blocks_1h" else t))
        return {
            "store.files_live": (float(files), "count"),
            "store.versions_per_live_row": (rows / live, "ratio"),
        }

    def compression_metrics(self) -> dict:
        """Gorilla / delta-of-delta kernels on each source's hourly
        token-sum series (the series blocks_1h encodes)."""
        t1h = self.oracle.tier("1h").sort_values("bucket_start")
        series = [(epoch_s(g["bucket_start"]), g["sum_n_tok"].to_numpy(dtype=np.float64))
                  for _, g in t1h.groupby("source")]
        points = sum(len(v) for _, v in series)
        t0 = time.perf_counter()
        enc = [(dod_encode(ts), gorilla_encode(v)) for ts, v in series]
        t_enc = time.perf_counter() - t0
        t0 = time.perf_counter()
        dec = [(dod_decode(a), gorilla_decode(b)) for a, b in enc]
        t_dec = time.perf_counter() - t0
        for (ts, v), (dts, dv) in zip(series, dec):
            if not (np.array_equal(ts, dts) and np.array_equal(v.view(np.uint64), dv.view(np.uint64))):
                raise AssertionError("compression round trip differs")
        nbytes = sum(len(a) + len(b) for a, b in enc)
        return {
            "compression.encode_points_per_s": (points / t_enc, "1/s"),
            "compression.decode_points_per_s": (points / t_dec, "1/s"),
            "compression.bytes_per_point": (nbytes / points, "B"),
        }


def decode_blocks(store, sources=None):
    blocks = store.read("blocks_1h", sources=sources)
    return decompress_blocks(blocks.withColumnRenamed("bucket_start", "block_start")).toPandas()


def gapfilled(store, source: str):
    tier = store.read("1h", sources=[source]).select("bucket_start", "source", "cnt", "sum_n_tok")
    return linear_interpolate(locf(densify(tier, "1h"), ["cnt"]), "sum_n_tok").toPandas()


# ---------------------------------------------------------------- cold_build
def cold_build(run: Run) -> Outcome:
    t0 = time.perf_counter()
    run.generate(slice_hours=False)
    out = Outcome(setup_s=time.perf_counter() - t0)
    rows = run.oracle.raw_rows()
    t_end = time.perf_counter() + run.seconds
    i = 0
    while not run.loop_done(t_end, out):
        store = run.new_store("store")
        pipe = TierPipeline(store)
        out.attempted += 1
        res = run.timed(out, i, lambda: _spanned(run, "tiers.run", lambda: pipe.run(run.raw())))
        if isinstance(res, Exception):
            out.failed += 1
            run.errors.append(f"build {i}: {res}")
        i += 1
    lat = out.latencies
    out.notes["rows_per_s"] = (rows * len(lat) / sum(lat), "1/s")
    out.store_bytes_per_row = run.bytes_per_row(store)
    run.check_tiers(out, store, ("1h", "1d", "30d"), hist=True)
    if run.trace:
        standalone_operators(run)
    return out


def _spanned(run: Run, name: str, fn):
    if run.tracer and run.tracer.enabled:
        with run.tracer.span(name):
            return fn()
    return fn()


def standalone_operators(run: Run) -> None:
    """Each rollup operator alone on the workload's input, forced to run
    by the ``noop`` sink."""
    raw = run.raw()
    t1h = rollup_sequences(raw, "1h").cache()
    t1h.count()
    calls = {
        "operators.rollup_1h": lambda: rollup_sequences(raw, "1h"),
        "operators.rollup_cascade": lambda: rollup_from_lower(rollup_from_lower(t1h, "1d"), "30d"),
        "operators.token_hist_1d": lambda: token_hist_long(raw, "1d"),
        "operators.compress_blocks": lambda: compress_blocks(t1h, "sum_n_tok"),
    }
    run.tracer.enabled = True
    for name, df in calls.items():
        with run.tracer.span(name):
            df().write.format("noop").mode("overwrite").save()
    run.tracer.enabled = False
    run.tracer.resolve()
    t1h.unpersist()


# -------------------------------------------------------- incremental_hourly
def incremental_hourly(run: Run) -> Outcome:
    t0 = time.perf_counter()
    run.generate(slice_hours=True)
    t1 = time.perf_counter()
    store = run.new_store("store")
    pipe = TierPipeline(store)
    pipe.run(run.raw())
    out = Outcome(setup_s=time.perf_counter() - t0)
    out.notes["generate_s"] = (t1 - t0, "s")
    out.notes["build_s"] = (time.perf_counter() - t1, "s")
    # the built store, before any refresh, so the figure does not depend
    # on how many refreshes fit in the window
    out.store_bytes_per_row = run.bytes_per_row(store)
    first = 0
    if run.trace:
        # warm the refresh path first, so the untraced refresh the traced
        # one is compared with does not carry first-call warm-up
        run.land_slice(0)
        pipe.run(run.raw())
        first = 1

    wm_tiers = ("1h", "hist_1d", "hist_30d", "blocks_1h")
    fresh = []  # slice rows of traced refreshes
    untraced_rows = 0
    rows_in = {t: [] for t in wm_tiers}
    written = []
    t_end = time.perf_counter() + run.seconds
    i = 0
    while not run.loop_done(t_end, out) and first + i < MAX_SLICES:
        tracing = run.traced_op(i)
        if tracing:
            wms = {t: _wm(store, t) for t in wm_tiers}
            before = run.tree(store.base_dir)
        new_rows = run.land_slice(first + i)
        out.attempted += 1
        res = run.timed(out, i, lambda: _spanned(run, "tiers.run", lambda: pipe.run(run.raw())))
        if isinstance(res, Exception):
            out.failed += 1
            run.errors.append(f"refresh {i}: {res}")
        elif not tracing:
            untraced_rows += new_rows
        else:
            fresh.append(new_rows)
            after = run.tree(store.base_dir)
            new = {p: s for p, s in after.items() if before.get(p) != s}
            written.append((len(new), sum(new.values())))
            o = run.oracle
            raw_sql = f"SELECT * FROM {o.raw}"
            rows_in["1h"].append(o.watermark_rows_in(raw_sql, "event_ts", wms["1h"]))
            rows_in["hist_1d"].append(o.watermark_rows_in(raw_sql, "event_ts", wms["hist_1d"]))
            rows_in["hist_30d"].append(o.watermark_rows_in(o.hist_sql("1d"), "bucket_start", wms["hist_30d"]))
            rows_in["blocks_1h"].append(o.watermark_rows_in(o.tier_sql("1h"), "bucket_start", wms["blocks_1h"]))
        i += 1
    slices = len(out.latencies) + len(out.traced_latencies)
    out.notes["slices"] = (float(slices), "count")
    out.notes["rows_per_s"] = (untraced_rows / sum(out.latencies), "1/s")

    run.check_tiers(out, store, ("1h", "1d", "30d"), hist=True)
    if run.trace:
        n = len(fresh) or 1
        runs = run.tracer.of("tiers.run")
        tot = run.tracer.totals(runs)
        per_run = len(runs) or 1
        rows_read = tot["input_rows"] / per_run
        mean_fresh = sum(fresh) / n
        out.layers.update({
            "tiers.fresh_rows": (mean_fresh, "count"),
            "sources.input_rows_read": (rows_read, "count"),
            "sources.input_bytes_read": (tot["input_bytes"] / per_run, "B"),
            "tiers.scan_per_fresh_row": (rows_read / mean_fresh if mean_fresh else 0.0, "ratio"),
            "store.files_written": (sum(f for f, _ in written) / n, "count"),
            "store.bytes_written": (sum(b for _, b in written) / n, "B"),
        })
        for t, v in rows_in.items():
            out.layers[f"tiers.rows_in.{t}"] = (sum(v) / n, "count")
        out.layers.update(run.store_stats(
            store, ("1h", "1d", "30d", "hist_1d", "hist_30d", "blocks_1h")))
        standalone_operators(run)
    return out


def _wm(store, tier: str):
    wm = store.read_watermarks(tier)
    return None if wm is None else wm.toPandas()


# ----------------------------------------------------------- serve_dashboard
def build_served_store(run: Run) -> tuple[TierStore, int]:
    """Store with every served tier, then ``EXTRA_VERSIONS`` full
    re-appends of each, so every key has several uncompacted versions."""
    store = run.new_store("store")
    TierPipeline(store, TierPipelineConfig(hist=False)).run(run.raw())
    base_seq = store.last_commit_seq()
    for _ in range(EXTRA_VERSIONS):
        rid = new_run_id()
        for t in SERVED_TIERS:
            again = store.read(t).drop(*LINEAGE)
            store.append(t, again, store.next_commit_seq(), rid)
    return store, base_seq


# routed ranges come in three length classes (hours, days, weeks) so every
# seed gets the same mix of one-tier and three-tier plans; the length is
# log-uniform inside its class
RANGE_CLASSES_H = ((1, 24), (24, 240), (240, SPAN_HOURS))


def random_range(rng: random.Random, cls: int) -> tuple[datetime, datetime]:
    """Hour-aligned range of a log-uniform length within length class ``cls``."""
    lo_h, hi_h = RANGE_CLASSES_H[cls]
    hours = int(lo_h * (hi_h / lo_h) ** rng.random())
    start = rng.randrange(0, SPAN_HOURS - hours + 1)
    lo = BASE + timedelta(hours=start)
    return lo, lo + timedelta(hours=hours)


def serve_dashboard(run: Run) -> Outcome:
    t0 = time.perf_counter()
    run.generate(slice_hours=False)
    out = Outcome(setup_s=0.0)
    out.notes["generate_s"] = (time.perf_counter() - t0, "s")
    t1 = time.perf_counter()
    store, base_seq = build_served_store(run)
    out.notes["build_s"] = (time.perf_counter() - t1, "s")

    def panel(kind, v):
        rng = run.rng
        if kind in ("routed", "asof"):
            lo, hi = random_range(rng, (v + (kind == "asof")) % len(RANGE_CLASSES_H))
            as_of = base_seq if kind == "asof" else None
            return kind, (lo, hi), lambda: _spanned(run, "router.query", lambda: routed_range_totals_from_store(
                store, lo, hi, as_of_seq=as_of).toPandas())
        src = rng.choice(SOURCES)
        if kind == "gapfill":
            return kind, src, lambda: _spanned(run, "operators.gapfill", lambda: gapfilled(store, src))
        return kind, src, lambda: _spanned(run, "operators.decompress_blocks",
                                           lambda: decode_blocks(store, [src]))

    def view(v):
        """Dashboard view ``v``: the four panels in a seeded order. A panel
        that raises keeps its exception as its answer."""
        kinds = ["routed", "gapfill", "blocks", "asof"]
        run.rng.shuffle(kinds)
        panels = [panel(k, v) for k in kinds]

        def op():
            res = []
            for kind, arg, fn in panels:
                t = time.perf_counter()
                try:
                    r = fn()
                except Exception as e:  # noqa: BLE001
                    r = e
                res.append((kind, arg, r, time.perf_counter() - t))
            return res
        return op

    # one untimed view so the timed ones do not pay first-call warm-up
    answers = view(0)()
    out.setup_s = time.perf_counter() - t0
    out.store_bytes_per_row = run.bytes_per_row(store)

    # views run in rounds of one per range class, so every run weighs the
    # classes equally
    by_kind: dict[str, list[float]] = {}
    per_round = len(RANGE_CLASSES_H)
    t_end = time.perf_counter() + run.seconds
    i = 0
    while not run.loop_done(t_end, out, per_round):
        for _ in range(per_round):
            res = run.timed(out, i, view(i + 1))
            for kind, _arg, _r, dt in res:
                by_kind.setdefault(kind, []).append(dt)
            answers += res
            i += 1

    for kind, arg, res, _dt in answers:
        run.check(out, f"{kind} {arg}", lambda kind=kind, arg=arg, res=res: _verify(run, kind, arg, res))
    out.notes.update({f"{k}_p50_ms": (1000 * median(v), "ms") for k, v in by_kind.items()})
    if run.tracer:
        out.layers.update(run.store_stats(store, SERVED_TIERS))
    return out


def _verify(run: Run, kind: str, arg, res) -> str | None:
    if isinstance(res, Exception):
        return f"raised {type(res).__name__}: {res}"
    o = run.oracle
    if kind in ("routed", "asof"):
        return frames_match(res, o.range_totals(*arg), ("source",), ("cnt", "sum_n_tok"))
    if kind == "gapfill":
        return frames_match(res, o.gapfill(arg), ("bucket_start",),
                            ("cnt", "sum_n_tok", "gap_filled"), rtol=1e-9)
    want = o.tier("1h")
    want = want[want["source"] == arg].rename(columns={"sum_n_tok": "value"})
    return frames_match(res, want, TIER_KEYS, ("value",))


# per-layer metrics beside the per-span ones (spans.SPANS); a workload
# that never reaches a layer reports 0 for it
EXTRA_LAYERS = {
    "tiers.self_s": "s",
    "router.self_s": "s",
    "tiers.fresh_rows": "count",
    "sources.input_rows_read": "count",
    "sources.input_bytes_read": "B",
    "tiers.scan_per_fresh_row": "ratio",
    "tiers.rows_in.1h": "count",
    "tiers.rows_in.hist_1d": "count",
    "tiers.rows_in.hist_30d": "count",
    "tiers.rows_in.blocks_1h": "count",
    "store.files_written": "count",
    "store.bytes_written": "B",
    "store.versions_per_live_row": "ratio",
    "store.files_live": "count",
    "compression.encode_points_per_s": "1/s",
    "compression.decode_points_per_s": "1/s",
    "compression.bytes_per_point": "B",
    "trace.overhead_frac": "ratio",
    "trace.ops": "count",
}


def layer_metrics(run: Run, out: Outcome) -> dict:
    tr = run.tracer
    m = {k: (0.0, u) for k, u in EXTRA_LAYERS.items()}
    m.update(tr.layer_metrics(len(out.traced_latencies)))
    for name, key in (("tiers.run", "tiers.self_s"), ("router.query", "router.self_s")):
        spans = tr.of(name)
        if spans:
            m[key] = (sum(tr.self_time(s) for s in spans) / len(spans), "s")
    m.update(out.layers)
    m.update(run.compression_metrics())
    m["trace.overhead_frac"] = (
        median(out.traced_latencies) / median(out.latencies) - 1, "ratio")
    m["trace.ops"] = (float(len(out.traced_latencies)), "count")
    return m


WORKLOADS = {
    "cold_build": cold_build,
    "incremental_hourly": incremental_hourly,
    "serve_dashboard": serve_dashboard,
}
