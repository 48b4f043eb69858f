"""Tier table store: MERGE-semantics sink + refresh record (watermarks, metrics).

This is the engine's custom machinery (SURVEY §4 "custom-rule verdict"):
the reference's incremental re-run layer — skip any task whose product
file already exists (`product_exists` `/root/reference/s1tiling/libs/
meta.py:95-103`; pruning `otbpipeline.py:749-756`; restart-from-existing
`otbpipeline.py:814-819`) — generalized to snapshot/watermark bookkeeping
over tier tables.

Sandbox note: no Iceberg catalog is available, so MERGE is abstracted
(SURVEY §7 "What's hard" #2) as *append + dedup-on-read*: every write
carries a monotonically increasing ``commit_seq`` lineage column; readers
keep the newest version of each (bucket_start, source) with one
max-of-struct(commit_seq, values…) aggregate per key
(:meth:`TierStore._newest_wins`). On a real deployment the same
interface maps to Iceberg ``MERGE INTO`` + snapshot ids; the
watermark/planner logic is unchanged. Atomicity mirrors the reference's tmp→rename commit
(`steps.py:123-145`): parquet writes go to a ``_tmp`` dir and are
renamed into place, and the refresh record (watermarks, seq, run id,
metrics — one JSON file) is replaced only after the data renames — a
crash between the two is repaired by recomputation + dedup-on-read
(idempotent).

Partition layout: tier tables are written partitioned by ``p_date``
(the bucket's calendar date) — the analog of the reference's
tile/date directory scheme — so bucket-range reads prune partitions.
Each ``p_date=<date>/`` dir holds ``*.parquet`` data files whose name
encodes the commit that wrote them: ``c<seq>-`` (an append),
``m<maxseq>-`` (a compact output) or unprefixed (legacy data).
:meth:`TierStore._data_files` is the sole owner of these rules — every
walk of a tier's live data files goes through it.

Commit visibility — which row versions a horizon serves, given WAP
remaps, hidden staged commits, rollback ranges, the compaction horizon
and the retention floor — has one owner too: :class:`Visibility`,
loaded once per store operation by :meth:`TierStore._visibility`. Every
reader (``read``, ``read_summed``, ``read_incremental``, ``changes``,
``snapshots``, compaction, the ``tier_store`` stream) resolves rows
through it, and it raises the one "predates the compaction horizon"
guard.

Serving snapshots: :meth:`TierStore.snapshot` keeps the deduped tier
at the head, or at one as-of horizon, persisted for reuse across
queries (the router serves from it). ``read`` itself stays uncached.
- Key: ``(tier, as_of_seq)`` plus the live data files (relative
  path, size, mtime), the :class:`Visibility` record and the
  ``_deletes/`` file names. It is re-derived on every call and never
  trusted across calls, so a commit through any store instance or
  process (append, delete, WAP stage/publish/abandon, rollback,
  compact, expire, schema op) rebuilds the snapshot on its next use.
- Bound: one head and one as-of snapshot per tier and store instance;
  a new horizon or commit state unpersists the one it replaces, and a
  discarded store unpersists its own.
- Release: every snapshot is registered with ``operators/cache.py``,
  so ``release_cached()`` frees it; a released snapshot is rebuilt on
  its next use.
- Fill: a snapshot is persisted lazily and filled by the first query
  that uses it; an as-of snapshot probes once, at build, whether the
  tier has rows at its horizon.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import threading
import time
import uuid
import weakref
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the refresh record: watermarks, last commit and run metrics
STATE_FILE = "_refresh_state.json"
METRICS_SCHEMA = (
    "run_id string, tier string, partition string, rows_in long, "
    "rows_out long, errors long, wall_ms long"
)

# crashed-append staging dirs younger than this are presumed to be a
# live concurrent writer's and are left alone by the repair GC
STAGING_GC_AGE_S = 6 * 3600.0

# metadata mutex held longer than this is a crashed holder (the
# critical sections are single-JSON read-modify-writes, milliseconds)
META_MUTEX_STALE_S = 300.0

# after acquiring the maintenance lock, a multi_writer compact waits
# this long for append move-phases that passed their lock check just
# before the acquisition to drain (a move phase is a handful of
# renames — milliseconds; the grace is three orders of magnitude over)
MAINT_GRACE_S = 2.0


class ConcurrentCommitError(RuntimeError):
    """A maintenance rewrite raced a live writer's in-flight commit —
    the file-store analog of an Iceberg commit failing optimistic
    validation. Retry after the concurrent commit lands."""

# the stat tiers' natural key — the single source for read()'s dedup,
# compact()'s rewrite, maybe_compact()'s probe and the CLI default
# (a drifted copy would make the probe measure one key and the
# rewrite dedup another)
DEFAULT_KEYS = ("bucket_start", "source")


def _sum_exprs(sum_cols: tuple[str, ...]) -> list:
    """The additive fold, shared by read_summed and sum-mode compact —
    the two MUST agree exactly for compaction to be invisible to
    readers (asserted by test_additive_tier_sum_compaction)."""
    return [F.sum(c).alias(c) for c in sum_cols]


def _metrics_row(r: dict) -> dict:
    """A metrics row as the refresh record stores it (the fields of
    :data:`METRICS_SCHEMA`)."""
    return {
        "run_id": r["run_id"],
        "tier": r["tier"],
        "partition": r.get("partition", "*"),
        "rows_in": int(r["rows_in"]),
        "rows_out": int(r["rows_out"]),
        "errors": int(r.get("errors", 0)),
        "wall_ms": int(r["wall_ms"]),
    }


def atomic_json_write(path: str, obj) -> None:
    """Write JSON via tmp→rename (the reference's atomic-commit
    discipline, `steps.py:123-145`) — shared by every metadata file in
    the store family (commit seq, compaction horizon, index meta)."""
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class DataFile(NamedTuple):
    """One data file yielded by :meth:`TierStore._data_files`."""

    part: str  # partition dir name, ``p_date=<date>``
    name: str
    path: str
    rel: str  # ``<part>/<name>``
    kind: str | None  # "c" (append), "m" (compact output), None (legacy)
    seq: int | None  # the commit seq (c) or max commit seq (m) in the name

    @property
    def p_date(self) -> str:
        return self.part[len("p_date="):]


def _unpersist_snapshots(snapshots: dict) -> None:
    """Free a discarded store's serving snapshots."""
    for _key, cached, _served in snapshots.values():
        try:
            cached.unpersist()
        except Exception:
            pass
    snapshots.clear()


class Visibility(NamedTuple):
    """One tier's commit-visibility metadata — the single owner of
    which row versions a horizon serves. Built by
    :meth:`TierStore._visibility` from ONE compact-meta load and ONE
    rollback-file load per store operation, and never cached across
    calls (another writer may publish, roll back or compact between
    two reads).

    - ``remap``: published WAP commit, staged seq → publish seq (the
      file keeps its staged name until compaction bakes the remap);
    - ``hidden``: staged, abandoned and unmerged-branch seqs — never
      served unless a read exposes them (audit seq, branch chain);
    - ``rollbacks``: voided ``(lo, hi]`` commit ranges — invisible to
      any read whose horizon is PAST the rollback (``as_of > hi`` or
      current), still visible to as-of reads INSIDE the range
      (orphaned history stays readable until a compaction expires it,
      like Iceberg's orphan snapshots before ``expire_snapshots``);
    - ``min_as_of``: the compaction horizon — history below it is gone;
    - ``retention``: (oldest retained date, expiry seq) of the last
      :meth:`TierStore.expire`, or (None, 0);
    - ``schema_ops``: the rename/drop/widen ops still live above the
      compaction horizon (older ones are baked into the files),
      seq-ascending — the columns a read resolves against the same
      metadata view as its rows."""

    tier: str
    remap: dict
    hidden: frozenset
    rollbacks: tuple
    min_as_of: int
    retention: tuple
    schema_ops: tuple

    def check(self, seq: int, what: str = "snapshot as_of_seq") -> None:
        """The horizon guard: a read that needs exact history at
        ``seq`` raises rather than serve a silently wrong answer from
        a compacted table."""
        if int(seq) < self.min_as_of:
            raise ValueError(
                f"tier {self.tier!r}: {what}={seq} predates the compaction "
                f"horizon min_as_of={self.min_as_of}; history below it was "
                "expired (compact with expire_below to retain older "
                "snapshots)"
            )

    def as_of(self, df: DataFrame, seq: int, p_dates=None, chain=()) -> DataFrame:
        """Time travel: restrict ``df`` to versions committed at or
        before ``seq`` (plus a branch's own ``chain`` commits, which
        sit past its base horizon), after :meth:`check`.

        Retention carve-out: :meth:`TierStore.expire` physically drops
        date partitions, so a state committed before the expiry may be
        missing those dates — raise unless ``p_dates`` scopes the read
        to surviving dates (the explicit acknowledgment). States at or
        past the expiry seq reflect post-retention reality. The
        changelog does not come through here: it diffs two states read
        from the same surviving files, so expired dates vanish from
        both sides and incremental consumers keep working."""
        self.check(seq)
        floor_date, floor_seq = self.retention
        if floor_date is not None and int(seq) < floor_seq and (
            p_dates is None or any(str(d) < floor_date for d in p_dates)
        ):
            raise ValueError(
                f"tier {self.tier!r}: snapshot as_of_seq={seq} predates the "
                f"retention expiry at seq {floor_seq} (dates < {floor_date} "
                f"were dropped); pass p_dates >= {floor_date} to read the "
                "surviving dates of that state"
            )
        cond = F.col("commit_seq") <= int(seq)
        if chain:
            cond = cond | F.col("commit_seq").isin(list(chain))
        return df.filter(cond)

    def expose(self, df: DataFrame, exposed=()) -> DataFrame:
        """WAP semantics as column algebra on ``commit_seq``: published
        staged seqs are remapped to their publish seq (before any as-of
        filter or newest-wins pick, so they order exactly like a fresh
        commit), every other staged seq is hidden unless ``exposed``
        (an audit read's seq, a branch read's chain)."""
        if self.remap:
            expr = F.col("commit_seq")
            for old, new in sorted(self.remap.items()):
                expr = F.when(F.col("commit_seq") == old, F.lit(new)).otherwise(expr)
            df = df.withColumn("commit_seq", expr)
        hide = sorted(self.hidden - set(exposed))
        if hide:
            df = df.filter(~F.col("commit_seq").isin(hide))
        return df

    def _voided_at(self, h: int | None) -> list:
        return [(lo, hi) for lo, hi in self.rollbacks if h is None or int(h) > hi]

    def rolled_back(self, h: int | None = None):
        """Row predicate: the version is voided by a rollback at
        horizon ``h`` (None = current)."""
        seq, pred = F.col("commit_seq"), F.lit(False)
        for lo, hi in self._voided_at(h):
            pred = pred | ((seq > lo) & (seq <= hi))
        return pred

    def unvoided(self, df: DataFrame, h: int | None = None) -> DataFrame:
        """Drop the versions rolled back at horizon ``h`` — a range
        predicate Catalyst folds into the scan filter."""
        return df.filter(~self.rolled_back(h)) if self._voided_at(h) else df

    def voided(self, seq: int) -> bool:
        """Python-side :meth:`rolled_back` at the current horizon, for
        the driver-side file planners."""
        return any(lo < seq <= hi for lo, hi in self.rollbacks)

    def crossings(self, from_seq: int, to_seq: int) -> list:
        """The rollback ranges whose mask is off at ``from_seq`` and on
        at ``to_seq`` — their voided commits change visibility inside
        ``(from_seq, to_seq]`` however old they are."""
        return [(lo, hi) for lo, hi in self.rollbacks if from_seq <= hi < to_seq]


class TierStore:
    """Directory-backed tier-table store with MERGE-on-read semantics."""

    def __init__(
        self, spark: SparkSession, base_dir: str, multi_writer: bool = False
    ):
        """``multi_writer``: set when more than one PROCESS writes this
        store concurrently (e.g. a streaming sink plus a maintenance
        daemon). Adds the maintenance-grace wait to compaction
        (:data:`MAINT_GRACE_S`); the seq CAS, the meta mutex, the
        maintenance lock and append's wait-on-maintenance are always
        on — only the grace sleep is gated, so the single-process test
        path stays fast."""
        self.spark = spark
        self.base_dir = base_dir
        self.multi_writer = bool(multi_writer)
        # declared-schema memo for append's write-time alignment —
        # avoids re-inferring the tier schema on every micro-batch
        # append; invalidated by schema ops, refreshed before any raise
        self._declared_types: dict[str, dict[str, str]] = {}
        # footer-schema memo for plain reads: {dir: (sample file path,
        # size, mtime_ns, StructType)} — see _footer_schema
        self._footer_schemas: dict[str, tuple] = {}
        # serving snapshots: {(tier, as-of?): (key, cached, served)},
        # swapped under the lock so concurrent queries cannot leak one,
        # and unpersisted when the store is discarded
        self._snapshots: dict[tuple, tuple] = {}
        self._snapshot_lock = threading.Lock()
        weakref.finalize(self, _unpersist_snapshots, self._snapshots).atexit = False
        os.makedirs(base_dir, exist_ok=True)

    # ---------- cross-process locks ----------
    # POSIX O_CREAT|O_EXCL is the one atomic read-modify-write a bare
    # filesystem gives us (same primitive as the seq CAS). Two locks:
    #  - the META MUTEX serializes every read-modify-write of the small
    #    JSON metadata files (compact meta, refs, rollbacks) — held for
    #    milliseconds, waited on;
    #  - the per-tier MAINTENANCE LOCK covers destructive directory
    #    surgery (compact's partition swap, expire's partition drop).
    #    Appends/deletes WAIT on it before their publish renames;
    #    competing maintenance does not queue — it raises
    #    ConcurrentCommitError and retries its next cycle.
    # Stale-break: a lock older than its threshold belongs to a crashed
    # holder. Breaking is RENAME-to-tombstone, not stat-then-unlink: a
    # rename succeeds for exactly one waiter (the loser's raises), so
    # two waiters can never double-break — the failure mode where B,
    # having statted the crashed holder's lock, unlinks the fresh lock
    # A just re-acquired, admitting a third writer into the critical
    # section. The winner re-checks staleness on the TOMBSTONE (the
    # authoritative identity — what it actually claimed); a live lock
    # claimed by mistake is re-instated via link(), which cannot
    # clobber a newer acquirer. A real deployment upgrades this to an
    # Iceberg catalog's CAS; every call site is shaped for that swap.

    @staticmethod
    def _break_stale_lock(path: str, stale_s: float) -> None:
        tomb = f"{path}.tomb.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        try:
            os.rename(path, tomb)
        except OSError:
            return  # another waiter claimed the break — retry acquire
        try:
            still_stale = (time.time() - os.path.getmtime(tomb)) > stale_s
        except OSError:
            return
        if not still_stale:
            # the holder changed identity between our stat and the
            # rename — we stole a LIVE lock; put it back (link fails
            # harmlessly if someone already re-acquired)
            with contextlib.suppress(OSError):
                os.link(tomb, path)
        with contextlib.suppress(OSError):
            os.unlink(tomb)

    @contextlib.contextmanager
    def _meta_mutex(self, timeout_s: float = 60.0):
        path = os.path.join(self.base_dir, "_meta_mutex")
        deadline = time.time() + timeout_s
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                break
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(path)
                except OSError:
                    continue  # holder released between open and stat
                if age > META_MUTEX_STALE_S:
                    self._break_stale_lock(path, META_MUTEX_STALE_S)
                    continue
                if time.time() > deadline:
                    raise TimeoutError(
                        f"metadata mutex {path} held for {age:.0f}s"
                    )
                time.sleep(0.02)
        try:
            yield
        finally:
            with contextlib.suppress(OSError):
                os.unlink(path)

    def _update_meta(self, fn) -> None:
        """Serialized read-modify-write of the compact-meta file —
        every mutation of ``_compact_meta.json`` goes through here so
        two writers can never silently drop each other's update."""
        with self._meta_mutex():
            meta = self._read_compact_meta()
            fn(meta)
            self._write_compact_meta(meta)

    def _maint_lock_path(self, tier: str) -> str:
        return os.path.join(self.base_dir, f"_maint_lock_{tier}")

    @contextlib.contextmanager
    def _maint_lock(self, tier: str):
        path = self._maint_lock_path(tier)
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                break
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(path)
                except OSError:
                    continue
                if age > STAGING_GC_AGE_S:
                    self._break_stale_lock(path, STAGING_GC_AGE_S)
                    continue
                raise ConcurrentCommitError(
                    f"tier {tier!r}: maintenance already running "
                    f"(lock age {age:.0f}s) — retry next cycle"
                )
        try:
            if self.multi_writer:
                # drain append move-phases that passed their check
                # just before we acquired
                time.sleep(MAINT_GRACE_S)
            yield
        finally:
            with contextlib.suppress(OSError):
                os.unlink(path)

    def _wait_maintenance_clear(
        self, tier: str, timeout_s: float = 900.0
    ) -> None:
        """Block an append/delete publish while tier maintenance holds
        the lock (one stat when free — the common case). Raises after
        ``timeout_s``: at that point the compaction is long enough that
        the deployment should be on a real catalog's snapshot
        isolation, and failing the producer's batch (its replay
        protocol handles it) beats publishing into a directory swap."""
        path = self._maint_lock_path(tier)
        deadline = time.time() + timeout_s
        while os.path.exists(path):
            try:
                if time.time() - os.path.getmtime(path) > STAGING_GC_AGE_S:
                    return  # stale holder; maintenance will break it
            except OSError:
                return  # released between exists and stat
            if time.time() > deadline:
                raise TimeoutError(
                    f"tier {tier!r}: maintenance lock held past "
                    f"{timeout_s:.0f}s; append publish aborted"
                )
            time.sleep(0.1)

    # ---------- paths ----------
    def _write_slots(self) -> int:
        """Concurrently-runnable task count (defaultParallelism /
        task.cpus) — the explicit partition count for partitioned
        writes so AQE cannot coalesce them to one serial task.
        Machine-derived, never a local constant."""
        return max(
            1,
            int(self.spark.sparkContext.defaultParallelism)
            // int(self.spark.conf.get("spark.task.cpus", "1") or "1"),
        )

    def tier_path(self, tier: str) -> str:
        return os.path.join(self.base_dir, f"tier_{tier}")

    # data-file names carry the max commit_seq they contain:
    # ``c<seq>-`` (append — single-commit files) or ``m<seq>-``
    # (compact output — folded files, footer-derived max). The two
    # prefixes are deliberately distinct: torn-keyed-append repair
    # removes by ``c<seq>-`` and must never match a compacted file
    # that merely CONTAINS that seq among others.
    _FILE_SEQ_RE = re.compile(r"^[cm](\d+)-")

    @classmethod
    def _data_files(cls, root: str) -> Iterator[DataFile]:
        """Lazily walk the data files under ``root`` (a tier dir, or an
        append/compact staging dir): every ``p_date=*/*.parquet``, in
        sorted (partition, name) order — the file-store stand-in for an
        Iceberg manifest, and the one place that knows the layout.
        Callers that need only the first file stop after one listdir
        per partition. A missing root yields nothing; a partition dir
        that vanishes mid-walk is skipped (reads hold no lock, and
        compaction renames live partitions aside)."""
        try:
            parts = sorted(os.listdir(root))
        except OSError:
            return
        for part in parts:
            if not part.startswith("p_date="):
                continue
            pdir = os.path.join(root, part)
            try:
                names = sorted(os.listdir(pdir))
            except OSError:
                continue
            for fn in names:
                if not fn.endswith(".parquet"):
                    continue
                m = cls._FILE_SEQ_RE.match(fn)
                kind, seq = (fn[0], int(m.group(1))) if m else (None, None)
                yield DataFile(
                    part, fn, os.path.join(pdir, fn), f"{part}/{fn}", kind, seq
                )

    def _compact_meta_path(self) -> str:
        return os.path.join(self.base_dir, "_compact_meta.json")

    def _read_compact_meta(self) -> dict:
        path = self._compact_meta_path()
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def _write_compact_meta(self, meta: dict) -> None:
        atomic_json_write(self._compact_meta_path(), meta)

    def _visibility(self, tier: str) -> Visibility:
        """Load ``tier``'s :class:`Visibility` — the one decoder of the
        staged-commit, horizon, retention and rollback metadata."""
        meta = self._read_compact_meta()
        staged = meta.get(f"_staged_{tier}", [])
        horizon = int(meta.get(tier, 0))
        ret = meta.get(f"_retention_{tier}")
        remap = {int(e["seq"]): int(e["pub_seq"]) for e in staged if e["state"] == "published"}
        ops = sorted(meta.get(f"_schema_{tier}", []), key=lambda o: o["seq"])
        return Visibility(
            tier=tier,
            remap=remap,
            hidden=frozenset(int(e["seq"]) for e in staged) - set(remap),
            rollbacks=tuple(self._rollback_ranges(tier)),
            min_as_of=horizon,
            retention=(str(ret["floor"]), int(ret["seq"])) if ret else (None, 0),
            schema_ops=tuple(o for o in ops if o["seq"] > horizon),
        )

    def min_as_of(self, tier: str) -> int:
        """Oldest snapshot horizon still reconstructable for ``tier``.
        0 until a compaction expires history; compact(expire_below=E)
        raises it to E, default compact to the then-current seq."""
        return self._visibility(tier).min_as_of

    # ---------- commit sequence ----------
    def _commits_dir(self) -> str:
        return os.path.join(self.base_dir, "_commits")

    def _legacy_seq_floor(self) -> int:
        """Pre-CAS stores recorded the counter in ``_commit_seq.json``
        (read-modify-write, single-writer only). Treat it as a floor so
        an existing store keeps its history when opened by this code;
        it is never written again."""
        path = os.path.join(self.base_dir, "_commit_seq.json")
        if not os.path.exists(path):
            return 0
        with open(path) as f:
            return int(json.load(f)["seq"])

    # markers below the newest floor-<N> file are GC'd; a floor is
    # itself an O_EXCL-created file whose VALUE IS ITS NAME, so floors
    # are monotone by construction (no read-modify-write to race) and
    # the _commits/ dir stays bounded at ~_SEQ_GC_BATCH files however
    # many commits the store ever takes (review catch, r5: a per-commit
    # marker forever is O(n) listdir per allocation and unbounded inodes)
    _SEQ_GC_BATCH = 256

    def last_commit_seq(self) -> int:
        """Newest commit_seq ALLOCATED in this store (0 = none yet) — the
        snapshot id to remember for an as-of read of the CURRENT state
        (store-global: writers other than the tier refresh consume a
        seq per append, so an as-of horizon spanning several tiers must
        come from here, not from one tier's snapshots). Source of truth
        is the per-seq marker files in ``_commits/`` (see :meth:`next_commit_seq`);
        a seq may be allocated a moment before its data lands, so under
        concurrent writers this is an upper bound on *published* state
        — the same way an Iceberg snapshot id can name an in-flight
        commit until its metadata swap lands."""
        best = self._legacy_seq_floor()
        d = self._commits_dir()
        if not os.path.isdir(d):
            return best
        for fn in os.listdir(d):
            try:
                if fn.startswith("seq-"):
                    best = max(best, int(fn[4:]))
                elif fn.startswith("floor-"):
                    best = max(best, int(fn[6:]))
            except ValueError:
                continue
        return best

    def next_commit_seq(self) -> int:
        """Allocate the next commit seq with a filesystem CAS: a per-seq
        marker created with ``O_CREAT|O_EXCL`` (create-if-absent is the
        one atomic read-modify-write POSIX gives us — the same primitive
        Iceberg's HadoopCatalog uses for its ``version-hint`` swap).
        Two concurrent writers racing for seq N: exactly one ``open``
        succeeds, the loser retries at N+1 — no seq is ever issued
        twice and none is skipped by the allocator itself (a writer
        that crashes after allocating leaves a hole, which readers
        already tolerate: a seq with no rows is an empty commit).
        This replaces the r4 single-writer seq file; the repo ships two
        independent writers (the streaming sink and the maybe_compact
        daemon), so the commit counter is the one piece of metadata
        that MUST be multi-process safe. Tags/rollback remain
        advisory-single-writer (documented on each)."""
        d = self._commits_dir()
        os.makedirs(d, exist_ok=True)
        candidate = self.last_commit_seq() + 1
        while True:
            try:
                fd = os.open(
                    os.path.join(d, f"seq-{candidate}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.close(fd)
                break
            except FileExistsError:
                candidate += 1
        if candidate % self._SEQ_GC_BATCH == 0:
            # fold the finished batch into a floor file, then GC its
            # markers. Floor FIRST (durable lower bound), delete second
            # — a crash in between only leaves markers a later batch
            # re-collects. Safe under concurrency: a floor never
            # regresses (value-in-name O_EXCL create; stale creators
            # hit FileExistsError) and only markers <= an EXISTING
            # floor are removed, so last_commit_seq can never go back.
            fl = candidate - self._SEQ_GC_BATCH
            try:
                fd = os.open(
                    os.path.join(d, f"floor-{fl}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.close(fd)
            except FileExistsError:
                pass
            for fn in os.listdir(d):
                try:
                    if fn.startswith("seq-") and int(fn[4:]) <= fl:
                        os.unlink(os.path.join(d, fn))
                    elif fn.startswith("floor-") and int(fn[6:]) < fl:
                        os.unlink(os.path.join(d, fn))
                except (ValueError, OSError):
                    continue
        return candidate

    # ---------- write-audit-publish (staged commits) ----------
    def _staged_entries(self, tier: str) -> list[dict]:
        """Staged-commit records for ``tier`` (the Iceberg WAP /
        branch + cherry-pick analog). Each entry: ``audit_id``, the
        staged ``seq``, ``state`` in {staging, staged, published,
        abandoned}, ``pub_seq`` once published, ``ts`` at creation."""
        return list(self._read_compact_meta().get(f"_staged_{tier}", []))

    @staticmethod
    def _staged_entry(entries: list[dict], tier: str, audit_id: str) -> dict:
        """The staged-commit record of ``audit_id`` (KeyError if none)."""
        for e in entries:
            if e["audit_id"] == audit_id:
                return e
        raise KeyError(f"tier {tier!r}: no staged commit {audit_id!r}")

    def stage(
        self,
        tier: str,
        df: DataFrame,
        run_id: str,
        audit_id: str,
    ) -> int:
        """Write-audit-publish, phase 1: append ``df`` INVISIBLY. The
        staged record is committed to metadata BEFORE any data file
        moves (entry-first), so no read — current, as-of, summed,
        incremental or changelog — can ever see a staged row, even
        mid-crash. Audit the candidate with :meth:`audit_read`, then
        :meth:`publish` or :meth:`abandon`.

        Crash mid-stage leaves the entry in ``staging``: its rows stay
        invisible, :meth:`publish` refuses it, and compaction GCs its
        files once the writer is provably dead (same age discipline as
        torn keyed appends). A NEW ``stage`` under the same audit_id
        REPAIRS a ``staging`` leftover instead (removes the torn
        files, restages) — the replay contract of the streaming sink:
        an audit_id is owned by one logical producer, and its replay
        only runs after the prior attempt died. Returns the staged
        commit seq (an internal handle — the PUBLISHED seq is minted
        at publish time)."""
        existing = next(
            (e for e in self._staged_entries(tier) if e["audit_id"] == audit_id),
            None,
        )
        if existing is not None:
            if existing["state"] != "staging":
                raise ValueError(
                    f"tier {tier!r}: audit id {audit_id!r} already "
                    f"{existing['state']}"
                )
            # torn prior attempt (replay contract: its producer is
            # dead) — remove whatever it moved, drop its record
            self._remove_commit_files(tier, int(existing["seq"]))
            self._update_meta(
                lambda m, t=tier, a=audit_id: m.__setitem__(
                    f"_staged_{t}",
                    [e for e in m.get(f"_staged_{t}", []) if e["audit_id"] != a],
                )
            )
        seq = self.next_commit_seq()
        entry = {
            "audit_id": audit_id,
            "seq": seq,
            "state": "staging",
            "ts": time.time(),
        }
        self._update_meta(
            lambda m, t=tier, e=entry: m.setdefault(f"_staged_{t}", []).append(e)
        )
        self.append(tier, df, seq, run_id)
        self._set_staged_state(tier, audit_id, "staged")
        return seq

    def _set_staged_state(
        self, tier: str, audit_id: str, state: str, pub_seq: int | None = None
    ) -> None:
        def _flip(m, t=tier, a=audit_id, s=state, p=pub_seq):
            e = self._staged_entry(m.get(f"_staged_{t}", []), t, a)
            e["state"] = s
            if p is not None:
                e["pub_seq"] = p

        self._update_meta(_flip)

    def audit_read(
        self, tier: str, audit_id: str, **read_kwargs
    ) -> DataFrame | None:
        """The would-be post-publish state: a normal :meth:`read` that
        ALSO sees ``audit_id``'s staged rows (validation queries run
        against exactly what publishing would serve). Other staged
        commits stay hidden."""
        entry = self._staged_entry(self._staged_entries(tier), tier, audit_id)
        if entry["state"] != "staged":
            raise ValueError(
                f"tier {tier!r}: staged commit {audit_id!r} is "
                f"{entry['state']!r}, not auditable"
            )
        return self.read(tier, audit_seq=int(entry["seq"]), **read_kwargs)

    def publish(self, tier: str, audit_id: str) -> int:
        """Write-audit-publish, phase 3: make the audited rows live by
        minting a FRESH commit seq and remapping the staged rows onto
        it (metadata-only — no data file is touched; the next compact
        bakes the remap physically). Re-minting is what Iceberg's
        cherry-pick does and what keeps every consumer correct: main
        may have advanced while the audit ran, and the staged rows'
        original seq would sort them UNDER those later commits —
        published-now must mean committed-now, for newest-wins dedup,
        time travel and every changelog cursor alike (the publish
        shows up as an ordinary new commit). Returns the published
        seq."""
        with self._meta_mutex():
            meta = self._read_compact_meta()
            entry = self._staged_entry(meta.get(f"_staged_{tier}", []), tier, audit_id)
            if entry["state"] != "staged":
                raise ValueError(
                    f"tier {tier!r}: staged commit {audit_id!r} is "
                    f"{entry['state']!r}; only 'staged' can publish"
                )
            pub = self.next_commit_seq()
            entry["state"] = "published"
            entry["pub_seq"] = pub
            self._write_compact_meta(meta)
            return pub

    def abandon(self, tier: str, audit_id: str) -> None:
        """Write-audit-publish, failed audit: void the staged commit.
        Its rows were never visible and never become visible; the next
        compaction drops them physically and clears the record."""
        with self._meta_mutex():
            meta = self._read_compact_meta()
            entry = self._staged_entry(meta.get(f"_staged_{tier}", []), tier, audit_id)
            if entry["state"] == "published":
                raise ValueError(
                    f"tier {tier!r}: {audit_id!r} is already published — "
                    "use rollback to void a published commit"
                )
            entry["state"] = "abandoned"
            self._write_compact_meta(meta)

    # ---------- refs (tags) ----------
    def _refs_path(self) -> str:
        return os.path.join(self.base_dir, "_refs.json")

    def tags(self) -> dict[str, int]:
        """Named snapshot refs (Iceberg tag analog): name → commit_seq.
        Store-level, like :meth:`last_commit_seq` — one seq is a
        consistent horizon across every tier."""
        path = self._refs_path()
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def tag(self, name: str, seq: int | None = None, replace: bool = False) -> int:
        """Pin ``name`` to a commit_seq (default: the current one).
        Tags are immutable unless ``replace`` — silently moving a tag
        a reader has already resolved would change what "v2024.1"
        means under them."""
        with self._meta_mutex():
            refs = self.tags()
            if name in refs and not replace:
                raise ValueError(
                    f"tag {name!r} already points at seq {refs[name]}; "
                    "pass replace=True to move it"
                )
            seq = int(seq) if seq is not None else self.last_commit_seq()
            if seq > self.last_commit_seq():
                raise ValueError(
                    f"tag {name!r}: seq {seq} has not been committed yet "
                    f"(last is {self.last_commit_seq()})"
                )
            if seq < 0:
                raise ValueError(f"tag {name!r}: seq {seq} is not a commit_seq")
            refs[name] = seq
            atomic_json_write(self._refs_path(), refs)
            return seq

    def drop_tag(self, name: str) -> None:
        with self._meta_mutex():
            refs = self.tags()
            refs.pop(name, None)
            atomic_json_write(self._refs_path(), refs)

    def resolve_ref(self, name: str) -> int:
        refs = self.tags()
        if name not in refs:
            raise KeyError(f"unknown tag {name!r}; known: {sorted(refs)}")
        return refs[name]

    # ---------- branches (writable refs) ----------
    # An Iceberg branch is a DIVERGENT commit lineage: created at a
    # base snapshot, it accumulates its own commits, invisible to main;
    # main keeps moving underneath. Here a branch is a named CHAIN of
    # staged commits plus the base seq it diverged at — the whole
    # machinery (invisibility, crash repair, compaction carry, publish
    # re-minting) is the WAP layer's, reused commit-for-commit:
    # a branch write is `stage`, a branch read is main-as-of-base plus
    # the chain exposed, and merging is an ordered cherry-pick of the
    # chain onto main (`publish` per commit, fresh seqs in chain
    # order). Multi-commit what-if pipelines — backfill candidates,
    # reprocessing experiments — get audited as a unit and land as
    # ordinary commits, or vanish without ever having been visible.

    def branches(self, tier: str) -> dict[str, dict]:
        """name → {"base_seq": int, "chain": [audit_id, ...]}."""
        return dict(self._read_compact_meta().get(f"_branches_{tier}", {}))

    def create_branch(self, tier: str, name: str) -> int:
        """Start a branch at the CURRENT main state (its base snapshot).
        Returns the base seq. Metadata-only; nothing is written."""
        base = self.last_commit_seq()

        def _mk(m, t=tier, n=name, b=base):
            brs = m.setdefault(f"_branches_{t}", {})
            if n in brs:
                raise ValueError(f"tier {t!r}: branch {n!r} already exists")
            brs[n] = {"base_seq": b, "chain": []}

        self._update_meta(_mk)
        return base

    def write_branch(
        self, tier: str, name: str, df: DataFrame, run_id: str
    ) -> int:
        """Append a commit to the branch: a staged (invisible-to-main)
        commit recorded on the branch's chain. Within the branch,
        later writes win newest-wins dedup over earlier ones (staged
        seqs are minted in write order). Returns the staged seq."""
        br = self.branches(tier).get(name)
        if br is None:
            raise KeyError(f"tier {tier!r}: no branch {name!r}")
        audit_id = f"_br:{name}:{len(br['chain'])}:{uuid.uuid4().hex[:8]}"
        seq = self.stage(tier, df, run_id, audit_id)
        self._update_meta(
            lambda m, t=tier, n=name, a=audit_id: m[f"_branches_{t}"][n][
                "chain"
            ].append(a)
        )
        return seq

    def _branch_seqs(self, tier: str, name: str) -> tuple[int, list[int]]:
        br = self.branches(tier).get(name)
        if br is None:
            raise KeyError(f"tier {tier!r}: no branch {name!r}")
        by_audit = {e["audit_id"]: e for e in self._staged_entries(tier)}
        seqs = [int(by_audit[a]["seq"]) for a in br["chain"] if a in by_audit]
        return int(br["base_seq"]), seqs

    def merge_branch(self, tier: str, name: str) -> list[int]:
        """Cherry-pick the branch onto main: publish each chain commit
        IN ORDER (each minting a fresh seq, so within-branch ordering
        is preserved and the merge lands as ordinary new commits —
        newest-wins, time travel and changelog cursors all see normal
        appends). When main never advanced past the base this is
        exactly Iceberg's fast-forward. The branch record is dropped;
        returns the published seqs.

        RESUMABLE: a crash mid-merge leaves a prefix of the chain
        published (already live on main — publish is atomic per
        commit) and the branch record intact; re-running skips the
        published prefix and publishes the rest. Chain order is still
        preserved: the prefix's pub seqs were minted before the
        remainder's."""
        br = self.branches(tier).get(name)
        if br is None:
            raise KeyError(f"tier {tier!r}: no branch {name!r}")
        by_audit = {e["audit_id"]: e for e in self._staged_entries(tier)}
        pubs = []
        for a in br["chain"]:
            e = by_audit.get(a)
            if e is None:
                # published by a crashed prior merge AND baked by a
                # compaction since: its rows are live ordinary commits;
                # nothing left to do (the pub seq is gone with the
                # spent record, so it cannot be reported)
                continue
            if e["state"] == "published":
                pubs.append(int(e["pub_seq"]))  # crashed prior merge
            else:
                pubs.append(self.publish(tier, a))
        self._update_meta(
            lambda m, t=tier, n=name: m[f"_branches_{t}"].pop(n, None)
        )
        return pubs

    def drop_branch(self, tier: str, name: str) -> None:
        """Abandon every chain commit and delete the branch. Its rows
        were never visible; the next compaction drops them physically.

        Tolerant of residue so a drop always succeeds: a chain entry
        already GC'd (a crashed write_branch whose staging record
        compaction collected) is skipped, as is one already abandoned
        (a crashed prior drop) or already published (a crashed prior
        merge — its rows are live ordinary commits on main; dropping
        the branch cannot and must not unpublish them — use rollback)."""
        br = self.branches(tier).get(name)
        if br is None:
            raise KeyError(f"tier {tier!r}: no branch {name!r}")
        by_audit = {e["audit_id"]: e for e in self._staged_entries(tier)}
        for a in br["chain"]:
            e = by_audit.get(a)
            if e is None or e["state"] in ("published", "abandoned"):
                continue
            self.abandon(tier, a)
        self._update_meta(
            lambda m, t=tier, n=name: m[f"_branches_{t}"].pop(n, None)
        )

    # ---------- rollback ----------
    def _rollbacks_path(self) -> str:
        return os.path.join(self.base_dir, "_rollbacks.json")

    def _rollback_ranges(self, tier: str) -> list[tuple[int, int]]:
        """The ``(lo, hi]`` commit ranges :meth:`rollback` voided for
        ``tier`` (read through :attr:`Visibility.rollbacks`)."""
        path = self._rollbacks_path()
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [tuple(r) for r in json.load(f).get(tier, [])]

    def rollback(self, tier: str, to_seq: int) -> dict:
        """Roll ``tier`` back to its state as of ``to_seq`` (Iceberg
        ``rollback_to_snapshot``): commits in ``(to_seq, now]`` —
        appends AND equality deletes — are voided for current reads,
        while remaining reconstructable via ``read(as_of_seq<=now)``
        until a compaction expires them. Later appends (seq > now) are
        unaffected: the store keeps a single monotonic seq line and
        rollback is an excluded RANGE, not a reset counter (resetting
        would reuse seqs and corrupt every existing snapshot ref).
        Metadata-only: no data file is touched; the next
        history-expiring ``compact`` applies the exclusion physically.
        """
        to_seq = int(to_seq)
        cur = self.last_commit_seq()
        if to_seq > cur:
            raise ValueError(f"rollback target {to_seq} is in the future (last={cur})")
        vis = self._visibility(tier)
        vis.check(to_seq, "rollback target")
        ranges = list(vis.rollbacks)
        if vis.voided(to_seq):
            raise ValueError(
                f"rollback target {to_seq} is itself rolled back (voided "
                f"ranges {ranges}); pick a seq outside every range"
            )
        if to_seq == cur:
            return {"tier": tier, "excluded": None, "rollback_seq": cur}
        # The rollback is itself a commit: consuming a seq makes it
        # observable — last_commit_seq advances, so changelog consumers
        # (`changes`, matview refresh) see a new horizon PAST the range
        # end and emit the diff back to the restored state. Without the
        # bump a rollback would be invisible to every incremental
        # reader. (as_of at the bumped seq > hi → mask applies: the
        # rollback commit's own snapshot IS the restored state.)
        # Seq FIRST, ranges second: a crash in between wastes one seq
        # (every reader stays consistent); the reverse order would let
        # current reads serve the restored state while as-of-current
        # and changelog reads still serve the voided one.
        rb_seq = self.next_commit_seq()
        # older ranges nested inside the new one are KEPT: each records
        # what a horizon between the two rollbacks excluded, so as-of
        # reads of that intermediate era stay exact.
        # The range end is rb_seq-1, not the `cur` read above: a
        # concurrent writer may have committed in between, and a seq
        # that lands before the rollback takes effect is part of the
        # history being rolled back (Iceberg would fail that writer's
        # CAS outright; voiding it is our file-store equivalent).
        ranges.append((to_seq, rb_seq - 1))
        path = self._rollbacks_path()
        with self._meta_mutex():
            all_ranges = {}
            if os.path.exists(path):
                with open(path) as f:
                    all_ranges = json.load(f)
            # merge THIS tier's recomputed ranges without clobbering a
            # concurrent writer's update to another tier's entry
            all_ranges[tier] = sorted([list(r) for r in ranges])
            atomic_json_write(path, all_ranges)
        return {"tier": tier, "excluded": (to_seq, rb_seq - 1), "rollback_seq": rb_seq}

    def _clear_rollbacks(self, tier: str) -> None:
        path = self._rollbacks_path()
        if not os.path.exists(path):
            return
        with self._meta_mutex():
            if not os.path.exists(path):
                return
            with open(path) as f:
                all_ranges = json.load(f)
            if tier in all_ranges:
                del all_ranges[tier]
                atomic_json_write(path, all_ranges)

    # ---------- schema evolution (rename / drop / widen) ----------
    # The tier's natural-key and lineage columns are structural: renames
    # would break partitioning, dedup windows and delete-file joins —
    # the same reason Iceberg restricts identifier-field changes. The
    # sketch tiers' extra key columns are in the set too: compact's
    # full-natural-key guard matches them by literal name, and delete
    # files join on them (review catch, r5).
    _PROTECTED_COLS = (
        "bucket_start", "source", "commit_seq", "run_id", "p_date",
        "bin", "qbin", "depth", "col",
    )

    def _schema_ops(self, tier: str) -> list[dict]:
        """Recorded rename/drop ops for ``tier``, seq-ascending — the
        file-store analog of Iceberg's schema history (field ids)."""
        ops = self._read_compact_meta().get(f"_schema_{tier}", [])
        return sorted(ops, key=lambda o: o["seq"])

    def _record_schema_op(self, tier: str, op: dict) -> None:
        self._update_meta(
            lambda m, t=tier, o=op: m.setdefault(f"_schema_{t}", []).append(o)
        )
        # every schema op changes the tier's declared types — drop the
        # write-alignment memo so the next append re-infers from disk
        self._declared_types.pop(tier, None)

    def _current_columns(self, tier: str) -> list[str]:
        """Current canonical column names (union of footers + live ops
        applied). Footer metadata only — no Spark job."""
        df = self.read(tier, deduped=False)
        return [] if df is None else df.columns

    def rename_column(self, tier: str, old: str, new: str) -> int:
        """Metadata-only column rename (Iceberg ``ALTER TABLE RENAME
        COLUMN``): no data file is touched; reads at/after the returned
        seq serve ``new``, as-of reads below it still serve ``old``.
        Appends written after the rename should use the new name;
        either spelling is resolved on read, and the next ``compact``
        rewrites everything under the canonical name."""
        if old in self._PROTECTED_COLS or new in self._PROTECTED_COLS:
            raise ValueError(
                f"cannot rename {old!r}→{new!r}: natural-key/lineage "
                f"columns {self._PROTECTED_COLS} are structural"
            )
        if old == new:
            raise ValueError("rename requires distinct names")
        cols = self._current_columns(tier)
        if old not in cols:
            raise ValueError(f"tier {tier!r} has no column {old!r} (have {cols})")
        if new in cols:
            raise ValueError(
                f"tier {tier!r}: column {new!r} already exists — renaming "
                "onto a live name would merge two columns"
            )
        seq = self.next_commit_seq()
        self._record_schema_op(tier, {"kind": "rename", "from": old, "to": new, "seq": seq})
        return seq

    # narrow→wide rank order per family — the lossless promotions
    # Iceberg's spec allows (int→long, float→double); everything else
    # (string↔numeric, long→int) is a rewrite, not an evolution
    _WIDEN_FAMILIES = (
        ("tinyint", "smallint", "int", "bigint"),
        ("float", "double"),
    )
    _WIDEN_ALIASES = {"long": "bigint", "integer": "int", "short": "smallint", "byte": "tinyint"}

    @classmethod
    def _widen_rank(cls, simple: str) -> tuple[int, int] | None:
        simple = cls._WIDEN_ALIASES.get(simple, simple)
        for fi, fam in enumerate(cls._WIDEN_FAMILIES):
            if simple in fam:
                return fi, fam.index(simple)
        return None

    def widen_column(self, tier: str, col: str, to: str) -> int:
        """Metadata-only type widening (Iceberg ``ALTER TABLE ... TYPE``
        promotion): ``int``→``bigint`` (any integral step up) or
        ``float``→``double``. No data file is touched; reads at/after
        the returned seq serve the wide type (narrow files are upcast
        by the parquet reader under an explicit requested schema — the
        file-store analog of Iceberg resolving files against the
        current schema by field id), as-of reads below it still serve
        the narrow type the snapshot had. Appends written after the
        widen should use the wide type; the next ``compact`` bakes it
        into every file and reads return to plain inferred scans.

        Declare the widen BEFORE appending wide values: like Iceberg,
        the schema change gates the data change — a wide value written
        under a narrow declared type is out of contract (an as-of read
        below the widen would downcast it)."""
        to = self._WIDEN_ALIASES.get(to, to)
        if col in self._PROTECTED_COLS:
            raise ValueError(f"cannot widen structural column {col!r}")
        df = self.read(tier, deduped=False)
        dtypes = {} if df is None else dict(df.dtypes)
        if col not in dtypes:
            raise ValueError(
                f"tier {tier!r} has no column {col!r} (have {sorted(dtypes)})"
            )
        cur = dtypes[col]
        cur_rank, to_rank = self._widen_rank(cur), self._widen_rank(to)
        if to_rank is None:
            raise ValueError(
                f"{to!r} is not a widening target (allowed: "
                f"{self._WIDEN_FAMILIES})"
            )
        if cur_rank is None or cur_rank[0] != to_rank[0]:
            raise ValueError(
                f"cannot widen {col!r}: {cur!r} → {to!r} crosses type "
                "families (only int→long-family and float→double are "
                "lossless promotions)"
            )
        if to_rank[1] <= cur_rank[1]:
            raise ValueError(
                f"cannot widen {col!r}: {to!r} is not wider than {cur!r}"
            )
        seq = self.next_commit_seq()
        self._record_schema_op(
            tier, {"kind": "widen", "col": col, "from": cur, "to": to, "seq": seq}
        )
        return seq

    def _align_write_schema(self, tier: str, df: DataFrame) -> DataFrame:
        """Write-time schema alignment (the Iceberg write contract):
        every appended batch is resolved against the tier's DECLARED
        (post-schema-ops) types before any file lands.

        - a column NARROWER than declared (int into a bigint tier) is
          upcast here, so plain inferred scans never meet mixed-width
          footers — without this the landmine only detonates at read
          time, possibly long after the writer is gone;
        - a column WIDER than declared raises with the fix spelled out
          (``widen_column`` first — the schema change gates the data
          change, exactly Iceberg's rule);
        - a cross-family conflict (string vs int) raises — that is a
          rewrite, not an evolution;
        - columns the tier has never seen pass through (add-column
          evolution, served by ``merge_schema`` reads).

        The declared types are memoized per tier (one inference per
        store instance, not per micro-batch); any would-be raise first
        refreshes the memo from disk so a concurrent writer's freshly
        declared widen is honored rather than spuriously rejected."""
        declared = self._declared_types.get(tier)
        if declared is None:
            cur = self.read(tier, deduped=False)
            if cur is None:
                return df
            declared = dict(cur.dtypes)
            self._declared_types[tier] = declared

        def conflicts(decl):
            out = []
            for name, dt in df.dtypes:
                if name in ("commit_seq", "run_id", "p_date"):
                    continue  # lineage: append overwrites these anyway
                want = decl.get(name)
                if want is None or dt == want:
                    continue
                out.append((name, dt, want))
            return out

        bad = conflicts(declared)
        if bad:
            # refresh once before judging: the memo may predate a
            # concurrent widen/rename (narrow-vs-wide is re-checked
            # against disk truth, never rejected off a stale memo).
            # The plain read's schema is ONE footer's view — merge it
            # with the memo, keeping memo-only columns (add-column
            # evolutions the footer may not carry) and the wider
            # spelling per column, so the refresh can only gain
            # knowledge, never forget it.
            cur = self.read(tier, deduped=False)
            fresh = dict(cur.dtypes) if cur is not None else {}
            for name, t in declared.items():
                have = fresh.get(name)
                if have is None:
                    fresh[name] = t
                    continue
                ra, rb = self._widen_rank(have), self._widen_rank(t)
                if ra is not None and rb is not None and ra[0] == rb[0] and rb[1] > ra[1]:
                    fresh[name] = t
            declared = fresh
            self._declared_types[tier] = declared
            bad = conflicts(declared)
        for name, dt, want in bad:
            rin, rw = self._widen_rank(dt), self._widen_rank(want)
            if rin is not None and rw is not None and rin[0] == rw[0]:
                if rin[1] < rw[1]:
                    df = df.withColumn(name, F.col(name).cast(want))
                    continue
                raise ValueError(
                    f"tier {tier!r}: append column {name!r} is {dt} but "
                    f"the declared type is {want} — call "
                    f"widen_column({tier!r}, {name!r}, {dt!r}) BEFORE "
                    "appending wide values (the schema change gates the "
                    "data change)"
                )
            raise ValueError(
                f"tier {tier!r}: append column {name!r} type {dt} "
                f"conflicts with the declared {want} across type "
                "families — cast explicitly before append (this is a "
                "rewrite, not a schema evolution)"
            )
        # add-column evolution: remember the new columns so a LATER
        # append's narrower spelling of them is still aligned
        new_cols = {n: t for n, t in df.dtypes if n not in declared}
        if new_cols:
            declared.update(new_cols)
        return df

    def _union_read_schema(self, tier: str, ops: list[dict]):
        """Explicit requested scan schema for a read whose files may
        disagree (``merge_schema``, or any live schema op): the
        per-footer field union — renames' two spellings and added
        columns (NULL back-filled for files without them) — with the
        WIDEST type per column, then any live widen targets applied on
        top, so the request is wide even before the first wide file
        lands. Spark's ``mergeSchema`` refuses int32-vs-int64 footers
        and costs a schema-merge job, while the parquet reader happily
        upcasts a narrow file under an explicit wider requested schema
        (verified: Spark 4.x widening reads). Footer metadata only,
        driver-side; the next compact bakes the ops and reads return
        to single-footer scans. Data columns only: the partition column
        (``p_date``) stays inference-appended, identical to plain
        reads."""
        import pyarrow.parquet as pq
        from pyspark.sql.types import (
            ByteType, DoubleType, FloatType, IntegerType, LongType,
            ShortType, StructField, StructType,
        )
        from pyspark.sql.pandas.types import from_arrow_schema

        by_simple = {
            "tinyint": ByteType(), "smallint": ShortType(),
            "int": IntegerType(), "bigint": LongType(),
            "float": FloatType(), "double": DoubleType(),
        }

        def widest(name, a, b):
            ra, rb = self._widen_rank(a.simpleString()), self._widen_rank(b.simpleString())
            if ra is None or rb is None or ra[0] != rb[0]:
                raise ValueError(
                    f"tier {tier!r}: column {name!r} has incompatible "
                    f"physical types across files ({a.simpleString()} vs "
                    f"{b.simpleString()}) outside the widening families"
                )
            return a if ra[1] >= rb[1] else b

        merged: dict = {}
        order: list[str] = []
        for dfile in self._data_files(self.tier_path(tier)):
            for f in from_arrow_schema(pq.read_schema(dfile.path)).fields:
                if f.name not in merged:
                    merged[f.name] = f.dataType
                    order.append(f.name)
                elif merged[f.name] != f.dataType:
                    merged[f.name] = widest(f.name, merged[f.name], f.dataType)
        for op in ops:
            if op["kind"] == "widen" and op["col"] in merged:
                merged[op["col"]] = widest(
                    op["col"], merged[op["col"]], by_simple[op["to"]]
                )
        return StructType([StructField(n, merged[n], True) for n in order])

    def _footer_schema(self, sample_file: str):
        """Requested scan schema from ONE parquet footer, read
        driver-side with pyarrow — no Spark schema-inference job.

        Every plain (no live schema ops, no ``merge_schema``) scan in
        the store pays a tiny Spark job just to infer a schema that is,
        by the write contract, identical across the tier's files
        (:meth:`_align_write_schema` resolves every appended batch
        against the declared types before a file lands). Profiled
        (r6): ~10 such inference jobs per matview refresh, each a full
        job-latency round trip — pure fixed cost at any scale. Reading
        one footer driver-side is exactly the "one footer's view" an
        inferred plain scan serves, made deterministic (the caller
        picks the sample file; scans of mixed-schema tiers go through
        ``merge_schema``/``_union_read_schema``, never here).

        Data columns only: ``p_date`` stays inference-appended by
        partition discovery, identical to plain reads (same discipline
        as :meth:`_union_read_schema`). Cached keyed by the sample
        file's identity (path, size, mtime) — appends never rewrite an
        existing file and compaction replaces the file set, so a
        changed sample is exactly a schema epoch change."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        st = os.stat(sample_file)
        key = (st.st_size, st.st_mtime_ns)
        hit = self._footer_schemas.get(sample_file)
        if hit is not None and hit[:2] == key:
            return hit[2]
        sch = from_arrow_schema(pq.read_schema(sample_file))
        self._footer_schemas[sample_file] = (*key, sch)
        return sch

    def drop_column(self, tier: str, col: str) -> int:
        """Metadata-only column drop: hidden from reads at/after the
        returned seq, still served by as-of reads below it; physically
        removed by the next ``compact`` whose expiry horizon covers the
        drop (so preserved snapshots keep their column — and a
        compaction can never resurrect a dropped name)."""
        if col in self._PROTECTED_COLS:
            raise ValueError(f"cannot drop structural column {col!r}")
        if col not in self._current_columns(tier):
            raise ValueError(f"tier {tier!r} has no column {col!r}")
        seq = self.next_commit_seq()
        self._record_schema_op(tier, {"kind": "drop", "col": col, "seq": seq})
        return seq

    def _apply_schema_ops(
        self,
        df: DataFrame,
        ops: list[dict],
        horizon: int | None,
        canonical: bool,
        drop_horizon: int | None,
    ) -> DataFrame:
        """Resolve physical column spellings to the horizon's display
        schema. Four passes, each metadata-only column algebra:
        1. canonicalize renames forward (coalesce both spellings — a
           row's value lives under whichever name its file used);
        2. widen forward (cast to the declared wide type — a no-op
           under the explicit union scan schema, load-bearing for
           paths that read physical truth, e.g. compact);
        3. hide drops whose seq is within the drop horizon;
        4. unless ``canonical``, cast back the widens and rename back
           the renames (newest first) that postdate the read horizon,
           so the as-of state shows the schema it had."""
        h = float("inf") if horizon is None else int(horizon)

        def _post_rename(col: str, from_seq: int) -> str:
            # a widen recorded before a later rename names the column
            # by its spelling AT WIDEN TIME — chase renames forward
            for op in ops:
                if (
                    op["kind"] == "rename"
                    and op["seq"] > from_seq
                    and op["from"] == col
                ):
                    col = op["to"]
            return col

        for op in ops:
            if op["kind"] == "rename":
                old, new = op["from"], op["to"]
                cols = df.columns
                if old in cols and new in cols:
                    df = df.withColumn(new, F.coalesce(new, old)).drop(old)
                elif old in cols:
                    df = df.withColumnRenamed(old, new)
        for op in ops:
            if op["kind"] == "widen":
                c = _post_rename(op["col"], op["seq"])
                if c in df.columns:
                    df = df.withColumn(c, F.col(c).cast(op["to"]))
        dh = h if drop_horizon is None else int(drop_horizon)
        if canonical and drop_horizon is None:
            dh = float("inf")
        for op in ops:
            if op["kind"] == "drop" and op["seq"] <= dh and op["col"] in df.columns:
                df = df.drop(op["col"])
        if not canonical:
            # widen-backs first, on canonical spellings — the rename
            # chase below would strand a cast that runs after its
            # column was already renamed back
            for op in reversed(ops):
                if op["kind"] == "widen" and op["seq"] > h:
                    c = _post_rename(op["col"], op["seq"])
                    if c in df.columns:
                        df = df.withColumn(c, F.col(c).cast(op["from"]))
            for op in reversed(ops):
                if op["kind"] == "rename" and op["seq"] > h and op["to"] in df.columns:
                    df = df.withColumnRenamed(op["to"], op["from"])
        return df

    # ---------- equality deletes ----------
    def _deletes_path(self, tier: str) -> str:
        # inside the tier dir, '_'-prefixed (no '=' in the name) so the
        # table scan's hidden-path filter never lists it
        return os.path.join(self.tier_path(tier), "_deletes")

    def delete(
        self,
        tier: str,
        keys_df: DataFrame,
        commit_seq: int,
        run_id: str,
        keys: tuple[str, ...] = DEFAULT_KEYS,
    ) -> int:
        """Equality delete (Iceberg v2 delete-file analog): record that
        every row version with ``commit_seq <= this delete's seq`` whose
        key columns match a row of ``keys_df`` is masked. Appends a
        small parquet of distinct key tuples + lineage into the tier's
        hidden ``_deletes`` dir — data files are NEVER rewritten here
        (that is ``compact``'s job).

        Sequence-number masking semantics (Iceberg's delete-file
        ``data_sequence_number`` rule): the delete masks only versions
        committed BEFORE it, so a later ``append`` of the same key
        re-inserts it and wins. Composes with time travel: a
        ``read(as_of_seq=S)`` applies only deletes with seq <= S.

        ``keys`` may be a PREFIX of a tier's natural key (e.g. delete
        (bucket_start, source) from a long-form histogram tier masks
        every bin of that group) — the mask joins on the delete file's
        own columns. Returns the number of distinct key tuples
        recorded. Reference analog: cache eviction / forced re-run of
        an existing product (`/root/reference/s1tiling/libs/
        S1FileManager.py:735-748`), as data-level DELETE semantics.
        """
        from pyspark.sql import Observation

        out = (
            keys_df.select(*keys)
            .distinct()
            .withColumn("commit_seq", F.lit(commit_seq))
            .withColumn("run_id", F.lit(run_id))
        )
        obs = Observation(f"delete-{tier}-{commit_seq}")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
        tmp = self._deletes_path(tier) + f"_tmp_{uuid.uuid4().hex}"
        out.write.mode("overwrite").parquet(tmp)
        rows = int(obs.get["rows"])
        if rows == 0:
            shutil.rmtree(tmp)
            return 0
        # same publish discipline as append: a delete file landing
        # mid-compaction would be GC'd as "applied" without ever being
        # applied — wait out the maintenance window
        self._wait_maintenance_clear(tier)
        dest = self._deletes_path(tier)
        os.makedirs(dest, exist_ok=True)
        for fn in os.listdir(tmp):
            if fn.endswith(".parquet"):
                # commit-seq prefix keeps part-file names collision-free
                # across delete commits
                os.rename(
                    os.path.join(tmp, fn), os.path.join(dest, f"d{commit_seq}-{fn}")
                )
        shutil.rmtree(tmp)
        return rows

    def _delete_groups(self, tier: str) -> list[tuple[list[str], DataFrame]]:
        """Delete files grouped by their OWN key-column set. ``delete``
        allows any key prefix per call, so one tier's ``_deletes`` dir
        may mix schemas (e.g. (bucket_start, source) group deletes next
        to (bucket_start, source, bin) row deletes); a single
        schema-inferred scan over the mix would either drop a key
        column (over-deleting whole groups) or NULL-fill it (the
        equality join never matches — deleted rows resurrect). Each
        file's key set IS its footer schema minus the lineage columns,
        so group the FILES driver-side by footer (pyarrow, no Spark
        job — the same metadata-not-data discipline as Iceberg's
        manifest list) and return one DataFrame per distinct key set —
        every delete commit, unmasked (callers scope it to a horizon).
        """
        path = self._deletes_path(tier)
        if not os.path.isdir(path):
            return []
        import pyarrow.parquet as pq

        by_keys: dict[tuple[str, ...], list[str]] = {}
        for fn in sorted(os.listdir(path)):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(path, fn)
            cols = [
                c
                for c in pq.read_schema(fp).names
                if c not in ("commit_seq", "run_id")
            ]
            by_keys.setdefault(tuple(sorted(cols)), []).append(fp)
        out = []
        for key_cols, files in sorted(by_keys.items()):
            # files within a group share one schema by construction
            # (the group IS the footer column set); explicit schema
            # from the first file skips the Spark inference job
            df = (
                self.spark.read.schema(self._footer_schema(files[0]))
                .parquet(*files)
            )
            out.append((list(key_cols), df))
        return out

    def _apply_delete_mask(
        self, df: DataFrame, tier: str, vis: Visibility, as_of_seq: int | None = None
    ) -> DataFrame:
        """Row-level mask: drop versions with ``commit_seq <= the
        newest matching delete``. Delete files are small (Iceberg's own
        assumption for equality deletes) → broadcast left join; the
        join keys are each delete file's OWN key columns, so
        group-level deletes (key prefix) mask every row of the group.
        One mask join per distinct key set — sequential application is
        the OR of the masks (a row is dropped iff ANY delete commit
        newer than it matches on that delete's keys). The deletes
        themselves are scoped to the horizon: committed at or before
        ``as_of_seq``, and a delete inside a rolled-back range is
        voided with it (the rollback undoes the DELETE too)."""
        for key_cols, dels in self._delete_groups(tier):
            if as_of_seq is not None:
                dels = dels.filter(F.col("commit_seq") <= int(as_of_seq))
            dels = vis.unvoided(dels, as_of_seq)
            dmax = dels.groupBy(*key_cols).agg(F.max("commit_seq").alias("_del_seq"))
            df = (
                df.join(F.broadcast(dmax), key_cols, "left")
                .filter(
                    F.col("_del_seq").isNull()
                    | (F.col("commit_seq") > F.col("_del_seq"))
                )
                .drop("_del_seq")
            )
        return df

    def merge_into(
        self,
        tier: str,
        source: DataFrame,
        run_id: str,
        keys: tuple[str, ...] = DEFAULT_KEYS,
        delete_unmatched: bool = False,
    ) -> dict:
        """MERGE INTO analog over the append-only commit model.

        ``WHEN MATCHED THEN UPDATE`` + ``WHEN NOT MATCHED THEN INSERT``
        is exactly ONE newest-wins append — no target scan, no rewrite:
        the source rows mint a fresh commit and the dedup-on-read
        window serves them over every older version of the same key
        (Iceberg needs copy-on-write or positional deletes here; the
        seq-versioned model gets both clauses for free).

        ``delete_unmatched=True`` adds ``WHEN NOT MATCHED BY SOURCE
        THEN DELETE`` — sync the tier to the source snapshot: current
        keys ABSENT from the source are equality-deleted (victims are
        planned against the pre-merge state, so the just-appended keys
        can never be victims; they are source keys by construction).

        Ordering is append-FIRST, the backfill discipline
        (plans/backfill.py): a crash between the two commits leaves
        unmatched keys stale-but-present — never a masked-empty window
        — and re-running the merge heals (the duplicate append is
        absorbed by newest-wins, the delete completes the sync).

        Returns {"appended_rows", "deleted_keys", "append_seq",
        "delete_seq"} (delete fields None unless a delete committed).

        Reference analog: the reference re-runs a tile's product set
        and removes obsolete outputs of the previous run
        (`/root/reference/s1tiling/libs/S1FileManager.py:735-748`) —
        here as one transactional-enough table sync."""
        current = self.read(tier, keys=keys)
        victims = None
        if delete_unmatched and current is not None:
            victims = current.select(*keys).join(
                source.select(*keys).distinct(), list(keys), "left_anti"
            )
        append_seq = self.next_commit_seq()
        appended = self.append(tier, source, append_seq, run_id)
        out = {
            "appended_rows": appended,
            "deleted_keys": None,
            "append_seq": append_seq,
            "delete_seq": None,
        }
        if victims is not None:
            delete_seq = self.next_commit_seq()
            out["deleted_keys"] = self.delete(
                tier, victims, delete_seq, run_id, keys=keys
            )
            out["delete_seq"] = delete_seq
        return out

    # ---------- data ----------
    def _committed_key_path(self, tier: str, key: str) -> str:
        safe = key.replace("/", "_").replace("=", "~")
        return os.path.join(self.base_dir, "_committed_runs", tier, safe)

    def append(
        self,
        tier: str,
        df: DataFrame,
        commit_seq: int,
        run_id: str,
        idempotency_key: str | None = None,
    ) -> int:
        """Append tier rows with lineage columns; returns rows written.

        Lineage columns are the analog of the reference's propagated
        TIFF metadata (`steps.py:344-403`).

        Write distribution (Iceberg's ``write.distribution-mode=hash``
        analog): the batch is hash-repartitioned on ``p_date`` so each
        append lands one file per touched date — WITHOUT this, a batch
        arriving in S shuffle partitions spanning D dates writes S×D
        splinter files and every later read pays the open/footer cost
        (measured: a 4k-row append wrote ~2.9k files and tripled the
        matview gate's refresh cost).

        ``idempotency_key``: replay protection for at-least-once
        producers (Spark's foreachBatch recipe — pass the streaming
        batchId). An append whose key was already committed for this
        tier is SKIPPED (returns 0). This matters doubly for ADDITIVE
        tiers (:meth:`read_summed`): newest-wins reads merely waste
        space on a replayed batch, but an additive read would
        double-count it.

        Exactly-once protocol (two-phase marker, closes the r4 replay
        window): the key's marker is written in state ``pending``
        (carrying this attempt's commit_seq) BEFORE any data file
        moves, flipped to ``committed`` after the last move. Data files
        are named ``c<seq>-...`` so a replay that finds a ``pending``
        marker can REPAIR — delete every file of the torn commit, then
        re-append under its own fresh seq. Every crash point is
        covered: before the pending marker → nothing published, replay
        appends fresh; mid-move or after the last move but before the
        ``committed`` flip → replay removes the c<seq> files (whether
        some or all landed) and redoes; after the flip → replay skips.
        No interleaving double-counts an additive tier. The repair
        runs ONLY under the same idempotency key (the streaming
        contract guarantees the prior attempt is dead when its batch
        replays) — a generic GC must not touch pending commits, because
        under multi-writer they may be a LIVE append mid-move.
        """
        from pyspark.sql import Observation

        marker = (
            self._committed_key_path(tier, idempotency_key)
            if idempotency_key is not None
            else None
        )
        if marker is not None and os.path.exists(marker):
            with open(marker) as f:
                prior = json.load(f)
            # legacy markers (pre two-phase) were written post-move only
            if prior.get("state", "committed") == "committed":
                return 0
            self._remove_commit_files(tier, int(prior["commit_seq"]))
        df = self._align_write_schema(tier, df)
        out = (
            df.withColumn("commit_seq", F.lit(commit_seq))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("p_date", F.to_date("bucket_start"))
        )
        # EXPLICIT partition count: a bare repartition(col) lets AQE
        # coalesce the write to ONE task, which then writes every
        # touched date's file serially (~100 ms/file of fixed
        # parquet+committer cost — measured 4.7 s for a 45-date
        # micro-append vs 0.4 s parallel). Parallelism = the number of
        # concurrently runnable tasks (defaultParallelism / task.cpus),
        # machine-derived, not a local constant; each date still hashes
        # to exactly one task, so the one-file-per-date layout contract
        # is unchanged.
        out = out.repartition(self._write_slots(), F.col("p_date"))
        # ONE action: the row count rides the write itself via observe()
        # — no second scan of the output (VERDICT r2 nit)
        obs = Observation(f"append-{tier}-{commit_seq}")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
        tmp = self.tier_path(tier) + f"_tmp_{uuid.uuid4().hex}"
        out.write.mode("overwrite").partitionBy("p_date").parquet(tmp)
        rows = int(obs.get["rows"])
        if rows == 0:
            shutil.rmtree(tmp)
            if marker is not None:
                # an empty batch is still a committed batch — skip its replays
                os.makedirs(os.path.dirname(marker), exist_ok=True)
                atomic_json_write(
                    marker,
                    {"state": "committed", "commit_seq": commit_seq, "run_id": run_id},
                )
            return 0
        if marker is not None:
            # phase 1: declare intent BEFORE any file is visible
            os.makedirs(os.path.dirname(marker), exist_ok=True)
            atomic_json_write(
                marker,
                {"state": "pending", "commit_seq": commit_seq, "run_id": run_id},
            )
        # move finished partition files into the live table dir —
        # never while maintenance is mid-directory-swap on this tier
        self._wait_maintenance_clear(tier)
        dest = self.tier_path(tier)
        os.makedirs(dest, exist_ok=True)
        moved: list[str] = []
        for f in self._data_files(tmp):
            # commit-seq prefix → a torn keyed commit is repairable by
            # name (and names stay collision-free across commits)
            rel = f"{f.part}/c{commit_seq}-{f.name}"
            os.makedirs(os.path.join(dest, f.part), exist_ok=True)
            os.rename(f.path, os.path.join(dest, rel))
            moved.append(rel)
        shutil.rmtree(tmp)
        self._record_file_bounds(tier, moved)
        if marker is not None:
            # phase 2: the committed flip is the commit point
            atomic_json_write(
                marker,
                {"state": "committed", "commit_seq": commit_seq, "run_id": run_id},
            )
        return rows

    def _commit_files(self, tier: str, commit_seq: int) -> list[str]:
        """Paths of the data files ``commit_seq`` appended to ``tier``
        (by their ``c<seq>-`` name). Driver-side listdir over partition
        dirs, metadata-scale work."""
        return [
            f.path
            for f in self._data_files(self.tier_path(tier))
            if f.kind == "c" and f.seq == int(commit_seq)
        ]

    def _remove_commit_files(self, tier: str, commit_seq: int) -> None:
        """Delete every data file of ``commit_seq`` from ``tier`` (torn
        keyed-append repair — see :meth:`append`)."""
        for fp in self._commit_files(tier, commit_seq):
            os.remove(fp)

    def commit_watermarks(self, tier: str, commit_seq: int) -> dict[str, int]:
        """Per source, the newest ``bucket_start`` (epoch micros) among
        the rows ``commit_seq`` appended to ``tier`` — read back from
        that commit's own files, two columns, driver-side (no Spark
        job). A file a concurrent compaction folded away is skipped:
        an older watermark only makes the next refresh re-plan more."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        schema = pa.schema([("source", pa.string()), ("bucket_start", pa.timestamp("us"))])
        tables = []
        for fp in self._commit_files(tier, commit_seq):
            try:
                t = pq.read_table(
                    fp, columns=list(schema.names), coerce_int96_timestamp_unit="us"
                )
            except FileNotFoundError:
                continue
            tables.append(t.select(list(schema.names)).cast(schema))
        if not tables:
            return {}
        newest = (
            pa.concat_tables(tables)
            .filter(pc.is_valid(pc.field("source")))
            .group_by("source")
            .aggregate([("bucket_start", "max")])
        )
        return dict(zip(
            newest["source"].to_pylist(),
            newest["bucket_start_max"].cast(pa.int64()).to_pylist(),
        ))

    def _pending_keyed_commits(self, tier: str) -> list[tuple[int, float]]:
        """(commit_seq, marker age in seconds) of every keyed append
        whose two-phase marker is still ``pending`` — either a LIVE
        producer mid-move or a torn commit whose producer died before
        the committed flip. Metadata-only (one small JSON per key)."""
        kdir = os.path.join(self.base_dir, "_committed_runs", tier)
        if not os.path.isdir(kdir):
            return []
        out = []
        now = time.time()
        for fn in os.listdir(kdir):
            fp = os.path.join(kdir, fn)
            try:
                with open(fp) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                continue
            if rec.get("state", "committed") != "committed":
                out.append((int(rec["commit_seq"]), now - os.path.getmtime(fp)))
        return out

    def _plan_files_above_seq(
        self, tier: str, min_seq: int, vis: Visibility
    ) -> list[str] | None:
        """Driver-side incremental file planning (the Iceberg
        incremental-manifest analog): the list of live data files that
        MAY contain rows with ``commit_seq > min_seq``, decided from
        file NAMES alone — append files are ``c<seq>-`` (exact),
        compact outputs ``m<maxseq>-`` (exact footer max), anything
        unprefixed (legacy) is conservatively included. Returns None
        when nothing would be skipped — the caller then keeps the
        plain directory scan (identical plan, no file list to ship).

        This is what keeps ``read_incremental``/``changes`` O(new
        files) in *metadata*: without it every incremental batch lists
        and opens the full table's footers just to let row-group stats
        discard compacted history — at 10^12 rows that listing is the
        storm Iceberg's manifests exist to avoid."""
        # a published-but-not-yet-baked WAP commit lives in files whose
        # NAME carries its old staged seq while its EFFECTIVE seq is
        # the publish seq — any file that may contain such a row must
        # survive the skip (a c-file iff its seq IS a risky old seq; an
        # m-file iff its max covers one). Conservative by construction;
        # the next compact bakes the remap and retires the exception.
        risky = {old for old, new in vis.remap.items() if new > int(min_seq)}
        min_risky = min(risky) if risky else None
        keep: list[str] = []
        skipped = 0
        for f in self._data_files(self.tier_path(tier)):
            if f.seq is not None and f.seq <= int(min_seq):
                may_hold_risky = (
                    f.seq in risky
                    if f.kind == "c"
                    else (min_risky is not None and f.seq >= min_risky)
                )
                if not may_hold_risky:
                    skipped += 1
                    continue
            keep.append(f.path)
        if skipped == 0 or not keep:
            return None
        return keep

    def _bounds_sidecar_path(self, tier: str) -> str:
        return os.path.join(self.base_dir, f"_filebounds_{tier}.jsonl")

    def _record_file_bounds(self, tier: str, rel_paths: list[str]) -> None:
        """Record per-file ``source`` min/max bounds for freshly
        committed data files (the Iceberg manifest column-bounds
        analog, ``lower_bounds``/``upper_bounds``): the WRITER pays one
        local footer read per file it just wrote — O(its own commit),
        never a table-wide listing — and reads get
        :meth:`_plan_source_files` file skipping forever after.

        Written as ONE O_APPEND write to a per-tier JSONL sidecar, not
        a rewrite of the whole compact-meta JSON: the meta rewrite made
        each micro-batch append pay O(all files since last compaction)
        in metadata I/O (O(N²) cumulative for a streaming sink).
        Compaction folds the sidecar back into the meta baseline and
        truncates it. Purely advisory at every step: a file with no
        entry (torn line, line lost to a crash, entry raced past a
        concurrent rebuild) is conservatively scanned, never wrong."""
        import pyarrow.parquet as pq

        dest = self.tier_path(tier)
        lines: list[str] = []
        for rel in rel_paths:
            fp = os.path.join(dest, rel)
            try:
                sb = self._footer_col_minmax(pq.read_metadata(fp), "source")
            except OSError:
                continue
            if sb is not None:
                lines.append(
                    json.dumps({"rel": rel, "b": [str(sb[0]), str(sb[1])]})
                )
        if lines:
            buf = ("\n".join(lines) + "\n").encode()
            fd = os.open(
                self._bounds_sidecar_path(tier),
                os.O_CREAT | os.O_WRONLY | os.O_APPEND,
            )
            try:
                os.write(fd, buf)
            finally:
                os.close(fd)

    def _file_bounds(self, tier: str) -> dict:
        """Merged per-file ``source`` bounds: the compact-meta baseline
        (rebuilt at every compaction) plus the append sidecar's lines
        since. Malformed sidecar lines (a torn concurrent write) are
        skipped — the file just stays conservatively unskippable."""
        bounds = dict(
            self._read_compact_meta().get(f"_filebounds_{tier}") or {}
        )
        try:
            with open(self._bounds_sidecar_path(tier)) as f:
                for line in f:
                    try:
                        rec = json.loads(line)
                        bounds[rec["rel"]] = rec["b"]
                    except (ValueError, KeyError):
                        continue
        except OSError:
            pass
        return bounds

    def _plan_source_files(
        self, tier: str, sources, base: list[str] | None
    ) -> list[str] | None:
        """Data-file skipping by recorded ``source`` bounds (Iceberg
        manifest min/max pruning): given the candidate file list
        (``base`` from incremental planning, else the live directory
        walk), keep every file whose recorded [min, max] range admits
        at least one requested source — plus every file with NO
        recorded bounds (legacy/crash-gap files are conservatively
        scanned; the row filter keeps results exact either way).

        Returns None when nothing would be skipped (the caller keeps
        the plain scan — identical plan, no file list to ship). At
        10^12 rows with date-only partitioning this is what turns a
        single-source serving read from O(all files of the date range)
        into O(that source's files), without a second partition
        dimension (source-partitioning would explode partition count;
        bounds-skipping gets the same scan shape from layout alone)."""
        bounds = self._file_bounds(tier)
        if not bounds:
            return None
        allowed = None if base is None else set(base)
        cand = [
            f
            for f in self._data_files(self.tier_path(tier))
            if allowed is None or f.path in allowed
        ]
        want = [str(s) for s in sources]
        keep: list[str] = []
        for f in cand:
            b = bounds.get(f.rel)
            if b is None or any(b[0] <= s <= b[1] for s in want):
                keep.append(f.path)
        if len(keep) == len(cand):
            return base
        if not keep:
            # every file pruned: scan one file anyway (the row filter
            # yields the empty result) — reader.parquet() needs a path
            keep = [cand[0].path]
        return keep

    @staticmethod
    def _footer_col_minmax(md, col: str):
        """(min, max) of ``col`` across a footer's row-group stats, or
        None when the column is absent or any group lacks stats."""
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            return None
        stats = [
            md.row_group(g).column(idx).statistics
            for g in range(md.num_row_groups)
        ]
        if not stats or any(s is None or s.min is None or s.max is None for s in stats):
            return None
        return min(s.min for s in stats), max(s.max for s in stats)

    def _prefix_compact_files(self, tmp: str) -> dict[str, list]:
        """Name each compact output file ``m<maxseq>-...`` where maxseq
        is its exact footer max ``commit_seq`` (pyarrow, driver-side —
        one footer per output file, i.e. one per partition; on a real
        catalog this rides the manifest commit). These names are what
        lets :meth:`_plan_files_above_seq` skip compacted history at
        PLANNING time forever after.

        Returns the per-file ``source`` bounds of every output (keyed
        by its POST-rename ``p_date=…/file`` rel path) — the same
        footers are already open, so compact's manifest entry for
        :meth:`_plan_source_files` rides this pass for free."""
        import pyarrow.parquet as pq

        bounds: dict[str, list] = {}
        for f in self._data_files(tmp):
            md = pq.read_metadata(f.path)
            rel = f.rel
            if f.kind is None:
                mm = self._footer_col_minmax(md, "commit_seq")
                if mm is not None:
                    rel = f"{f.part}/m{int(mm[1])}-{f.name}"
                    os.rename(f.path, os.path.join(tmp, rel))
            sb = self._footer_col_minmax(md, "source")
            if sb is not None:
                bounds[rel] = [str(sb[0]), str(sb[1])]
        return bounds

    def read(
        self,
        tier: str,
        deduped: bool = True,
        keys: tuple[str, ...] = DEFAULT_KEYS,
        as_of_seq: int | None = None,
        merge_schema: bool = False,
        ref: str | None = None,
        branch: str | None = None,
        p_dates: list | None = None,
        sources: list | None = None,
        canonical_names: bool = False,
        min_seq_hint: int | None = None,
        audit_seq: int | None = None,
        _staged_raw: bool = False,
    ) -> DataFrame | None:
        """Read a tier table; with ``deduped`` the newest commit wins per
        natural key (default (bucket_start, source); histogram tables add
        ``bin``) — MERGE-on-read.

        Which row versions are visible is decided by the tier's
        :class:`Visibility`, loaded once per read: WAP staging and the
        as-of horizon always apply; ``deduped`` reads also drop the
        versions rolled back at the horizon and those masked by
        equality deletes (``deduped=False`` is the physical row-version
        view — compact, snapshots, additive folds).

        Schema evolution (rename/drop/widen — :meth:`rename_column` /
        :meth:`drop_column` / :meth:`widen_column`) is applied as
        metadata, Iceberg field-id style: files keep whatever names
        they were written with; the read coalesces a renamed column's
        physical names into the name the requested horizon used (an
        as-of read BELOW the rename seq serves the OLD name), and drops
        are hidden only at horizons at/after their seq.
        ``canonical_names=True`` serves CURRENT names/drops regardless
        of horizon — for consumers that must align two horizons'
        schemas (``changes``) or rewrite files (``compact``).

        ``as_of_seq``: snapshot-as-of (time-travel) read — reconstruct
        the table state as of commit ``as_of_seq`` by restricting the
        MERGE-on-read to versions with ``commit_seq <= as_of_seq``.
        The Iceberg ``VERSION AS OF`` analog on the existing commit_seq
        lineage (reference analog: restart-from-existing-products,
        `/root/reference/s1tiling/libs/otbpipeline.py:814-819`).
        Raises if a compaction has expired history below that horizon
        (``min_as_of``), or if a retention expiry dropped dates of that
        state and ``p_dates`` does not exclude them — a silent wrong
        answer is never returned.

        ``merge_schema``: schema-evolution read (Iceberg add-column
        analog). Appends may carry NEW columns; with ``merge_schema``
        the scan requests the union of every file's footer schema and
        back-fills old rows with NULL. Opt-in because it reads every
        footer up front — at 10^12-row scale that is a metadata storm
        to pay only after an actual evolution (a real Iceberg catalog
        serves the current schema from the table metadata instead).

        ``ref``: read as of a named tag (:meth:`tag`) — sugar for
        ``as_of_seq=self.resolve_ref(ref)``.

        ``branch``: read a writable branch (:meth:`create_branch`) —
        main as of the branch's base snapshot plus the branch's own
        commit chain, newest-wins across both. Deletes/rollbacks
        committed to main after the base do not affect the branch view
        (the lineage diverged before them).

        ``p_dates``: restrict the scan to these partition dates —
        static partition pruning for callers that already know which
        dates can matter (``changes(prune_partitions=True)`` derives
        them from the touched keys). The filter sits directly on the
        partition column, so unlisted dates are never opened.

        ``sources``: restrict the read to these sources. Semantically a
        row filter on ``source`` applied BEFORE the MERGE-on-read dedup
        (identical to filtering after under the default keys, which
        include ``source``); physically it also skips whole data files
        whose recorded per-file source bounds (:meth:`_record_file_
        bounds`, the Iceberg manifest lower/upper-bounds analog) admit
        none of the requested sources — the single-source serving read
        scans O(that source's files), not O(all files of the date).

        ``min_seq_hint``: incremental file skipping
        (:meth:`_plan_files_above_seq`). A pure OPTIMIZATION hint —
        the caller promises it will anyway discard rows with
        ``commit_seq <= min_seq_hint``, so the scan may plan only the
        files whose name-encoded max seq exceeds the hint. The hint
        never changes results; it changes which files the plan lists.
        """
        if ref is not None:
            if as_of_seq is not None:
                raise ValueError("pass as_of_seq or ref, not both")
            as_of_seq = self.resolve_ref(ref)
        chain: list[int] = []
        if branch is not None:
            # a branch read is main AS OF the branch's base snapshot
            # (every snapshot guard applies to the base) plus the
            # branch's own commit chain exposed past that horizon
            if as_of_seq is not None or audit_seq is not None:
                raise ValueError(
                    "branch reads cannot combine with as_of_seq/ref/audit_seq"
                )
            as_of_seq, chain = self._branch_seqs(tier, branch)
        vis = self._visibility(tier)
        df = self._scan(
            tier,
            vis,
            horizon=as_of_seq,
            exposed=chain if audit_seq is None else [int(audit_seq)],
            merge_schema=merge_schema,
            p_dates=p_dates,
            sources=sources,
            canonical_names=canonical_names,
            min_seq_hint=min_seq_hint,
            staged_raw=_staged_raw,
        )
        if df is None:
            return None
        if as_of_seq is not None:
            df = vis.as_of(df, as_of_seq, p_dates, chain)
        if not deduped:
            return df
        return self._merge_on_read(df, tier, vis, keys, as_of_seq)

    def _merge_on_read(
        self,
        df: DataFrame,
        tier: str,
        vis: Visibility,
        keys: tuple[str, ...],
        as_of_seq: int | None,
    ) -> DataFrame:
        """The deduped view of a horizon-filtered scan: rollback mask,
        newest-wins pick, equality-delete mask."""
        # rollback mask BEFORE the newest-wins pick: voiding the newest
        # version must let the restored older one win again
        out = self._newest_wins(vis.unvoided(df, as_of_seq), keys)
        # newest-wins first, mask after: equivalent (the winner is the
        # max seq — masked iff max <= del_seq either way) and the join
        # then touches one row per key instead of every version
        return self._apply_delete_mask(out, tier, vis, as_of_seq)

    def snapshot(
        self, tier: str, as_of_seq: int | None = None
    ) -> DataFrame | None:
        """The deduped tier at the head (or ``as_of_seq``), persisted
        and reused until the tier's commit state changes — the serving
        path's read (key, bound and release: see the module docstring).
        Same rows as ``read(tier, as_of_seq=as_of_seq)``, built from the
        same :class:`Visibility` record the key holds. None for a tier
        with no data files and, as of a horizon, for a tier with no rows
        at it: that emptiness is probed once per build, never per
        query. The cache fills on the snapshot's first use."""
        from s1tiling_spark.operators.cache import is_cached, persist_tracked

        vis = self._visibility(tier)
        path = self.tier_path(tier)
        files = []
        for f in self._data_files(path):
            try:
                st = os.stat(f.path)
            except OSError:
                continue  # retired by a concurrent compact
            files.append((f.rel, st.st_size, st.st_mtime_ns))
        dels = self._deletes_path(tier)
        deletes = sorted(os.listdir(dels)) if os.path.isdir(dels) else []
        key = (as_of_seq, tuple(files), vis, tuple(deletes))
        slot = (tier, as_of_seq is not None)
        with self._snapshot_lock:
            held = self._snapshots.pop(slot, None)
            if held is not None:
                held_key, cached, served = held
                if held_key == key and is_cached(cached):
                    self._snapshots[slot] = held
                    return served
                cached.unpersist()
            df = self._scan(tier, vis, horizon=as_of_seq)
            if df is None:
                return None
            if as_of_seq is not None:
                df = vis.as_of(df, as_of_seq)
            df = self._merge_on_read(df, tier, vis, DEFAULT_KEYS, as_of_seq)
            if as_of_seq is not None and df.isEmpty():
                return None
            # a unique tag on the cached plan: Spark matches cache
            # entries by plan, so an untagged entry would also serve a
            # plain read() of the same tier, or another store's
            # snapshot, from stale rows
            cached = persist_tracked(
                df.withColumn("_snapshot", F.lit(uuid.uuid4().hex))
            )
            served = cached.drop("_snapshot")
            self._snapshots[slot] = (key, cached, served)
            return served

    def _scan(
        self,
        tier: str,
        vis: Visibility,
        horizon: int | None = None,
        exposed=(),
        merge_schema: bool = False,
        p_dates: list | None = None,
        sources: list | None = None,
        canonical_names: bool = False,
        min_seq_hint: int | None = None,
        staged_raw: bool = False,
        drop_horizon: int | None = None,
    ) -> DataFrame | None:
        """The row-version view every reader starts from (see
        :meth:`read` for the arguments): one scan of the tier's live
        files, columns resolved through ``vis.schema_ops`` at
        ``horizon``, WAP remap/hide applied (unless ``staged_raw``),
        then the partition and source row filters. No horizon filter
        and no masks — the caller applies those from the same ``vis``.
        ``drop_horizon`` (compact) bounds which drops are physically
        applied so history-preserving compaction keeps columns its
        preserved snapshots still show. None for an empty tier."""
        path = self.tier_path(tier)
        # partition dirs can exist EMPTY (a torn keyed commit whose files
        # the replay repair removed, a crash between mkdir and the file
        # moves) and schema inference over zero files raises where the
        # table is semantically just empty; the first file is also the
        # deterministic footer-schema sample for plain scans
        sample = next(self._data_files(path), None)
        if sample is None:
            return None
        ops = vis.schema_ops
        reader = self.spark.read.option("basePath", path)
        if merge_schema or ops:
            # files may disagree on column names (live rename/drop, added
            # columns) or types (live widen): request the footer-union
            # schema, widest type per column
            reader = reader.schema(self._union_read_schema(tier, ops))
        else:
            # plain scan: explicit footer schema (driver-side pyarrow,
            # cached) replaces the per-read Spark inference job —
            # see _footer_schema for the contract argument. Reads are
            # lock-free, so a concurrent compact may retire the sample
            # between listing and stat — fall back to Spark inference
            # for that read rather than failing it.
            try:
                reader = reader.schema(self._footer_schema(sample.path))
            except OSError:
                pass
        planned = (
            self._plan_files_above_seq(tier, min_seq_hint, vis)
            if min_seq_hint is not None
            else None
        )
        if sources is not None:
            # manifest-bounds data-file skipping composes with the
            # incremental file plan: prune the already-planned list (or
            # the live walk) by recorded per-file source ranges
            planned = self._plan_source_files(tier, sources, planned)
        # basePath keeps p_date partition parsing identical for the
        # explicit file list; None → nothing skippable, plain dir scan
        df = reader.parquet(*planned) if planned is not None else reader.parquet(path)
        if ops:
            df = self._apply_schema_ops(
                df,
                ops,
                horizon=horizon,
                canonical=canonical_names,
                drop_horizon=drop_horizon,
            )
        if not staged_raw:
            # WAP: BEFORE any as-of filter and the newest-wins pick — a
            # published commit must order as the fresh commit it is
            df = vis.expose(df, exposed)
        if p_dates is not None:
            df = df.filter(F.col("p_date").isin([str(d) for d in p_dates]))
        if sources is not None:
            # the row filter is ALWAYS applied — file skipping above is
            # a pure scan optimization, never the correctness mechanism
            df = df.filter(F.col("source").isin([str(s) for s in sources]))
        return df

    @staticmethod
    def _newest_wins(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
        """MERGE-on-read: the newest version per natural key.

        Computed as ONE aggregate — max over struct(commit_seq, vals…)
        per key (struct compare leads with commit_seq) — which
        partial-aggregates map-side, so the exchange carries O(keys)
        rows (same formulation as the one-pass changelog). A max
        over a struct cannot hash-aggregate, so the plan is
        ``SortAggregate(partial_max)`` → ``Exchange`` → ``SortAggregate``,
        with a sort on each side of the exchange. Tie order among
        equal seqs is deterministic (struct field compare). Map
        columns are not orderable, so map-bearing relations rank with
        a window instead."""
        if any("map<" in t for _, t in df.dtypes):
            w = Window.partitionBy(*keys).orderBy(F.desc("commit_seq"))
            return (
                df.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .drop("_rk")
            )
        val_cols = [c for c in df.columns if c not in keys]
        img = F.struct(
            *[
                F.col(c)
                for c in (
                    "commit_seq",
                    *[c for c in val_cols if c != "commit_seq"],
                )
            ]
        )
        return (
            df.groupBy(*keys)
            .agg(F.max(img).alias("_w"))
            .select(
                *[
                    F.col(c) if c in keys else F.col(f"_w.{c}").alias(c)
                    for c in df.columns
                ]
            )
        )

    def read_summed(
        self,
        tier: str,
        keys: tuple[str, ...],
        sum_cols: tuple[str, ...],
        as_of_seq: int | None = None,
        ref: str | None = None,
    ) -> DataFrame | None:
        """ADDITIVE merge-on-read: fold all row versions per key with a
        grouped SUM instead of newest-wins. For tiers whose appended
        rows are mergeable PARTIALS — streaming counter-increase
        partials, long-form sketch counters — where a later delivery
        INCREMENTS the bucket rather than superseding it. (Newest-wins
        ``read`` would silently drop every partial but the last; the
        two merge disciplines are per-tier contracts, like Iceberg's
        upsert-vs-aggregate table distinction.) Cheaper than the rank
        window at scale: a partial-agg SUM shuffles O(keys), no sort.
        ``as_of_seq`` time travel composes (sum versions ≤ horizon).

        At-least-once producers MUST pass a replay-stable
        ``idempotency_key`` to :meth:`append` (e.g. the streaming
        batchId): an additive read has no way to dedup a replayed
        batch after the fact — summing is exactly what it does."""
        if not sum_cols:
            raise ValueError("read_summed requires sum_cols")
        if ref is not None:
            if as_of_seq is not None:
                raise ValueError("pass as_of_seq or ref, not both")
            as_of_seq = self.resolve_ref(ref)
        vis = self._visibility(tier)
        df = self._scan(tier, vis, horizon=as_of_seq)
        if df is None:
            return None
        if as_of_seq is not None:
            df = vis.as_of(df, as_of_seq)
        # additive tiers mask at ROW level (each partial <= the delete's
        # seq is excluded from the fold; later partials keep summing);
        # rolled-back partials drop out of the fold the same way
        df = vis.unvoided(df, as_of_seq)
        df = self._apply_delete_mask(df, tier, vis, as_of_seq)
        return df.groupBy(*keys).agg(*_sum_exprs(sum_cols))

    def snapshots(self, tier: str) -> DataFrame | None:
        """List commits still present in ``tier``: one row per
        commit_seq with its run_id, row-version count and date range —
        the ``table.snapshots`` metadata-table analog. Any listed
        ``commit_seq >= min_as_of(tier)`` is a valid ``as_of_seq``.
        ``voided`` marks commits inside a rollback's excluded range:
        invisible to current reads, still as-of readable as orphaned
        history until a compaction expires them."""
        vis = self._visibility(tier)
        df = self._scan(tier, vis)
        if df is None:
            return None
        return (
            df.groupBy("commit_seq")
            .agg(
                F.first("run_id").alias("run_id"),
                F.count(F.lit(1)).alias("row_versions"),
                F.min("p_date").alias("min_date"),
                F.max("p_date").alias("max_date"),
            )
            .withColumn("voided", vis.rolled_back())
            .orderBy("commit_seq")
        )

    def partition_dates(self, tier: str) -> list[str]:
        """The tier's ``p_date`` partitions holding at least one data
        file, sorted — the dates :meth:`partitions` reports, from names
        alone (driver-side listdir, no footer; the input to a
        partition-pruned ``read(p_dates=…)``)."""
        return list(dict.fromkeys(
            f.p_date for f in self._data_files(self.tier_path(tier))
        ))

    def files(self, tier: str) -> list[dict]:
        """File-level metadata table (Iceberg ``table.files`` analog):
        one dict per live parquet file with its partition, size, row
        count and commit_seq range — all read from parquet FOOTERS
        (pyarrow, driver-side, no Spark job), the same
        metadata-not-data discipline as ``_delete_groups``. This is the
        capacity-planning / small-file-diagnosis view that feeds
        ``maybe_compact`` decisions a human can audit: version spread
        per file tells you whether merge-read tax is files or versions.
        """
        import pyarrow.parquet as pq

        out = []
        for f in self._data_files(self.tier_path(tier)):
            md = pq.read_metadata(f.path)
            seq_mm = self._footer_col_minmax(md, "commit_seq")
            src_mm = self._footer_col_minmax(md, "source")
            out.append(
                {
                    "p_date": f.p_date,
                    "file": f.name,
                    "rows": md.num_rows,
                    "bytes": os.path.getsize(f.path),
                    "row_groups": md.num_row_groups,
                    "seq_min": None if seq_mm is None else int(seq_mm[0]),
                    "seq_max": None if seq_mm is None else int(seq_mm[1]),
                    "source_min": None if src_mm is None else str(src_mm[0]),
                    "source_max": None if src_mm is None else str(src_mm[1]),
                }
            )
        return out

    def _zorder_bounds_from_footers(
        self, tier: str, cols: tuple[str, ...], dtypes: dict[str, str]
    ) -> dict | None:
        """Normalization bounds for a z-order rewrite, from the live
        data files' parquet footers (driver-side, no Spark job) — the
        same metadata-not-data discipline as :meth:`files`. Raw-file
        stats are a SUPERSET of any merge outcome, which is exactly what
        normalization bounds need (coverage, not tightness). Returns
        None (caller falls back to an agg) when any footer lacks stats
        for an ordered column, or a column's type can't be ranged."""
        import datetime as _dt

        import pyarrow.parquet as pq

        def _to_double(v):
            if isinstance(v, _dt.datetime):
                # parquet stats come back as naive UTC wall time
                if v.tzinfo is None:
                    v = v.replace(tzinfo=_dt.timezone.utc)
                return v.timestamp()
            if isinstance(v, _dt.date):
                return _dt.datetime(
                    v.year, v.month, v.day, tzinfo=_dt.timezone.utc
                ).timestamp()
            return float(v)

        ordered = [c for c in cols if dtypes.get(c) != "string"]
        if not ordered:
            return {}
        acc: dict[str, list] = {}
        for f in self._data_files(self.tier_path(tier)):
            md = pq.read_metadata(f.path)
            for c in ordered:
                mm = self._footer_col_minmax(md, c)
                if mm is None:
                    return None
                try:
                    lo, hi = _to_double(mm[0]), _to_double(mm[1])
                except (TypeError, ValueError):
                    return None
                cur = acc.get(c)
                acc[c] = (
                    [lo, hi] if cur is None else [min(cur[0], lo), max(cur[1], hi)]
                )
        return {c: tuple(v) for c, v in acc.items()}

    def partitions(self, tier: str) -> list[dict]:
        """Partition-level metadata summary (Iceberg ``table.partitions``
        analog): one dict per live ``p_date`` with file count, row and
        byte totals, and the commit-seq span — a pure driver-side fold
        of :meth:`files` (footers only, no Spark job). This is the
        capacity/health view a retention or compaction policy reads
        first: ``n_files`` per date exposes small-file buildup before
        :meth:`maybe_compact`'s ratio trips, and the seq span shows
        which dates still carry uncompacted history."""
        agg: dict[str, dict] = {}
        for f in self.files(tier):
            p = agg.setdefault(
                f["p_date"],
                {
                    "p_date": f["p_date"],
                    "n_files": 0,
                    "rows": 0,
                    "bytes": 0,
                    "row_groups": 0,
                    "seq_min": None,
                    "seq_max": None,
                },
            )
            p["n_files"] += 1
            p["rows"] += f["rows"]
            p["bytes"] += f["bytes"]
            p["row_groups"] += f["row_groups"]
            for k, fn in (("seq_min", min), ("seq_max", max)):
                if f[k] is not None:
                    p[k] = f[k] if p[k] is None else fn(p[k], f[k])
        return [agg[d] for d in sorted(agg)]

    # ---------- incremental / CDC ----------
    def read_incremental(
        self,
        tier: str,
        from_seq: int,
        to_seq: int | None = None,
        keys: tuple[str, ...] = DEFAULT_KEYS,
    ) -> DataFrame | None:
        """Incremental append scan (Iceberg ``incremental read``
        analog): the NET upsert per key over commits in
        ``(from_seq, to_seq]`` — the newest surviving, unmasked version
        of every key touched in that range. A downstream consumer
        (training-data export, cache refresh) applies these as upserts
        instead of re-reading 10^12 rows; deletions are surfaced by
        :meth:`changes`, not here.

        Compaction-stability: requires ``to_seq >= min_as_of(tier)``
        (raises otherwise). Proof that this suffices even though
        compaction drops superseded versions: the in-range winner ``w``
        of a key is lost only if some newer version ``v' > w`` with
        ``v' <= horizon`` existed — but ``v' <= to_seq`` would make
        ``v'`` the winner, so ``v' > to_seq``, i.e. ``horizon >
        to_seq``. With ``to_seq >= horizon`` no net change is ever
        lost. Equality deletes GC'd by compact are likewise safe here:
        their masked versions were physically removed, which this
        net-state scan reproduces.
        """
        to_eff = int(to_seq) if to_seq is not None else self.last_commit_seq()
        from_seq = int(from_seq)
        vis = self._visibility(tier)
        vis.check(to_eff, "incremental read to_seq")
        # min_seq_hint: only files that can hold in-range rows are
        # planned — files whose every version predates from_seq cannot
        # contribute a ranked winner here (the range filter drops them
        # first), so skipping them is exact, and the incremental scan
        # costs O(new files) in listing/footers, not O(table)
        df = self._scan(tier, vis, min_seq_hint=from_seq)
        if df is None:
            return None
        df = df.filter(
            (F.col("commit_seq") > from_seq) & (F.col("commit_seq") <= to_eff)
        )
        # rolled-back versions are not net new rows at the range's
        # horizon (a rollback crossing (from, to] surfaces as deletes
        # in `changes`, never here — this scan is upserts-only)
        out = self._newest_wins(vis.unvoided(df, to_eff), keys)
        # deletes <= from_seq can never mask an in-range version
        # (version > from_seq >= del_seq), so the as-of-bounded mask is
        # exactly the range's own deletes
        return self._apply_delete_mask(out, tier, vis, to_eff)

    def _touched_dates_from_manifest(
        self, tier: str, from_seq: int, to_eff: int, vis: Visibility
    ) -> tuple[bool, list | None]:
        """Driver-side derivation of the dates a ``changes`` range can
        touch, from file NAMES + delete-file contents — the incremental
        scan-planning half of :meth:`changes`'s partition pruning,
        without the Spark persist + distinct-collect the generic path
        pays (see the call site for the cost argument).

        Returns ``(True, sorted dates)`` — a SUPERSET of the touched
        keys' calendar dates, safe by construction because the
        semi-join on the touched keys (not this list) decides which
        rows diff — or ``(False, None)`` when name-level reasoning
        cannot bound the range:

        - a rollback crossing lands in (from, to] (voided commits can
          be older than any name filter);
        - live staged/WAP entries (a published commit's EFFECTIVE seq
          differs from its file-name seq until compaction bakes it);
        - an in-range delete file whose key set lacks ``bucket_start``
          (a group delete touches raw rows on unknowable dates) or
          holds a NULL ``bucket_start``;
        - any file name neither ``c<seq>-``/``m<maxseq>-`` (data) nor
          ``d<seq>-`` (delete) — legacy names carry no seq to reason
          from.

        Data files: a ``c<seq>`` file holds exactly commit ``seq``'s
        rows → in-range iff from < seq <= to; an ``m<maxseq>`` compact
        output may hold any seq <= max → candidate iff max > from (its
        rows above ``to`` are excluded by the horizon predicates, the
        date is merely a superset entry). Delete files name their seq
        exactly; their touched dates are their ``bucket_start`` values,
        read driver-side with pyarrow (delete files are small —
        Iceberg's own equality-delete assumption)."""
        import datetime as _dt

        if vis.crossings(from_seq, to_eff) or vis.remap or vis.hidden:
            return False, None
        dates: set = set()
        for f in self._data_files(self.tier_path(tier)):
            try:
                d = _dt.date.fromisoformat(f.p_date)
            except ValueError:
                # NULL/default partition (or a foreign dir name): no
                # date literal can select it — the generic path must
                # decide whether it is touched
                return False, None
            if f.kind is None:
                return False, None
            if (f.kind == "c" and from_seq < f.seq <= to_eff) or (
                f.kind == "m" and f.seq > from_seq
            ):
                dates.add(d)
        dpath = self._deletes_path(tier)
        if os.path.isdir(dpath):
            import pyarrow.parquet as pq

            for fn in sorted(os.listdir(dpath)):
                if not fn.endswith(".parquet"):
                    continue
                m = re.match(r"^d(\d+)-", fn)
                if m is None:
                    return False, None
                if not (from_seq < int(m.group(1)) <= to_eff):
                    continue
                fp = os.path.join(dpath, fn)
                if "bucket_start" not in pq.read_schema(fp).names:
                    return False, None
                for v in pq.read_table(
                    fp, columns=["bucket_start"]
                ).column("bucket_start").to_pylist():
                    if v is None:
                        return False, None
                    dates.add(
                        v.date() if isinstance(v, _dt.datetime) else v
                    )
        return True, sorted(dates)

    def changes(
        self,
        tier: str,
        from_seq: int,
        to_seq: int | None = None,
        keys: tuple[str, ...] = DEFAULT_KEYS,
        split_updates: bool = False,
        prune_partitions: bool = False,
    ) -> DataFrame | None:
        """CDC changelog (Iceberg ``create_changelog_view`` analog):
        the row-level diff between the table state as of ``from_seq``
        and as of ``to_seq``, one row per changed key with ``op`` in
        {'insert', 'update', 'delete'}. Insert/update rows carry the
        post-image, delete rows the pre-image (the deleted row).

        ``split_updates``: emit an update as TWO rows —
        ``update_before`` (pre-image) + ``update_after`` (post-image),
        Iceberg's changelog convention with identifier fields. This is
        the form a delta consumer needs: a distributive aggregate is
        maintained by adding post-image rows and subtracting pre-image
        rows, so the signed union {insert, update_after: +1} ∪
        {delete, update_before: -1} IS the view delta
        (:mod:`s1tiling_spark.plans.matview` consumes exactly this).
        Single-pass: both images ride one row through the diff join and
        are expanded by ``inline`` at the end — the touched-key reads
        are never duplicated.

        ``prune_partitions``: every touched key carries its
        ``bucket_start``, so the touched set determines exactly which
        ``p_date`` partitions the two as-of states need — collect those
        dates (tiny: one value per touched calendar day) and open ONLY
        them. This is what makes an incremental consumer O(touched
        days) in scan I/O instead of re-reading the whole table twice:
        at 10^12 rows a late-data refresh touching one day opens one
        partition, not a thousand. The touched relation itself stays
        cheap without pruning — its ``commit_seq > from`` predicate is
        pushed to the parquet row-group stats, and compacted history
        sits in low-seq row groups that the scan skips. Requires
        ``bucket_start`` in ``keys``.

        Needs exact history at ``from_seq``, so both horizons pass the
        tier's :meth:`Visibility.check` (raises past expired history —
        never a silent wrong diff). Cost shape: only keys
        TOUCHED in the range (a data version or a delete) can differ,
        so both as-of states are pruned by a semi-join on that touched
        set before the full-outer diff — the changelog costs
        O(touched), not O(table), exactly how Iceberg derives it from
        range-scoped manifests. The semi-join is left to AQE: for the
        common incremental range the touched set is tiny and becomes a
        runtime broadcast, but a range spanning a bulk append can touch
        every key in the table and a forced broadcast would abort at
        the 8 GB exchange limit.
        """
        to_eff = int(to_seq) if to_seq is not None else self.last_commit_seq()
        from_seq = int(from_seq)
        vis = self._visibility(tier)
        raw = self._scan(tier, vis, canonical_names=True)
        if raw is None:
            return None
        # both images need exact history (raise past expired history —
        # never a silent wrong diff); canonical names on both horizons
        # (a rename inside (from, to] must not misalign the images)
        vis.check(from_seq)
        vis.check(to_eff)
        seq = F.col("commit_seq")

        def valid_at(h: int):
            return (seq <= h) & ~vis.rolled_back(h)

        in_range = (seq > from_seq) & (seq <= to_eff)
        # the touched scan reads only files that can hold in-range
        # versions (name-encoded max seq > from — the manifest analog);
        # `raw` stays the FULL table: delete-file expansion and
        # rollback-crossing sweeps below legitimately reach versions
        # older than from_seq
        inc = self._scan(tier, vis, canonical_names=True, min_seq_hint=from_seq)
        touched = inc.filter(in_range).select(*keys)
        # one footer-grouping pass over the delete files, reused below
        del_groups = self._delete_groups(tier)

        def deleted_keys(dkeys, dels):
            if set(keys) <= set(dkeys):
                # row-level deletes (key set covers the changelog keys)
                # name their touched keys directly — the delete file IS
                # the touched set, no table scan. A named key with no
                # live row is harmless: both as-of states are empty for
                # it, so the diff emits nothing.
                return dels.select(*keys)
            # group-level deletes (key prefix) touch every row of the
            # group — expand through a semi-join against the raw keys,
            # per delete key set (mixed key sets never share one join)
            return raw.join(dels.select(*dkeys), dkeys, "leftsemi").select(*keys)

        # delete-group masks at the POST horizon (to_eff), so a delete
        # voided by a rollback older than to_eff is correctly ignored
        # while one the rollback does not reach still touches its keys
        for dkeys, dels in del_groups:
            touched = touched.unionByName(
                deleted_keys(dkeys, dels.filter(valid_at(to_eff) & in_range))
            )
        # a rollback whose horizon crossing lands inside (from, to]
        # (mask off at `from`, on at `to`) touches every key with a
        # voided data version OR a voided delete — those commits can be
        # OLDER than from_seq, so the in-range scan above never sees
        # them
        for lo, hi in vis.crossings(from_seq, to_eff):
            voided = (seq > lo) & (seq <= hi)
            touched = touched.unionByName(raw.filter(voided).select(*keys))
            for dkeys, dels in del_groups:
                touched = touched.unionByName(deleted_keys(dkeys, dels.filter(voided)))
        touched = touched.distinct()
        p_dates = None
        if prune_partitions:
            if "bucket_start" not in keys:
                raise ValueError(
                    "prune_partitions requires 'bucket_start' in keys "
                    "(the touched set must determine the touched dates)"
                )
            # Fast path (r6): derive the touched DATES driver-side from
            # the commit manifest the file names already are (c<seq>- /
            # m<maxseq>- data files per partition dir, d<seq>- delete
            # files read via pyarrow) — no Spark job, where the generic
            # path pays a persist + distinct-collect over the touched
            # scan (profiled: ~0.5 s of AQE stage jobs per incremental
            # refresh). Returns a SUPERSET of the touched keys' dates
            # (extra dates only widen the pruned scan, never change the
            # diff — the semi-join on `touched` is the correctness
            # mechanism); declines (handled=False) whenever any input
            # defies name-level reasoning — rollback crossings, live
            # WAP/staged entries, delete key sets without bucket_start,
            # NULL bucket_start, unrecognized file names — and the
            # generic Spark-side derivation below runs unchanged.
            handled, p_dates = self._touched_dates_from_manifest(
                tier, from_seq, to_eff, vis
            )
            if not handled:
                # materialize the (small) touched set once: the date
                # collect and the semi-join below reuse it instead of
                # re-deriving the touched scan. Tracked persist,
                # not localCheckpoint: checkpointed blocks are LOST (not
                # recomputed) when an executor dies — wrong default for a
                # lazy result consumed later on a real cluster.
                from s1tiling_spark.operators.cache import persist_tracked

                touched = persist_tracked(touched)
                p_dates = [
                    r["d"]
                    for r in touched.select(
                        F.to_date("bucket_start").alias("d")
                    )
                    .distinct()
                    .collect()
                ]
                if any(d is None for d in p_dates):
                    # a NULL bucket_start key lives in the Hive default
                    # partition, which no date literal matches — pruning
                    # would silently drop its diff, so fall back to the
                    # unpruned reads (correctness over the optimization)
                    p_dates = None
        # ONE-PASS dual-horizon diff (r6): both as-of images come from a
        # single aggregate over the touched version rows —
        # max(when(valid_h, struct(commit_seq, vals...))) picks each
        # horizon's newest valid version (struct compare leads with
        # commit_seq), with per-horizon delete masks and rollback
        # ranges expressed as row predicates. The previous shape ran
        # TWO full newest-wins reads (a window shuffle each, plus a
        # delete-mask join each) and a full-outer join — three keyed
        # exchanges where one suffices, and max-of-struct partial-
        # aggregates map-side where row_number cannot.
        vers = self._scan(
            tier, vis, canonical_names=True, p_dates=p_dates
        ).join(touched, list(keys), "leftsemi")
        val_cols = [c for c in vers.columns if c not in keys]
        vers = vers.withColumn("_vpre", valid_at(from_seq)).withColumn(
            "_vpost", valid_at(to_eff)
        )
        # per-horizon delete masks: one conditional-max per horizon per
        # delete key-set, one broadcast join each (delete files are
        # small — Iceberg's own equality-delete assumption). A delete
        # row is itself subject to rollback at its horizon, exactly as
        # in _apply_delete_mask.
        for gi, (dkeys, dels) in enumerate(del_groups):
            dmax = dels.groupBy(*dkeys).agg(
                F.max(F.when(valid_at(from_seq), seq)).alias(f"_dpre{gi}"),
                F.max(F.when(valid_at(to_eff), seq)).alias(f"_dpost{gi}"),
            )
            vers = (
                vers.join(F.broadcast(dmax), list(dkeys), "left")
                .withColumn(
                    "_vpre",
                    F.col("_vpre")
                    & (F.col(f"_dpre{gi}").isNull() | (seq > F.col(f"_dpre{gi}"))),
                )
                .withColumn(
                    "_vpost",
                    F.col("_vpost")
                    & (F.col(f"_dpost{gi}").isNull() | (seq > F.col(f"_dpost{gi}"))),
                )
                .drop(f"_dpre{gi}", f"_dpost{gi}")
            )
        img = F.struct(*[F.col(c) for c in ("commit_seq",
                                            *[c for c in val_cols
                                              if c != "commit_seq"])])
        j = vers.groupBy(*keys).agg(
            F.max(F.when(F.col("_vpre"), img)).alias("_pre"),
            F.max(F.when(F.col("_vpost"), img)).alias("_post"),
        )
        op = (
            F.when(F.col("_pre").isNull() & F.col("_post").isNotNull(),
                   F.lit("insert"))
            .when(F.col("_post").isNull() & F.col("_pre").isNotNull(),
                  F.lit("delete"))
            .when(
                F.col("_post.commit_seq") != F.col("_pre.commit_seq"),
                F.lit("update"),
            )
        )
        j = j.withColumn("op", op).filter(F.col("op").isNotNull())
        if split_updates:
            pre_img = F.struct(
                F.when(F.col("op") == "delete", F.lit("delete"))
                .otherwise(F.lit("update_before"))
                .alias("op"),
                *[F.col(f"_pre.{c}").alias(c) for c in val_cols],
            )
            post_img = F.struct(
                F.when(F.col("op") == "insert", F.lit("insert"))
                .otherwise(F.lit("update_after"))
                .alias("op"),
                *[F.col(f"_post.{c}").alias(c) for c in val_cols],
            )
            imgs = F.array_compact(
                F.array(
                    F.when(F.col("op").isin("delete", "update"), pre_img),
                    F.when(F.col("op").isin("insert", "update"), post_img),
                )
            )
            return j.select(*keys, F.inline(imgs)).select("op", *keys, *val_cols)
        # delete rows carry the pre-image (coalesce would be wrong: an
        # update may legitimately null a column, and coalesce would
        # resurrect the old value)
        picked = [
            F.when(F.col("op") == "delete", F.col(f"_pre.{c}"))
            .otherwise(F.col(f"_post.{c}"))
            .alias(c)
            for c in val_cols
        ]
        return j.select("op", *keys, *picked)

    # ---------- refresh state (watermarks + run metrics) ----------
    # ONE driver-side JSON record is the commit point of a tier
    # refresh: per tier, per source, the start of the newest bucket
    # committed (epoch micros); the commit seq and run id that last
    # advanced it; and that refresh's per-tier metrics. Reading it is a
    # single small file, however many refreshes came before — no Spark
    # job, no per-commit checkpoint files to scan.
    def _state_path(self) -> str:
        return os.path.join(self.base_dir, STATE_FILE)

    def refresh_state(self) -> dict:
        """The committed refresh record (``{}`` for a store that has
        none — the next refresh then recomputes every tier in full)."""
        path = self._state_path()
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def commit_refresh(
        self,
        commit_seq: int,
        run_id: str,
        watermarks: dict[str, dict[str, int]],
        metrics: list[dict] | None = None,
    ) -> None:
        """Atomically replace the refresh record, AFTER the data it
        describes is appended. ``watermarks``: tier → source → epoch
        micros; merged newest-wins into the record, so a concurrent
        writer's watermark (the streaming sink's) is never lost.
        ``metrics`` replaces the previous refresh's rows when given.
        A crash before this call leaves the old record: the next
        refresh recomputes the same buckets and newest-wins reads
        keep its copy."""
        with self._meta_mutex():
            state = self.refresh_state()
            wms = state.setdefault("watermarks", {})
            for tier, by_src in watermarks.items():
                cur = wms.setdefault(tier, {})
                for src, us in by_src.items():
                    cur[src] = max(int(us), cur.get(src, int(us)))
            if int(commit_seq) >= state.get("commit_seq", 0):
                state["commit_seq"] = int(commit_seq)
                state["run_id"] = run_id
            if metrics is not None:
                state["metrics"] = [_metrics_row(r) for r in metrics]
            atomic_json_write(self._state_path(), state)

    # ---------- compatibility views over the refresh record ----------
    # read_watermarks, commit_checkpoint, append_metrics and
    # read_metrics: the engine reads and writes the record through
    # refresh_state / commit_refresh. These views stay only because
    # perfbench calls them (workloads.py reads watermarks; spans.py
    # wraps all four by name); deleting them waits for a change to the
    # benchmark.
    def read_watermarks(self, tier: str) -> DataFrame | None:
        """Latest committed watermark per source for a tier, or None.
        Compatibility view kept for perfbench (see above)."""
        wm = self.refresh_state().get("watermarks", {}).get(tier)
        if not wm:
            return None
        return self.spark.createDataFrame(
            sorted(wm.items()), "source string, wm_us long"
        ).select("source", F.timestamp_micros("wm_us").alias("watermark"))

    def commit_checkpoint(
        self, tier: str, watermarks: DataFrame, commit_seq: int, run_id: str
    ) -> None:
        """Commit per-source watermarks ``(source, watermark)`` for one
        tier AFTER its data append succeeded (crash between append and
        this call → recompute + dedup-on-read repairs; never lost data,
        never double-counted). One collect of O(sources) rows.
        Compatibility view kept for perfbench (see above)."""
        rows = watermarks.select(
            "source", F.unix_micros(F.col("watermark")).alias("wm_us")
        ).collect()
        self.commit_refresh(
            commit_seq, run_id, {tier: {r["source"]: r["wm_us"] for r in rows}}
        )

    def append_metrics(self, rows: list[dict]) -> None:
        """Attach per-tier metrics rows — analog of the reference's
        outcome/error census (`api.py:477-487`) — to the refresh
        record; the next refresh's commit replaces them. Compatibility
        view kept for perfbench (see above)."""
        if not rows:
            return
        with self._meta_mutex():
            state = self.refresh_state()
            state["metrics"] = state.get("metrics", []) + [
                _metrics_row(r) for r in rows
            ]
            atomic_json_write(self._state_path(), state)

    def read_metrics(self) -> DataFrame | None:
        """The last refresh's per-tier metrics rows, or None.
        Compatibility view kept for perfbench (see above)."""
        rows = self.refresh_state().get("metrics")
        if not rows:
            return None
        return self.spark.createDataFrame(rows, METRICS_SCHEMA)

    # ---------- compaction ----------
    def _repair_crashed_compact(self, tier: str) -> None:
        """Restore-first crash repair (a crash between rename-aside and
        rename-in leaves a partition's ONLY live copy in the aside):
        1. any ``_stale_<part>.<sfx>`` whose live ``<part>`` is missing
        is renamed back; asides whose live partition exists are dead.
        2. only after restore: crashed-compact tmp dirs are dropped
        (their content is re-derivable from the now-complete table).
        Run by ``compact`` AND by ``maybe_compact``'s probe — a
        ratio-gated run that decides NOT to rewrite must still heal
        (and measure) the complete table, never the crashed view."""
        path = self.tier_path(tier)
        if not os.path.isdir(path):
            return
        for d in list(os.listdir(path)):
            if d.startswith("_deletes_tmp_"):
                # a crashed delete() left its staging dir: nothing was
                # committed (files move only after the full write), drop
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)
                continue
            if not d.startswith("_stale_"):
                continue
            # aside names encode '=' as '~' (a name containing '=' is
            # EXEMPT from Spark's hidden-path filter and would be
            # parsed as a partition dir, breaking partition inference)
            orig = d[len("_stale_") :].rsplit(".", 1)[0].replace("~", "=")
            live = os.path.join(path, orig)
            if orig.startswith("p_date=") and not os.path.isdir(live):
                os.rename(os.path.join(path, d), live)
            else:
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)
        parent = os.path.dirname(path) or "."
        base = os.path.basename(path)
        for d in list(os.listdir(parent)):
            if d.startswith(base + "_compact_"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
            elif d.startswith(base + "_tmp_"):
                # crashed append() staging (fully re-derivable — nothing
                # is committed until the per-partition renames). AGE
                # GUARD: under multi-writer a staging dir this fresh may
                # be a LIVE append mid-write in another process — only
                # collect ones old enough that their writer is dead.
                full = os.path.join(parent, d)
                try:
                    age = time.time() - os.path.getmtime(full)
                except OSError:
                    continue
                if age > STAGING_GC_AGE_S:
                    shutil.rmtree(full, ignore_errors=True)

    def compact(
        self,
        tier: str,
        keys: tuple[str, ...] = DEFAULT_KEYS,
        expire_below: int | None = None,
        cluster_by: tuple[str, ...] | None = None,
        mode: str = "latest",
        sum_cols: tuple[str, ...] = (),
        zorder: bool = False,
    ) -> dict:
        """Physically apply MERGE-on-read: rewrite each partition with
        one file per partition, expiring superseded row versions.

        ``mode`` selects the tier's merge discipline — the same
        per-tier contract the readers follow:

        - ``"latest"`` (default): newest version per key wins — for
          upsert tiers read via :meth:`read`.
        - ``"sum"``: fold all versions per key into ONE row whose
          ``sum_cols`` are summed — for ADDITIVE tiers (streaming
          counter partials, long-form sketch counters) read via
          :meth:`read_summed`. Compacting an additive tier in latest
          mode would silently DELETE all partials but the newest; the
          caller owns knowing the tier's discipline, exactly as with
          reads. The folded row keeps the newest contributing
          commit_seq/run_id; ``expire_below`` is refused in sum mode
          (partial folding below a horizon is not reconstructable).

        Append + dedup-on-read accumulates one row VERSION per commit —
        at 10^12 sequences with frequent late-data merges the read-side
        window rank pays for every historical version forever. Compaction
        is the Iceberg `rewrite_data_files` (+ `expire_snapshots`)
        analog: survivors keep their ORIGINAL commit_seq, so
        dedup-on-read stays correct and any LATER append still wins.

        ``expire_below`` controls how much snapshot history survives:

        - ``None`` (default): expire everything — keep only the newest
          version per natural key (Iceberg ``expire_snapshots`` to
          current). Time travel below the current seq is gone; the
          horizon is recorded so ``read(as_of_seq=...)`` below it
          RAISES instead of silently answering wrong.
        - integer ``E``: keep, per key, the winning version as of ``E``
          plus every newer version — every ``as_of_seq >= E`` read
          stays exactly reconstructable. ``E=0`` keeps ALL versions:
          pure file compaction, full time travel preserved.

        The per-partition swap is rename-aside → rename-in →
        delete-old: a crash leaves either the old partition, the new
        one, or (in the two-rename window) a ``_stale_*``-prefixed
        aside dir that readers never list; the next compact() RESTORES
        an aside whose live partition is missing before any deletion —
        never a silently missing partition.

        ``cluster_by``: sort-order clustering (the Iceberg
        ``rewrite_data_files`` *sort strategy* analog). Rows inside each
        rewritten ``p_date`` file are sorted by these columns, so the
        parquet row-group min/max statistics become tight, disjoint
        ranges — a routed read filtering on the cluster keys (e.g.
        ``source``, or a ``bucket_start`` range inside the day) skips
        whole row groups at the scan instead of decoding them. At
        10^12 rows this is the difference between a serving query
        touching one row group per day and decoding every file the
        partition prune left behind. Sorting is per write task (no
        extra shuffle: ``sortWithinPartitions`` after the existing
        ``repartition("p_date")``).

        ``zorder=True`` switches the cluster sort from lexicographic to
        Morton-interleaved (the Iceberg/Delta z-order rewrite strategy,
        `operators/zorder.py`): a lexicographic (a, b) sort makes
        row-group stats tight for ``a`` only — every row group spans
        the full ``b`` range — while z-order gives every cluster column
        a narrow min/max window at once, so filters on EITHER dimension
        prune row groups. Costs one extra bounds agg over the compact
        input; the key itself is plan-side bit algebra, no UDF.

        SAFETY: ``keys`` must be the tier's FULL natural key. Long-form
        sketch tiers carry an extra key column (bin/qbin/depth/col) —
        compacting them with the default key would physically DELETE
        all but one arbitrary counter per (bucket, source), so those
        columns are refused unless listed in ``keys``.

        Returns {files_before, files_after, rows}.
        """
        path = self.tier_path(tier)
        if not os.path.isdir(path):
            return {"files_before": 0, "files_after": 0, "rows": 0}
        # destructive directory surgery happens only under the tier's
        # maintenance lock: appends/deletes WAIT on it at publish time,
        # competing maintenance raises (ConcurrentCommitError) instead
        # of queueing
        with self._maint_lock(tier):
            return self._compact_locked(
                tier, keys, expire_below, cluster_by, mode, sum_cols, zorder
            )

    def _compact_locked(
        self,
        tier: str,
        keys: tuple[str, ...],
        expire_below: int | None,
        cluster_by: tuple[str, ...] | None,
        mode: str,
        sum_cols: tuple[str, ...],
        zorder: bool = False,
    ) -> dict:
        from pyspark.sql import Observation

        path = self.tier_path(tier)
        self._repair_crashed_compact(tier)
        # Keyed commits still in state `pending` must NOT be folded
        # into the rewrite: folding strips their `c<seq>-` file names,
        # so the producer's replay repair would find nothing to remove
        # and re-append — double-counting an additive tier (the exact
        # window the two-phase marker closes). Age splits the cases:
        #  - old (producer provably dead): a torn commit — repair it
        #    here exactly as the replay would (remove its files; the
        #    still-pending marker makes the eventual replay re-append);
        #  - young: a LIVE producer may be mid-move — BACK OFF. Any
        #    carry-the-files-across-the-swap scheme has a crash window
        #    that destroys a committed append (the aside dir holding
        #    the carried files is exactly what crash repair deletes),
        #    so the rewrite refuses instead, like an Iceberg rewrite
        #    failing validation against a concurrent commit: the
        #    producer's flip is seconds away and the maintenance
        #    daemon simply retries its next cycle.
        for p_seq, p_age in self._pending_keyed_commits(tier):
            if p_age > STAGING_GC_AGE_S:
                self._remove_commit_files(tier, p_seq)
            else:
                raise ConcurrentCommitError(
                    f"tier {tier!r}: keyed commit seq {p_seq} is pending "
                    f"(marker age {p_age:.0f}s) — a live producer may be "
                    "mid-move; retry compaction after it commits"
                )
        # WAP staged commits, same discipline per state:
        #  - `staging` young → a live stage() mid-move: back off;
        #  - `staging` old → crashed stager: GC its files + record;
        #  - `staged` (audit window, possibly days) → rows are CARRIED
        #    through the rewrite untouched and stay invisible — an
        #    audit must never block maintenance;
        #  - `published` → the seq remap is BAKED into the rewrite;
        #  - `abandoned` → rows dropped physically.
        carry_seqs: set[int] = set()
        bake_remap: dict[int, int] = {}
        drop_seqs: set[int] = set()
        gc_audits: list[str] = []
        # branch-chain membership: a BRANCH-stamped staged entry (audit
        # id "_br:<name>:...") that is on no chain is an orphan — its
        # write_branch crashed between stage() and the chain-append, and
        # no code path will ever publish, abandon or replay it (branch
        # replays mint fresh audit ids). Old orphans are GC'd here like
        # crashed stagings; young ones are carried (the writer may be
        # between its two metadata commits right now).
        chained = {
            a
            for br in self.branches(tier).values()
            for a in br["chain"]
        }
        for e in self._staged_entries(tier):
            st = e["state"]
            if st == "staging":
                age = time.time() - float(e.get("ts", 0))
                if age > STAGING_GC_AGE_S:
                    self._remove_commit_files(tier, int(e["seq"]))
                    gc_audits.append(e["audit_id"])
                else:
                    raise ConcurrentCommitError(
                        f"tier {tier!r}: stage {e['audit_id']!r} is mid-write "
                        f"(age {age:.0f}s) — retry compaction after it lands"
                    )
            elif st == "staged":
                orphan = (
                    str(e["audit_id"]).startswith("_br:")
                    and e["audit_id"] not in chained
                )
                if orphan and (
                    time.time() - float(e.get("ts", 0)) > STAGING_GC_AGE_S
                ):
                    self._remove_commit_files(tier, int(e["seq"]))
                    # belt: drop any residual rows of the seq from the
                    # rewrite too (a legacy store may hold them folded
                    # in m-files, where file removal cannot reach)
                    drop_seqs.add(int(e["seq"]))
                    gc_audits.append(e["audit_id"])
                else:
                    carry_seqs.add(int(e["seq"]))
            elif st == "published":
                bake_remap[int(e["seq"])] = int(e["pub_seq"])
                gc_audits.append(e["audit_id"])
            elif st == "abandoned":
                drop_seqs.add(int(e["seq"]))
                gc_audits.append(e["audit_id"])

        def _count_files() -> int:
            return sum(1 for _ in self._data_files(path))

        files_before = _count_files()
        # merge_schema: a rewrite must carry EVERY column any file has —
        # a single-footer schema would silently drop a column added by
        # a later (schema-evolved) append. Compact reads all footers
        # anyway; the union cost is amortized by the full rewrite.
        # canonical_names: the rewrite bakes renames in (files come out
        # uniformly under current names; as-of display below a rename
        # stays a metadata reverse-map). drop_horizon: physically apply
        # only drops the expiry horizon covers — history-preserving
        # compaction must keep a column its preserved snapshots show.
        # staged_raw: the staged rows' physical truth — the WAP logic
        # above carries, bakes or drops them itself.
        vis = self._visibility(tier)
        raw = self._scan(
            tier,
            vis,
            merge_schema=True,
            canonical_names=True,
            drop_horizon=expire_below,
            staged_raw=True,
        )
        if raw is None:
            return {"files_before": files_before, "files_after": files_before, "rows": 0}
        if drop_seqs:
            # abandoned stages: never visible at any horizon → safe to
            # drop even in history-preserving mode
            raw = raw.filter(~F.col("commit_seq").isin(list(drop_seqs)))
        if bake_remap:
            expr = F.col("commit_seq")
            for old, new in sorted(bake_remap.items()):
                expr = F.when(F.col("commit_seq") == old, F.lit(new)).otherwise(expr)
            raw = raw.withColumn("commit_seq", expr)
        if carry_seqs:
            # rows awaiting audit are excluded from the fold/dedup/
            # horizon entirely; their ORIGINAL c<seq>- files are copied
            # verbatim into the rewrite output after the write (below)
            raw = raw.filter(~F.col("commit_seq").isin(list(carry_seqs)))
        sketch_keys = [
            c
            for c in ("bin", "qbin", "depth", "col")
            if c in raw.columns and c not in keys
        ]
        if sketch_keys:
            raise ValueError(
                f"tier {tier!r} carries sketch key column(s) {sketch_keys} "
                f"not in keys={keys} — compacting would delete all but one "
                "counter per group; pass the full natural key"
            )
        if mode not in ("latest", "sum"):
            raise ValueError(f"unknown compact mode {mode!r}")
        # Equality deletes: applied PHYSICALLY whenever history is being
        # expired (expire_below=None — full latest expiry or sum fold):
        # masked versions drop out of the rewrite and the delete files
        # are GC'd afterwards. The horizon must then also cover the
        # newest applied delete: a key whose ONLY version v is masked by
        # delete D has no superseded versions (_nv == 1), yet an as-of
        # read in [v, D) would legitimately see it — after the physical
        # drop that read must raise, not silently answer empty.
        # History-preserving compaction (integer expire_below) keeps
        # deletes LOGICAL: an as-of read in [E, D) must still see a
        # version that a physical apply would have removed.
        # Rollbacks: applied PHYSICALLY whenever history is expired
        # (the voided versions drop out of the rewrite and the ranges
        # are cleared). History-preserving compaction keeps them
        # logical, but only when the preserved horizon stays at or
        # below every range start: the winner-as-of-E rule could
        # otherwise keep a voided version as a key's only survivor
        # while dropping the version a post-rollback read must serve.
        rb_ranges = vis.rollbacks
        if expire_below is not None and rb_ranges:
            bad = [r for r in rb_ranges if r[0] < int(expire_below)]
            if bad:
                raise ValueError(
                    f"tier {tier!r}: expire_below={expire_below} overlaps "
                    f"rollback range(s) {bad}; run a full compact to apply "
                    "them, or pick expire_below <= the range start"
                )
        rollback_applied = bool(rb_ranges) and expire_below is None
        max_rb_hi = max((hi for _, hi in rb_ranges), default=0)
        if rollback_applied:
            raw = vis.unvoided(raw)
        del_groups = self._delete_groups(tier)
        deletes_applied = bool(del_groups) and expire_below is None
        max_del_seq = 0
        if deletes_applied:
            max_del_seq = max(
                int(vis.unvoided(d).agg(F.max("commit_seq").alias("m")).first()["m"] or 0)
                for _, d in del_groups
            )
            raw = self._apply_delete_mask(raw, tier, vis)
        # exact-horizon rule shared by sum mode and latest full expiry:
        # only keys that actually lose versions (_nv > 1) invalidate
        # snapshots, and only below their newest surviving seq
        horizon_expr = F.max(
            F.when(F.col("_nv") > 1, F.col("commit_seq"))
        ).alias("horizon")
        if mode == "sum":
            if expire_below is not None:
                raise ValueError(
                    "expire_below is not supported in sum mode: folded "
                    "partials below a horizon cannot be reconstructed"
                )
            if not sum_cols:
                raise ValueError("sum mode requires sum_cols")
            # fold all partials per key; history below the newest
            # folded seq is gone wherever folding happened — the same
            # exact-horizon rule as latest mode, via the same observe
            others = [
                c
                for c in raw.columns
                if c not in keys
                and c not in sum_cols
                and c not in ("commit_seq", "run_id")
            ]
            kept = raw.groupBy(*keys).agg(
                *_sum_exprs(sum_cols),
                F.max("commit_seq").alias("commit_seq"),
                F.max_by("run_id", "commit_seq").alias("run_id"),
                # non-summed carried columns follow the newest version,
                # like run_id — a value-level max could resurrect an
                # old version's value into the folded row
                *[F.max_by(c, "commit_seq").alias(c) for c in others],
                F.count(F.lit(1)).alias("_nv"),
            )
            new_horizon = None  # filled from the observation below
        elif expire_below is None:
            # full expiry: newest version per key only; the shared
            # horizon_expr rides the same observe() as the row count
            # (no extra job)
            kw = Window.partitionBy(*keys)
            w = kw.orderBy(F.desc("commit_seq"))
            kept = (
                raw.withColumn("_rk", F.row_number().over(w))
                .withColumn("_nv", F.count(F.lit(1)).over(kw))
                .filter(F.col("_rk") == 1)
            )
            kept = kept.drop("_rk")
            new_horizon = None  # filled from the observation below
        else:
            # keep the winner as of expire_below + everything newer;
            # keys with no version <= expire_below keep all versions
            w = Window.partitionBy(*keys)
            winner = F.max(
                F.when(
                    F.col("commit_seq") <= int(expire_below), F.col("commit_seq")
                )
            ).over(w)
            kept = (
                raw.withColumn("_w", winner)
                .filter(F.col("commit_seq") >= F.coalesce(F.col("_w"), F.lit(0)))
                .drop("_w")
            )
            new_horizon = int(expire_below)
        zbounds: dict | None = None
        if cluster_by and zorder:
            # bounds come from the data files' parquet FOOTERS
            # (driver-side, zero Spark jobs): normalization bounds only
            # need to COVER the kept range, and the raw files' stats are
            # a superset of any merge outcome — re-aggregating `kept`
            # would re-execute the whole merge-on-read dedup plan as a
            # second action (and an agg on the observed plan would fire
            # the Observation on the wrong action). Falls back to one
            # agg over `kept` when any footer lacks stats — and when a
            # cluster column is ALSO a mode='sum' measure: summed
            # partials exceed every raw file's max, so footer bounds
            # would clamp those rows into the top z-bucket and lose
            # curve locality (ADVICE r5; perf-only, the key is
            # sort-only, but the agg bounds keep the curve honest).
            zbounds = None
            if not (
                mode == "sum" and sum_cols and set(cluster_by) & set(sum_cols)
            ):
                zbounds = self._zorder_bounds_from_footers(
                    tier, tuple(cluster_by), dict(kept.dtypes)
                )
            if zbounds is None:
                from s1tiling_spark.operators.zorder import zorder_bounds

                zbounds = zorder_bounds(kept, tuple(cluster_by))
        tmp = path + f"_compact_{uuid.uuid4().hex}"
        # one task per p_date → one file per partition; row count (and,
        # for full expiry, the exact new horizon) ride the write via
        # observe() — no post-compact re-scan
        obs = Observation(f"compact-{tier}-{uuid.uuid4().hex[:8]}")
        if expire_below is None:
            rows = kept.observe(
                obs, F.count(F.lit(1)).alias("rows"), horizon_expr
            ).drop("_nv")
        else:
            rows = kept.observe(obs, F.count(F.lit(1)).alias("rows"))
        # explicit slot-count partitioning: a bare repartition("p_date")
        # lets AQE coalesce the rewrite to one task writing every
        # date's file serially (same fix as append(); each date still
        # lands in exactly one task → one file per partition)
        rows = rows.repartition(self._write_slots(), F.col("p_date"))
        if cluster_by:
            # hash repartition can co-locate several p_dates in one
            # task — lead the sort with p_date so each output file
            # (one per date) is internally ordered by the cluster keys
            if zorder:
                from s1tiling_spark.operators.zorder import zorder_key

                zk = zorder_key(rows, tuple(cluster_by), zbounds or {})
                rows = rows.sortWithinPartitions("p_date", zk)
            else:
                rows = rows.sortWithinPartitions("p_date", *cluster_by)
        rows.write.mode("overwrite").partitionBy("p_date").parquet(tmp)
        if carry_seqs:
            # awaiting-audit rows rejoin the output PHYSICALLY: their
            # original c<seq>- files are copied verbatim into tmp. This
            # preserves the invariant that staged rows live ONLY in
            # per-seq c-files — which is what expire()'s in-flight
            # check and torn-commit repair identify them by; folding
            # them into m-files would let retention silently drop part
            # of a commit that later publishes. COPY, not move: a crash
            # anywhere before the swap leaves the live tier untouched
            # (tmp is GC'd by crash repair), and the originals die with
            # the swap's aside dirs as usual.
            for f in self._data_files(path):
                if f.kind == "c" and f.seq in carry_seqs:
                    os.makedirs(os.path.join(tmp, f.part), exist_ok=True)
                    shutil.copy2(f.path, os.path.join(tmp, f.rel))
        # name-encode each output file's exact max commit_seq (m<seq>-)
        # so incremental readers can skip compacted history at planning
        # time; 'm' not 'c': torn-keyed-append repair removes by
        # c<seq>- and must never match a folded file that merely
        # CONTAINS that seq
        out_bounds = self._prefix_compact_files(tmp)
        vals = obs.get
        n_rows = int(vals["rows"])
        if new_horizon is None:
            h = vals.get("horizon")
            new_horizon = int(h) if h is not None else 0
        if deletes_applied:
            # fully-masked keys never reach the _nv observation (their
            # every version was dropped pre-window) — the applied
            # deletes' own seq is their horizon
            new_horizon = max(new_horizon, max_del_seq)
        if rollback_applied:
            # physically dropped rolled-back versions were visible to
            # as-of reads at ANY horizon in (lo, hi] (the mask only
            # engages past hi) — the first still-correct snapshot after
            # the drop is hi+1
            new_horizon = max(new_horizon, max_rb_hi + 1)
        if expire_below is None:
            # full expiry physically applied EVERY recorded column drop
            # — snapshots older than the newest drop no longer show the
            # dropped column, so the horizon must cover it
            schema_drop_seqs = [
                o["seq"] for o in self._schema_ops(tier) if o["kind"] == "drop"
            ]
            if schema_drop_seqs:
                new_horizon = max(new_horizon, max(schema_drop_seqs))
        # Record the horizon BEFORE the destructive swap (review fix):
        # a crash mid-swap may already have expired history, and an
        # unrecorded horizon would let read(as_of_seq=...) silently
        # answer wrong — the one thing this feature promises never
        # happens. Conservative failure mode instead: crash before any
        # swap leaves history intact but reads below the recorded
        # horizon raise (refusing a valid read beats serving a wrong
        # one; re-running compact clears the inconsistency).
        def _record_horizon(m, t=tier, h=new_horizon):
            m[t] = max(int(m.get(t, 0)), h)

        self._update_meta(_record_horizon)
        tmp_parts = {p for p in os.listdir(tmp) if p.startswith("p_date=")}
        for part in sorted(tmp_parts):
            dpart = os.path.join(path, part)
            # '=' encoded as '~': keeps the aside inside Spark's
            # hidden-path filter (a '_'-prefixed name containing '='
            # would be treated as a partition dir)
            aside = os.path.join(
                path,
                f"_stale_{part.replace('=', '~')}.{uuid.uuid4().hex[:8]}",
            )
            if os.path.isdir(dpart):
                os.rename(dpart, aside)  # aside: readers never list it
            os.rename(os.path.join(tmp, part), dpart)
            shutil.rmtree(aside, ignore_errors=True)
        shutil.rmtree(tmp)
        if deletes_applied or rollback_applied or drop_seqs:
            # a partition whose every row was masked (voided by a
            # rollback, or belonging only to ABANDONED stages) is absent
            # from the rewrite — its live dir must go too
            # (aside-then-delete, the same crash discipline as the
            # swap). Without this, a partition created solely by an
            # abandoned stage would survive the rewrite while its
            # staged record is GC'd below — resurrecting never-visible
            # rows. ONLY under applied delete/rollback/abandon: in any
            # other mode a live partition missing from tmp would signal
            # a bug, and destroying it silently is the one thing
            # compact must never do.
            for part in list(os.listdir(path)):
                if part.startswith("p_date=") and part not in tmp_parts:
                    aside = os.path.join(
                        path,
                        f"_stale_{part.replace('=', '~')}.{uuid.uuid4().hex[:8]}",
                    )
                    os.rename(os.path.join(path, part), aside)
                    shutil.rmtree(aside, ignore_errors=True)
        if deletes_applied:
            # applied deletes are spent: every masked version is gone
            # and the horizon (recorded BEFORE the swap) covers their
            # seqs, so as-of reads below them raise. A crash before
            # this GC merely re-applies the mask to rows that no longer
            # exist — idempotent.
            shutil.rmtree(self._deletes_path(tier), ignore_errors=True)
        if rollback_applied:
            # same argument: voided versions are physically gone and
            # the horizon covers hi+1; re-masking after a crash here is
            # a no-op
            self._clear_rollbacks(tier)
        if gc_audits:
            # published remaps are baked, abandoned rows dropped,
            # crashed stagings repaired — their records are spent.
            # Idempotent under a crash before this point: re-applying
            # a baked remap matches no row, re-filtering dropped rows
            # drops nothing.
            def _gc_staged(m, t=tier, ids=frozenset(gc_audits)):
                m[f"_staged_{t}"] = [
                    e
                    for e in m.get(f"_staged_{t}", [])
                    if e["audit_id"] not in ids
                ]

            self._update_meta(_gc_staged)
        # AFTER the swap: the manifest's file-bounds entries are rebuilt
        # from the compact outputs plus whichever old entries still have
        # a live file — dead entries (replaced/expired files) are pruned
        # here, the one periodic GC the bounds dict gets. Losing this to
        # a crash only costs pruning power (a file with no entry is
        # conservatively scanned), never correctness.
        def _rebuild_bounds(m, t=tier, new=out_bounds):
            live_root = self.tier_path(t)
            # start from the MERGED view (meta baseline + append
            # sidecar) so entries appended since the last rebuild fold
            # into the baseline before the sidecar is truncated below
            kept = {
                rel: b
                for rel, b in self._file_bounds(t).items()
                if os.path.exists(os.path.join(live_root, rel))
            }
            kept.update(new)
            m[f"_filebounds_{t}"] = kept

        self._update_meta(_rebuild_bounds)
        # sidecar is spent (folded into the baseline above); a line a
        # concurrent appender races in right here is lost to the NEXT
        # rebuild — its file is conservatively scanned, never wrong
        with contextlib.suppress(OSError):
            os.unlink(self._bounds_sidecar_path(tier))
        # losing this marker to a crash only costs one redundant rewrite
        # on the next scheduled maybe_compact — conservative, never wrong
        last = self.last_commit_seq()
        self._update_meta(
            lambda m, t=tier, s=last: m.__setitem__(f"_last_compact_seq_{t}", s)
        )
        return {
            "files_before": files_before,
            "files_after": _count_files(),
            "rows": n_rows,
        }

    def maybe_compact(
        self,
        tier: str,
        keys: tuple[str, ...] = DEFAULT_KEYS,
        max_version_ratio: float = 2.0,
        **compact_kwargs,
    ) -> dict:
        """Compact only when the measured version ratio (row versions
        per distinct natural key) reaches ``max_version_ratio`` — the
        maintenance policy PERF.md §16 derives: the merge-read tax
        tracks the VERSION RATIO, not wall time, so that ratio (not a
        cron schedule) should trigger the rewrite.

        The ratio probe is ONE cheap aggregation pass — count(*) plus
        ``approx_count_distinct`` over ``struct(*keys)`` (HLL partials,
        no per-key state blowup; the struct keeps NULL key components
        distinct exactly like the dedup window's partitionBy, where a
        separator-joined string would collapse them); an estimate is
        fine for a threshold policy, and the ±2-3 % HLL error is
        absorbed by any sane threshold (≥1.5).

        Convergence: a history-preserving compaction (``expire_below``)
        RETAINS superseded versions, so the raw ratio alone would stay
        above the threshold forever and a scheduled run would rewrite
        the whole tier every time. The policy therefore also records
        the store commit seq at each compaction and SKIPS when no
        append has happened since — at most one rewrite per batch of
        new commits, regardless of retention mode. The probe runs the
        same crash repair as ``compact`` first, so a ratio-gated run
        that decides not to rewrite still heals (and measures) the
        complete table.

        Returns the ``compact`` stats dict plus
        ``{"compacted": bool, "version_ratio": float | None}``.
        """
        try:
            with self._maint_lock(tier):
                # crash repair is directory surgery — it runs under the
                # maintenance lock (a bare exists-check would be TOCTOU:
                # a concurrent compactor acquiring between the check and
                # the repair would have its live aside/tmp dirs
                # "repaired" under it). Acquiring — rather than skipping
                # on mere lock existence — also means a STALE lock from
                # a crashed compactor is broken right here, so one crash
                # can never wedge the daemon permanently.
                self._repair_crashed_compact(tier)
        except ConcurrentCommitError:
            # another maintenance process is LIVE on this tier: a second
            # rewrite would race its swap — skip a cycle
            return {"compacted": False, "version_ratio": None,
                    "skipped": "concurrent-maintenance"}
        cur_seq = self.last_commit_seq()
        meta = self._read_compact_meta()
        if int(meta.get(f"_last_compact_seq_{tier}", -1)) == cur_seq:
            return {"compacted": False, "version_ratio": None}
        raw = self.read(tier, deduped=False)
        if raw is None:
            return {"compacted": False, "version_ratio": 0.0}
        versions, approx_keys = raw.agg(
            F.count(F.lit(1)),
            F.approx_count_distinct(F.struct(*keys)),
        ).first()
        ratio = versions / max(int(approx_keys), 1)
        if ratio < max_version_ratio:
            return {"compacted": False, "version_ratio": round(ratio, 3)}
        try:
            stats = self.compact(tier, keys=keys, **compact_kwargs)
        except ConcurrentCommitError as e:
            # a live producer is mid-commit (pending keyed marker) or
            # another maintenance run won the lock — the daemon's
            # contract is retry-next-cycle, not crash
            return {"compacted": False, "version_ratio": round(ratio, 3),
                    "skipped": str(e)}
        stats.update({"compacted": True, "version_ratio": round(ratio, 3)})
        return stats

    # ---------- retention ----------
    def retention_floor(self, tier: str) -> tuple[str | None, int]:
        """(oldest retained date, store seq at expiry) recorded by
        :meth:`expire` — (None, 0) if retention never ran. As-of reads
        below the seq consult this to avoid silently reconstructing a
        state missing the dropped dates."""
        return self._visibility(tier).retention

    def expire(self, tier: str, keep_after) -> int:
        """Retention: drop partitions whose date < keep_after (the
        reference's keep-newest-K cache policy,
        `S1FileManager.py:735-748`, as a partition-level DELETE).

        The expiry is itself a COMMIT (consumes a seq, like rollback):
        every state committed before it included the dropped dates, so
        a retention floor (date + the expiry seq) is recorded BEFORE
        any file drop and time travel to ``as_of_seq < expiry seq``
        raises instead of silently serving a truncated reconstruction
        (the read()-docstring contract). The floor only ratchets
        forward. Crash between the record and the rmtree leaves an
        over-strict floor — safe direction. Downstream changelog
        consumers see no retractions from retention (both as-of states
        read the same surviving files) — a continuous aggregate KEEPS
        its rolled-up points for expired raw dates, TimescaleDB's
        retention-vs-continuous-aggregate semantics exactly."""
        # partition drops are directory surgery — same lock discipline
        # as compact's swap (appends/deletes wait at publish time)
        with self._maint_lock(tier):
            return self._expire_locked(tier, keep_after)

    def _expire_locked(self, tier: str, keep_after) -> int:
        """:meth:`expire` body for callers already holding the tier's
        maintenance lock — ``apply_retention_policy`` spans victim
        enumeration, the guard check and the drop under ONE lock so no
        append can slip a victim-date row in between (ADVICE r5)."""
        path = self.tier_path(tier)
        if not os.path.isdir(path):
            return 0
        victims = [
            part
            for part in os.listdir(path)
            if part.startswith("p_date=")
            and part.split("=", 1)[1] < str(keep_after)
        ]
        if not victims:
            return 0
        # a WAP candidate awaiting audit (or a live keyed commit
        # mid-move) may have rows in the victim dates — dropping
        # them would silently void part of a commit that later
        # publishes. The file names carry the seqs, so the check
        # is a driver-side listdir, no scan.
        protect = {
            int(e["seq"])
            for e in self._staged_entries(tier)
            if e["state"] in ("staging", "staged")
        }
        protect |= {s for s, _ in self._pending_keyed_commits(tier)}
        if protect:
            import pyarrow.parquet as pq

            # Compaction keeps staged rows in their own per-seq
            # c-files (the carry copy in _compact_locked), so a
            # protected seq with ANY live c-file holds ALL its rows
            # in c-files — exact name matching suffices. A protected
            # seq with NO c-file tier-wide was folded into m-files
            # by an older build (or is empty): range-check the
            # victim m-footers before dropping, conservatively.
            live = list(self._data_files(path))
            seqs_in_cfiles = {
                f.seq for f in live if f.kind == "c" and f.seq in protect
            }
            folded = protect - seqs_in_cfiles
            hit: set[int] = set()
            for f in live:
                if f.part not in victims:
                    continue
                if f.kind == "c" and f.seq in seqs_in_cfiles:
                    hit.add(f.seq)
                elif f.kind == "m" and folded:
                    mm = self._footer_col_minmax(
                        pq.read_metadata(f.path), "commit_seq"
                    )
                    if mm is not None:
                        hit |= {s for s in folded if mm[0] <= s <= mm[1]}
            hit = sorted(hit)
            if hit:
                raise ConcurrentCommitError(
                    f"tier {tier!r}: retention below {keep_after} would "
                    f"drop rows of in-flight commit(s) {hit} (staged "
                    "and/or pending) — publish or abandon them first"
                )
        exp_seq = self.next_commit_seq()

        def _record_floor(m, t=tier, ka=str(keep_after), s=exp_seq):
            prev = m.get(f"_retention_{t}") or {"floor": "", "seq": 0}
            m[f"_retention_{t}"] = {
                "floor": max(ka, prev["floor"]),
                "seq": max(s, int(prev["seq"])),
            }

        self._update_meta(_record_floor)
        for part in victims:
            shutil.rmtree(os.path.join(path, part))
        return len(victims)

    def vacuum(self, tier: str, older_than_s: float = STAGING_GC_AGE_S) -> dict:
        """Orphan sweep (Iceberg ``remove_orphan_files`` analog): drop
        entries no commit references and no reader can see, completing
        the maintenance triad next to :meth:`compact` (rewrite) and
        :meth:`expire` (retention).

        Orphans are exactly (a) NON-parquet strays a killed writer or an
        operator mishap left inside partition dirs (worse than dead
        weight: Spark's directory listing feeds every non-hidden file to
        the parquet reader, so one stray file FAILS every subsequent
        read of its date — vacuum is the repair), (b) lock tombstones
        from stale-lock breaks whose final unlink failed, and
        (c) crashed staging/compact/delete scratch, which is delegated
        to the same `_repair_crashed_compact` the compaction path runs
        (restore-first, so a crashed compact's aside is healed, never
        swept). ``*.parquet`` files are NEVER swept, prefixed or not:
        the reader serves every parquet in a partition dir, and
        `_plan_files_above_seq` deliberately admits unprefixed names as
        legacy/bulk-imported data — deleting one would silently drop
        rows every previous read returned. Junk is age-guarded by
        ``older_than_s`` (a fresh unknown file may be a concurrent
        writer mid-protocol — only provably-dead leftovers go);
        tombstones always use the FIXED ``STAGING_GC_AGE_S`` staleness
        horizon, never the caller's guard, because `_break_stale_lock`
        may momentarily need a young tombstone to reinstate a
        live-after-all lock — an aggressive ``older_than_s`` must not be
        able to race that link-back. Driver-side listdir only, no scan."""
        removed_junk: list[str] = []
        removed_tombs: list[str] = []
        now = time.time()

        def _dead(p: str, horizon: float) -> bool:
            try:
                return (now - os.path.getmtime(p)) > horizon
            except OSError:
                return False  # raced with its owner — leave it

        with self._maint_lock(tier):
            self._repair_crashed_compact(tier)
            path = self.tier_path(tier)
            if os.path.isdir(path):
                for part in os.listdir(path):
                    dpart = os.path.join(path, part)
                    if not (part.startswith("p_date=") and os.path.isdir(dpart)):
                        continue
                    for fn in os.listdir(dpart):
                        if fn.endswith(".parquet"):
                            continue  # data, committed or legacy — live
                        fp = os.path.join(dpart, fn)
                        if os.path.isfile(fp) and _dead(fp, older_than_s):
                            # a single failed unlink (external cleaner
                            # won the race, permissions) must not abort
                            # the sweep or lose the partial report
                            with contextlib.suppress(OSError):
                                os.remove(fp)
                                removed_junk.append(f"{part}/{fn}")
            for fn in os.listdir(self.base_dir):
                if ".tomb." in fn:
                    fp = os.path.join(self.base_dir, fn)
                    if os.path.isfile(fp) and _dead(fp, STAGING_GC_AGE_S):
                        with contextlib.suppress(OSError):
                            os.unlink(fp)
                            removed_tombs.append(fn)
        return {
            "tier": tier,
            "junk_files": len(removed_junk),
            "tombstones": len(removed_tombs),
            "removed": removed_junk + removed_tombs,
        }


def new_run_id() -> str:
    return f"run-{int(time.time())}-{uuid.uuid4().hex[:8]}"
