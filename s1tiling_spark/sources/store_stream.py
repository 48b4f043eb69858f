"""Native Structured Streaming source over a :class:`TierStore`
(the Iceberg ``spark.readStream.format("iceberg")`` analog), built on
PySpark 4's Python DataSource API.

The reference's daemon mode re-polls the product catalog and processes
whatever is new since the last run (`/root/reference/s1tiling/libs/api.py`
drives one full graph per invocation; incrementality is the
skip-existing-products rule, `meta.py:95-103`). This source generalizes
that pull loop into a real streaming relation: **offsets are commit
seqs**, so Spark's own checkpointing provides exactly-once offset
tracking, rate limiting, and restart — no hand-rolled poll loop.

Semantics (matching Iceberg's streaming read contract):

- **Appends-only.** Each micro-batch carries the surviving appended row
  versions whose effective ``commit_seq`` lies in ``(start, end]``.
  Consumers apply newest-wins by ``commit_seq`` exactly as the store's
  own reads do. Equality deletes, rollbacks and retention expiries
  *behind* the cursor are not retracted (Iceberg:
  ``streaming-skip-delete-snapshots``); commits already voided by a
  rollback at plan time are excluded, and so are rows already hidden by
  an expiry at plan time (the retention mask the store's reads apply:
  rows dated before the floor, committed before the expiry).
- **WAP/branch aware.** Staged, abandoned, and unmerged-branch commits
  are invisible. A published WAP commit streams at its *publish* seq
  (the file keeps its staged name until compaction bakes the remap;
  the planner rewrites ``commit_seq`` to the publish seq in-flight).
- **Compaction-safe.** A cursor at or past ``min_as_of`` is exact even
  across compactions: compacted files are name-tagged ``m<maxseq>`` and
  row-filtered by seq range. A version compaction drops was superseded
  by a newer one at or below the horizon, so it is never the net row of
  a range that ends at or past the horizon. A cursor *behind* the
  horizon raises — never a silently thinned batch.
- **Schema pinned at stream start** (Spark streaming relations are
  fixed-schema): the newest data file's physical schema plus the hive
  partition column ``p_date``. Older files are aligned per-batch: a
  column a later append added is null-filled.

Scale shape: ``latestOffset``/``partitions`` are driver-side metadata
reads (O(new files) via the ``c<seq>-``/``m<maxseq>-`` name manifest —
never a table scan); each :meth:`read` opens exactly one parquet file
in the Arrow worker and yields RecordBatches (zero row-at-a-time
Python). ``maxCommitsPerBatch`` bounds a micro-batch the way Iceberg's
``streaming-max-files-per-micro-batch`` does.
"""

from __future__ import annotations

import functools
from datetime import date, datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import DateType, StructField, StructType

FORMAT_NAME = "tier_store"


def _store(path: str):
    # metadata-only handle: none of the planner calls touch .spark
    from s1tiling_spark.plans.store import TierStore

    return TierStore(None, path)


def _newest_data_file(store, tier: str) -> str | None:
    """Highest-seq live data file (schema authority). Staged/branch
    files are fine here — they share the tier's declared schema."""
    best, best_seq = None, -1
    for f in store._data_files(store.tier_path(tier)):
        if (f.seq or 0) > best_seq:
            best, best_seq = f.path, f.seq or 0
    return best


def _pinned_arrow_schema(store, tier: str):
    """The stream's fixed emit schema: newest file's physical schema,
    ``p_date`` appended (date32, from the hive dir name)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _newest_data_file(store, tier)
    if path is None:
        raise ValueError(
            f"tier {tier!r} in {store.base_dir!r} has no data files yet — "
            "the stream schema is pinned from the newest file; create the "
            "tier (one append) before starting the stream"
        )
    def _norm(t):
        # Spark's Arrow bridge takes µs timestamps only; parquet
        # footers report ns — the worker's cast() downscales exactly
        # (micro-bucketed data has no sub-µs component)
        if pa.types.is_timestamp(t) and t.unit == "ns":
            return pa.timestamp("us", tz=t.tz)
        if pa.types.is_list(t):
            return pa.list_(_norm(t.value_type))
        return t

    fields = [pa.field(f.name, _norm(f.type)) for f in pq.read_schema(path)]
    return pa.schema([*fields, pa.field("p_date", pa.date32())])


class _FilePartition(InputPartition):
    """One parquet data file of the micro-batch's commit range.
    Attributes: path, p_date (hive dir value), remap_seq
    (published-WAP commit_seq override), row_range ((start, end] filter
    for compact outputs), excluded (rollback ranges, (lo, hi]),
    retention ((floor date, expiry seq) of the tier's last expiry, or
    (None, 0)), ddl (pinned Arrow schema, hex-serialized IPC)."""

    def __init__(self, **kw):
        self.__dict__.update(kw)


class TierStoreStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema_json: str):
        self.path = options.get("path")
        self.tier = options.get("tier")
        if not self.path or not self.tier:
            raise ValueError(
                "tier_store stream requires .option('path', <store base dir>) "
                "and .option('tier', <tier name>)"
            )
        self.from_seq = str(options.get("from_seq", "0"))
        self.max_commits = int(options.get("maxcommitsperbatch", 0))
        self.schema_json = schema_json
        # admission-control cursor: the newest offset this reader has
        # handed the engine. latestOffset bounds its answer to
        # cursor+K (the Iceberg streaming-max-files-per-micro-batch
        # analog); the engine COMMITS whatever latestOffset returns,
        # so bounding must happen there — truncating in partitions()
        # would skip commits forever. Engine call order (traced on
        # Spark 4.1): fresh stream = latestOffset → initialOffset →
        # partitions; restart = partitions(ckpt, ckpt) replay →
        # latestOffset. So a None cursor inside latestOffset means a
        # FRESH stream, where resolving from_seq is exactly what
        # initialOffset is about to return; restarts re-learn the
        # cursor from the replayed partitions() call.
        self._cursor: int | None = None

    def _resolve_start(self, store) -> int:
        seq = (
            store.last_commit_seq()
            if self.from_seq == "latest"
            else int(self.from_seq)
        )
        store._visibility(self.tier).check(seq, "stream start seq")
        return seq

    # ---- offsets ----
    def initialOffset(self) -> dict:
        seq = self._resolve_start(_store(self.path))
        self._cursor = seq if self._cursor is None else max(self._cursor, seq)
        return {"seq": seq}

    def latestOffset(self) -> dict:
        store = _store(self.path)
        last = store.last_commit_seq()
        if self.max_commits > 0:
            if self._cursor is None:
                self._cursor = self._resolve_start(store)
            last = min(last, self._cursor + self.max_commits)
        return {"seq": last}

    def commit(self, end: dict) -> None:
        self._cursor = max(self._cursor or 0, int(end["seq"]))

    # ---- planning (driver-side, name-manifest only) ----
    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = int(start["seq"]), int(end["seq"])
        self._cursor = max(self._cursor or 0, lo, hi)
        store = _store(self.path)
        vis = store._visibility(self.tier)
        vis.check(lo, "stream cursor")
        parts: list[InputPartition] = []
        for f in store._data_files(store.tier_path(self.tier)):
            if f.kind is None:
                # legacy unprefixed file: conservatively a compact
                # output covering all history — row-filter it
                parts.append(self._mk(f, vis, None, (lo, hi), vis.rollbacks))
            elif f.kind == "c":
                if f.seq in vis.hidden:
                    continue  # staged/abandoned/unmerged branch: invisible
                # a published WAP commit streams at its publish seq
                eff = vis.remap.get(f.seq, f.seq)
                if lo < eff <= hi and not vis.voided(eff):
                    remap = eff if f.seq in vis.remap else None
                    parts.append(self._mk(f, vis, remap, None, ()))
            elif f.seq > lo:  # m<maxseq>: compact output, may hold in-range rows
                parts.append(self._mk(f, vis, None, (lo, hi), vis.rollbacks))
        return parts

    def _mk(self, f, vis, remap, row_range, excluded):
        return _FilePartition(
            path=f.path,
            p_date=f.p_date,
            remap_seq=remap,
            row_range=row_range,
            excluded=tuple(excluded),
            retention=vis.retention,
            ddl=self.schema_json,
        )

    # ---- execution (Arrow worker, one file per partition) ----
    def read(self, partition: _FilePartition):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pinned = pa.ipc.read_schema(
            pa.BufferReader(bytes.fromhex(partition.ddl))
        )
        tbl = pq.read_table(partition.path)
        seq = tbl["commit_seq"]

        def within(a, b):  # a < commit_seq <= b
            return pc.and_(pc.greater(seq, pa.scalar(a)), pc.less_equal(seq, pa.scalar(b)))

        masks = []
        if partition.row_range is not None:
            masks.append(within(*partition.row_range))
            masks += [pc.invert(within(a, b)) for a, b in partition.excluded]
        floor, exp_seq = partition.retention
        if floor is not None:
            # the store's retention mask: an expiry hides the rows dated
            # before its floor that were committed before it (a
            # published WAP row counts at its publish seq)
            eff = seq if partition.remap_seq is None else pa.scalar(partition.remap_seq)
            cut = datetime.fromisoformat(floor).replace(tzinfo=timezone.utc)
            expired = pc.and_(
                pc.less(tbl["bucket_start"], pa.scalar(cut, tbl["bucket_start"].type)),
                pc.less(eff, pa.scalar(exp_seq)),
            )
            masks.append(pc.invert(pc.fill_null(expired, False)))
        if masks:
            tbl = tbl.filter(functools.reduce(pc.and_, masks))
        if tbl.num_rows == 0:
            return
        n = tbl.num_rows
        cols = []
        for f in pinned:
            if f.name == "p_date":
                cols.append(
                    pa.array([date.fromisoformat(partition.p_date)] * n,
                             type=pa.date32())
                )
            elif f.name == "commit_seq" and partition.remap_seq is not None:
                cols.append(pa.array([partition.remap_seq] * n).cast(f.type))
            elif f.name in tbl.schema.names:
                cols.append(tbl[f.name].combine_chunks().cast(f.type))
            else:
                # add-column evolution: older file lacks it → null-fill
                cols.append(pa.nulls(n, type=f.type))
        out = pa.table(cols, schema=pinned)
        yield from out.to_batches(max_chunksize=1 << 16)


class TierStoreDataSource(DataSource):
    """``spark.readStream.format("tier_store")`` — register once per
    session with ``register_tier_store_source(spark)``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.options.get("path")
        tier = self.options.get("tier")
        if not path or not tier:
            raise ValueError(
                "tier_store requires .option('path', ...) and .option('tier', ...)"
            )
        arrow = _pinned_arrow_schema(_store(path), tier)
        base = from_arrow_schema(
            arrow.remove(arrow.get_field_index("p_date"))
        )
        return StructType(base.fields + [StructField("p_date", DateType())])

    def streamReader(self, schema: StructType) -> TierStoreStreamReader:
        arrow = _pinned_arrow_schema(
            _store(self.options["path"]), self.options["tier"]
        )
        # ship the pinned schema to workers as hex'd Arrow IPC (the
        # partition object must be picklable and self-contained)
        ser = bytes(arrow.serialize()).hex()
        return TierStoreStreamReader(dict(self.options), ser)


def register_tier_store_source(spark) -> None:
    """Idempotent per-session registration."""
    spark.dataSource.register(TierStoreDataSource)
