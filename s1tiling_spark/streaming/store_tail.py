"""Store-to-store streaming: pipelines whose SOURCE is a TierStore,
tailed natively with ``spark.readStream.format("tier_store")``
(:mod:`s1tiling_spark.sources.store_stream`).

This closes the loop the reference runs as nightly re-invocations
(process whatever products appeared since last run,
`/root/reference/s1tiling/libs/otbpipeline.py:749-756`): a downstream
tier is maintained *continuously* from the upstream tier's commit log,
with Spark's checkpoint carrying the cursor — the TimescaleDB
continuous-aggregate / Iceberg CDC-append pattern.

Two shapes, both exactly-once through the store's idempotency keys:

- :func:`run_additive_cascade` — coarser-tier continuous aggregate
  over an ADDITIVE source tier (streaming counter partials, long-form
  sketches). Every appended source row is a delta by construction, so
  re-bucket + per-batch partial sums appended additively converge to
  the batch rollup exactly, under any micro-batch slicing and any
  replay.
- :func:`run_store_mirror` — replica of a newest-wins tier into
  another store. Within a micro-batch only the newest source version
  per key survives (versions in one batch would otherwise land under
  ONE destination seq, making newest-wins unable to order them);
  across batches the commit-seq order of the source is preserved by
  arrival order, so the mirror's ``read()`` equals the source's.

Scale shape: each micro-batch reads only the new commits' files
(O(new) planning in the source), aggregates map-side before the
shuffle, and appends one file per touched date. Nothing re-reads the
upstream table; a 10^12-row source tier costs each batch only its own
delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import bucket_col
from s1tiling_spark.plans.store import TierStore, new_run_id
from s1tiling_spark.sources.store_stream import register_tier_store_source


def _tail(spark: SparkSession, src_dir: str, src_tier: str) -> DataFrame:
    register_tier_store_source(spark)
    return (
        spark.readStream.format("tier_store")
        .option("path", src_dir)
        .option("tier", src_tier)
        .load()
    )


def run_additive_cascade(
    spark: SparkSession,
    src_dir: str,
    src_tier: str,
    dst_store: TierStore,
    dst_tier: str,
    checkpoint_dir: str,
    bucket: str = "1d",
    keys: tuple[str, ...] = ("bucket_start", "source"),
    sum_cols: tuple[str, ...] = ("cnt", "sum_n_tok"),
    trigger: dict | None = None,
):
    """Continuously fold an additive source tier into a coarser
    additive tier in another store. Serve with
    ``dst_store.read_summed(dst_tier, keys=keys, sum_cols=sum_cols)``.

    The per-batch aggregate is a map-side-combined partial sum — the
    destination accumulates partials exactly like the source does, so
    the cascade composes (1h → 1d → 30d chains of this helper are
    associativity, not new machinery). The ``idempotency_key``
    (checkpoint + batchId) makes at-least-once replays no-ops — for
    additive tiers that is the difference between exact and
    double-counted.
    """
    stream = _tail(spark, src_dir, src_tier)
    other = [k for k in keys if k != "bucket_start"]
    run_id = new_run_id()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # aggregate INSIDE the batch (plain batch groupBy, no streaming
        # state): the append must carry this batch's DELTA. A streaming
        # groupBy in update mode would emit the CUMULATIVE aggregate of
        # every batch so far — additively appending that double-counts
        # each group once per batch that touches it.
        agg = batch_df.groupBy(
            bucket_col(F.col("bucket_start"), bucket).alias("bucket_start"),
            *other,
        ).agg(*[F.sum(c).alias(c) for c in sum_cols])
        if agg.isEmpty():
            return
        dst_store.append(
            dst_tier,
            agg,
            dst_store.next_commit_seq(),
            f"{run_id}-b{batch_id}",
            idempotency_key=f"{checkpoint_dir}:b{batch_id}",
        )

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def run_store_mirror(
    spark: SparkSession,
    src_dir: str,
    src_tier: str,
    dst_store: TierStore,
    dst_tier: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("bucket_start", "source"),
    trigger: dict | None = None,
):
    """Replicate a newest-wins tier into another store (Iceberg
    CDC-append replication). ``dst_store.read(dst_tier, keys=keys)``
    equals the source's read at the consumed cursor.

    Appends-only, like the source stream: equality deletes and
    rollbacks behind the cursor do not replicate (run a periodic
    anti-join repair, or replicate deletes out-of-band, when the
    upstream issues them)."""
    stream = _tail(spark, src_dir, src_tier)
    run_id = new_run_id()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # keep only the newest source version per key IN THIS BATCH:
        # the whole batch lands under one destination seq, so the
        # destination's newest-wins cannot order within it — the source
        # seq decides here, the destination seq across batches
        newest = TierStore._newest_wins(batch_df, keys).drop(
            "commit_seq", "run_id", "p_date"
        )
        if newest.isEmpty():
            return
        dst_store.append(
            dst_tier,
            newest,
            dst_store.next_commit_seq(),
            f"{run_id}-b{batch_id}",
            idempotency_key=f"{checkpoint_dir}:b{batch_id}",
        )

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def run_matview_maintenance(
    spark: SparkSession,
    mv,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Continuously maintain a materialized view: tail the view's BASE
    tier commit log and call ``mv.refresh()`` once per micro-batch —
    the run loop that turns the changelog-driven IVM
    (:mod:`s1tiling_spark.plans.matview`) into a live continuous
    aggregate.

    Exactly-once comes from ``refresh`` itself, not the stream: it
    consumes the changelog from its own persisted cursor
    (``last_refreshed_seq``), so a replayed or overlapping trigger is a
    no-op. The stream contributes low-latency scheduling and
    Spark-managed restart; its offsets track the base tier's commit
    seqs, so a refresh fires exactly when commits land.

    The sink deliberately ignores the batch ROWS and refreshes on
    EVERY batch, including empty ones: a delete or rollback commit
    advances the commit log without writing data files, so its batch
    carries zero rows — and that is precisely a batch the view must
    absorb (retractions). Skipping empty batches would stall deletes
    until the next append. A refresh with nothing touched compiles no
    delta side (matview.py) — the idle cost is one changelog cursor
    check."""
    stream = _tail(spark, mv.store.base_dir, mv.base_tier)
    run_id = new_run_id()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        mv.refresh(f"{run_id}-b{batch_id}")

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
