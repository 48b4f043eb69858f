"""Structured Streaming variant of the 1h rollup: file-source stream →
watermarked tumbling-window aggregate → foreachBatch MERGE into the
TierStore.

The reference has no stream abstraction (SURVEY §2.11); its
incremental-batch loop (check product existence, process only what's
new, `otbpipeline.py:749-756`) is exactly what
``readStream`` + checkpointLocation + ``foreachBatch`` gives natively:
new parquet files in the landing dir are discovered per micro-batch,
the 10-minute watermark bounds state for late rows, and each
micro-batch's window updates MERGE into the same tier tables the batch
pipeline writes (append + dedup-on-read = update-in-place semantics).

Run with ``trigger(availableNow=True)`` for incremental-batch mode (the
reference's re-run model) or a processing-time trigger for continuous
operation. State stays bounded: windows older than the watermark are
evicted after emission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from s1tiling_spark.plans.store import TierStore, new_run_id

SEQ_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()),
        StructField("source", StringType()),
        StructField("event_ts", TimestampType()),
    ]
)


def streaming_rollup_1h(
    spark: SparkSession,
    landing_dir: str,
    watermark: str = "10 minutes",
    reader_options: dict | None = None,
) -> DataFrame:
    """Streaming 1h tier: one watermarked window aggregate.
    ``reader_options`` passes file-source knobs (e.g. maxFilesPerTrigger
    for bounded micro-batches — the kill/resume e2e test uses it)."""
    reader = spark.readStream.schema(SEQ_SCHEMA)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    stream = reader.parquet(landing_dir)
    return (
        stream.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", "1 hour").alias("win"), "source")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("n_tok").cast("long").alias("sum_n_tok"),
            F.min("n_tok").alias("min_n_tok"),
            F.max("n_tok").alias("max_n_tok"),
        )
        .select(F.col("win.start").alias("bucket_start"), "source", "cnt",
                "sum_n_tok", "min_n_tok", "max_n_tok")
    )


def streaming_token_hist_1h(
    spark: SparkSession,
    landing_dir: str,
    watermark: str = "10 minutes",
    n_bins: int = 64,
) -> DataFrame:
    """Streaming 1h token-histogram sketch: explode tokens inside the
    micro-batch, watermarked window aggregate on (window, source, bin).

    State is bounded by windows-in-watermark × sources × bins — the
    explode multiplies ROWS within a batch, not state keys, so a
    10^12-token stream holds the same state as a 10^3-token one with
    the same key cardinality (the skew-neutrality argument of
    operators/rollup.py applied to streaming state)."""
    from s1tiling_spark.operators.rollup import N_HIST_BINS, VOCAB

    n_bins = n_bins or N_HIST_BINS
    width = VOCAB // n_bins
    stream = spark.readStream.schema(SEQ_SCHEMA).parquet(landing_dir)
    tok = stream.select(
        "event_ts", "source", F.explode("tokens").alias("token")
    ).withColumn(
        "bin",
        F.least(F.col("token") / F.lit(width), F.lit(n_bins - 1)).cast("int"),
    )
    return (
        tok.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", "1 hour").alias("win"), "source", "bin")
        .agg(F.count("*").alias("tok_cnt"))
        .select(F.col("win.start").alias("bucket_start"), "source", "bin", "tok_cnt")
    )


def streaming_quantile_sketch_1h(
    spark: SparkSession,
    landing_dir: str,
    watermark: str = "10 minutes",
    width: int | None = None,
    cap: int | None = None,
) -> DataFrame:
    """Streaming 1h quantile sketch: the mergeable bucket-count sketch
    (operators/sketch.quantile_sketch_long) as a watermarked window
    aggregate. State = windows-in-watermark × sources × ≤cap buckets —
    the same bounded-state argument as the histogram; downstream the
    long-form counters merge 1h→1d and answer rank queries exactly like
    the batch sketch (tests pin streaming == batch convergence)."""
    from s1tiling_spark.operators.sketch import QSKETCH_CAP, QSKETCH_WIDTH

    width = width or QSKETCH_WIDTH
    cap = cap or QSKETCH_CAP
    stream = spark.readStream.schema(SEQ_SCHEMA).parquet(landing_dir)
    binned = stream.withColumn(
        "qbin",
        F.least(F.col("n_tok") / F.lit(width), F.lit(cap)).cast("int"),
    )
    return (
        binned.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", "1 hour").alias("win"), "source", "qbin")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("win.start").alias("bucket_start"), "source", "qbin", "cnt")
    )


def streaming_distinct_sketch_1h(
    spark: SparkSession,
    landing_dir: str,
    watermark: str = "10 minutes",
    m: int | None = None,
) -> DataFrame:
    """Streaming 1h distinct-count sketch: HLL-style max-rank registers
    (operators/sketch.distinct_registers_long) as a watermarked window
    MAX aggregate on (window, source, reg). The register merge is max —
    associative AND idempotent — so replayed or overlapping deliveries
    converge to the batch-built registers exactly (the property exact
    countDistinct lacks: distinct state would be unbounded per group;
    register state is ≤ m rows per (window, source))."""
    from s1tiling_spark.operators.sketch import HLL_M, hll_reg_rho

    m = m or HLL_M
    stream = spark.readStream.schema(SEQ_SCHEMA).parquet(landing_dir)
    reg, rho = hll_reg_rho(F.col("doc_id"), m)
    keyed = stream.select(
        "event_ts", "source", reg.alias("reg"), rho.alias("rho")
    )
    return (
        keyed.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", "1 hour").alias("win"), "source", "reg")
        .agg(F.max("rho").alias("rho"))
        .select(F.col("win.start").alias("bucket_start"), "source", "reg", "rho")
    )


def streaming_cms_1h(
    spark: SparkSession,
    landing_dir: str,
    watermark: str = "10 minutes",
    depth: int | None = None,
    width: int | None = None,
) -> DataFrame:
    """Streaming 1h count-min sketch: the md5-hashed (depth, col)
    counters (operators/sketch.cms_long) as a watermarked window SUM
    aggregate — CMS counters are linear, so micro-batch partial counts
    sum to exactly the batch-built sketch. State is bounded by
    windows-in-watermark × sources × depth × width cells (the explode
    multiplies rows within a batch, never state keys). Completes the
    sketch family's streaming symmetry: histogram, quantile, distinct
    and CMS all stream with the same convergence guarantee."""
    from s1tiling_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH, _cms_col

    depth = depth or CMS_DEPTH
    width = width or CMS_WIDTH
    stream = spark.readStream.schema(SEQ_SCHEMA).parquet(landing_dir)
    tok = stream.select(
        "event_ts", "source", F.explode("tokens").alias("token")
    )
    cells = tok.select(
        "event_ts",
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _cms_col(F.col("token"), d, width).alias("col"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("dc"),
    )
    return (
        cells.withWatermark("event_ts", watermark)
        .groupBy(
            F.window("event_ts", "1 hour").alias("win"),
            "source",
            F.col("dc.depth").alias("depth"),
            F.col("dc.col").alias("col"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("bucket_start"), "source", "depth", "col", "cnt"
        )
    )


EVENTS_STREAM_SCHEMA = "event_id long, ts timestamp, user_id long"

# the counter-sample stream shape consumed by stateful.counter_increase_stream
EVENTS_COUNTER_SCHEMA = "series string, ts timestamp, order_id long, counter long"


def streaming_sessionize(
    spark: SparkSession,
    landing_dir: str,
    watermark: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Streaming sessionization via the native ``session_window``: the
    built-in MERGING window (state sessions whose spans come within
    ``gap`` coalesce), so a session SPLIT ACROSS MICRO-BATCHES is one
    session — the stateful counterpart of the batch gaps-and-islands
    sessionizer (catalog/pipeline_ops.sessionize_events), with state
    handled by Spark's session-window store instead of a custom
    applyInPandasWithState kernel. Append output: a session emits once
    its window end drops below the watermark (state is bounded by
    open sessions within the watermark horizon).

    ``watermark`` is REQUIRED, deliberately without a default: it must
    exceed the worst cross-delivery lateness, because a session can
    only merge with events that arrive while it is still inside the
    watermark horizon — a too-narrow value CLOSES the session early
    and silently DROPS the late half (review finding; the convergence
    test demonstrates both the failure and the fix). Pick it like a
    retention SLA, not a latency knob.

    Boundary note: ``session_window`` starts a NEW session at
    gap-or-more (merge iff next_ts − prev_ts < gap) where the batch
    sessionizer splits at strictly-more (merge iff ≤ gap); on
    real-valued microsecond timestamps an exact-gap tie has measure
    zero, and the convergence test pins gaps well clear of it."""
    ev = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(landing_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def run_counter_stream_into_store(
    spark: SparkSession,
    landing_dir: str,
    store: TierStore,
    checkpoint_dir: str,
    tier: str = "counter_1h",
    available_now: bool = True,
):
    """Drive the stateful counter-increase stream into an ADDITIVE
    store tier via foreachBatch. Each micro-batch appends its
    per-bucket increase PARTIALS; serving folds them with
    ``store.read_summed(tier, keys=("series", "bucket_start"),
    sum_cols=("increase", "n_samples"))``.

    The append carries a replay-stable ``idempotency_key`` (the
    batchId) — mandatory for additive tiers: an at-least-once replay
    would otherwise double-count, since summing is exactly what the
    read does. The e2e convergence proof (stream → store → additive
    read == batch operator, across a reset) lives in
    tests/test_stateful_stream.py."""
    from s1tiling_spark.streaming.stateful import counter_increase_stream

    stream = counter_increase_stream(
        spark.readStream.schema(EVENTS_COUNTER_SCHEMA).parquet(landing_dir)
    )
    run_id = new_run_id()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.append(
            tier,
            batch_df,
            store.next_commit_seq(),
            f"{run_id}-b{batch_id}",
            idempotency_key=f"{checkpoint_dir}:b{batch_id}",
        )

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_into_store(
    spark: SparkSession,
    landing_dir: str,
    store: TierStore,
    checkpoint_dir: str,
    available_now: bool = True,
    watermark: str = "10 minutes",
):
    """Drive the streaming rollup into the tier store via foreachBatch.

    Every micro-batch appends with a fresh commit_seq; dedup-on-read
    keeps the newest version of each (bucket, source) — so in-window
    updates across micro-batches converge to the final value, the
    MERGE-late-partitions-idempotently requirement of the north rule.

    ``watermark`` is the lateness tolerance: rows later than it are
    dropped by the stream (state for their window was evicted) and must
    be repaired by a batch backfill (plans.tiers.TierPipeline over the
    raw table) — the same repair path as a crash.
    """
    agg = streaming_rollup_1h(spark, landing_dir, watermark=watermark)
    run_id = new_run_id()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        seq = store.next_commit_seq()
        rid = f"{run_id}-b{batch_id}"
        store.append("1h", batch_df, seq, rid)
        # watermarks read back from this commit's own files, driver-side
        # (no second execution of the micro-batch plan)
        store.commit_refresh(seq, rid, {"1h": store.commit_watermarks("1h", seq)})

    writer = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    return query


def run_validated_stream_into_store(
    spark: SparkSession,
    landing_dir: str,
    store: TierStore,
    checkpoint_dir: str,
    validate,
    tier: str = "1h",
    available_now: bool = True,
    watermark: str = "10 minutes",
):
    """Streaming write-audit-publish: every micro-batch is STAGED,
    audited by ``validate`` (a ``DataFrame -> bool`` over the would-be
    post-publish state from :meth:`TierStore.audit_read`), then
    published or abandoned — bad batches (schema drift, poisoned
    upstream, empty-join accidents) never become visible, not even
    transiently, which a plain append-then-delete cannot promise.

    Exactly-once across replays, by construction (no extra bookkeeping):
    the audit_id is the replay-stable batch id, and every crash point
    re-resolves from the staged record's state —
      - before/mid stage  → ``stage`` repairs the torn attempt, restages;
      - staged, undecided → the replay re-validates and decides;
      - published/abandoned → the replay is a no-op.
    The decision itself is idempotent because ``validate`` is a pure
    function of the audited state.

    Reference analog: the reference never moves an invalid product
    into the output tree (tmp→rename after OTB success,
    `/root/reference/s1tiling/libs/steps.py:123-145`) — this is that
    gate at micro-batch granularity."""
    agg = streaming_rollup_1h(spark, landing_dir, watermark=watermark)
    run_id = new_run_id()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        audit_id = f"{checkpoint_dir}:b{batch_id}"
        state = next(
            (
                e["state"]
                for e in store._staged_entries(tier)
                if e["audit_id"] == audit_id
            ),
            None,
        )
        if state in ("published", "abandoned"):
            return  # replay of a fully decided batch
        if state != "staged":  # fresh batch, or torn `staging` replay
            store.stage(tier, batch_df, f"{run_id}-b{batch_id}", audit_id)
        if validate(store.audit_read(tier, audit_id)):
            store.publish(tier, audit_id)
        else:
            store.abandon(tier, audit_id)

    writer = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
