"""End-to-end serving loop: cumulative 1h deliveries → store MERGE →
physical compaction → tier cascade FROM THE STORE → router-served
range query — the whole production path in one test, gated against a
direct raw-table aggregate (exact integers).

This is the integration the components exist for: data arrives in
overlapping cumulative deliveries, lands via dedup-on-read MERGE, gets
physically compacted, the coarser tiers are maintained from the stored
1h tier (never from raw), and a time-range question is answered from
the coarsest covering tiers — equal, exactly, to scanning the raw
rows."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import rollup_from_lower, rollup_sequences
from s1tiling_spark.plans.router import routed_range_totals
from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.sources.synth import synth_sequences
from tests.helpers import assert_frames_match

N = 3000
_START = datetime(2024, 1, 3, 7)
_END = datetime(2024, 2, 9, 17)


def test_stream_store_compact_route_e2e(spark, tmp_path):
    seq = synth_sequences(spark, N).cache()
    part = F.pmod(F.xxhash64("doc_id"), F.lit(10))

    # two overlapping cumulative deliveries into the store: the second
    # re-delivers every bucket of the first, and newest-wins merges them
    store = TierStore(spark, str(tmp_path / "store"))
    for i, delivered in enumerate((seq.filter(part < 6), seq)):
        store.append(
            "1h", rollup_sequences(delivered, "1h"), store.next_commit_seq(),
            f"delivery-{i}",
        )

    # physically apply the MERGE (one file per partition, newest wins)
    stats = store.compact("1h")
    assert stats["files_after"] <= stats["files_before"]

    # coarser tiers maintained FROM THE STORED 1h tier, never from raw
    t1h = store.read("1h").select(
        "bucket_start", "source", "cnt", "sum_n_tok", "min_n_tok", "max_n_tok"
    ).persist()
    t1d = rollup_from_lower(t1h, "1d").persist()
    t30d = rollup_from_lower(t1d, "30d")

    got = routed_range_totals(t1h, t1d, t30d, _START, _END).toPandas()
    want = (
        seq.filter(
            (F.col("event_ts") >= F.lit(_START.isoformat()).cast("timestamp"))
            & (F.col("event_ts") < F.lit(_END.isoformat()).cast("timestamp"))
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("n_tok").cast("long").alias("sum_n_tok"),
        )
        .toPandas()
    )
    assert_frames_match(got, want)
    t1h.unpersist()
    t1d.unpersist()
