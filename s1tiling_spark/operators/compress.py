"""Compressed block materialization: tier series → Gorilla/DoD blocks.

The engine's analog of the reference's compressed product sink (GeoTIFF
with ``COMPRESS=DEFLATE, PREDICTOR=3``,
`/root/reference/s1tiling/libs/configuration.py:759-813` and
`steps.py:823-836`): each (source, block) group of a tier becomes one
row holding delta-of-delta-encoded bucket timestamps + Gorilla-XOR-
encoded values as binary columns.

Execution model: ``applyInPandas`` — Arrow ships each group as one
pandas frame to the Python worker, the numpy kernel encodes it, one row
comes back. No per-Spark-row Python (north-rule ``input_hint``). Groups
are bounded by (source, 30d block), so worker memory is capped at
span/step points per group regardless of total data size; at 10^12
sequences the number of groups grows, not the group size — this is the
shape that survives a 1000-executor scale-up.

Blocks are self-describing and mergeable-by-concatenation at read time;
``decompress_blocks`` restores the exact (bucket_start, value) rows
(bit-exact: both codecs operate on bit patterns, so encode∘decode == id
— the analog of the reference's 1e-12 golden compare, which for bit
codecs tightens to equality).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pyspark import cloudpickle

from s1tiling_spark.functions import compression as _compression
from s1tiling_spark.functions.compression import (
    dod_decode,
    dod_encode,
    gorilla_decode,
    gorilla_encode,
)
from s1tiling_spark.operators.rollup import bucket_col

# Ship the numpy kernels by value inside the serialized UDF so they
# work even under a SparkSession that did not addPyFile this package
# (e.g. the driver harness's own session).
cloudpickle.register_pickle_by_value(_compression)

BLOCK_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("block_start", TimestampType()),
        StructField("n_points", IntegerType()),
        StructField("ts_dod", BinaryType()),
        StructField("val_gorilla", BinaryType()),
    ]
)

POINT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("bucket_start", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def compress_blocks(
    tier: DataFrame, value_col: str, block_tier: str = "30d", n_salts: int = 1
) -> DataFrame:
    """Tier rows (bucket_start, source, <value_col>) → one compressed
    block row per (source, ``block_tier`` window[, salt]).

    ``n_salts > 1`` sub-splits hot groups deterministically (salt =
    hash(bucket_start) mod n_salts): grouped-map kernels get no partial
    aggregation, so one scorching source would otherwise serialize into
    a single Python worker call — salting is the skew escape hatch the
    north rule names. Sub-blocks decompress to the same point set (the
    reader re-sorts); compression ratio degrades only marginally since
    each sub-block is still a contiguous-sorted series."""

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket_start")
        ts = pdf["bucket_start"].astype("int64") // 1_000_000_000  # epoch sec
        vals = pdf["value"].astype("float64")
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "block_start": [pdf["block_start"].iloc[0]],
                "n_points": [len(pdf)],
                "ts_dod": [dod_encode(ts.to_numpy())],
                "val_gorilla": [gorilla_encode(vals.to_numpy())],
            }
        )

    prepared = tier.select(
        "source",
        "bucket_start",
        F.col(value_col).cast("double").alias("value"),
        bucket_col(F.col("bucket_start"), block_tier).alias("block_start"),
    )
    keys = ["source", "block_start"]
    if n_salts > 1:
        prepared = prepared.withColumn(
            "_salt", F.pmod(F.xxhash64("bucket_start"), F.lit(n_salts)).cast("int")
        )
        keys.append("_salt")
    return prepared.groupBy(*keys).applyInPandas(encode, BLOCK_SCHEMA)


def decompress_blocks(blocks: DataFrame) -> DataFrame:
    """Inverse of :func:`compress_blocks`: blocks → exact point rows.
    Each Arrow batch of blocks decodes into one frame: the per-block
    arrays are concatenated, and the source repeated per point."""

    def decode(iterator):
        for pdf in iterator:
            ts = [dod_decode(bytes(b)) for b in pdf["ts_dod"]]
            vals = [gorilla_decode(bytes(b)) for b in pdf["val_gorilla"]]
            yield pd.DataFrame(
                {
                    "source": np.repeat(
                        pdf["source"].to_numpy(), [len(t) for t in ts]
                    ),
                    "bucket_start": pd.to_datetime(np.concatenate(ts), unit="s"),
                    "value": np.concatenate(vals),
                }
            )

    return blocks.mapInPandas(decode, POINT_SCHEMA)
