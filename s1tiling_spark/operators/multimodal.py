"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode / feature-extraction / resize / frame-sampling as
Arrow-batched kernels.

This mirrors the reference's raster handling — opaque pixel payloads
flowing between typed steps (pixel-type registry
`/root/reference/s1tiling/libs/configuration.py:58-70`, whole-image
kernels SURVEY §2.9) — with Spark's ``BinaryType`` as the payload and
``mapInPandas`` as the kernel boundary.

The image/audio codec libraries are not available in this container, so
the *codec* step is stubbed (`decode_backend="fake"`): a deterministic
byte-level interpretation stands in for JPEG/PCM decoding. Everything
Spark-side is real and load-bearing — schema, partitioning, Arrow batch
shape, UDF signatures, metadata propagation — so swapping in a real
codec is a one-function change (`_decode_payload`).

Synthetic media: payload bytes are derived deterministically from the
key (repeated md5 blocks via JVM expressions), so tests and benches are
reproducible with no external data (north rule: no external inputs).
Every derived attribute (kind, block count, dimensions) comes from
md5-based integers — computable identically in DuckDB — so the
downstream relational aggregates get an exact SQL oracle.

Kernel discipline: only the codec boundary (`_decode_payload`) runs
per row; every statistic is computed once per Arrow batch with numpy
segment operations (``np.add.reduceat`` / combined ``bincount`` /
gathered prefix sums), so per-row Python never dominates.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_BYTE_BINS = 16
RESIZE_LEN = 64
FRAME_SIZE = 256

MEDIA_KINDS = ("image", "audio", "video")


def _md5_long(c: Column) -> Column:
    """60-bit md5-derived integer (same formula as rollup.md5_long;
    inlined so this module pickles standalone by value)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes int, byte_mean double, "
    "byte_std double, byte_hist array<long>, thumb array<double>, "
    "n_frames int, frame_checksums array<long>"
)


def synth_media(spark: SparkSession, n_rows: int, seed: int = 42) -> DataFrame:
    """Deterministic media table (media_id, kind, payload binary,
    meta struct) — payload = concatenated md5 blocks, 256-4096 bytes.

    All derivations are md5-based (never xxhash64, which DuckDB lacks)
    so kind/n_blocks are reproducible in the SQL oracle."""
    df = spark.range(0, n_rows)
    hk = _md5_long(F.concat(F.col("id").cast("string"), F.lit(f":k:{seed}")))
    hb = _md5_long(F.concat(F.col("id").cast("string"), F.lit(f":b:{seed}")))
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]),
        (F.pmod(hk, F.lit(len(MEDIA_KINDS))) + 1).cast("int"),
    )
    n_blocks = (F.pmod(hb, F.lit(240)) + 16).cast("int")  # 16..255 blocks of 16 bytes
    payload = F.unhex(
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), n_blocks),
                lambda i: F.md5(F.concat(F.col("id").cast("string"), F.lit("#"), i.cast("string"))),
            ),
            "",
        )
    )
    return df.select(
        F.concat(F.lit("m-"), F.format_string("%08d", F.col("id"))).alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            (n_blocks * 16).alias("n_bytes"),
            F.lit("fake/deterministic").alias("codec"),
            F.pmod(hk, F.lit(1000)).cast("int").alias("width"),
            F.pmod(hk, F.lit(800)).cast("int").alias("height"),
        ).alias("meta"),
    )


def synth_media_oracle_cte(n_rows: int, seed: int = 42) -> str:
    """DuckDB CTE reproducing synth_media's (kind, n_bytes) exactly —
    the derivation is pure md5 integer arithmetic on the row id."""
    md5l = "CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || '{sfx}'), 1, 15)) AS BIGINT)"
    hk = md5l.format(sfx=f":k:{seed}")
    hb = md5l.format(sfx=f":b:{seed}")
    kinds = ", ".join(f"'{k}'" for k in MEDIA_KINDS)
    return (
        f"media AS (SELECT ([{kinds}])[CAST({hk} % {len(MEDIA_KINDS)} AS INT) + 1] AS kind, "
        f"CAST(({hb} % 240 + 16) * 16 AS INT) AS n_bytes "
        f"FROM range({n_rows}) t(id))"
    )


def _decode_payload(payload: bytes, kind: str) -> np.ndarray:
    """Codec boundary. Container has no PIL/libav, so 'decode' is the
    deterministic byte interpretation; a real deployment replaces this
    body with PIL.Image.open / av.open and keeps every signature."""
    return np.frombuffer(payload, dtype=np.uint8)


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + feature extraction over Arrow batches: byte stats,
    16-bin histogram, stride-resampled 'thumbnail', frame sampling for
    video-kind rows.

    Per-row Python is confined to the codec boundary (`_decode_payload`
    — a buffer view, no copy). All statistics are batch-vectorized:

    - mean/std: ``np.add.reduceat`` over the concatenated byte stream
      with row offsets (one pass for sums, one for squares);
    - histogram: one combined ``np.bincount`` over
      ``row_code * 16 + (byte >> 4)``;
    - thumbnails: a single fancy-index gather of shape
      (rows, RESIZE_LEN);
    - video frame checksums: gathered differences of one prefix-sum
      array (each checksum = csum[start+256] - csum[start]).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_rows = len(pdf)
            if n_rows == 0:
                continue
            kinds = pdf["kind"].to_numpy()
            decoded = [
                _decode_payload(bytes(p), k)
                for p, k in zip(pdf["payload"], kinds)
            ]
            lengths = np.array([len(a) for a in decoded], dtype=np.int64)
            offsets = np.zeros(n_rows + 1, dtype=np.int64)
            np.cumsum(lengths, out=offsets[1:])
            allb = (
                np.concatenate(decoded)
                if offsets[-1]
                else np.empty(0, dtype=np.uint8)
            )
            allb64 = allb.astype(np.int64)
            safe_len = np.maximum(lengths, 1)
            # segment sums via prefix-sum differences — exact for ANY
            # segment layout including zero-length rows (reduceat with
            # clipped offsets silently splits the neighboring segment)
            csum = np.zeros(offsets[-1] + 1, dtype=np.int64)
            np.cumsum(allb64, out=csum[1:])
            csum2 = np.zeros(offsets[-1] + 1, dtype=np.int64)
            np.cumsum(allb64 * allb64, out=csum2[1:])
            sums = csum[offsets[1:]] - csum[offsets[:-1]]
            sq = csum2[offsets[1:]] - csum2[offsets[:-1]]
            mean = sums / safe_len
            var = np.maximum(sq / safe_len - mean * mean, 0.0)
            std = np.sqrt(var)
            # combined histogram: one bincount for the whole batch
            row_codes = np.repeat(np.arange(n_rows, dtype=np.int64), lengths)
            hist = np.bincount(
                row_codes * N_BYTE_BINS + (allb >> 4),
                minlength=n_rows * N_BYTE_BINS,
            ).reshape(n_rows, N_BYTE_BINS).astype(np.int64)
            # thumbnails: stride-resample when n >= RESIZE_LEN, else the
            # raw prefix zero-padded (the documented short-payload
            # semantics: thumb[i] = arr[i]/255 for i < n)
            i_grid = np.arange(RESIZE_LEN, dtype=np.int64)[None, :]
            stride_pos = (i_grid * lengths[:, None]) // RESIZE_LEN
            prefix_pos = np.minimum(i_grid, safe_len[:, None] - 1)
            pos = np.where(lengths[:, None] >= RESIZE_LEN, stride_pos, prefix_pos)
            idx = offsets[:-1, None] + pos
            # a batch of ALL-empty payloads leaves allb64 empty — gather
            # from a 1-element zero array instead of indexing into
            # nothing (unreachable for synth_media's >=256 B payloads,
            # but real media inputs can be zero-length)
            gather_src = allb64 if offsets[-1] else np.zeros(1, dtype=np.int64)
            thumb = gather_src[np.minimum(idx, max(offsets[-1] - 1, 0))] / 255.0
            inb = (i_grid < lengths[:, None]) | (lengths[:, None] >= RESIZE_LEN)
            thumb = np.where(inb, thumb, 0.0)
            # video frame checksums: every 4th FRAME_SIZE-byte frame,
            # via prefix-sum differences
            n_frames = np.where(kinds == "video", lengths // FRAME_SIZE, 0)
            n_ck = (n_frames + 3) // 4
            total_ck = int(n_ck.sum())
            if total_ck:
                # csum already built for the segment sums above
                ck_row = np.repeat(np.arange(n_rows), n_ck)
                ck_excl = np.concatenate(([0], np.cumsum(n_ck)[:-1]))
                within = np.arange(total_ck) - np.repeat(ck_excl, n_ck)
                starts_ck = offsets[:-1][ck_row] + within * 4 * FRAME_SIZE
                vals = csum[starts_ck + FRAME_SIZE] - csum[starts_ck]
                ck_splits = np.cumsum(n_ck)[:-1]
                checksums = np.split(vals, ck_splits)
            else:
                checksums = [np.empty(0, dtype=np.int64)] * n_rows
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": kinds,
                    "n_bytes": lengths.astype(np.int32),
                    "byte_mean": mean,
                    "byte_std": std,
                    "byte_hist": list(hist),
                    "thumb": list(thumb),
                    "n_frames": n_frames.astype(np.int32),
                    "frame_checksums": checksums,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        kernel, FEATURE_SCHEMA
    )


def media_stats_by_kind(features: DataFrame) -> DataFrame:
    """Downstream relational agg over extracted features (exact ints)."""
    return features.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("n_bytes").alias("min_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )


# ship this module's kernel by value so any SparkSession can run it
import sys as _sys  # noqa: E402

from pyspark import cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
