"""s1tiling_spark — a from-scratch PySpark-native time-series rollup,
downsample and retention engine with the query/data-processing
capabilities of CNES/S1Tiling (reference at /root/reference, read-only).

The reference's per-tile/per-date orthorectify→calibrate→mosaic cascade
(`s1tiling/libs/api.py:679-761`) is reimagined as tiered continuous
aggregates over a table of pre-tokenized training sequences
``(doc_id string, tokens array<int>, n_tok int, source string, event_ts
timestamp)``: 1h/1d/30d retention tiers with count/sum/min/max(n_tok) and
token-histogram sketches, LOCF/linear gap-fill, Gorilla XOR +
delta-of-delta compression in vectorized pandas/Arrow UDFs, salted/AQE
skew handling, and a snapshot/watermark incremental planner.

Layout
------
- ``session``    : tuned SparkSession builder (AQE, Arrow, UTC)
- ``sources``    : driver parquet loaders + deterministic sequence synth
- ``operators``  : rollup tiers, gap-fill, dedup, text stats, relational
                   operator mappings (SURVEY.md §2)
- ``functions``  : vectorized kernels (Gorilla XOR, delta-of-delta,
                   token-histogram sketches)
- ``plans``      : incremental planner (one commit seq + one refresh
                   record per refresh, MERGE-style sink, lineage + metrics)
"""

__version__ = "0.1.0"
