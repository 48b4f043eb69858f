"""Input-contract tests: sequence derivation parity with the DuckDB
oracle CTE, synthesizer determinism, skew and gap properties.

The exact token-array equality assertions implement the per-row
invariant mandated by BASELINE.json ``input_hint`` (the analog of the
reference's 1e-12 image compare, `/root/reference/tests/helpers.py:44-47`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from s1tiling_spark.sources.sequences import SEQUENCES_ORACLE_CTE, sequences_from_documents
from s1tiling_spark.sources.synth import synth_sequences


def test_sequences_match_oracle(spark, duck, sf_dir):
    pdf = sequences_from_documents(spark, sf_dir).orderBy("doc_id").toPandas()
    odf = duck.sql(
        f"WITH {SEQUENCES_ORACLE_CTE} SELECT * FROM sequences ORDER BY doc_id"
    ).df()[list(pdf.columns)]
    assert len(pdf) == len(odf) > 0
    for c in ("doc_id", "source", "n_tok", "event_ts"):
        assert (pdf[c].values == odf[c].values).all(), c
    # exact token-array equality (input_hint invariant)
    assert all(np.array_equal(a, b) for a, b in zip(pdf["tokens"], odf["tokens"]))


def test_sequences_schema(spark, sf_dir):
    seq = sequences_from_documents(spark, sf_dir)
    d = dict(seq.dtypes)
    assert d == {
        "doc_id": "string",
        "tokens": "array<int>",
        "n_tok": "int",
        "source": "string",
        "event_ts": "timestamp",
    }


def test_synth_deterministic_across_partitioning(spark):
    a = synth_sequences(spark, 1500, num_partitions=1).orderBy("doc_id").toPandas()
    b = synth_sequences(spark, 1500, num_partitions=13).orderBy("doc_id").toPandas()
    assert (a["doc_id"].values == b["doc_id"].values).all()
    assert (a["event_ts"].values == b["event_ts"].values).all()
    assert all(np.array_equal(x, y) for x, y in zip(a["tokens"], b["tokens"]))


def test_synth_properties(spark):
    df = synth_sequences(spark, 5000).cache()
    # token length invariant
    bad = df.filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0
    # skew: hot source carries ~45% of rows
    counts = {r["source"]: r["count"] for r in df.groupBy("source").count().collect()}
    assert counts["src_hot"] / sum(counts.values()) > 0.35
    # deliberate gaps: each source misses some hours in its span
    hours = (
        df.groupBy("source")
        .agg(
            F.countDistinct(F.date_trunc("hour", "event_ts")).alias("have"),
        )
        .collect()
    )
    for r in hours:
        assert r["have"] < 45 * 24  # strictly fewer hours than the full span
    df.unpersist()


def test_chunking_empty_and_remainder(spark):
    """Chunking edge semantics: n_tok=0 emits NO chunks (the
    descending-sequence phantom guard); remainders form a short tail."""
    from s1tiling_spark.operators.textstats import chunk_token_arrays

    df = spark.createDataFrame(
        [
            ("empty", "s", [], 0),
            ("exact", "s", list(range(4)), 4),
            ("tail", "s", list(range(5)), 5),
        ],
        "doc_id string, source string, tokens array<int>, n_tok int",
    )
    rows = chunk_token_arrays(df, max_len=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["n_chunk_tok"]))
    assert "empty" not in by_doc
    assert sorted(by_doc["exact"]) == [(0, 4)]
    assert sorted(by_doc["tail"]) == [(0, 4), (1, 1)]
