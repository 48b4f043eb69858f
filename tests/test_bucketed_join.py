"""Bucketing evidence: two tier-family tables bucketed on the join key
join WITHOUT a shuffle — the co-located-join layout a 100 TB deployment
uses so repeated tier↔dim / tier↔tier joins never re-exchange.

The plan assertion is the point: with broadcast disabled, the join of
two tables bucketed by `source` must be a SortMergeJoin with NO
Exchange on either side (bucketed scan output partitioning satisfies
the join's distribution requirement)."""

from __future__ import annotations

import io
import uuid
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import rollup_sequences
from s1tiling_spark.sources.synth import synth_sequences


def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    tier = rollup_sequences(synth_sequences(spark, 2000), "1d")
    dim = tier.select("source").distinct().withColumn(
        "priority", F.length("source")
    )
    ta = f"tier_b_{uuid.uuid4().hex[:8]}"
    tb = f"dim_b_{uuid.uuid4().hex[:8]}"
    (
        tier.write.bucketBy(4, "source")
        .sortBy("source")
        .option("path", str(tmp_path / ta))
        .saveAsTable(ta)
    )
    (
        dim.write.bucketBy(4, "source")
        .sortBy("source")
        .option("path", str(tmp_path / tb))
        .saveAsTable(tb)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(ta).join(spark.table(tb), "source")
        plan = _plan_of(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and the result is right
        assert joined.count() == tier.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")
