"""Physical-plan expectation tests — the analog of the reference's
mocked-executor pipeline-shape assertions
(`/root/reference/tests/mock_otb.py:312-499`): instead of executing,
assert the PLAN has the shape the engine was designed around.

- positive shapes: pushed filters, broadcast hash joins for small
  dims, TakeOrderedAndProject for top-k;
- negative shape: NO BroadcastNestedLoopJoin / CartesianProduct
  anywhere except the explicitly sanctioned broadcast-small-side
  shapes (an interval theta-join and a metadata grid construction).
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

# queries whose documented SEMANTICS are a broadcast-loop join over a
# small side
SANCTIONED_LOOP_JOINS = {
    "coverage_join",  # interval theta-join, broadcast small side by design
    # hours × broadcast(series) GRID construction (both sides are
    # DISTINCT-collapsed metadata relations, O(buckets)·O(series),
    # never O(samples)) feeding the staleness anti-join
    "absent_series_1h",
}

POSITIVE_SHAPES = {
    "filter_union_slices": ["PushedFilters"],
    "rollup_tiers": ["HashAggregate"],
    "broadcast_dim_join": ["BroadcastHashJoin"],
    "multiway_join": ["BroadcastHashJoin"],
    "topk_latest": ["TakeOrderedAndProject"],
    "forecast_revenue_change": ["PushedFilters"],
    "tier_derived_cols": ["BroadcastHashJoin"],
}


def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def all_plans(spark, sf_dir):
    import __spark_entry__ as e

    plans = {}
    for name, fn in e.queries().items():
        plans[name] = _plan_of(fn(spark, sf_dir))
    return plans


def test_positive_plan_shapes(all_plans):
    problems = []
    for name, fragments in POSITIVE_SHAPES.items():
        for frag in fragments:
            if frag not in all_plans[name]:
                problems.append(f"{name}: missing {frag}")
    assert not problems, problems


def test_no_unsanctioned_loop_joins(all_plans):
    """Every join in every registered query must be hash/sort-merge —
    a nested-loop shape outside the sanctioned baselines means a
    missing equi-key (the O(N²) bug class VERDICT r1 flagged)."""
    offenders = []
    for name, plan in all_plans.items():
        if name in SANCTIONED_LOOP_JOINS:
            continue
        if "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"nested-loop join in: {offenders}"


def test_rollup_scan_prunes_tokens(spark, tmp_path):
    """The stats tiers must never read the token arrays from a
    materialized sequence table — column pruning must reach the scan
    (ReadSchema without `tokens`). This is the plan property that makes
    the 1h stats tier O(metadata) instead of O(payload) at 100 TB."""
    from s1tiling_spark.operators.rollup import rollup_sequences
    from s1tiling_spark.sources.synth import synth_sequences

    path = str(tmp_path / "seq.parquet")
    synth_sequences(spark, 1000, num_partitions=2).write.parquet(path)
    plan = _plan_of(rollup_sequences(spark.read.parquet(path), "1h"))
    read_schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema_lines, "no scan in plan?"
    for line in read_schema_lines:
        assert "tokens" not in line, f"tokens column not pruned: {line}"
