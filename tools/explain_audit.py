"""Plan audit: capture `.explain("formatted")` for the key queries and
verify the plans have the shapes we designed for — pushed filters,
pruned scan schemas, broadcast joins where dimensions are small, and
wide WholeStageCodegen spans. Writes PLANS.md.

Usage: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

AUDITS = {
    # query name -> (must-contain fragments, note)
    "filter_union_slices": (
        ["PushedFilters"],
        "time + category predicates must reach the parquet scans",
    ),
    "rollup_tiers": (
        ["HashAggregate", "ReadSchema"],
        "partial+final agg; scan must NOT read `text`-derived tokens "
        "(only doc_id/source/text cols actually used)",
    ),
    "broadcast_dim_join": (
        ["BroadcastHashJoin"],
        "nation/region dims must broadcast",
    ),
    "multiway_join": (
        ["BroadcastHashJoin"],
        "nation dim broadcast inside the 4-way join",
    ),
    "topk_latest": (
        ["TakeOrderedAndProject"],
        "top-k must be TakeOrderedAndProject, not global sort",
    ),
    "forecast_revenue_change": (
        ["PushedFilters"],
        "q6-style selective scan: all filters pushed",
    ),
    "tier_derived_cols": (
        ["BroadcastHashJoin"],
        "geoid offset dim must broadcast",
    ),
    "tier_routed_range": (
        ["HashAggregate"],
        "tier-router union re-aggregates partials (no raw scan)",
    ),
    "minhash_lsh_pairs": (
        ["InMemoryTableScan"],
        "signature relation must come from the persisted cache on every side",
    ),
    "counter_rate_1h": (
        ["Window", "HashAggregate"],
        "one series-partitioned window (cumsum+lag share the sort), "
        "then partial+final bucket agg — no global window",
    ),
    "ohlc_1h": (
        ["SortAggregate", "!Window"],
        "open/close via struct-min/max: ONE partial+final aggregate, no "
        "Window (struct ordering makes it a SortAggregate — still "
        "map-side partials, one shuffle)",
    ),
    "irate_idelta_1h": (
        ["WindowGroupLimit", "=1:Exchange hashpartitioning"],
        "last-2-per-(series,hour) must compile to WindowGroupLimit "
        "(O(2) state per group, rank never materialized) and the rank "
        "window + pivot agg must reuse the derived-counter window's "
        "series partitioning — exactly ONE exchange in the whole job",
    ),
    "subquery_max_rate_1d": (
        ["=1:Exchange hashpartitioning"],
        "hourly increase -> daily argmax both nest in the series "
        "partitioning: ONE exchange total for the whole subquery",
    ),
    "sliding_increase_4h": (
        ["=1:Exchange hashpartitioning"],
        "sliding RANGE frame over hour indices rides the same series "
        "partitioning as the counter window: ONE exchange total",
    ),
    "offset_compare_24h": (
        ["=1:Exchange hashpartitioning", "!Join"],
        "the offset-1d fetch is a degenerate RANGE frame, not a "
        "self-join: ONE exchange, no join operator anywhere",
    ),
    "interval_join_calibration": (
        ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct",
         "!BroadcastNestedLoopJoin"],
        "interval join = equality on source + 2h range predicate: the "
        "tiny calibration side (windows x sources) must broadcast and "
        "the range must ride the hash join as a post-condition — never "
        "a sort-merge of the raw table or a nested-loop/cartesian",
    ),
}


def main() -> None:
    from s1tiling_spark.session import build_session

    import __spark_entry__ as e

    # a fixed master and shuffle partition count keep the plan text
    # (every hashpartitioning(…, N)) the same on any machine
    spark = build_session(
        master="local[8]", app_name="explain-audit", shuffle_partitions=64
    )
    qs = e.queries()
    sections = []
    failures = 0
    for name, (fragments, note) in AUDITS.items():
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # count assertions run against the SIMPLE plan string: formatted
        # mode splits a node's name from its arguments ("(17) Exchange" /
        # "Arguments: hashpartitioning(...)"), so a fragment like
        # "Exchange hashpartitioning" only exists in simple mode
        simple_plan = df._jdf.queryExecution().executedPlan().toString()
        # "!Fragment" = must NOT appear in the plan; violated negatives
        # are reported as FORBIDDEN-PRESENT (saying "MISSING ['!X']"
        # would read as the exact opposite of what happened).
        # "=N:Fragment" = must appear EXACTLY N times (shuffle-count
        # claims: "one exchange total" is checkable, not just prose).
        missing = [
            f
            for f in fragments
            if not f.startswith(("!", "=")) and f not in plan
        ]
        present = [
            f[1:] for f in fragments if f.startswith("!") and f[1:] in plan
        ]
        miscount = []
        for f in fragments:
            if f.startswith("="):
                want, _, frag = f[1:].partition(":")
                got = simple_plan.count(frag)
                if got != int(want):
                    miscount.append(f"{frag!r} x{got} (want {want})")
        problems = []
        if missing:
            problems.append(f"MISSING {missing}")
        if present:
            problems.append(f"FORBIDDEN-PRESENT {present}")
        if miscount:
            problems.append(f"COUNT {miscount}")
        status = "OK" if not problems else " ".join(problems)
        if problems:
            failures += 1
        print(f"{status:24s} {name}: {note}")
        sections.append(
            f"## {name}\n\n_{note}_ — **{status}**\n\n```\n{plan.strip()}\n```\n"
        )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(
            "# Physical plan audit\n\nGenerated by tools/explain_audit.py "
            f"at sf dir {SF_DIR}. Checks that the plans have the shapes "
            "the engine was designed around (pushdown, broadcast, "
            "partial aggregation, top-k).\n\n" + "\n".join(sections)
        )
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
