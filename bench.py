"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., ...extras}.

Headline set:
- tier_cascade: the flagship — synthesize the tokenized sequence table
  at bench scale (deterministic, $SPARK_GRAFT_BENCH_ROWS rows, default
  600k to match sf0.1's lineitem count), run the full 1h→1d→30d rollup
  cascade + 1d token-histogram sketch, materialize via the noop sink.
  Reports rolled-up points/sec (BASELINE.json authoritative metric).
- every registered oracle query at sf0.1 (driver tables).

Each is timed once, as measured: this is a smoke check of the driver
contract, not a performance scoreboard (that is ``perfbench/``).
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "600000"))


def materialize(df) -> int:
    """Force full computation; return row count (cheap second action on
    the cached plan would distort timing, so count via agg on the fly)."""
    return df.count()


def bench_input_path(spark) -> str:
    """Materialize the deterministic synthetic sequence table to parquet
    ONCE (input generation is not part of engine throughput — the real
    input is an Iceberg table on storage). Cached across bench runs in
    the checkout's gitignored ``.bench_cache/``."""
    from s1tiling_spark.sources.synth import synth_sequences

    path = os.path.join(HERE, ".bench_cache", f"sequences_{BENCH_ROWS}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # 128 files so any parallelism level up to 128 gets full
        # scan parallelism (row groups don't split further)
        synth_sequences(spark, BENCH_ROWS, num_partitions=128).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def run_tier_cascade(spark) -> dict:
    from s1tiling_spark.operators.rollup import (
        merge_hist_long,
        rollup_from_lower,
        rollup_sequences,
        token_hist_long,
    )

    path = bench_input_path(spark)
    seq = spark.read.parquet(path)
    n_in = seq.count()

    t0 = time.time()
    # stat tiers: 1h from raw (column-pruned scan: no tokens read),
    # 1d/30d cascaded from the persisted tier below
    t1h = rollup_sequences(seq, "1h").persist()
    out_rows = materialize(t1h)
    t1d = rollup_from_lower(t1h, "1d").persist()
    out_rows += materialize(t1d)
    out_rows += materialize(rollup_from_lower(t1d, "30d"))
    # histogram tiers: 1d from raw tokens (the heavy scan), 30d merged
    h1d = token_hist_long(seq, "1d").persist()
    out_rows += materialize(h1d)
    out_rows += materialize(merge_hist_long(h1d, "30d"))
    elapsed = time.time() - t0
    for df in (t1h, t1d, h1d):
        df.unpersist()
    # "rolled-up points": every input row contributes to each of the 3
    # stat tiers + 2 histogram tiers of the cascade
    points = n_in * 5
    return {
        "sec": elapsed,
        "input_rows": n_in,
        "output_rows": out_rows,
        "points_per_sec": points / elapsed if elapsed > 0 else None,
    }


def main() -> None:
    from s1tiling_spark.session import build_session

    import __spark_entry__ as e

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Host-calibrated task concurrency: this sandbox realizes only ~8
    # threads of memory-intensive JVM work regardless of core count
    # (PERF.md §6; four independent measurements). Running 32 concurrent
    # scan/agg tasks thrashes — spark.task.cpus caps concurrent tasks at
    # ~8 while keeping the requested local[N] master. Measured on the
    # flagship cascade (interleaved A/B, 600k rows): 91-213 s at 32
    # concurrent tasks vs 21 s at 8. Override with SPARK_GRAFT_TASK_CPUS;
    # on a real cluster leave it at 1 and size executors instead.
    if "SPARK_GRAFT_TASK_CPUS" not in os.environ and cpus > 8:
        # single owner for the knob is build_session's env read
        os.environ["SPARK_GRAFT_TASK_CPUS"] = str(cpus // 8)
    # no console progress bars: stdout must stay clean so the final
    # JSON line lands inside the driver's bounded tail capture
    spark = build_session(
        master=f"local[{cpus}]",
        app_name="s1tiling-spark-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    queries: dict[str, float] = {}
    # every query and the cascade are timed ONCE and reported as
    # measured — no best-of-N, no retry, no prior-best folding (the
    # scoreboard for performance claims is perfbench/, which compares
    # seeded parent/change pairs instead of picking quiet windows)
    cascade = run_tier_cascade(spark)
    queries["tier_cascade"] = round(cascade["sec"], 3)

    from s1tiling_spark.operators.cache import release_cached

    for name, fn in e.queries().items():
        t0 = time.time()
        materialize(fn(spark, SF_DIR))
        queries[name] = round(time.time() - t0, 2)
        # queries that persist intermediates (LSH signatures, IVF
        # prep) must not donate cache to — or steal memory from —
        # later queries: each timing is an independent cold run.
        # release_cached() also drains the tracked-persist registry
        # (clearCache alone leaves Python-side plan refs behind)
        release_cached()
        spark.catalog.clearCache()

    total = round(sum(queries.values()), 2)
    out = {
        "metric": "headline query wall time (tier cascade @ "
        f"{cascade['input_rows']} rows + catalog queries @ sf dir)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": SF_DIR,
        "cpus": cpus,
        "bench_rows": BENCH_ROWS,
        "points_per_sec": round(cascade["points_per_sec"], 1),
        "cascade_output_rows": cascade["output_rows"],
    }
    # BENCH_DETAIL.json (gitignored): this run's full record, as
    # measured — the overflow target for the stdout line below
    with open(os.path.join(HERE, "BENCH_DETAIL.json"), "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        # degrade gracefully: keep the 12 slowest queries inline, point
        # at BENCH_DETAIL.json for the rest
        slow = dict(sorted(queries.items(), key=lambda kv: -kv[1])[:12])
        out["queries"] = slow
        out["queries_detail"] = "BENCH_DETAIL.json"
        line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
