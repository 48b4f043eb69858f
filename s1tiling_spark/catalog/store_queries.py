"""Store-lifecycle gated queries: TierStore commit lifecycles end to end.

BEYOND-WINDOW EXTRAS (registered after the TPC-H demonstrations and the
driver's 50-entry correctness window — verify with
``python tools/check_oracle.py wap_publish_lifecycle``).

Each query drives a real TierStore through one lifecycle on a scratch
store and must equal a DuckDB recompute of the final state:

- ``wap_publish_lifecycle``: write-audit-publish (stage, abandon,
  publish while main advances);
- ``source_pruned_read``: manifest-bounds data-file skipping;
- ``branch_merge_lifecycle``: writable branches, drop and merge;
- ``merge_into_sync``: MERGE INTO update + insert + delete;
- ``interval_join_calibration``: event-time interval join;
- ``retention_lifecycle``: guarded retention behind the TierPipeline
  cascade.

Reference analog: the reference's incremental re-run layer
(`s1tiling/libs/otbpipeline.py:749-756`) applied to committed
aggregate products.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s1tiling_spark.operators.rollup import bucket_sql, rollup_sequences
from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.registry import register
from s1tiling_spark.sources.sequences import SEQUENCES_ORACLE_CTE, sequences_from_documents

_WAP_ORACLE = (
    f"WITH {SEQUENCES_ORACLE_CTE}, "
    f"r AS (SELECT {bucket_sql('event_ts', '1h')} AS bucket_start, source, "
    "count(*) AS cnt, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok "
    "FROM sequences GROUP BY 1, 2) "
    "SELECT bucket_start, source, "
    "CAST(CASE WHEN hour(bucket_start) % 2 = 0 THEN cnt + 100 "
    "WHEN hour(bucket_start) % 3 = 0 THEN cnt + 5 "
    "ELSE cnt END AS BIGINT) AS cnt, sum_n_tok FROM r"
)


@register("wap_publish_lifecycle", oracle=_WAP_ORACLE)
def wap_publish_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEYOND-WINDOW EXTRA — write-audit-publish end-to-end against a
    DuckDB oracle of the post-publish state. The lifecycle stresses
    every WAP ordering rule at once:

    1. base append (all 1h rollup keys);
    2. a GOOD candidate staged (even hours, cnt+100) — invisible;
    3. a BAD candidate staged (src_hot, cnt+999) — invisible;
    4. main advances DURING the audit (hours divisible by 3, cnt+5);
    5. the bad candidate is abandoned — must never surface;
    6. the good candidate publishes — its re-minted seq must win
       newest-wins over the mid-audit commit on overlapping keys.

    Expected final value per key: even hour → cnt+100 (publish wins,
    cherry-pick ordering); else hour%3==0 → cnt+5; else base. Any
    staged-leak (a +999 row), stale ordering (a +5 where +100 must
    win) or remap slip breaks the value hash.

    Reference analog: the reference validates products before moving
    them into the output tree (tmp→rename commit,
    `/root/reference/s1tiling/libs/steps.py:123-145`) — WAP is that
    audit gate at table-commit granularity."""
    seq = sequences_from_documents(spark, sf_dir)
    base_dir = tempfile.mkdtemp(prefix="s1ts_wap_gate_")
    store = TierStore(spark, base_dir)
    full = (
        rollup_sequences(seq, "1h")
        .select("bucket_start", "source", "cnt", "sum_n_tok")
        .persist()
    )
    store.append("1h", full, store.next_commit_seq(), "base")
    good = full.filter(F.hour("bucket_start") % 2 == 0).withColumn(
        "cnt", F.col("cnt") + F.lit(100)
    )
    store.stage("1h", good, "cand-good", "audit-good")
    bad = full.filter(F.col("source") == "src_hot").withColumn(
        "cnt", F.col("cnt") + F.lit(999)
    )
    store.stage("1h", bad, "cand-bad", "audit-bad")
    mid = full.filter(F.hour("bucket_start") % 3 == 0).withColumn(
        "cnt", F.col("cnt") + F.lit(5)
    )
    store.append("1h", mid, store.next_commit_seq(), "mid-audit")
    store.abandon("1h", "audit-bad")
    store.publish("1h", "audit-good")
    view = store.read("1h", keys=("bucket_start", "source"))
    if view is None:  # empty input: nothing was ever appended
        out = spark.createDataFrame(
            [], "bucket_start timestamp, source string, cnt long, sum_n_tok long"
        )
    else:
        out = (
            view.select("bucket_start", "source", "cnt", "sum_n_tok")
            # per-call scratch store: pin rows off its files before rmtree
            .localCheckpoint(eager=True)
        )
    full.unpersist()
    shutil.rmtree(base_dir, ignore_errors=True)
    return out


_PRUNED_ORACLE = (
    f"WITH {SEQUENCES_ORACLE_CTE} "
    f"SELECT {bucket_sql('event_ts', '1h')} AS bucket_start, source, "
    "count(*) AS cnt, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok, "
    "min(n_tok) AS min_n_tok, max(n_tok) AS max_n_tok "
    "FROM sequences WHERE source = 'src7' GROUP BY 1, 2"
)


@register("source_pruned_read", oracle=_PRUNED_ORACLE)
def source_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEYOND-WINDOW EXTRA — manifest-bounds data-file skipping end to
    end: the 1h tier is committed in two source-disjoint batches (so
    each data file carries a narrow recorded ``source`` range), then a
    single-source serving read plans ONLY the files whose bounds admit
    it — the gate RAISES unless the scan actually shrank, and the
    values must equal a DuckDB filter of the same rollup.

    This is the date-partitioned layout answering a source-selective
    query without a second partition dimension (Iceberg manifest
    lower/upper-bounds pruning; reference analog: per-polarization
    product selection, `S1FileManager.py:1006-1039`).
    """
    seq = sequences_from_documents(spark, sf_dir)
    # persist the NARROW rollup output: both half-appends derive from
    # it, so the raw scan + rollup runs once, not once per append (the
    # same one-scan discipline as the other lifecycle gates)
    h = rollup_sequences(seq, "1h").persist()
    base_dir = tempfile.mkdtemp(prefix="s1ts_prune_gate_")
    store = TierStore(spark, base_dir)
    # lexicographically disjoint halves → disjoint per-file bounds
    store.append("1h", h.filter(F.col("source") < "src3"),
                 store.next_commit_seq(), "lo")
    store.append("1h", h.filter(F.col("source") >= "src3"),
                 store.next_commit_seq(), "hi")
    h.unpersist()
    pruned = store.read("1h", sources=["src7"])
    if pruned is None:  # empty input: nothing was ever appended
        shutil.rmtree(base_dir, ignore_errors=True)
        return spark.createDataFrame(
            [],
            "bucket_start timestamp, source string, cnt long, "
            "sum_n_tok long, min_n_tok int, max_n_tok int",
        )
    n_pruned = len([f for f in pruned.inputFiles() if "/p_date=" in f])
    n_all = len([
        f for f in store.read("1h").inputFiles() if "/p_date=" in f
    ])
    if not n_pruned < n_all:
        raise RuntimeError(
            f"source-bounds pruning did not shrink the scan "
            f"({n_pruned} of {n_all} files planned)"
        )
    out = (
        pruned.select(
            "bucket_start", "source", "cnt", "sum_n_tok",
            "min_n_tok", "max_n_tok",
        )
        # per-call scratch store: pin rows off its files before rmtree
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base_dir, ignore_errors=True)
    return out


_BRANCH_ORACLE = (
    f"WITH {SEQUENCES_ORACLE_CTE}, "
    f"r AS (SELECT {bucket_sql('event_ts', '1h')} AS bucket_start, source, "
    "count(*) AS cnt, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok "
    "FROM sequences GROUP BY 1, 2) "
    # pre-merge: main sees its own mid-branch advance ONLY
    "SELECT CAST('pre' AS VARCHAR) AS phase, bucket_start, source, "
    "CAST(CASE WHEN hour(bucket_start) % 3 = 0 THEN cnt + 7 "
    "ELSE cnt END AS BIGINT) AS cnt, sum_n_tok FROM r "
    "UNION ALL "
    # post-merge: the chain cherry-picks IN ORDER onto main — commit 2
    # (+200, hours %4) wins over commit 1 (+50, hours %2) on overlap
    # and both win over the mid-branch +7; the dropped branch's +999
    # never lands
    "SELECT CAST('post' AS VARCHAR) AS phase, bucket_start, source, "
    "CAST(CASE WHEN hour(bucket_start) % 4 = 0 THEN cnt + 200 "
    "WHEN hour(bucket_start) % 2 = 0 THEN cnt + 50 "
    "WHEN hour(bucket_start) % 3 = 0 THEN cnt + 7 "
    "ELSE cnt END AS BIGINT) AS cnt, sum_n_tok FROM r"
)


@register("branch_merge_lifecycle", oracle=_BRANCH_ORACLE)
def branch_merge_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEYOND-WINDOW EXTRA — writable branch refs end-to-end against a
    DuckDB oracle of BOTH horizons (pre-merge and post-merge main),
    union-tagged by ``phase`` so one value hash pins every rule:

    1. base append (all 1h rollup keys);
    2. branch ``exp`` created at the base snapshot;
    3. branch commit 1: even hours, cnt+50 — invisible to main;
    4. main advances mid-branch: hours %3, cnt+7 — invisible to the
       branch (lineage diverged at base);
    5. branch commit 2: hours %4, cnt+200 — within-branch newest-wins
       over commit 1 on the overlap (%4 ⊂ %2);
    6. a second branch ``bad`` (src_hot, cnt+999) is DROPPED — its
       rows must never surface at either horizon;
    7. ``exp`` merges: ordered cherry-pick re-mints fresh seqs, so the
       chain wins over the mid-branch +7 and commit 2 stays above
       commit 1.

    'pre' rows = base + mid-advance only (any +50/+200/+999 there is a
    branch isolation leak); 'post' rows = the merged lattice
    (+200 > +50 > +7 > base). A chain-order slip (commit 1 re-minted
    above commit 2), a base-snapshot slip (branch seeing +7), or a
    dropped-branch leak each breaks the hash.

    Reference analog: the reference runs what-if reprocessing
    campaigns into a separate output tree and swaps directories
    (`/root/reference/s1tiling/libs/api.py:297-315` rebuilds the graph
    for a retry run); a branch is that campaign sharing the table and
    landing atomically."""
    seq = sequences_from_documents(spark, sf_dir)
    base_dir = tempfile.mkdtemp(prefix="s1ts_branch_gate_")
    store = TierStore(spark, base_dir)
    full = (
        rollup_sequences(seq, "1h")
        .select("bucket_start", "source", "cnt", "sum_n_tok")
        .persist()
    )
    store.append("1h", full, store.next_commit_seq(), "base")
    schema = (
        "phase string, bucket_start timestamp, source string, "
        "cnt long, sum_n_tok long"
    )
    if store.read("1h") is None:  # empty input: no lifecycle to run
        full.unpersist()
        shutil.rmtree(base_dir, ignore_errors=True)
        return spark.createDataFrame([], schema)
    store.create_branch("1h", "exp")
    c1 = full.filter(F.hour("bucket_start") % 2 == 0).withColumn(
        "cnt", F.col("cnt") + F.lit(50)
    )
    store.write_branch("1h", "exp", c1, "exp-1")
    mid = full.filter(F.hour("bucket_start") % 3 == 0).withColumn(
        "cnt", F.col("cnt") + F.lit(7)
    )
    store.append("1h", mid, store.next_commit_seq(), "mid-branch")
    c2 = full.filter(F.hour("bucket_start") % 4 == 0).withColumn(
        "cnt", F.col("cnt") + F.lit(200)
    )
    store.write_branch("1h", "exp", c2, "exp-2")
    store.create_branch("1h", "bad")
    store.write_branch(
        "1h", "bad",
        full.filter(F.col("source") == "src_hot").withColumn(
            "cnt", F.col("cnt") + F.lit(999)
        ),
        "bad-1",
    )
    store.drop_branch("1h", "bad")
    pre = store.read("1h", keys=("bucket_start", "source")).select(
        F.lit("pre").alias("phase"), "bucket_start", "source", "cnt",
        "sum_n_tok",
    )
    # pin the pre-merge horizon BEFORE the merge mutates visibility
    # (reads are lazy; the merge below re-mints the chain's seqs)
    pre = pre.localCheckpoint(eager=True)
    store.merge_branch("1h", "exp")
    post = store.read("1h", keys=("bucket_start", "source")).select(
        F.lit("post").alias("phase"), "bucket_start", "source", "cnt",
        "sum_n_tok",
    )
    out = pre.unionByName(post).localCheckpoint(eager=True)
    full.unpersist()
    shutil.rmtree(base_dir, ignore_errors=True)
    return out


_MERGE_ORACLE = (
    f"WITH {SEQUENCES_ORACLE_CTE} "
    f"SELECT {bucket_sql('event_ts', '1h')} AS bucket_start, source, "
    "CAST(count(*) + 10 AS BIGINT) AS cnt, "
    "CAST(sum(n_tok) AS BIGINT) AS sum_n_tok "
    "FROM sequences WHERE source <> 'src19' GROUP BY 1, 2"
)


@register("merge_into_sync", oracle=_MERGE_ORACLE)
def merge_into_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEYOND-WINDOW EXTRA — MERGE INTO (matched-update +
    unmatched-insert + not-matched-by-source delete) against a DuckDB
    oracle of the synced snapshot. The lifecycle exercises all three
    clauses at once:

    1. base append: the 1h rollup MINUS src0 (so the source snapshot
       has genuinely new keys to INSERT);
    2. source snapshot: the full rollup minus src19, every cnt+10
       (UPDATEs src1..src18, INSERTs src0);
    3. ``merge_into(delete_unmatched=True)``: src19 — present in the
       base, absent from the source — is equality-DELETED.

    Final state must equal the source snapshot exactly; a missed
    insert, a stale un-updated cnt, or a surviving src19 row each
    breaks the hash."""
    seq = sequences_from_documents(spark, sf_dir)
    base_dir = tempfile.mkdtemp(prefix="s1ts_merge_gate_")
    store = TierStore(spark, base_dir)
    full = (
        rollup_sequences(seq, "1h")
        .select("bucket_start", "source", "cnt", "sum_n_tok")
        .persist()
    )
    store.append(
        "1h",
        full.filter(F.col("source") != "src0"),
        store.next_commit_seq(),
        "base",
    )
    snapshot = full.filter(F.col("source") != "src19").withColumn(
        "cnt", F.col("cnt") + F.lit(10)
    )
    store.merge_into("1h", snapshot, "sync-1", delete_unmatched=True)
    view = store.read("1h", keys=("bucket_start", "source"))
    if view is None:  # empty input: nothing was ever appended
        out = spark.createDataFrame(
            [], "bucket_start timestamp, source string, cnt long, sum_n_tok long"
        )
    else:
        out = (
            view.select("bucket_start", "source", "cnt", "sum_n_tok")
            # per-call scratch store: pin rows off its files before rmtree
            .localCheckpoint(eager=True)
        )
    full.unpersist()
    shutil.rmtree(base_dir, ignore_errors=True)
    return out


_IVJOIN_ORACLE = (
    f"WITH {SEQUENCES_ORACLE_CTE}, "
    "cal AS ("
    "  SELECT DISTINCT source, "
    "    CAST(floor(epoch(event_ts) / 7200) AS BIGINT) AS w2h "
    "  FROM sequences"
    "), calk AS ("
    "  SELECT source, to_timestamp(w2h * 7200) AS valid_from, "
    "    1 + (w2h % 16) / 16.0 AS gain "
    "  FROM cal WHERE w2h % 2 = 0"
    ") "
    "SELECT s.doc_id, s.source, s.event_ts, s.n_tok, c.gain, "
    "CAST(floor(s.n_tok * c.gain) AS BIGINT) AS cal_n_tok "
    "FROM sequences s JOIN calk c ON s.source = c.source "
    "AND s.event_ts >= c.valid_from "
    "AND s.event_ts < c.valid_from + INTERVAL 2 HOUR"
)


@register("interval_join_calibration", oracle=_IVJOIN_ORACLE)
def interval_join_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEYOND-WINDOW EXTRA — event-time INTERVAL JOIN: sequences join
    the calibration row whose 2h validity window covers their event
    time (same source).
    Only every other 2h window is calibrated (w2h even), so half the
    windows genuinely drop — the interval condition, not a plain
    equi-join, decides membership. The gain is a dyadic rational of
    the window index and the applied value uses floor(), so both
    engines produce bit-identical doubles and exact BIGINTs.

    Plan shape: equality on source + range condition — Catalyst runs
    the equi-part as the join key and the range as a join predicate
    (no cartesian). At 10^12 rows the calibration side is tiny
    (windows x sources) and broadcasts.

    Reference analog: per-(tile, orbit) LIA map applied to every
    sigma0 product in its validity scope
    (`/root/reference/s1tiling/libs/otbwrappers/lia.py:1540-1620`)."""
    seq = sequences_from_documents(spark, sf_dir)
    w2h = F.floor(F.unix_timestamp("event_ts") / 7200).cast("long")
    cal = (
        seq.select("source", w2h.alias("w2h"))
        .distinct()
        .filter(F.col("w2h") % 2 == 0)
        .select(
            "source",
            F.timestamp_seconds(F.col("w2h") * 7200).alias("valid_from"),
            (F.lit(1.0) + (F.col("w2h") % 16) / F.lit(16.0)).alias("gain"),
        )
    )
    return (
        seq.alias("s")
        .join(
            F.broadcast(cal).alias("c"),
            F.expr(
                "s.source = c.source AND s.event_ts >= c.valid_from "
                "AND s.event_ts < c.valid_from + INTERVAL 2 HOUR"
            ),
            "inner",
        )
        .select(
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.source").alias("source"),
            F.col("s.event_ts").alias("event_ts"),
            F.col("s.n_tok").alias("n_tok"),
            F.col("c.gain").alias("gain"),
            F.floor(F.col("s.n_tok") * F.col("c.gain"))
            .cast("long")
            .alias("cal_n_tok"),
        )
    )


# ---------------------------------------------------------------------------
# Downsample-guarded retention: the router view after expiry
# ---------------------------------------------------------------------------

_RET_CUTOFF = "2024-02-04"  # as_of 2024-02-14, keep_days=10

_RET_ORACLE = (
    f"WITH {SEQUENCES_ORACLE_CTE} "
    f"SELECT '1d' AS tier, {bucket_sql('event_ts', '1d')} AS bucket_start, "
    "source, count(*) AS cnt, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok "
    f"FROM sequences WHERE event_ts < TIMESTAMP '{_RET_CUTOFF}' GROUP BY 2, 3 "
    "UNION ALL "
    f"SELECT '1h' AS tier, {bucket_sql('event_ts', '1h')} AS bucket_start, "
    "source, count(*) AS cnt, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok "
    f"FROM sequences WHERE event_ts >= TIMESTAMP '{_RET_CUTOFF}' GROUP BY 2, 3"
)


@register("retention_lifecycle", oracle=_RET_ORACLE)
def retention_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEYOND-WINDOW EXTRA — the retention policy end-to-end: cascade
    1h→1d through the incremental pipeline (watermarks committed), then
    ``apply_retention_policy`` drops 1h dates older than 10 days ONLY
    after the 1d guard proves absorption, and the post-expiry router
    view (1d over the expired range + 1h over the retained range) must
    equal a DuckDB aggregate of the raw rows over the SAME split — i.e.
    retention lost no information a range query can observe.

    Reference analog: ``keep_X_latest_S1_files``
    (`/root/reference/s1tiling/libs/S1FileManager.py:735-748`) — the
    newest-K cache policy — upgraded to a guarded, rollup-preserving
    retention rule (TimescaleDB retention + continuous aggregates).
    """
    import datetime as dt

    from s1tiling_spark.plans.retention import RetentionRule, apply_retention_policy
    from s1tiling_spark.plans.tiers import TierPipeline, TierPipelineConfig

    seq = sequences_from_documents(spark, sf_dir)
    base_dir = tempfile.mkdtemp(prefix="s1ts_ret_gate_")
    # try/finally: a raise anywhere past here must not leak the scratch
    # store under /tmp (ADVICE r5) — the result is pinned off its files
    # by the eager localCheckpoint before the finally runs
    try:
        store = TierStore(spark, base_dir)
        TierPipeline(
            store, TierPipelineConfig(tiers=("1h", "1d"), hist=False,
                                      compress=False)
        ).run(seq)
        if store.read("1h") is None:  # empty input: no lifecycle to run
            return spark.createDataFrame(
                [],
                "tier string, bucket_start timestamp, source string, "
                "cnt long, sum_n_tok long",
            )
        reports = apply_retention_policy(
            store,
            [RetentionRule("1h", keep_days=10, guard_tier="1d")],
            as_of=dt.date(2024, 2, 14),
        )
        if not reports[0]["dropped_partitions"]:
            raise AssertionError(
                "retention gate expected expired 1h partitions"
            )

        def _slice(tier: str, pred) -> DataFrame:
            df = store.read(tier)
            return df.filter(pred).select(
                F.lit(tier).alias("tier"),
                "bucket_start",
                "source",
                F.col("cnt").cast("long").alias("cnt"),
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            )

        view = _slice("1d", F.col("bucket_start") < _RET_CUTOFF).unionByName(
            _slice("1h", F.col("bucket_start") >= _RET_CUTOFF)
        )
        return view.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
