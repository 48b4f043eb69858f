"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data-pipeline operators over the ``documents`` table — the
generalization of the reference's redundant-product dedup
(`/root/reference/s1tiling/libs/S1FileManager.py:332-363`: same
start-time, keep canonical) from key-equality to content similarity.

All of it is JVM-side column algebra (split/transform/md5/conv/
explode/groupBy) — no Python UDFs — so Catalyst fuses the shingling
into the scan and the heavy lifting is ordinary shuffles:

- exact: groupBy(md5(text)) — shuffle O(docs).
- n-gram Jaccard: shingle-explode → self-join on shingle → pair count.
  Scales as O(Σ shingle-pair collisions); hot shingles are the skew
  risk → the shingle join uses AQE skew handling, and stop-shingles
  (appearing in > frac of docs) can be dropped ahead of the join.
- MinHash+LSH: K minhashes per doc (array fold, no explode), banded →
  explode only B band keys per doc → join on (band, key). At 10^12
  docs this is THE scalable path: candidate pairs ≪ all pairs.
- SimHash: one 16-bit fingerprint per doc via token-bit vote.

Hash discipline: every hash is md5-derived (``conv(substr(md5(x),1,15),
16, 10)``) — identical in Spark and DuckDB — never engine-specific
(xxhash64 exists only on one side). Multiplier arithmetic keeps
intermediates < 2^40 so BIGINT math never overflows (DuckDB raises on
int64 overflow where Spark wraps — silent divergence otherwise).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
MINHASH_REDUCE = 1 << 20  # pre-mod so a*h + b stays < 2^40

# cache hygiene: delegated to the shared tracker (operators/cache.py)
from s1tiling_spark.operators.cache import (  # noqa: E402
    persist_tracked as _persist,
    release_cached,
    track as _track,
)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round out scan parallelism for expensive per-row projections:
    a file-backed input with fewer files than the host has task slots
    (the sf tables are ONE parquet file; row groups don't split —
    PERF.md §4) runs every downstream interpreted lambda in ONE task.
    One cheap repartition of the raw rows spreads the shingling/
    hashing across the machine. No-ops (returns df unchanged) when
    the scan is already at least slot-parallel or is not file-backed —
    at corpus scale the input is many files and no shuffle is added.
    Purely physical: row placement only, results unchanged."""
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    sc = df.sparkSession.sparkContext
    task_cpus = int(
        df.sparkSession.conf.get("spark.task.cpus", "1") or "1"
    )
    slots = max(1, int(sc.defaultParallelism) // task_cpus)
    if len(files) >= slots:
        return df
    return df.repartition(slots)


def words_col(text: Column) -> Column:
    return F.split(text, " ")


def shingles_col(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (short docs yield one shingle)."""
    words = words_col(text)
    n = F.greatest(F.size(words) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        )
    )


def md5_long(c: Column) -> Column:
    """Deterministic 60-bit integer hash computable in any SQL engine:
    first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


MD5_LONG_SQL = "CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


# ------------------------------------------------------------- exact
def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    canonical (min) doc_id and the duplicate count."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


# ----------------------------------------------------- n-gram Jaccard
def jaccard_pairs(
    docs: DataFrame, k: int = 3, tau: float = 0.8, max_df: int | None = None
) -> DataFrame:
    """Near-duplicate pairs with shingle-set Jaccard >= tau.

    jaccard = inter / (|A| + |B| - inter); the threshold compare is done
    in integer space (inter * 100 >= tau*100 * union) → exact.

    ``max_df`` is the stop-shingle guard: shingles appearing in more
    than ``max_df`` documents are dropped, and Jaccard is computed over
    the FILTERED shingle space (sizes too — boilerplate stops inflating
    both numerator and denominator). A shingle shared by d docs yields
    d(d-1)/2 join rows — one boilerplate sentence across a 10^12-doc
    corpus is a quadratic bomb without this; same intent as the
    reference's redundant-input pruning (S1FileManager.py:332-363)."""
    # persist the RAW shingle relation first: the stop-shingle df
    # aggregate and the semi-join both consume it, so without this
    # cache the per-doc shingling (interpreted higher-order lambdas —
    # the pipeline's most expensive projection) runs twice before the
    # filtered relation is even materialized; the filtered relation is
    # persisted too (it feeds the size table and both self-join
    # sides). Callers running many dedup queries in one session
    # release via clearCache between them (bench.py does).
    sh = _persist(
        spread_small_scan(docs).select(
            "doc_id", F.explode(shingles_col(F.col("text"), k)).alias("sh")
        )
    )
    if max_df is not None:
        rare = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("sh")
        )
        sh = _persist(sh.join(rare, "sh", "left_semi"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    tau_pct = int(round(tau * 100))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("inter") * 100
            >= tau_pct * (F.col("n_a") + F.col("n_b") - F.col("inter"))
        )
        .select("doc_a", "doc_b", "inter", "n_a", "n_b")
    )


# ----------------------------------------------------------- MinHash
def _minhash_sig(sh_hashes: Column, i: int) -> Column:
    """i-th minhash: min over shingle hashes of (a_i*h' + b_i) mod P,
    h' = h mod 2^20 (keeps products < 2^40 → no BIGINT overflow)."""
    a = 2 * i + 1
    b = 101 * i + 17
    return F.array_min(
        F.transform(
            sh_hashes,
            lambda h: F.pmod(
                F.lit(a) * F.pmod(h, F.lit(MINHASH_REDUCE)) + F.lit(b),
                F.lit(MINHASH_P),
            ),
        )
    )


def minhash_signatures(
    docs: DataFrame, k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(doc_id, sig array<long>) — one pass, no explode."""
    sh_hashes = F.transform(shingles_col(F.col("text"), k), md5_long)
    doc = spread_small_scan(docs).select("doc_id", sh_hashes.alias("shh"))
    sigs = F.array(*[_minhash_sig(F.col("shh"), i) for i in range(num_hashes)])
    return doc.select("doc_id", sigs.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    tau: float = 0.7,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate generation + signature-similarity filter.

    Bands of r = num_hashes/bands rows; docs sharing any band bucket are
    candidates; keep pairs whose signature agreement >= tau.

    Shuffle discipline (the 100 TB shape):
    - the signature relation is computed ONCE and persisted — the
      banded self-join and both re-attach joins read the cache instead
      of re-running shingling + num_hashes minhash folds per side;
    - the self-join carries only (band, key, doc_id) — the sig arrays
      never travel through the candidate shuffle; they are re-attached
      AFTER dedup by two equi-joins against the cached signature table,
      so join payload is O(candidates × 8 bytes), not × num_hashes;
    - ``max_bucket`` drops hot band buckets (> max_bucket docs sharing
      one band key) before the self-join — a degenerate bucket of d
      docs yields d(d-1)/2 candidates; boilerplate-heavy corpora need
      this cap or one bucket quadratically dominates the job.
    """
    r = num_hashes // bands
    sig = _persist(minhash_signatures(docs, k, num_hashes))
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            "_", *[F.col("sig")[bi * r + j] for j in range(r)]
                        ).alias("key"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket is not None:
        ok = (
            banded.groupBy("band", "key")
            .agg(F.count("*").alias("bsz"))
            .filter(F.col("bsz") <= max_bucket)
            .select("band", "key")
        )
        banded = banded.join(ok, ["band", "key"], "left_semi")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pairs = cand.join(
        sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
        "doc_a",
    ).join(
        sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
        "doc_b",
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    thresh = int(round(tau * num_hashes))
    return (
        pairs.withColumn("n_agree", agree)
        .filter(F.col("n_agree") >= thresh)
        .select("doc_a", "doc_b", "n_agree")
    )


# ----------------------------------------------------------- SimHash
def simhash_fingerprints(docs: DataFrame, bits: int = 16) -> DataFrame:
    """16-bit SimHash per document via word-hash bit votes. Explode +
    groupBy keeps it one shuffle with partial aggregation."""
    w = spread_small_scan(docs).select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("w")
    )
    w = w.withColumn("h", md5_long(F.col("w")))
    votes = [
        F.sum(
            (F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = w.groupBy("doc_id").agg(*votes)
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("int").alias("simhash"))


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Transitive closure of near-duplicate pairs → (doc_id, component,
    keep): the grouping step every dedup pipeline runs after pair
    generation (pick ONE canonical doc per duplicate cluster, drop the
    rest). component = the smallest doc_id reachable; keep = doc_id ==
    component.

    Algorithm: hash-min label propagation WITH POINTER JUMPING — every
    node starts labeled min(self, direct neighbors); each round takes
    (a) the min of its neighbors' labels and (b) its label's label
    (L(L(u)) — path halving), so chain depth halves per round and
    convergence needs O(log diameter) rounds, not O(diameter): a
    60-node chain converges in ~7 rounds (tested), near-clique
    duplicate groups in 2. The driver loop is the documented iterative
    pattern (one action per round checks convergence via observe —
    tiny jobs over the EDGE list and label table only, never the
    corpus).

    The fixpoint (min reachable id) is unique, so the result is
    deterministic at any parallelism and any iteration schedule —
    which is what lets a recursive-CTE oracle verify it exactly.

    Raises ``RuntimeError`` if ``max_iters`` rounds pass without
    convergence (possible only on long-chain graphs with diameter >
    max_iters + 1) — a silently non-converged result would split one
    true cluster into several and flag multiple keepers.
    """
    fwd = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    edges_cached = fwd.unionByName(
        fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().persist()
    edges = edges_cached
    # adaptive degree-of-parallelism for the loop (the runtime re-plan
    # AQE can't do across actions): the edge list is usually TINY
    # relative to the corpus — near-dup pairs, not rows — and each
    # propagation round is a full job, so scheduling dozens of
    # near-empty shuffle tasks per round dominates. One count (already
    # needed to materialize the persist) picks single-task rounds for
    # small graphs; big graphs keep full parallelism.
    n_edges = edges_cached.count()
    if n_edges < 100_000:
        # narrow dependency over the already-persisted partitions — no
        # recompute of the pair pipeline
        edges = edges_cached.coalesce(1)
    # init folds the FIRST propagation hop into label creation
    # (label₀ = min(self, direct neighbors)) — near-clique duplicate
    # groups then converge in one confirming round
    # LINEAGE DISCIPLINE: each round's label table is localCheckpoint'd
    # (eager) — the jump join references the previous round's plan
    # TWICE, so without truncation the logical plan doubles per round
    # and Catalyst analysis time goes exponential (measured: 2.9s,
    # 2.3s, 2.5s, 6.5s, 43.8s, ... per round). localCheckpoint cuts
    # the plan at materialized blocks; on a cluster where executors can
    # be lost mid-job, swap for reliable checkpoint(dir) — same shape.
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("_nmin"))
        .select(
            F.col("u").alias("doc_id"),
            F.least(F.col("u"), F.col("_nmin")).alias("component"),
        )
    ).localCheckpoint(eager=True)
    from pyspark.sql import Observation

    converged = n_edges == 0
    for i in range(max_iters):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("v"), F.col("component").alias("nc")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("nc").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels["doc_id"] == neighbor_min["u"], "left"
        ).select(
            "doc_id",
            F.col("component").alias("_old"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("nmin"), F.col("component")),
            ).alias("component"),
        )
        # pointer jumping (path halving): L(u) ← min(L(u), L(L(u))).
        # Every label IS some node's id in the same component, so the
        # self-join always resolves; chains collapse logarithmically.
        jump = stepped.select(
            F.col("doc_id").alias("component"),
            F.col("component").alias("_jumped"),
        )
        upd = stepped.join(jump, "component", "left").select(
            "doc_id",
            "_old",
            F.least(
                F.col("component"),
                F.coalesce(F.col("_jumped"), F.col("component")),
            ).alias("component"),
        )
        # the convergence check rides the SAME action that materializes
        # the new labels (observe) — one job per round, not two
        obs = Observation(f"cc-round-{i}")
        upd = upd.observe(
            obs,
            # coalesce: sum() over ZERO rows observes NULL (empty edge
            # set → no labels), which must read as converged, not crash
            F.coalesce(
                F.sum((F.col("_old") != F.col("component")).cast("long")),
                F.lit(0),
            ).alias("changed"),
        )
        # eager localCheckpoint = the one action of the round (fires
        # the observe metric) + lineage truncation; superseded
        # checkpoints are freed by the ContextCleaner
        labels = upd.select("doc_id", "component").localCheckpoint(eager=True)
        if int(obs.get["changed"]) == 0:
            converged = True
            break
    # the final labels are checkpointed blocks, so the edge cache can
    # go now (unpersist the PERSISTED relation, not its coalesced view)
    edges_cached.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(graph diameter too large for the pointer-jumping bound) — "
            "raise max_iters"
        )
    return labels.withColumn(
        "keep", (F.col("doc_id") == F.col("component"))
    )


def near_dup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """End-to-end dedup resolution: a pair relation (from any generator
    — Jaccard, MinHash-LSH, embedding near-dup) → the SURVIVING corpus,
    one canonical document per duplicate cluster.

    This is the composition every real pipeline runs after pair
    generation: transitive closure via :func:`connected_components`
    (smallest reachable id = the cluster's canonical keeper), then a
    left-anti join dropping every non-keeper. Documents appearing in no
    pair survive untouched (the common case — the join prunes only the
    pair-graph's nodes). The keeper choice (min id) is deterministic at
    any parallelism, so re-runs produce byte-identical corpora.

    Scale shape: components runs on the PAIR GRAPH (near-dup pairs,
    orders of magnitude smaller than the corpus); the final anti-join
    broadcasts-or-shuffles only the loser id list, never document
    payloads.
    """
    losers = (
        connected_components(pairs, src=src, dst=dst, max_iters=max_iters)
        .filter(~F.col("keep"))
        .select("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")
