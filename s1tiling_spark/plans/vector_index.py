"""Persistent ANN index: banded-SRP signatures as a maintained table.

The batch operators in ``operators/similarity.py`` recompute band keys
per query run — right for one-shot jobs, wasteful for a serving
pattern where the same 10^9-vector corpus answers queries all day. The
index is the materialized form: ``build()`` computes the banded
signatures ONCE (one Arrow matmul pass over the corpus) and stores
them partitioned by band with commit lineage; ``append()`` extends the
index for newly arrived vectors WITHOUT touching existing signatures
(incremental maintenance — the reference's restart-from-existing
discipline, `/root/reference/s1tiling/libs/otbpipeline.py:814-819`,
applied to index state); ``topk()`` serves queries from the stored
signatures (band-key equi-join + multiprobe + exact re-rank) and is
exactly equal to the freshly-computed :func:`ann_lsh_topk` result
(pinned by tests/test_vector_index.py).

Scale shape at 10^9 vectors:
- signatures are (vec_id, band, key) longs — ~32 B/row × bands; the
  index is ~1 % of a 1 KB-vector corpus and is the ONLY thing the
  candidate join reads (vectors re-attach per candidate id for the
  exact re-rank, a pruned-column equi-join);
- partitioned by ``band`` → each band's probe join prunes to 1/bands
  of the index at the scan;
- append is O(new vectors), not O(corpus): the classic
  build-once/refresh-incrementally lifecycle. ``r`` is pinned at build
  time (band keys must be comparable), so the index records corpus
  size and ``grown_stale()`` flags when N has outgrown the key space
  (expected bucket > 4× target) and a rebuild would restore the
  candidate bound.
- MERGE semantics: re-appending a vec_id supersedes its signatures
  (newest commit_seq wins per (vec_id, band) — dedup-on-read, same
  discipline as plans/store.TierStore).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s1tiling_spark.operators.similarity import (
    ANN_TARGET_BUCKET,
    _prepared,
    _rerank_topk,
    derive_r,
    lsh_candidates_from_banded,
    srp_banded_arrow,
)
from s1tiling_spark.plans.store import TierStore


class VectorIndex:
    """Directory-backed banded-SRP signature index with incremental
    MERGE-append maintenance."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    # ---------- meta ----------
    def _meta_path(self) -> str:
        return os.path.join(self.base_dir, "_index_meta.json")

    def meta(self) -> dict | None:
        if not os.path.exists(self._meta_path()):
            return None
        with open(self._meta_path()) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        from s1tiling_spark.plans.store import atomic_json_write

        atomic_json_write(self._meta_path(), meta)

    def _sigs_path(self) -> str:
        return os.path.join(self.base_dir, "sigs")

    # ---------- lifecycle ----------
    def build(
        self,
        emb: DataFrame,
        bands: int = 4,
        r: int | None = None,
        n_vectors: int | None = None,
        target_bucket: int = ANN_TARGET_BUCKET,
    ) -> dict:
        """Materialize the index from scratch. ``r`` derives from the
        corpus size unless pinned; pass ``n_vectors`` (e.g. from
        parquet footer metadata) to avoid the count() scan."""
        prep = _prepared(emb)
        if r is None:
            if n_vectors is None:
                n_vectors = prep.count()
            r = derive_r(n_vectors, target_bucket)
        elif n_vectors is None:
            n_vectors = prep.count()
        # drop any previous meta FIRST: a crash mid-rebuild must leave
        # an index that REFUSES to serve ("not built"), never stale
        # meta (old r) over fresh signatures (new r) — review fix
        if os.path.exists(self._meta_path()):
            os.remove(self._meta_path())
        sigs = srp_banded_arrow(prep, bands, r).withColumn(
            "commit_seq", F.lit(1)
        )
        sigs.write.mode("overwrite").partitionBy("band").parquet(self._sigs_path())
        meta = {
            "bands": bands,
            "r": r,
            "target_bucket": target_bucket,
            # upper bound: append() adds its full row count without
            # checking for re-appended ids (that check would cost an
            # O(index) anti-join per refresh); grown_stale() verifies
            # with an exact distinct count before advising a rebuild
            "n_vectors_upper": int(n_vectors),
            "built_n_vectors": int(n_vectors),
            "commit_seq": 1,
        }
        self._write_meta(meta)
        return meta

    def append(self, new_emb: DataFrame, n_new: int | None = None) -> dict:
        """Extend the index for newly arrived vectors — O(new), never
        touches existing signatures. Re-appended vec_ids supersede
        their old signatures via commit lineage (MERGE-on-read).

        Crash ordering (review fix): the bumped commit_seq is
        PERSISTED BEFORE the data write, so a crash mid-append can only
        burn a seq (harmless gap) — it can never let two different
        appends share a seq, which would make newest-commit-wins
        nondeterministic. The n_vectors_upper update lands after the
        write (a crash there undercounts the upper bound; grown_stale's
        exact check is unaffected)."""
        meta = self.meta()
        if meta is None:
            raise ValueError("index not built — call build() first")
        # self-heal a crashed compact swap BEFORE appending: writing
        # into a missing sigs dir would otherwise create a fresh table
        # holding only this batch, and the next recovery pass would
        # see it live and delete the pre-compact corpus aside —
        # permanent silent loss via a routine refresh (review catch)
        self._recover_sigs()
        seq = meta["commit_seq"] + 1
        meta["commit_seq"] = seq
        self._write_meta(meta)  # reserve the seq before any data lands
        sigs = srp_banded_arrow(
            _prepared(new_emb), meta["bands"], meta["r"]
        ).withColumn("commit_seq", F.lit(seq))
        if n_new is None:
            from pyspark.sql import Observation

            obs = Observation(f"vidx-append-{seq}")
            sigs = sigs.observe(obs, F.count(F.lit(1)).alias("rows"))
            sigs.write.mode("append").partitionBy("band").parquet(self._sigs_path())
            n_new = int(obs.get["rows"]) // meta["bands"]
        else:
            sigs.write.mode("append").partitionBy("band").parquet(self._sigs_path())
        meta["n_vectors_upper"] = int(meta["n_vectors_upper"]) + int(n_new)
        self._write_meta(meta)
        return meta

    def grown_stale(self) -> bool:
        """True when the corpus has outgrown the build-time key space:
        expected bucket occupancy n/2^r exceeds 4× the target — the
        candidate bound has degraded and a rebuild (with the larger
        derived r) would restore it.

        Two-stage check: the cheap append-count UPPER BOUND (which
        overcounts re-appended ids) gates an exact distinct count over
        the signature relation, so refresh cycles that merely supersede
        existing ids never trigger a spurious rebuild advice."""
        meta = self.meta()
        if meta is None:
            return False
        limit = 4 * meta["target_bucket"] * (1 << meta["r"])
        if meta["n_vectors_upper"] <= limit:
            return False
        n_exact = self._raw_sigs().select("vec_id").distinct().count()
        # tighten the stored bound while we paid for the exact count
        meta["n_vectors_upper"] = int(n_exact)
        self._write_meta(meta)
        return n_exact > limit

    def compact(self) -> dict:
        """Rewrite the signature table keeping only the newest version
        per (vec_id, band), one file per band partition — the index's
        ``rewrite_data_files``: refresh cycles append small files and
        superseded versions forever, and every query's dedup window
        pays for them until compaction folds them away. Swap is
        whole-table tmp→rename (the signature table is ~1 % of the
        corpus — per-partition staging isn't worth the crash-window
        complexity here); meta is untouched (commit_seq lineage of
        survivors is preserved, so later appends still win)."""
        meta = self.meta()
        if meta is None:
            raise ValueError("index not built — call build() first")
        path = self._sigs_path()
        old = path + f"_old_{uuid.uuid4().hex[:8]}"
        tmp = path + f"_compact_{uuid.uuid4().hex[:8]}"
        # _raw_sigs self-heals any earlier crashed swap first
        kept = self._deduped_sigs(keep_seq=True).repartition("band")
        from pyspark.sql import Observation

        obs = Observation(f"vidx-compact-{uuid.uuid4().hex[:8]}")
        kept.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).partitionBy("band").parquet(tmp)
        n_rows = int(obs.get["rows"])
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        return {"sig_rows": n_rows, "bands": meta["bands"]}

    def _recover_sigs(self) -> None:
        """Crash repair for the compact swap, restore-first (the same
        discipline TierStore's compact GC uses): a crash between
        rename-away and rename-in leaves the only live signatures in a
        ``sigs_old_*`` dir — restore it before deleting anything; a
        leftover ``sigs_compact_*`` tmp is re-derivable and dropped
        only after the restore."""
        path = self._sigs_path()
        base = os.path.basename(path)
        for d in list(os.listdir(self.base_dir)):
            full = os.path.join(self.base_dir, d)
            if d.startswith(base + "_old_"):
                if not os.path.isdir(path):
                    os.rename(full, path)
                else:
                    shutil.rmtree(full, ignore_errors=True)
        for d in list(os.listdir(self.base_dir)):
            if d.startswith(base + "_compact_"):
                shutil.rmtree(os.path.join(self.base_dir, d), ignore_errors=True)

    # ---------- read / serve ----------
    _SIGS_SCHEMA = "vec_id long, key long, commit_seq int, band int"

    def _raw_sigs(self) -> DataFrame:
        """Raw signature relation; an index built from an empty corpus
        has no parquet files (partitioned write of zero rows), which
        reads as a typed EMPTY relation — serving then returns zero
        candidates instead of failing schema inference. Self-heals a
        crashed compact swap first (restore-first recovery) so a crash
        can never silently read as an empty index."""
        self._recover_sigs()
        path = self._sigs_path()
        if not os.path.isdir(path) or not any(
            d.startswith("band=") for d in os.listdir(path)
        ):
            return self.spark.createDataFrame([], self._SIGS_SCHEMA)
        return self.spark.read.option("basePath", path).parquet(path)

    def _deduped_sigs(self, keep_seq: bool) -> DataFrame:
        """Newest commit per (vec_id, band) — THE dedup rule, shared by
        serving (sigs) and compaction so the two can never diverge."""
        cols = ["vec_id", "band", "key"] + (["commit_seq"] if keep_seq else [])
        return TierStore._newest_wins(self._raw_sigs(), ("vec_id", "band")).select(*cols)

    def sigs(self) -> DataFrame:
        """Deduped signature relation: newest commit per (vec_id, band)."""
        return self._deduped_sigs(keep_seq=False)

    # ---------- IVF (inverted-file) index ----------
    # Independent lifecycle from the LSH signatures (own meta file, own
    # tables) — an index dir may carry either kind or both. The
    # serving-side anatomy mirrors operators.similarity.ivf_topk; what
    # the index adds is that the two O(corpus) passes (codebook
    # selection + cell assignment) run ONCE at build and appends assign
    # ONLY the new vectors against the stored codebook.

    def _ivf_meta_path(self) -> str:
        return os.path.join(self.base_dir, "_ivf_meta.json")

    def ivf_meta(self) -> dict | None:
        if not os.path.exists(self._ivf_meta_path()):
            return None
        with open(self._ivf_meta_path()) as f:
            return json.load(f)

    def _write_ivf_meta(self, meta: dict) -> None:
        from s1tiling_spark.plans.store import atomic_json_write

        atomic_json_write(self._ivf_meta_path(), meta)

    def _codebook_path(self) -> str:
        return os.path.join(self.base_dir, "ivf_codebook")

    def _cells_path(self) -> str:
        return os.path.join(self.base_dir, "ivf_cells")

    def build_ivf(
        self,
        emb: DataFrame,
        n_cells: int | None = None,
        n_vectors: int | None = None,
    ) -> dict:
        """Materialize the IVF index: hash-stratified rank codebook
        (``n_cells ≈ √N`` unless pinned — the same derivation as the
        fresh ``ivf_topk``) + argmax-cosine cell assignment per corpus
        vector. Same crash ordering as :meth:`build`: stale meta is
        removed before any data write, so a crash mid-build leaves an
        index that refuses to serve, never a codebook/assignment
        mismatch."""
        import math

        from s1tiling_spark.operators.similarity import (
            _assign_cells,
            ivf_codebook,
        )

        prep = _prepared(emb)
        if n_vectors is None:
            n_vectors = prep.count()
        if n_cells is None:
            n_cells = max(4, math.isqrt(int(n_vectors)))
        if os.path.exists(self._ivf_meta_path()):
            os.remove(self._ivf_meta_path())
        cents = ivf_codebook(prep, n_cells)
        cents.write.mode("overwrite").parquet(self._codebook_path())
        stored = F.broadcast(self.spark.read.parquet(self._codebook_path()))
        cells = (
            _assign_cells(prep, stored)
            .filter(F.col("crk") == 1)
            .select("vec_id", "cid")
            .withColumn("commit_seq", F.lit(1))
        )
        # cluster by cid inside files: probe joins filter on cell id, so
        # tight row-group stats stand in for the per-cid partition dirs
        # √N cells would make pathological
        cells.repartition("cid").sortWithinPartitions("cid").write.mode(
            "overwrite"
        ).parquet(self._cells_path())
        meta = {
            "n_cells": int(n_cells),
            "built_n_vectors": int(n_vectors),
            "n_vectors_upper": int(n_vectors),
            "commit_seq": 1,
        }
        self._write_ivf_meta(meta)
        return meta

    def append_ivf(self, new_emb: DataFrame, n_new: int | None = None) -> dict:
        """Assign-new-only maintenance: O(new vectors) — one broadcast
        argmax pass of the batch against the STORED codebook; existing
        assignments are never read or rewritten. Re-appended vec_ids
        supersede their cell via commit lineage (newest wins on read).
        Seq reserved in meta before data lands (same rationale as
        :meth:`append`)."""
        from s1tiling_spark.operators.similarity import _assign_cells

        meta = self.ivf_meta()
        if meta is None:
            raise ValueError("IVF index not built — call build_ivf() first")
        seq = meta["commit_seq"] + 1
        meta["commit_seq"] = seq
        self._write_ivf_meta(meta)
        stored = F.broadcast(self.spark.read.parquet(self._codebook_path()))
        cells = (
            _assign_cells(_prepared(new_emb), stored)
            .filter(F.col("crk") == 1)
            .select("vec_id", "cid")
            .withColumn("commit_seq", F.lit(seq))
        )
        if n_new is None:
            from pyspark.sql import Observation

            obs = Observation(f"vidx-ivf-append-{seq}")
            cells = cells.observe(obs, F.count(F.lit(1)).alias("rows"))
            cells.write.mode("append").parquet(self._cells_path())
            n_new = int(obs.get["rows"])
        else:
            cells.write.mode("append").parquet(self._cells_path())
        meta["n_vectors_upper"] = int(meta["n_vectors_upper"]) + int(n_new)
        self._write_ivf_meta(meta)
        return meta

    def ivf_grown_stale(self) -> bool:
        """Cell-occupancy drift: a fresh build at the current corpus
        size would pick ``isqrt(N)`` cells (occupancy √N); advise a
        rebuild when the actual average occupancy ``N/n_cells`` exceeds
        4× that — i.e. the corpus grew ≥16× past the build. Two-stage
        like :meth:`grown_stale`: the cheap append-count upper bound
        gates the exact distinct count."""
        import math

        meta = self.ivf_meta()
        if meta is None:
            return False

        def _stale(n: int) -> bool:
            return math.isqrt(int(n)) > 4 * int(meta["n_cells"])

        if not _stale(meta["n_vectors_upper"]):
            return False
        n_exact = (
            self.spark.read.parquet(self._cells_path())
            .select("vec_id")
            .distinct()
            .count()
        )
        meta["n_vectors_upper"] = int(n_exact)
        self._write_ivf_meta(meta)
        return _stale(n_exact)

    def _ivf_cells(self) -> DataFrame:
        """Newest cell assignment per vec_id (MERGE-on-read)."""
        cells = self.spark.read.parquet(self._cells_path())
        return TierStore._newest_wins(cells, ("vec_id",)).select("vec_id", "cid")

    def ivf_topk(
        self,
        emb: DataFrame,
        k: int = 5,
        query_mod: int = 50,
        nprobe: int = 2,
    ) -> DataFrame:
        """Serve IVF ANN from the STORED codebook + assignments: only
        the query vectors are assigned at query time (one broadcast
        argmax over Q rows, not N); candidates come from the persisted
        inverted file. Bit-identical to a fresh
        ``ivf_topk(emb, n_cells=meta['n_cells'])`` on the same corpus
        (pinned by tests/test_vector_index.py)."""
        from s1tiling_spark.operators.cache import persist_tracked
        from s1tiling_spark.operators.similarity import (
            _assign_cells,
            _rerank_topk,
        )

        meta = self.ivf_meta()
        if meta is None:
            raise ValueError("IVF index not built — call build_ivf() first")
        prep = persist_tracked(_prepared(emb))
        stored = F.broadcast(self.spark.read.parquet(self._codebook_path()))
        queries = prep.filter(F.pmod(F.col("vec_id"), F.lit(query_mod)) == 0)
        qprobe = (
            _assign_cells(queries, stored)
            .filter(F.col("crk") <= nprobe)
            .select(F.col("vec_id").alias("q_id"), "cid")
        )
        cand = qprobe.join(self._ivf_cells(), "cid").filter(
            F.col("vec_id") != F.col("q_id")
        )
        return _rerank_topk(cand, prep, k)

    def topk(
        self,
        emb: DataFrame,
        k: int = 5,
        query_mod: int = 50,
        multiprobe: int = 1,
    ) -> DataFrame:
        """Serve ANN top-k FROM THE STORED INDEX: candidates from the
        persisted signatures (no banding recompute), exact
        integer-cosine re-rank against ``emb`` (vectors re-attach per
        candidate id only). Bit-identical to ann_lsh_topk on the same
        corpus/parameters."""
        from s1tiling_spark.operators.cache import persist_tracked

        meta = self.meta()
        if meta is None:
            raise ValueError("index not built — call build() first")
        # the candidate join consumes the signature relation TWICE
        # (query-probe side + corpus side) — persist so the parquet
        # scan + dedup window run once per query, same discipline as
        # the fresh-compute path (release via release_cached)
        cand = lsh_candidates_from_banded(
            persist_tracked(self.sigs()), query_mod, meta["r"], multiprobe
        )
        return _rerank_topk(cand, _prepared(emb), k)
