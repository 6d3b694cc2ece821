"""Persisted IVF-PQ vector index: build once, serve many query batches.

The ANN operators (operators/similarity.py, operators/pq.py) fit their
structures per call for oracle self-containment; a production index is
the opposite shape — fitting scans the corpus, serving must not.  This
store persists the three artifacts to parquet:

  centroids/  (cid, cvec, cc)        — the IVF routing table (tiny)
  codebooks/  (sub, code, cvec)      — PQ subspace codewords (tiny)
  codes/      (vid, codes, cid)      — the compressed corpus,
                                       partitioned by cell id so a
                                       query's nprobe cells prune to
                                       nprobe directories on disk
  vectors/    (vid, vec, vv, cid)    — the full-precision corpus with
                                       precomputed norms, same cid
                                       partitioning: the IVF-FLAT
                                       index `search_flat` serves from
                                       (exact ranks, no PQ error)

Search = load (centroids/codebooks broadcast themselves) + the
cell-pruned compressed-domain rank of ivf_pq_search.  Rebuild after
corpus changes, like any secondary structure (VariantStore's
index-rebuild-after-load stance).  Everything is deterministic, so a
rebuilt index over the same corpus is byte-identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from vcf_pg_loader_spark import durable
from vcf_pg_loader_spark.operators.dedup import release_checkpoint
from vcf_pg_loader_spark.operators.pq import ivf_pq_search, pq_encode, pq_fit


class VectorIndex:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        # Absolutize so a bare relative root ("idx") resolves the same
        # for Python-side os.* and JVM-side spark.read (the JVM's cwd is
        # wherever the session was launched, not Python's).
        self.root = os.path.abspath(root.rstrip("/"))

    def _p(self, name: str) -> str:
        return f"{self.root}/{name}"

    def exists(self) -> bool:
        durable.heal_dir(self.root)
        return os.path.isdir(self._p("meta"))

    # -- build ----------------------------------------------------------
    @durable.leased
    def build(
        self,
        corpus: DataFrame,
        k_centroids: int = 8,
        m: int = 4,
        k_sub: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_iter: int = 2,
        kernel: str = "fast",
        pq: bool = True,
    ) -> None:
        """kernel="fast" (double dots) is the production default;
        kernel="exact" (decimal-fold) makes the persisted index — and
        every search served from it — bit-identical to the DuckDB
        oracle, which is how q_ann_ivf_served is verified.  pq=False
        skips the PQ codebook/codes artifacts for an IVF-Flat-only
        index (halves the build when only search_flat will serve).

        The fits' cached vector preps and checkpoints are released once
        the new index is swapped in (or the build fails)."""
        from vcf_pg_loader_spark.operators._parallel import (
            ensure_min_parallelism,
        )
        from vcf_pg_loader_spark.operators.similarity import (
            _ivf_fit_prepped,
            _prep_vectors,
        )
        from vcf_pg_loader_spark.streaming.sink import _held, _released

        with _released() as held:
            vecs = _held(
                _prep_vectors(
                    ensure_min_parallelism(corpus), id_col, vec_col, kernel
                ),
                held,
            )
            cents, assign = _ivf_fit_prepped(
                vecs, k_centroids, n_iter, kernel
            )
            if n_iter > 1:
                held.append(lambda: release_checkpoint(cents))
            # Stage every artifact beside the root and swap it in
            # atomically (durable.py, the protocol of every maintained
            # structure): a crash mid-rebuild must never leave meta/ —
            # the "index is complete" witness — beside a mix of old and
            # new artifacts.
            staging = durable.stage_dir(self.root)
            cents.write.parquet(os.path.join(staging, "centroids"))
            if pq:
                books = pq_fit(
                    corpus, m, k_sub, id_col=id_col, vec_col=vec_col
                )
                held.append(lambda: release_checkpoint(books))
                codes = pq_encode(
                    corpus, books, m, id_col=id_col, vec_col=vec_col
                ).join(assign.select("vid", "cid"), "vid")
                books.write.parquet(os.path.join(staging, "codebooks"))
                (
                    codes.repartition("cid")
                    .sortWithinPartitions("vid")
                    .write.partitionBy("cid")
                    .parquet(os.path.join(staging, "codes"))
                )
            (
                assign.repartition("cid")
                .sortWithinPartitions("vid")
                .write.partitionBy("cid")
                .parquet(os.path.join(staging, "vectors"))
            )
            # record the geometry the index was built with
            meta = self.spark.createDataFrame(
                [(k_centroids, m, k_sub, kernel)],
                "k_centroids int, m int, k_sub int, kernel string",
            )
            meta.write.json(os.path.join(staging, "meta"))
            durable.swap_dir(staging, self.root)

    # -- maintenance -----------------------------------------------------
    @durable.leased
    def apply_delta(
        self,
        inserts: DataFrame | None = None,
        delete_ids: DataFrame | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Incremental index maintenance under the frozen geometry:
        deletions are a keyed anti-join on the vid column of `vectors/`
        (and `codes/` when the PQ artifacts exist); insertions route
        against the PERSISTED centroids (and encode against the
        persisted codebooks) — k-means and PQ training never re-run.
        Re-sent ids upsert (their old rows leave first); an id named by
        BOTH `inserts` and `delete_ids` in one delta is DELETED.

        NOTE this is delete-wins at ID granularity — STRICTER than the
        retract sinks' tuple-level Z-set cancellation (streaming/
        sink.py zset_delta cancels only IDENTICAL ± tuples; an id whose
        -1 and +1 tuples differ is an UPDATE there).  A caller
        performing an update must therefore NOT list the id in
        `delete_ids` (the insert path already evicts the old row) — or
        use `apply_zset`, which applies the sinks' consolidation rule
        to a raw Z-set batch and maps updates correctly.  Centroids,
        codebooks, and meta are frozen parameters: they hard-link into
        the staging directory, and the whole root swaps atomically as
        in build() — a crash mid-delta leaves the old index servable.
        Writes are CELL-PRUNED (round 10): only the cid partitions
        holding a touched id's old row or an arriving vector recompute;
        untouched cell directories hard-link through the swap, so a
        delta's write cost is O(touched cells), never O(index).
        The takedown path for the ANN structure, completing the
        retract family (streaming/retract.py)."""
        from pyspark.sql import functions as F

        from vcf_pg_loader_spark.operators.similarity import ivf_assign
        from vcf_pg_loader_spark.operators.pq import pq_encode
        from vcf_pg_loader_spark.streaming.sink import isin_values

        durable.heal_dir(self.root)
        meta = self.spark.read.json(self._p("meta")).first()
        has_pq = os.path.isdir(self._p("codes"))
        vectors_full = self.spark.read.parquet(self._p("vectors"))
        codes_full = (
            self.spark.read.parquet(self._p("codes")) if has_pq else None
        )
        spark = self.spark
        touched = spark.createDataFrame([], "vid long")
        dels = None
        if delete_ids is not None:
            dels = delete_ids.select(
                F.col(delete_ids.columns[0]).cast("long").alias("vid")
            ).distinct()
            touched = touched.unionByName(dels)
        if inserts is not None:
            touched = touched.unionByName(
                inserts.select(F.col(id_col).cast("long").alias("vid"))
            )
        touched = touched.distinct()

        assigned = None
        if inserts is not None:
            from pyspark.storagelevel import StorageLevel

            cents = self.spark.read.parquet(self._p("centroids"))
            assigned = ivf_assign(
                inserts, cents, id_col, vec_col, kernel=str(meta.kernel)
            ).persist(StorageLevel.MEMORY_AND_DISK)

        # cell-pruned rewrite: only the cells holding a touched id's
        # old row or an arriving vector recompute; every other cid
        # directory hard-links through the swap unchanged.  The old-row
        # lookup reads two columns; the landing-cell lookup is the
        # routing result the write needs anyway.
        tc = {
            r[0]
            for r in vectors_full.join(touched, "vid", "left_semi")
            .select("cid")
            .distinct()
            .collect()
        }
        if assigned is not None:
            tc |= {
                r[0]
                for r in assigned.select("cid").distinct().collect()
            }
        touched_dirs = {f"cid={c}" for c in tc}

        vectors = vectors_full.filter(
            isin_values(F.col("cid"), tc)
        ).join(touched, "vid", "left_anti")
        codes = None
        if codes_full is not None:
            codes = codes_full.filter(
                isin_values(F.col("cid"), tc)
            ).join(touched, "vid", "left_anti")
        if assigned is not None:
            vectors = vectors.unionByName(
                assigned.select(*vectors.columns)
            )
            if codes is not None:
                books = self.spark.read.parquet(self._p("codebooks"))
                new_codes = pq_encode(
                    inserts, books, int(meta.m), id_col=id_col,
                    vec_col=vec_col,
                ).join(assigned.select("vid", "cid"), "vid")
                codes = codes.unionByName(new_codes.select(*codes.columns))
        if dels is not None and inserts is not None:
            # delete-wins: an id in both frames of this delta must not
            # survive via the insert union above
            vectors = vectors.join(dels, "vid", "left_anti")
            if codes is not None:
                codes = codes.join(dels, "vid", "left_anti")

        staging = durable.stage_dir(self.root)
        for frozen in ("centroids", "codebooks", "meta"):
            src = self._p(frozen)
            if os.path.isdir(src):
                durable.link_tree(src, os.path.join(staging, frozen))
        (
            vectors.repartition("cid")
            .sortWithinPartitions("vid")
            .write.partitionBy("cid")
            .parquet(os.path.join(staging, "vectors"))
        )
        if codes is not None:
            (
                codes.repartition("cid")
                .sortWithinPartitions("vid")
                .write.partitionBy("cid")
                .parquet(os.path.join(staging, "codes"))
            )
        for table in ("vectors",) + (("codes",) if codes is not None else ()):
            durable.link_partitions(
                self._p(table), os.path.join(staging, table), touched_dirs
            )
        if assigned is not None:
            assigned.unpersist()
        durable.swap_dir(staging, self.root)

    def apply_zset(
        self,
        batch: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Apply a raw Z-set batch (rows carrying operators/ivm.py MULT,
        +1 insert / -1 retraction) with the SAME id-level semantics as
        the retract sinks: the batch consolidates first (identical ±
        tuples cancel), a net -1 whose id also has a net +1 tuple is an
        UPDATE (the arriving vector replaces the old row — the id must
        survive), and only ids with no surviving +1 tuple are deleted.
        This is the entry point `zset_snapshot_delta` output feeds —
        a changed row's (-1 old, +1 new) pair lands as an upsert, not a
        delete (round-10; applying such a delta through apply_delta's
        id-level delete-wins rule would drop updated rows).
        Pinned by tests/test_round10.py against fresh-bootstrap-on-new.
        """
        from pyspark.sql import functions as F

        from vcf_pg_loader_spark.streaming.sink import zset_delta

        delta = zset_delta(batch, id_col, [vec_col])
        # pure deletions only: an id that re-arrives in this batch is an
        # update — apply_delta's insert path already evicts its old row
        self.apply_delta(
            inserts=delta.filter("_ins").select(id_col, vec_col),
            delete_ids=delta.filter(~F.col("_ins")).select(id_col),
            id_col=id_col,
            vec_col=vec_col,
        )

    def cell_stats(self) -> DataFrame:
        """Per-cell occupancy of the persisted index, the aging monitor
        for the frozen-centroid maintenance path: apply_delta/apply_zset
        route arrivals against centroids trained at build time, so under
        distribution drift (a re-crawl re-embeds, a new source skews the
        embedding space) cells go imbalanced — nprobe search then scans
        ever-fatter hot cells while cold cells waste probes.  Returns
        (cid, n_vecs); the operational trigger is max/avg occupancy
        drifting past a threshold, at which point `reindex` retrains.
        Reads only `vectors/` partition metadata-sized aggregates —
        never the vector payloads' full scan output."""
        from pyspark.sql import functions as F

        v = self.spark.read.parquet(self._p("vectors"))
        return v.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vecs"))

    def reindex(
        self,
        k_centroids: int | None = None,
        n_iter: int = 2,
        kernel: str | None = None,
    ) -> None:
        """Retrain the routing table over the CURRENT persisted corpus
        and rebuild every derived artifact, atomically — the answer to
        index aging: the incremental path deliberately freezes centroids
        (and PQ codebooks) so syncs stay O(|delta|), which is correct
        for recall but lets cell occupancy drift as the corpus moves
        away from the distribution the quantizer was trained on.
        Reindex = build() from `vectors/` (full-precision rows are
        always kept, exactly so retraining never needs the original
        source), inheriting the persisted geometry unless overridden.
        Stage-then-swap: every artifact is computed and written to
        staging while the old index is still fully servable; a crash
        mid-reindex leaves the old index in place."""
        meta = self.spark.read.json(self._p("meta")).first()
        has_pq = os.path.isdir(self._p("codes"))
        corpus = self.spark.read.parquet(self._p("vectors")).select(
            "vid", "vec"
        )
        self.build(
            corpus,
            k_centroids=int(
                meta.k_centroids if k_centroids is None else k_centroids
            ),
            m=int(meta.m),
            k_sub=int(meta.k_sub),
            id_col="vid",
            vec_col="vec",
            n_iter=n_iter,
            kernel=str(meta.kernel) if kernel is None else kernel,
            pq=has_pq,
        )

    # -- serve ----------------------------------------------------------
    def search(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        meta = self.spark.read.json(self._p("meta")).first()
        return ivf_pq_search(
            self.spark.read.parquet(self._p("centroids")),
            self.spark.read.parquet(self._p("codebooks")),
            self.spark.read.parquet(self._p("codes")),
            queries,
            k,
            nprobe,
            int(meta.m),
            id_col,
            vec_col,
        )

    def search_flat(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        kernel: str | None = None,
    ) -> DataFrame:
        """Exact IVF-Flat serving from the persisted index: centroids
        route, `vectors/` supplies the pre-assigned full-precision
        corpus — the cid partitioning means nprobe cells prune to
        nprobe directories at the scan.  No fit, no corpus re-scan:
        identical output to ivf_topk over the same corpus/params (and
        to the DuckDB oracle when built with kernel="exact")."""
        from vcf_pg_loader_spark.operators.similarity import ivf_search

        meta = self.spark.read.json(self._p("meta")).first()
        return ivf_search(
            self.spark.read.parquet(self._p("centroids")),
            self.spark.read.parquet(self._p("vectors")),
            queries,
            k,
            nprobe,
            id_col,
            vec_col,
            kernel or str(meta.kernel),
        )
