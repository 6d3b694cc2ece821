"""Streaming near-dup-gated corpus ingest: every arriving micro-batch of
documents is admitted only if it is neither an exact copy nor a near-dup
of anything already admitted — the online form of the batch dedup
pipeline (operators/dedup.py), maintained exactly-once.

State is two tables inside ONE swap-atomic target directory:

  corpus/  (doc_id, text, doc_fp)        — the admitted documents
  bands/   (doc_id, band_id, band_key)   — their LSH index
                                           (operators/dedup.py
                                           lsh_band_table)

Admission for a batch:
  1. exact gate: md5 fingerprint anti-join against corpus (plus
     intra-batch min-id per fingerprint);
  2. near-dup gate vs EXISTING docs: the batch's band rows equi-join the
     persisted band INDEX — only colliding docs fetch shingles for exact
     Jaccard verification, so per-batch cost ∝ batch size + collisions,
     NEVER a corpus re-scan (the property that makes streaming ingest
     sustainable at 100 TB);
  3. near-dup gate within the batch itself (keep min-id per cluster via
     the batch-local LSH + connected components).

Exactly-once: ledger + in-target batch marker + two-move swap recovery,
inherited from ParquetUpsertSink (streaming/sink.py).  Both state
tables stage into one directory and swap together, so a crash can never
leave corpus and index describing different document sets.

Determinism: all hashes are the md5-derived h60 family, so the admitted
set is a pure function of the arrival partition into batches.  Order
DOES matter across batches — first arrival wins, later near-dups are
rejected — which is the semantics an ingest gate wants (batch dedup's
min-id canonical is the offline analogue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators import dedup as D
from vcf_pg_loader_spark.operators.ivm import MULT
from vcf_pg_loader_spark.operators.text import fingerprint
from vcf_pg_loader_spark.streaming.sink import (
    ParquetUpsertSink,
    _checkpointed,
    _held,
    distinct_values,
    drop_layout,
    isin_values,
    zset_delta,
)


class NearDupIngestSink(ParquetUpsertSink):
    def __init__(
        self,
        target: str,
        ngram: int | None = None,
        k: int | None = None,
        bands: int | None = None,
        threshold: float | None = None,
    ):
        super().__init__(target, key=["doc_id"])
        # defaults ARE the pipeline constants (round-10; a default-
        # constructed sink against pipeline/CLI-built state must pass
        # the fingerprint check, not raise)
        from vcf_pg_loader_spark.queries.pipeline import (
            JACCARD_T,
            MINHASH_BANDS,
            MINHASH_K,
            NGRAM,
        )

        self.ngram = NGRAM if ngram is None else ngram
        self.k = MINHASH_K if k is None else k
        self.bands = MINHASH_BANDS if bands is None else bands
        self.threshold = JACCARD_T if threshold is None else threshold

    def _params_fingerprint(self) -> dict:
        from vcf_pg_loader_spark.streaming.sink import N_ID_BUCKETS

        return {
            "ngram": self.ngram,
            "k": self.k,
            "bands": self.bands,
            "threshold": self.threshold,
            "n_id_buckets": N_ID_BUCKETS,
        }

    # -- state ----------------------------------------------------------
    def read_corpus(self, spark) -> DataFrame:
        return self._table(spark, "corpus")

    def read(self, spark) -> DataFrame:  # the base reads target/ directly
        return self.read_corpus(spark)

    # -- admission ------------------------------------------------------
    def _admit(
        self,
        batch: DataFrame,
        corpus_old: DataFrame | None,
        bands_old: DataFrame | None,
        held: list,
    ) -> tuple[DataFrame, DataFrame]:
        """(admitted, bands_new): the subset of `batch` that survives all
        three gates against the admitted `corpus_old` and its band index
        `bands_old`, with its doc_fp column attached, and the band rows
        of every doc that reached the near-dup gates.  Each such doc
        shingles and bands once: its shingle set and band rows are held
        for the whole apply, and the admitted docs' band rows are a
        semi-join of `bands_new`, never a re-banding."""
        fp = fingerprint(batch.dropDuplicates(["doc_id"]))

        # intra-batch exact: min doc_id per fingerprint
        canon = fp.groupBy("doc_fp").agg(F.min("doc_id").alias("doc_id"))
        fp = fp.join(canon, ["doc_fp", "doc_id"], "left_semi")

        if corpus_old is not None:
            fp = fp.join(
                corpus_old.select("doc_fp").distinct(), "doc_fp", "left_anti"
            )

        sets_new = _held(
            D.shingle_sets(fp, "doc_id", "text", self.ngram), held
        )
        bands_new = _held(
            D.lsh_band_table(
                D.minhash_signatures(sets_new, self.k), self.k, self.bands
            ),
            held,
        )

        # near-dup vs EXISTING: collide against the persisted index,
        # verify only colliding (new, old) pairs with exact Jaccard
        if bands_old is not None and corpus_old is not None:
            cand = (
                bands_new.alias("n")
                .join(
                    bands_old.alias("o"),
                    (F.col("n.band_id") == F.col("o.band_id"))
                    & (F.col("n.band_key") == F.col("o.band_key")),
                )
                .select(
                    F.col("o.doc_id").alias("d1"), F.col("n.doc_id").alias("d2")
                )
                .distinct()
            )
            # shingle sets for the colliding OLD docs only
            old_hit = corpus_old.join(
                cand.select(F.col("d1").alias("doc_id")).distinct(),
                "doc_id",
                "left_semi",
            )
            sets_old = D.shingle_sets(old_hit, "doc_id", "text", self.ngram)
            dup = D.verify_candidate_jaccard(
                cand, sets_old.unionByName(sets_new), self.threshold
            )
            fp = fp.join(
                dup.select(F.col("d2").alias("doc_id")).distinct(),
                "doc_id",
                "left_anti",
            )

        # near-dup within the batch: LSH + CC, keep min-id per cluster
        pairs = D.verify_candidate_jaccard(
            D.lsh_bucket_pairs(bands_new)[0], sets_new, self.threshold
        )
        # restrict to pairs still alive after the gates above
        alive = fp.select("doc_id")
        pairs = (
            pairs.join(
                alive.withColumnRenamed("doc_id", "d1"), "d1", "left_semi"
            ).join(alive.withColumnRenamed("doc_id", "d2"), "d2", "left_semi")
        )
        cc = D.connected_components(pairs.select("d1", "d2"), "d1", "d2")
        return D.keep_canonical(fp, cc, "doc_id"), bands_new

    # -- exactly-once apply --------------------------------------------
    def _apply(self, batch_df: DataFrame, batch_id: int, held: list) -> int:
        spark = batch_df.sparkSession
        # each state table is read once: the gates probe its ib-less
        # view, the bucket-pruned write keeps the `ib` layout column
        corpus_raw = self._table_raw(spark, "corpus")
        bands_raw = self._table_raw(spark, "bands")
        admitted, bands_new = self._admit(
            batch_df, drop_layout(corpus_raw), drop_layout(bands_raw), held
        )
        # the admitted set feeds the corpus write, the band semi-join,
        # and the touched-bucket lookup — run the admission gates once
        admitted = _held(admitted, held)
        add_bands = bands_new.join(
            admitted.select("doc_id"), "doc_id", "left_semi"
        )
        # insert-only sink: the touched partitions are exactly the
        # admitted ids' buckets; every other corpus/bands dir
        # hard-links through the swap
        touched = admitted.select("doc_id")
        buckets = self._touched_buckets(touched, corpus_raw, bands_raw)
        new_corpus, c_prune = self._merge_id_bucketed(
            corpus_raw, admitted, touched, "doc_id", buckets
        )
        new_bands, b_prune = self._merge_id_bucketed(
            bands_raw, add_bands, touched, "doc_id", buckets
        )
        return self._swap_in_frames(
            {"corpus": new_corpus, "bands": new_bands},
            batch_id,
            count_table="corpus",
            partition_by={"corpus": ["ib"], "bands": ["ib"]},
            prune={"corpus": c_prune, "bands": b_prune},
        )


class BM25IndexSink(ParquetUpsertSink):
    """Live keyword-search maintenance: each micro-batch's documents
    tokenize ONCE and their postings/doclens append into a persisted
    BM25 index (sources/bm25_index.py layout); corpus stats recompute
    from the (tiny) doclens table.  Serving goes through
    BM25Index.search at any moment — the streaming completion of the
    build-once/serve-many story: the index is now MAINTAINED, not just
    built.

    Documents are immutable once indexed (re-sent doc_ids are dropped —
    the ingest-idempotence stance); postings for a batch are therefore
    pure appends, and all three tables swap together so postings,
    lengths, and stats always describe the same corpus.

    Retractions (round 8): a batch may be a Z-set (rows carrying
    operators/ivm.py MULT, -1 = delete).  A deleted doc's postings and
    doclens rows cancel exactly — counting IVM's consolidation, where
    every (term, doc, tf) row at +1 meets its -1 and drops to zero —
    expressed as keyed anti-joins; n_docs/avgdl then recompute from the
    consolidated doclens, so idf DECREMENTS.  Deleting and re-inserting
    a doc in later batches works (the idempotence gate checks the
    CURRENT doclens, which no longer holds the deleted id); the
    maintained index always equals a fresh build over exactly the
    retained docs (q_bm25_retract's oracle recomputes that)."""

    def __init__(self, target: str, id_col: str = "doc_id", text_col: str = "text"):
        super().__init__(target, key=[id_col])
        self.id_col = id_col
        self.text_col = text_col

    def _params_fingerprint(self) -> dict:
        from vcf_pg_loader_spark.sources.bm25_index import N_TERM_BUCKETS
        from vcf_pg_loader_spark.streaming.sink import N_ID_BUCKETS

        # postings are only mergeable under one tokenizer and one
        # on-disk bucket layout
        return {
            "id_col": self.id_col,
            "text_col": self.text_col,
            "tokenizer": "whitespace",
            "n_term_buckets": N_TERM_BUCKETS,
            "n_id_buckets": N_ID_BUCKETS,
        }

    def index(self, spark):
        from vcf_pg_loader_spark.sources.bm25_index import BM25Index

        return BM25Index(spark, self.target)

    def _apply(self, batch_df: DataFrame, batch_id: int, held: list) -> int:
        from vcf_pg_loader_spark.sources.bm25_index import _term_bucket

        spark = batch_df.sparkSession
        # one consolidated delta; the idempotence gate needs the
        # retractions apart from the re-sends, so it reads `_del`
        delta = _checkpointed(
            zset_delta(batch_df, self.id_col, [self.text_col]), held
        )
        batch = delta.filter("_ins")
        del_ids = delta.filter("_del").select(
            F.col(self.id_col).alias("doc_id")
        )
        tf_full = self._table(spark, "postings")
        dl_raw = self._table_raw(spark, "doclens")
        old_dl = drop_layout(dl_raw)
        if old_dl is not None:
            # retraction = consolidation: the doc's rows cancel out
            old_dl = old_dl.join(del_ids, "doc_id", "left_anti")
            batch = batch.join(
                old_dl.select(F.col("doc_id").alias(self.id_col)),
                self.id_col,
                "left_anti",
            )
        toks = batch.select(
            F.col(self.id_col).alias("doc_id"),
            F.explode(F.split(F.col(self.text_col), " ")).alias("term"),
        ).filter(F.col("term") != "")
        tf = (
            toks.groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("bucket", _term_bucket(F.col("term")))
        )
        # doclens keeps a dl=0 row for zero-token docs: they must count
        # toward n_docs (BM25Index.build counts ALL documents for idf —
        # the round-6 advisory fix) AND be seen by the idempotence gate
        # above, or an empty doc would be re-admitted every batch.
        # dl feeds the touched-bucket lookup, the pruned write, and the
        # stats fold — compute the arriving doclens once
        dl = _held(
            batch.select(F.col(self.id_col).alias("doc_id"))
            .join(
                toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")),
                "doc_id",
                "left",
            )
            .select(
                "doc_id", F.coalesce("dl", F.lit(0).cast("bigint")).alias("dl")
            ),
            held,
        )
        new_tf, tf_prune = tf, None
        if tf_full is not None:
            # arriving postings feed both the touched-bucket lookup and
            # the write below — compute them once
            tf = _held(tf, held)
            # bucket-pruned rewrite of the posting table: only the term
            # buckets where arriving postings land or where a deleted
            # doc's postings live recompute; every other bucket dir
            # hard-links through the swap unchanged (re-sent live ids
            # were dropped by the idempotence gate above, so deletions
            # are the only removals).  The lookup is control-plane
            # tiny (<= N_TERM_BUCKETS values).
            tb = distinct_values(
                "bucket", tf, tf_full.join(del_ids, "doc_id", "left_semi")
            )
            new_tf = (
                tf_full.filter(isin_values(F.col("bucket"), tb))
                .join(del_ids, "doc_id", "left_anti")
                .unionByName(tf)
            )
            tf_prune = {f"bucket={b}" for b in tb}
        new_dl = dl if old_dl is None else old_dl.unionByName(dl)
        # doclens WRITE is id-bucket-pruned (the stats aggregation below
        # still folds the FULL doclens — idf needs every doc)
        touched_dl = del_ids.unionByName(
            dl.select(F.col("doc_id"))
        ).distinct()
        dl_write, dl_prune = self._merge_id_bucketed(
            dl_raw,
            dl,
            touched_dl,
            "doc_id",
            self._touched_buckets(touched_dl, dl_raw),
        )
        # n_docs over every doc; avgdl over tokenized docs only — the
        # exact aggregation shape of BM25Index.build
        stats = new_dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("dl").cast("bigint")).cast("double")
                / F.count(F.when(F.col("dl") > 0, F.lit(1)))
            ).alias("avgdl"),
        )
        return self._swap_in_frames(
            {"postings": new_tf, "doclens": dl_write, "stats": stats},
            batch_id,
            count_table="doclens",
            partition_by={"postings": ["bucket"], "doclens": ["ib"]},
            prune={"postings": tf_prune, "doclens": dl_prune},
        )


class SemDeDupIngestSink(ParquetUpsertSink):
    """Streaming SemDeDup maintenance (Abbas et al. 2023): the
    embedding-space analogue of NearDupIngestSink.  Arriving vectors are
    routed to the PERSISTED k-means cells, scored pairwise only within
    their landing cells (against cell-mates already ingested plus the
    batch itself), and the resulting edges fold into the persistent
    semantic cluster table — so q_semdedup's keep-decision is serveable
    under ingest without ever re-running k-means or the full pairwise
    pass.

    State is three tables inside ONE swap-atomic target directory:

      centroids/ (cid, cvec, cc)    — the routing table, FIT ON THE
                                      FIRST batch and frozen after: cell
                                      geometry is a bootstrap parameter,
                                      exactly like an IVF index's (a
                                      periodic offline rebuild refreshes
                                      it; the maintained table is always
                                      exact FOR ITS centroids)
      vectors/   (vid, vec, vv, cid) — every ingested vector, partitioned
                                      by cell so a batch's landing cells
                                      prune the candidate scan on disk
      pairs/     (d1, d2)           — the verified semantic-dup EDGES
                                      (round 8: retractions need them —
                                      deleting a cut vertex SPLITS its
                                      component, which labels alone
                                      cannot express; same rationale as
                                      streaming/retract.py)
      clusters/  (node, comp)       — semantic-dup component labels,
                                      CC over pairs/

    Batches may be Z-SETS (rows carrying operators/ivm.py MULT; -1
    retracts a vector): a retraction drops the vector, its incident
    pairs, and re-runs CC over the remaining PAIR table only — the
    routing, scoring, and surviving vectors never recompute.  A pair
    depends only on its two vectors and the frozen centroids, so the
    maintained pair set equals a batch SemDeDup's pair set over exactly
    the retained vectors (q_semdedup_retract pins this against a
    frozen-centroid recompute oracle).

    Per-batch cost ∝ batch x (batch + cell-mates in landing cells),
    never corpus² and never a corpus re-scan.  Components MERGE
    correctly across batches: the old (node, comp) labels re-enter the
    CC as contracted edges beside the new pairs, which is exactly the
    union graph's connectivity — so the maintained table equals a batch
    SemDeDup over everything ingested, computed with the same centroids
    (tests/test_dedup_ingest.py pins this equality and exactly-once
    replay).  Scoring is the q_semdedup_keep kernel verbatim: double
    prefilter at tau - 1e-4, decimal re-score rounded to 6 dp.

    Exactly-once: ledger + in-target batch marker + two-move swap
    recovery, inherited from ParquetUpsertSink; all three tables swap
    together so routing, corpus, and clusters always describe the same
    ingested set.
    """

    def __init__(
        self,
        target: str,
        k_centroids: int = 8,
        n_iter: int = 2,
        tau: float = 0.35,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        super().__init__(target, key=[id_col])
        self.k_centroids = k_centroids
        self.n_iter = n_iter
        self.tau = tau
        self.id_col = id_col
        self.vec_col = vec_col

    def _params_fingerprint(self) -> dict:
        return {
            "k_centroids": self.k_centroids,
            "n_iter": self.n_iter,
            "tau": self.tau,
            "id_col": self.id_col,
            "vec_col": self.vec_col,
        }

    # -- state ------------------------------------------------------------
    def centroids(self, spark) -> DataFrame | None:
        return self._table(spark, "centroids")

    def clusters(self, spark) -> DataFrame | None:
        return self._table(spark, "clusters")

    def keep(self, spark) -> DataFrame:
        """The SemDeDup keep-decision over everything ingested so far:
        one anti-join against the maintained cluster table (the
        DedupClusterStore.serve_keep shape)."""
        from vcf_pg_loader_spark.operators import dedup as D

        vecs = self._table(spark, "vectors")
        cc = self._table(spark, "clusters")
        ids = vecs.select(F.col("vid").alias(self.id_col))
        if cc is None:
            return ids
        return D.keep_canonical(ids, cc, self.id_col)

    # -- pairing ----------------------------------------------------------
    def _sem_pairs(self, a_frame: DataFrame, b_frame: DataFrame, same: bool) -> DataFrame:
        """Within-cell semantic-dup edges between two assigned frames —
        the q_semdedup_keep two-stage kernel: cheap double cosine prunes
        the cell pairs, the oracle-exact decimal kernel re-scores the
        survivors (the 1e-4 margin dwarfs double-vs-decimal divergence).
        `same=True` = self-join (vid < vid); otherwise the frames hold
        disjoint vid sets."""
        from vcf_pg_loader_spark.operators import similarity as S

        a, b = a_frame.alias("a"), b_frame.alias("b")
        cond = F.col("a.cid") == F.col("b.cid")
        if same:
            cond = cond & (F.col("a.vid") < F.col("b.vid"))
        norm = F.sqrt(F.col("a.vv")) * F.sqrt(F.col("b.vv"))
        fast_cos = S.dot_fast(F.col("a.vec"), F.col("b.vec")) / norm
        cos = F.round(S.dot_exact(F.col("a.vec"), F.col("b.vec")) / norm, 6)
        return (
            a.join(b, cond)
            .filter(fast_cos >= self.tau - 1e-4)
            .select(
                F.col("a.vid").alias("d1"),
                F.col("b.vid").alias("d2"),
                cos.alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= self.tau)
            .select("d1", "d2")
        )

    # -- exactly-once apply ------------------------------------------------
    def _apply(self, batch_df: DataFrame, batch_id: int, held: list) -> int:
        from vcf_pg_loader_spark.operators import similarity as S
        from vcf_pg_loader_spark.operators._parallel import (
            ensure_min_parallelism,
        )
        from vcf_pg_loader_spark.streaming.retract import (
            _edges_without,
            _without,
        )

        spark = batch_df.sparkSession
        old_vec_full = self._table(spark, "vectors")
        pairs_old = self._table(spark, "pairs")
        batch, touched = self._consolidate(batch_df, self.id_col, held)
        if MULT in batch_df.columns:
            # touched ids leave the state first: deletions permanently,
            # re-inserts so their vector and pairs rebuild from the
            # arriving row (Z-set batches carry upsert semantics)
            pairs_old = _edges_without(pairs_old, touched)
        else:
            # plain insert batch: first arrival wins (ingest idempotence)
            touched = None
            if old_vec_full is not None:
                batch = batch.join(
                    old_vec_full.select(F.col("vid").alias(self.id_col)),
                    self.id_col,
                    "left_anti",
                )
        cents = self._table(spark, "centroids")
        bootstrap = cents is None
        if bootstrap:
            # bootstrap: first batch fits the (frozen) routing table;
            # the prepped vectors and the fitted centroids' checkpoint
            # are released with the apply
            vecs = _held(
                S._prep_vectors(
                    ensure_min_parallelism(batch),
                    self.id_col,
                    self.vec_col,
                    "exact",
                ),
                held,
            )
            cents, assigned = S._ivf_fit_prepped(
                vecs, self.k_centroids, self.n_iter, "exact"
            )
            if self.n_iter > 1:
                held.append(lambda: D.release_checkpoint(cents))
        else:
            assigned = S.ivf_assign(
                batch, cents, self.id_col, self.vec_col, kernel="exact"
            )
        assigned = _held(assigned, held)
        new_pairs = self._sem_pairs(assigned, assigned, same=True)
        old_vec, prune = None, None
        if old_vec_full is not None:
            # cell-pruned rewrite: only the cells where arriving vectors
            # land or where a touched id's old vector lives recompute;
            # every other cid dir hard-links through the swap unchanged.
            # The candidate probes below only ever read landing cells,
            # which the touched set contains by construction.
            tc = distinct_values(
                "cid",
                assigned,
                None if touched is None else old_vec_full.join(
                    touched.withColumnRenamed(self.id_col, "vid"),
                    "vid",
                    "left_semi",
                ),
            )
            old_vec = old_vec_full.filter(isin_values(F.col("cid"), tc))
            if touched is not None:
                old_vec = _without(old_vec, touched, "vid")
            prune = {f"cid={c}" for c in tc}
            # only the landing cells' existing vectors are candidates —
            # the cid partitioning makes this a pruned scan, not a
            # corpus re-read
            old_hit = old_vec.join(
                assigned.select("cid").distinct(), "cid", "left_semi"
            )
            new_pairs = new_pairs.unionByName(
                self._sem_pairs(old_hit, assigned, same=False)
            )
        new_pairs = new_pairs.select(
            F.least("d1", "d2").alias("d1"),
            F.greatest("d1", "d2").alias("d2"),
        ).distinct()
        if pairs_old is None:
            old_cc = self._table(spark, "clusters")
            if old_cc is not None:
                # pre-round-8 state carried labels only: contracted
                # edges keep CC exact for INSERT streams (retractions
                # on such legacy state would need a rebuild — all state
                # written from here on has the real pair table)
                pairs_old = old_cc.where(
                    F.col("node") != F.col("comp")
                ).select(
                    F.col("comp").alias("d1"), F.col("node").alias("d2")
                )
        pairs = (
            new_pairs
            if pairs_old is None
            else pairs_old.unionByName(new_pairs).distinct()
        )
        cc = D.connected_components(pairs, "d1", "d2")
        new_vectors = (
            assigned if old_vec is None else old_vec.unionByName(assigned)
        )
        frames = {"vectors": new_vectors, "pairs": pairs, "clusters": cc}
        keep: list[str] = []
        if bootstrap:
            frames["centroids"] = cents
        else:
            # the routing table is FROZEN after bootstrap: hard-link,
            # never rewrite
            keep = ["centroids"]
        return self._swap_in_frames(
            frames,
            batch_id,
            count_table="vectors",
            partition_by={"vectors": ["cid"]},
            prune={"vectors": prune},
            keep_tables=keep,
        )
