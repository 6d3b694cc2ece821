"""Retraction-aware maintenance of the served structures: the takedown /
GDPR-delete path every 100 TB corpus operator eventually hits, wired
through the Z-set algebra (operators/ivm.py) so a delete batch updates
the persisted state INCREMENTALLY — never a full rebuild of the
expensive stages (shingling, MinHash banding, Jaccard verification,
LM training).

Batches are Z-sets: document rows carrying ivm.MULT (+1 insert, -1
retraction).  `split_zset` consolidates a batch (duplicate +/- rows for
the same tuple cancel) and splits it into the insert frame and the
deleted-id frame; a plain frame without MULT is an insert-only batch,
so every sink here is a drop-in upgrade of its insert-only sibling.

Why deletions are cheap here and not in the original stores:

* DedupClusterMaintSink keeps the verified PAIR set (the near-dup edge
  list) beside the cluster labels.  Labels alone cannot survive a
  deletion — removing a cut vertex SPLITS its component, and (node,
  comp) has forgotten which edges existed.  The pair set remembers:
  delete = drop incident edges + re-run connected components over the
  remaining PAIRS (a table of dup edges only — tiny next to the
  corpus; the LSH/shingle machinery never re-runs).  Correctness rests
  on the restriction property the batch pipeline already relies on:
  LSH banding is per-doc and Jaccard verification is per-pair, so the
  verified pairs over any retained subset equal the full pair set
  restricted to that subset.  (Reference analogue: delete-by-batch
  reload semantics, vcf-pg-loader loader.py — delete then reinsert —
  done here without recomputing the surviving rows' structures.)

* FunnelReportSink decomposes the drop-attribution report
  (queries/pipeline.py q_drop_reasons) into its per-doc state tables —
  quality verdicts, frozen-LM scores, content fingerprints, LSH bands,
  verified pairs — each maintained under inserts AND deletes by keyed
  anti-join/union, then re-derives the stage labels with joins and
  aggregations only.  The expensive per-doc work (tokenize, shingle,
  band, verify) happens exactly once per document, at arrival.  The
  LM gate scores under the model FROZEN at bootstrap (the CCNet
  deployment shape; same frozen-parameter stance as
  SemDeDupIngestSink's centroids).

Exactly-once: ledger + in-target batch marker + two-move swap recovery
inherited from ParquetUpsertSink; all of a sink's state tables swap
together, so a crash can never leave the pair set and the labels (or
the report and its inputs) describing different corpora.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators import dedup as D
from vcf_pg_loader_spark.operators.ivm import MULT, zset_normalize
from vcf_pg_loader_spark.operators.text import fingerprint
from vcf_pg_loader_spark.streaming.sink import (
    ParquetUpsertSink,
    drop_layout,
    isin_values,
)


def split_zset(
    batch: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(inserts-without-MULT, deleted-ids) from a Z-set batch.  The
    batch is consolidated first, so an insert and a retraction of the
    same tuple within one batch cancel to a no-op.  A batch without a
    MULT column is all inserts.  The empty deleted-ids frame inherits
    the batch's own id type (a string-keyed sink must not get a long
    frame that later unions/anti-joins would reject or silently
    cast)."""
    if MULT not in batch.columns:
        return batch, batch.select(id_col).limit(0)
    z = zset_normalize(batch)
    ins = z.filter(F.col(MULT) > 0).drop(MULT)
    dels = z.filter(F.col(MULT) < 0).select(id_col)
    return ins, dels


def zset_delta(
    batch: DataFrame, id_col: str, cols: list[str]
) -> DataFrame:
    """One row per id a Z-set batch touches: (id, *cols, _ins).  `_ins`
    is true when the consolidated batch inserts the id (its `cols` then
    come from one inserted row, as `split_zset` + dropDuplicates picks
    them) and false for a pure retraction (its `cols` are null).  The
    inserts are `filter("_ins")` and the touched ids — deletions and
    re-inserts alike — are every row, so a sink that persists this one
    frame consolidates the batch once for all of its consumers."""
    if MULT in batch.columns:
        batch = zset_normalize(batch)
    else:
        batch = batch.withColumn(MULT, F.lit(1))
    ins = F.col(MULT) > 0
    return batch.groupBy(id_col).agg(
        *[
            F.first(F.when(ins, F.col(c)), ignorenulls=True).alias(c)
            for c in cols
        ],
        F.max(ins).alias("_ins"),
    )


def _without(
    table: DataFrame | None, ids: DataFrame, id_col: str
) -> DataFrame | None:
    # the trailing select pins the column ORDER: a USING join moves its
    # key to the front, and a maintained table whose on-disk column
    # order flips between batches is a schema-stability landmine even
    # when every reader resolves by name
    if table is None:
        return None
    return table.join(
        ids.withColumnRenamed(ids.columns[0], id_col), id_col, "left_anti"
    ).select(*table.columns)


def _edges_without(pairs: DataFrame | None, ids: DataFrame) -> DataFrame | None:
    """Drop edges incident to any deleted/re-inserted id."""
    if pairs is None:
        return None
    return (
        pairs.join(
            ids.withColumnRenamed(ids.columns[0], "d1"), "d1", "left_anti"
        )
        .join(ids.withColumnRenamed(ids.columns[0], "d2"), "d2", "left_anti")
        .select(*pairs.columns)
    )


def _has_incident_edge(pairs: DataFrame, ids: DataFrame) -> bool:
    """Whether any edge of `pairs` (d1, d2) touches an id in `ids`: one
    limit(1) existence probe, never a full count."""
    t = ids.columns[0]
    return (
        pairs.join(ids.withColumnRenamed(t, "d1"), "d1", "left_semi")
        .unionByName(
            pairs.join(ids.withColumnRenamed(t, "d2"), "d2", "left_semi")
        )
        .limit(1)
        .count()
        > 0
    )


@contextlib.contextmanager
def _released():
    """A list for the release callbacks of the frames one apply
    materializes (`_held`, `_checkpointed`), all of them called when
    the block exits — so a long-lived streaming process does not keep
    one batch's caches per micro-batch."""
    held: list = []
    try:
        yield held
    finally:
        for release in held:
            release()


def _held(df: DataFrame, held: list) -> DataFrame:
    """Persist `df` (lazily) for the rest of one apply.  Only for frames
    that do not end in a shuffle: a cached plan keeps its final
    shuffle's spark.sql.shuffle.partitions partitions uncoalesced."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    held.append(df.unpersist)
    return df


def _checkpointed(df: DataFrame, held: list) -> DataFrame:
    """Materialize `df` now for the rest of one apply.  A local
    checkpoint runs the plan with AQE's partition coalescing, so a
    batch-sized frame lands in a partition or two and every later scan
    of it is that many tasks (a persisted aggregate would keep its 32
    shuffle partitions).  Its blocks are released with the apply."""
    cp = df.localCheckpoint(eager=True)
    held.append(lambda: D.release_checkpoint(cp))
    return cp


class DedupClusterMaintSink(ParquetUpsertSink):
    """Maintained near-dup cluster store under interleaved inserts and
    retractions — the Z-set completion of DedupClusterStore (which
    serves a cluster table built once) and NearDupIngestSink (which
    gates admission under inserts only).

    State, one swap-atomic directory:

      corpus/   (doc_id, text)               — current documents
      bands/    (doc_id, band_id, band_key)  — their LSH index
      pairs/    (d1, d2)                     — verified near-dup edges,
                                               d1 < d2
      clusters/ (node, comp)                 — connected components of
                                               pairs/

    Insert cost: batch shingling + band equi-join against the persisted
    index + Jaccard on colliding pairs only.  Delete cost: keyed
    anti-joins + one CC over the (small) pair table.  Neither re-scans
    the corpus; the maintained `clusters/` always equals a batch LSH+CC
    run over exactly the current corpus, which is what the
    q_dedup_keep_retract oracle recomputes."""

    def __init__(
        self,
        target: str,
        ngram: int | None = None,
        k: int | None = None,
        bands: int | None = None,
        threshold: float | None = None,
        bucket_cap: int | None = None,
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
        # per-band bucket-size safety valve (round-14 verdict item 6):
        # intra-batch buckets above this route through the star path
        # (operators/dedup.py lsh_candidate_pairs_capped) so one
        # hyper-dup key cannot make a bootstrap/sync verify join
        # quadratic.  None = unchanged uncapped behavior.
        self.bucket_cap = bucket_cap
        # routing counters from the most recent _new_pairs under a cap
        # — surfaced by sync-corpus's report so routing is never silent
        self.last_cap_routing: dict | None = None

    def _params_fingerprint(self) -> dict:
        # persisted with the state, validated on every apply_batch: a
        # batch applied under different LSH parameters would mix
        # incompatible band tables and corrupt candidate generation.
        # bucket_cap rides in ONLY when set: the maintained pair table
        # is a function of the routing rule, so a capped sink refuses
        # an uncapped state (and vice versa), while legacy/uncapped
        # states keep validating against default sinks unchanged.
        from vcf_pg_loader_spark.streaming.sink import N_ID_BUCKETS

        fp = {
            "ngram": self.ngram,
            "k": self.k,
            "bands": self.bands,
            "threshold": self.threshold,
            "n_id_buckets": N_ID_BUCKETS,
        }
        if self.bucket_cap is not None:
            fp["bucket_cap"] = self.bucket_cap
        return fp

    # -- serve ----------------------------------------------------------
    def keep(self, spark) -> DataFrame:
        """Keep-decision over the current corpus: one anti-join against
        the maintained loser set (DedupClusterStore.serve_keep shape)."""
        corpus = self._table(spark, "corpus")
        if corpus is None:
            raise FileNotFoundError(
                f"no maintained state at {self.target}; apply a batch first"
            )
        cc = self._table(spark, "clusters")
        ids = corpus.select("doc_id")
        if cc is None:
            return ids
        return D.keep_canonical(ids, cc, "doc_id")

    # -- maintenance -----------------------------------------------------
    def _new_pairs(
        self, ins: DataFrame, corpus: DataFrame | None,
        bands_old: DataFrame | None, held: list,
    ) -> tuple[DataFrame, DataFrame]:
        """(band rows for `ins`, verified pairs touching `ins`): the
        arriving docs shingle once; cross pairs come from colliding the
        new band rows with the persisted index `bands_old` (which must
        hold no id of `ins`), intra-batch pairs from the batch's own
        LSH — both verified with exact Jaccard over the colliding docs'
        shingle sets only.  Of `corpus` only the docs that collide with
        `bands_old` are read, so it may still hold the touched ids.

        The arriving docs' shingle sets and band rows are persisted and
        appended to `held`; the caller unpersists them once its writes
        are done.  The band rows feed the intra-batch buckets, the cross
        probe AND the bands/ write, so shingling and MinHash run once
        per batch, and both run row-locally: one sorted shingle array
        per doc, no explode and no groupBy."""
        sets_new = _held(
            D.shingle_sets(ins, "doc_id", "text", self.ngram), held
        )
        bands_new = _held(
            D.lsh_band_table(
                D.minhash_signatures_of_sets(sets_new, self.k),
                self.k,
                self.bands,
            ),
            held,
        )
        cand, routed = D.lsh_bucket_pairs(bands_new, self.bucket_cap)
        if self.bucket_cap is not None:
            # no silent truncation: count what the valve routed
            # (tiny agg — one row per oversized bucket) so the
            # sync report can log it
            r = routed.agg(
                F.count(F.lit(1)).alias("nb"),
                F.coalesce(F.sum("sz"), F.lit(0)).alias("nr"),
            ).collect()[0]
            self.last_cap_routing = {
                "bucket_cap": self.bucket_cap,
                "routed_buckets": int(r["nb"]),
                "routed_rows": int(r["nr"]),
            }
        sets = sets_new
        if bands_old is not None and corpus is not None:
            cross = (
                bands_new.alias("n")
                .join(
                    bands_old.alias("o"),
                    (F.col("n.band_id") == F.col("o.band_id"))
                    & (F.col("n.band_key") == F.col("o.band_key")),
                )
                .select(
                    F.col("o.doc_id").alias("d1"),
                    F.col("n.doc_id").alias("d2"),
                )
                .distinct()
            )
            old_hit = corpus.join(
                cross.select(F.col("d1").alias("doc_id")),
                "doc_id",
                "left_semi",
            )
            sets = sets_new.unionByName(
                D.shingle_sets(old_hit, "doc_id", "text", self.ngram)
            )
            cand = cand.unionByName(cross)
        verified = D.verify_candidate_jaccard_sets(
            cand, sets, self.threshold
        ).select(
            F.least("d1", "d2").alias("d1"),
            F.greatest("d1", "d2").alias("d2"),
        ).distinct()
        return bands_new, verified

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        with _released() as held:
            n = self._apply_held(batch_df, batch_id, held)
        self._record(batch_id, n)

    def _apply_held(
        self, batch_df: DataFrame, batch_id: int, held: list
    ) -> int:
        spark = batch_df.sparkSession
        # consolidate ONCE, before keyed dedup: an insert and a
        # retraction of the same doc in one batch cancel, not race, and
        # the arriving docs, the touched ids and the touched id-buckets
        # all read this one materialized frame
        delta = _checkpointed(
            zset_delta(batch_df, "doc_id", ["text"]), held
        )
        ins = delta.filter("_ins").select("doc_id", "text")
        # touched ids leave every table first: deletions permanently,
        # re-inserts so their state rebuilds from the arriving text
        touched = delta.select("doc_id")
        # each state table is read ONCE: the raw read keeps the `ib`
        # layout column for the bucket-pruned write, and the probes use
        # its ib-less view.  The WRITE side of the id-keyed tables is
        # bucket-pruned; the probe reads stay full — a new doc must
        # collide against the whole index, that is the operator's
        # semantics.
        corpus_raw = self._table_raw(spark, "corpus")
        bands_raw = self._table_raw(spark, "bands")
        pairs_raw = self._table_raw(spark, "pairs")
        # corpus and bands share one id-bucket layout, so one collect of
        # the touched buckets serves both merges
        buckets = (
            self._touched_buckets(touched)
            if corpus_raw is not None and "ib" in corpus_raw.columns
            else None
        )
        bands_new, pairs_new = self._new_pairs(
            ins,
            drop_layout(corpus_raw),
            _without(drop_layout(bands_raw), touched, "doc_id"),
            held,
        )
        # the verified pairs feed the fast-path test below and the
        # merged pair set: materialize them once
        pairs_new = _checkpointed(pairs_new, held)
        # connectivity-unchanged fast path (round 14): the cluster
        # labels are a pure function of the edge set, so when the batch
        # verified NO new edges and no touched id appears in the
        # persisted edge table, pairs/ and clusters/ are byte-for-byte
        # unchanged — hard-link them through the swap instead of
        # re-running CC and rewriting both tables.  This is the common
        # steady-state shape (a few non-duplicate documents arriving
        # between snapshots); at 100 TB it keeps per-sync cost free of
        # the cluster-table rewrite entirely.  The tests run cheapest
        # first: the directory check, then an emptiness probe of the
        # checkpointed new pairs; only a batch with no new pairs pays
        # the existence probe on the edge table.  Both tables must
        # already exist on disk: a first apply must still materialize
        # (possibly empty) pairs/ and clusters/ so readers see a
        # schema-stable state, and keep_tables can only hard-link
        # directories that are there.
        connectivity_unchanged = (
            pairs_raw is not None
            and os.path.isdir(os.path.join(self.target, "clusters"))
            and pairs_new.isEmpty()
            and not _has_incident_edge(pairs_raw, touched)
        )
        corpus, c_prune = self._merge_id_bucketed(
            corpus_raw, ins, touched, "doc_id", buckets
        )
        bands, b_prune = self._merge_id_bucketed(
            bands_raw, bands_new, touched, "doc_id", buckets
        )
        frames = {"corpus": corpus, "bands": bands}
        keep: list[str] = []
        if connectivity_unchanged:
            keep = ["pairs", "clusters"]
        else:
            # pairs and clusters rewrite whole when connectivity moved
            # (they are tiny next to the corpus); the merged pair set
            # feeds both CC and the pairs/ write, so it runs once
            pairs = pairs_new
            if pairs_raw is not None:
                pairs = _checkpointed(
                    _edges_without(pairs_raw, touched)
                    .unionByName(pairs_new)
                    .distinct(),
                    held,
                )
            frames["pairs"] = pairs
            frames["clusters"] = D.connected_components(pairs, "d1", "d2")
        prune = {}
        if c_prune is not None:
            prune["corpus"] = c_prune
        if b_prune is not None:
            prune["bands"] = b_prune
        return self._swap_in_frames(
            frames,
            batch_id,
            count_table="corpus",
            partition_by={"corpus": ["ib"], "bands": ["ib"]},
            prune=prune or None,
            keep_tables=keep,
        )


class FunnelReportSink(ParquetUpsertSink):
    """Maintained drop-attribution report (q_drop_reasons' stage table)
    under interleaved inserts and retractions.

    State, one swap-atomic directory:

      lm_c12/, lm_c1/, lm_v/  — the bigram LM, trained on the FIRST
                                batch and frozen (operators/lm.py
                                bigram_model); later arrivals score
                                under it via doc_nll_frozen
      qual/   (doc_id, keep, reasons) — quality verdicts, all current
                                docs
      lml/    (doc_id)        — LM-gate losers among quality survivors
      corpus/ (doc_id, text)  — quality+LM survivors (their text feeds
                                Jaccard verification of later arrivals)
      fp/     (doc_id, doc_fp)— their content fingerprints
      bands/, pairs/          — their LSH index and verified near-dup
                                edges (DedupClusterMaintSink shapes)
      report/ (doc_id, stage) — the served attribution table

    Per batch, the expensive per-doc work (quality metrics, LM scoring,
    fingerprint, shingle+band+verify) runs on the ARRIVING docs only;
    deletions are keyed anti-joins.  The report then re-derives from
    state with joins and two aggregations (min-id per fingerprint for
    exact-dup canon election — deletions re-elect automatically — and
    connected components over the maintained pair set restricted to the
    exact survivors).  The q_drop_reasons_retract oracle recomputes the
    whole funnel over the retained rows and matches value-exactly."""

    def __init__(
        self,
        target: str,
        nll_max: float,
        ngram: int | None = None,
        k: int | None = None,
        bands: int | None = None,
        threshold: float | None = None,
        bucket_cap: int | None = None,
    ):
        super().__init__(target, key=["doc_id"])
        self.nll_max = nll_max
        # LSH defaults resolve to the pipeline constants, via the same
        # None-sentinel rule as DedupClusterMaintSink; bucket_cap rides
        # through so a capped sync-corpus caps BOTH lockstep states
        self._pair_maker = DedupClusterMaintSink(
            target, ngram, k, bands, threshold, bucket_cap
        )
        self.ngram = self._pair_maker.ngram
        self.k = self._pair_maker.k
        self.bands = self._pair_maker.bands
        self.threshold = self._pair_maker.threshold
        self.bucket_cap = bucket_cap

    def _params_fingerprint(self) -> dict:
        from vcf_pg_loader_spark.streaming.sink import N_ID_BUCKETS

        fp = {
            "ngram": self.ngram,
            "k": self.k,
            "bands": self.bands,
            "threshold": self.threshold,
            "nll_max": self.nll_max,
            "n_id_buckets": N_ID_BUCKETS,
        }
        if self.bucket_cap is not None:
            fp["bucket_cap"] = self.bucket_cap
        return fp

    # -- serve ----------------------------------------------------------
    def report(self, spark) -> DataFrame:
        rep = self._table(spark, "report")
        if rep is None:
            raise FileNotFoundError(
                f"no maintained state at {self.target}; apply a batch first"
            )
        return rep

    # -- maintenance -----------------------------------------------------
    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        with _released() as held:
            n = self._apply_held(batch_df, batch_id, held)
        self._record(batch_id, n)

    def _apply_held(
        self, batch_df: DataFrame, batch_id: int, held: list
    ) -> int:
        from vcf_pg_loader_spark.operators.lm import (
            bigram_model,
            doc_nll_frozen,
        )
        from vcf_pg_loader_spark.queries.pipeline import quality_verdict

        spark = batch_df.sparkSession
        # consolidate BEFORE keyed dedup: an insert and a retraction of
        # the same doc in one batch must cancel, not race
        ins, dels = split_zset(batch_df, "doc_id")
        ins = ins.dropDuplicates(["doc_id"])
        touched = dels.unionByName(ins.select("doc_id")).distinct()

        c12 = self._table(spark, "lm_c12")
        bootstrap = c12 is None
        if bootstrap:
            # bootstrap: the first batch trains the frozen gate model
            c12, c1, vocab = bigram_model(ins)
        else:
            c1 = self._table(spark, "lm_c1")
            vocab = self._table(spark, "lm_v")

        qual_new = quality_verdict(ins)
        kept_q_new = ins.join(
            qual_new.filter(F.col("keep")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        lml_new = (
            doc_nll_frozen(kept_q_new, c12, c1, vocab)
            .filter(F.col("nll") > self.nll_max)
            .select("doc_id")
        )
        kept_new = kept_q_new.join(lml_new, "doc_id", "left_anti").select(
            "doc_id", "text"
        )

        qual = _without(self._table(spark, "qual"), touched, "doc_id")
        qual = qual_new if qual is None else qual.unionByName(qual_new)
        lml = _without(self._table(spark, "lml"), touched, "doc_id")
        lml = lml_new if lml is None else lml.unionByName(lml_new)

        corpus_old = _without(self._table(spark, "corpus"), touched, "doc_id")
        bands_old = _without(self._table(spark, "bands"), touched, "doc_id")
        pairs_old = _edges_without(self._table(spark, "pairs"), touched)
        bands_new, pairs_new = self._pair_maker._new_pairs(
            kept_new, corpus_old, bands_old, held
        )
        corpus = (
            kept_new if corpus_old is None
            else corpus_old.unionByName(kept_new)
        )
        bands = (
            bands_new if bands_old is None
            else bands_old.unionByName(bands_new)
        )
        pairs = (
            pairs_new if pairs_old is None
            else pairs_old.unionByName(pairs_new).distinct()
        )
        fp_new = fingerprint(kept_new).select("doc_id", "doc_fp")
        fp = _without(self._table(spark, "fp"), touched, "doc_id")
        fp = fp_new if fp is None else fp.unionByName(fp_new)

        # -- re-derive the stage labels from state (joins + aggs only) --
        canon = fp.groupBy("doc_fp").agg(F.min("doc_id").alias("doc_id"))
        surv = fp.join(canon.select("doc_id"), "doc_id", "left_semi").select(
            "doc_id"
        )
        surv_pairs = pairs.join(
            surv.withColumnRenamed("doc_id", "d1"), "d1", "left_semi"
        ).join(surv.withColumnRenamed("doc_id", "d2"), "d2", "left_semi")
        cc = D.connected_components(surv_pairs, "d1", "d2")
        near_losers = cc.where(F.col("node") != F.col("comp")).select(
            F.col("node").alias("doc_id")
        )
        stage = (
            F.when(
                ~F.col("keep"), F.concat(F.lit("quality:"), F.col("reasons"))
            )
            .when(F.col("_lm").isNotNull(), F.lit("lm_nll"))
            .when(F.col("_exact").isNull(), F.lit("exact_dup"))
            .when(F.col("_near").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
        )
        report = (
            qual.join(lml.withColumn("_lm", F.lit(1)), "doc_id", "left")
            .join(surv.withColumn("_exact", F.lit(1)), "doc_id", "left")
            .join(
                near_losers.withColumn("_near", F.lit(1)), "doc_id", "left"
            )
            .select("doc_id", stage.alias("stage"))
        )
        # the full frames above feed the report derivation (canon
        # election and CC are global); the WRITES of the id-keyed
        # tables are bucket-pruned — only touched partitions recompute,
        # the rest hard-link.  The report itself rewrites whole: a
        # changed doc can flip another doc's stage anywhere.
        prune: dict[str, set[str]] = {}
        frames = {"pairs": pairs, "report": report}
        for name, new_rows in (
            ("qual", qual_new),
            ("lml", lml_new),
            ("corpus", kept_new),
            ("fp", fp_new),
            ("bands", bands_new),
        ):
            frames[name], p = self._merge_id_bucketed(
                self._table_raw(spark, name), new_rows, touched, "doc_id"
            )
            if p is not None:
                prune[name] = p
        keep: list[str] = []
        if bootstrap:
            frames.update({"lm_c12": c12, "lm_c1": c1, "lm_v": vocab})
        else:
            # the LM is FROZEN after bootstrap: hard-link, never rewrite
            keep = ["lm_c12", "lm_c1", "lm_v"]
        return self._swap_in_frames(
            frames,
            batch_id,
            count_table="report",
            keep_tables=keep,
            partition_by={
                n_: ["ib"] for n_ in ("qual", "lml", "corpus", "fp", "bands")
            },
            prune=prune or None,
        )


class DatasetCardSink(ParquetUpsertSink):
    """Retraction-maintained dataset card (q_dataset_card's release
    report) — with the funnel, sketches, and rollups already
    retraction-maintained, this makes the release-report path
    incremental too.  State, one swap-atomic directory:

      lm_c12/, lm_c1/, lm_v/  — the bigram LM, trained on the FIRST
                                batch and frozen (the CCNet deployment
                                shape; same stance as FunnelReportSink)
      stats/ (doc_id, source, n_tokens, keep, nll) — per-doc facts,
                                each a pure function of the doc (and
                                the frozen LM), computed ONCE at
                                arrival
      fp/    (doc_id, doc_fp) — content fingerprints for the exact-dup
                                rate's min-id canon election

    Per batch, the per-doc work (quality metrics, token count, frozen-
    LM scoring, fingerprint) runs on the ARRIVING docs only; deletions
    are keyed anti-joins.  Serving re-derives the card with the canon
    election plus ONE per-source aggregation (the exact decimal-folded
    shapes of q_dataset_card via dataset_card_aggregate), so the
    q_dataset_card_retract oracle — the whole card recomputed over the
    retained rows with the nll CTE trained on the bootstrap subset —
    matches value-exactly."""

    def __init__(self, target: str):
        super().__init__(target, key=["doc_id"])

    def _params_fingerprint(self) -> dict:
        from vcf_pg_loader_spark.streaming.sink import N_ID_BUCKETS

        # the on-disk id-bucket layout: pruning against directories laid
        # out under a different bucket count would strand stale rows
        return {"n_id_buckets": N_ID_BUCKETS}

    # -- serve ----------------------------------------------------------
    def card(self, spark) -> DataFrame:
        from vcf_pg_loader_spark.queries.pipeline import (
            dataset_card_aggregate,
        )

        stats = self._table(spark, "stats")
        if stats is None:
            raise FileNotFoundError(
                f"no maintained state at {self.target}; apply a batch first"
            )
        fp = self._table(spark, "fp")
        canon = fp.groupBy("doc_fp").agg(F.min("doc_id").alias("doc_id"))
        losers = (
            fp.join(canon.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id")
            .withColumn("_dup", F.lit(1))
        )
        return dataset_card_aggregate(stats.join(losers, "doc_id", "left"))

    # -- maintenance -----------------------------------------------------
    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        from vcf_pg_loader_spark.operators.lm import (
            bigram_model,
            doc_nll_frozen,
        )
        from vcf_pg_loader_spark.operators.text import tokens
        from vcf_pg_loader_spark.queries.pipeline import quality_verdict

        spark = batch_df.sparkSession
        ins, dels = split_zset(batch_df, "doc_id")
        ins = ins.dropDuplicates(["doc_id"])
        touched = dels.unionByName(ins.select("doc_id")).distinct()

        c12 = self._table(spark, "lm_c12")
        bootstrap = c12 is None
        if bootstrap:
            c12, c1, vocab = bigram_model(ins)
        else:
            c1 = self._table(spark, "lm_c1")
            vocab = self._table(spark, "lm_v")

        qual_new = quality_verdict(ins).select("doc_id", "keep")
        nll_new = doc_nll_frozen(ins, c12, c1, vocab).select("doc_id", "nll")
        stats_new = (
            ins.select(
                "doc_id",
                "source",
                F.size(tokens(F.col("text"))).alias("n_tokens"),
            )
            .join(qual_new, "doc_id")
            .join(nll_new, "doc_id", "left")
        )
        fp_new = fingerprint(ins.select("doc_id", "text")).select(
            "doc_id", "doc_fp"
        )

        # id-bucket-pruned writes: per-doc facts are pure functions of
        # the doc, so untouched buckets hard-link through the swap
        stats, s_prune = self._merge_id_bucketed(
            self._table_raw(spark, "stats"), stats_new, touched, "doc_id"
        )
        fp, f_prune = self._merge_id_bucketed(
            self._table_raw(spark, "fp"), fp_new, touched, "doc_id"
        )
        prune = {}
        if s_prune is not None:
            prune["stats"] = s_prune
        if f_prune is not None:
            prune["fp"] = f_prune

        frames = {"stats": stats, "fp": fp}
        keep: list[str] = []
        if bootstrap:
            frames.update({"lm_c12": c12, "lm_c1": c1, "lm_v": vocab})
        else:
            # the LM is FROZEN after bootstrap: hard-link, never rewrite
            keep = ["lm_c12", "lm_c1", "lm_v"]
        n = self._swap_in_frames(
            frames,
            batch_id,
            count_table="stats",
            keep_tables=keep,
            partition_by={"stats": ["ib"], "fp": ["ib"]},
            prune=prune or None,
        )
        self._record(batch_id, n)


class WinnowIndexSink(ParquetUpsertSink):
    """Maintained passage-reuse (winnowing) fingerprint index under
    interleaved inserts and retractions — the plagiarism/reuse-detection
    sibling of the BM25 index: the expensive per-doc work (rolling
    char-k-gram hashing + window minima, O(len·w) per doc) runs exactly
    once at arrival; a retraction is a keyed anti-join on the posting
    table.  State, one swap-atomic directory:

      fps/ (doc_id, fp, bucket)  — winnowing fingerprints, partitioned
                                   by a hash bucket of fp so overlap
                                   probes prune on disk

    Serving overlap pairs (winnow_overlap_pairs over the maintained
    table) re-derives document frequencies and the fp equi-join from
    the index alone — no text is ever re-hashed.  Fingerprints are a
    pure per-doc function, so the maintained table equals a fresh
    winnowing of exactly the retained docs (q_winnow_retract's oracle
    recomputes that)."""

    N_FP_BUCKETS = 64

    def __init__(self, target: str):
        super().__init__(target, key=["doc_id"])

    def _params_fingerprint(self) -> dict:
        from vcf_pg_loader_spark.operators.text import WINNOW_K, WINNOW_W

        # fingerprints are only comparable under one (k, w) winnowing
        # geometry, and the on-disk bucket layout under one bucket count
        return {
            "k": WINNOW_K,
            "w": WINNOW_W,
            "n_fp_buckets": self.N_FP_BUCKETS,
        }

    def overlap_pairs(
        self, spark, max_df: int = 10, min_shared: int = 3
    ) -> DataFrame:
        from vcf_pg_loader_spark.operators.text import winnow_overlap_pairs

        fps = self._table(spark, "fps")
        if fps is None:
            raise FileNotFoundError(
                f"no maintained state at {self.target}; apply a batch first"
            )
        return winnow_overlap_pairs(
            fps.select("doc_id", "fp"), max_df, min_shared
        )

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        from vcf_pg_loader_spark.operators.text import winnow_fingerprints

        spark = batch_df.sparkSession
        ins, dels = split_zset(batch_df, "doc_id")
        ins = ins.dropDuplicates(["doc_id"])
        touched = dels.unionByName(ins.select("doc_id")).distinct()
        from pyspark.storagelevel import StorageLevel

        old_full = self._table(spark, "fps")
        new = winnow_fingerprints(ins.select("doc_id", "text")).withColumn(
            "bucket", F.pmod(F.col("fp"), F.lit(self.N_FP_BUCKETS))
        )
        if old_full is None:
            fps, prune = new, None
        else:
            # the arriving fps feed both the touched-bucket lookup and
            # the write below — compute them once
            new = new.persist(StorageLevel.MEMORY_AND_DISK)
            # bucket-pruned rewrite: only the partitions where arriving
            # fingerprints land or where a touched doc's old rows live
            # are recomputed; every other bucket dir hard-links through
            # the swap unchanged.  Both lookups are control-plane tiny
            # (<= N_FP_BUCKETS values); the old-side probe reads two
            # columns of the posting table, never the fingerprints.
            tb = {
                r[0]
                for r in new.select("bucket").distinct().collect()
            } | {
                r[0]
                for r in old_full.join(touched, "doc_id", "left_semi")
                .select("bucket")
                .distinct()
                .collect()
            }
            old_t = old_full.filter(isin_values(F.col("bucket"), tb))
            fps = _without(old_t, touched, "doc_id").unionByName(new)
            prune = {"fps": {f"bucket={b}" for b in tb}}
        try:
            n = self._swap_in_frames(
                {"fps": fps},
                batch_id,
                count_table="fps",
                partition_by={"fps": ["bucket"]},
                prune=prune,
            )
        finally:
            new.unpersist()
        self._record(batch_id, n)


class DecontamIndexSink(ParquetUpsertSink):
    """Maintained train/eval decontamination index under interleaved
    inserts and retractions — the incremental completion of
    q_decontaminate (queries/pipeline.py), which recomputes the full
    shingle self-join per release.  In the re-crawl flow a new train
    snapshot arrives as a Z-set delta; only the delta's docs should pay
    the shingle + overlap-probe cost, and a takedown must also retract
    the contamination rows it induced.  State, one swap-atomic
    directory:

      sh/    (doc_id, split, shingle, bucket) — distinct word-n-gram
                                shingle postings for BOTH splits,
                                partitioned by a hash bucket of the
                                shingle so overlap probes prune on disk
      pairs/ (eval_id, train_id, n_shared) — contaminated pairs at
                                >= min_shared shared shingles

    Each pair's n_shared is a pure function of the TWO docs' shingle
    sets, and every recount joins an arriving doc against the FULL
    other-side posting table — so a pair's count never accumulates
    across batches and the min_shared threshold can be applied at
    maintenance time: only contaminated pairs persist (the state stays
    bounded by real contamination, not by the quadratic >=1-shared pair
    set).  Deletions are keyed anti-joins on the posting table and on
    BOTH pair columns; a changed doc re-shingles and recounts exactly
    its own pairs.  The split is a pure hash of doc_id
    (operators/sampling.assign_split), so batches stay (doc_id, text)
    Z-sets and the assignment is snapshot-stable.  The
    q_decontam_retract oracle recomputes the whole overlap join over
    the retained rows and matches value-exactly."""

    N_SH_BUCKETS = 64

    def __init__(
        self,
        target: str,
        ngram: int | None = None,
        weights: dict[str, float] | None = None,
        min_shared: int | None = None,
    ):
        super().__init__(target, key=["doc_id"])
        # None-sentinels resolve to the pipeline constants (same rule as
        # DedupClusterMaintSink) so a default-constructed sink validates
        # against pipeline/CLI-built state
        from vcf_pg_loader_spark.queries.pipeline import (
            DECON_MIN_SHARED,
            NGRAM,
            SPLIT_WEIGHTS,
        )

        self.ngram = NGRAM if ngram is None else ngram
        self.weights = dict(SPLIT_WEIGHTS if weights is None else weights)
        self.min_shared = (
            DECON_MIN_SHARED if min_shared is None else min_shared
        )

    def _params_fingerprint(self) -> dict:
        # postings are only comparable under one shingle width, pairs
        # only meaningful under one admission threshold, and the split
        # assignment under one weight vector
        return {
            "ngram": self.ngram,
            "weights": {k: self.weights[k] for k in sorted(self.weights)},
            "min_shared": self.min_shared,
            "n_sh_buckets": self.N_SH_BUCKETS,
        }

    # -- serve ----------------------------------------------------------
    def contamination(self, spark) -> DataFrame:
        pairs = self._table(spark, "pairs")
        if pairs is None:
            raise FileNotFoundError(
                f"no maintained state at {self.target}; apply a batch first"
            )
        return pairs.select("eval_id", "train_id", "n_shared")

    # -- maintenance -----------------------------------------------------
    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        from vcf_pg_loader_spark.operators.sampling import assign_split

        spark = batch_df.sparkSession
        ins, dels = split_zset(batch_df, "doc_id")
        ins = ins.dropDuplicates(["doc_id"])
        touched = dels.unionByName(ins.select("doc_id")).distinct()

        sh_full = self._table(spark, "sh")
        sh_old = _without(sh_full, touched, "doc_id")
        pairs_old = self._table(spark, "pairs")
        if pairs_old is not None:
            # drop every pair a touched doc induced, on EITHER side —
            # its recount below is complete, so no count accumulates
            pairs_old = (
                pairs_old.join(
                    touched.withColumnRenamed("doc_id", "eval_id"),
                    "eval_id",
                    "left_anti",
                )
                .join(
                    touched.withColumnRenamed("doc_id", "train_id"),
                    "train_id",
                    "left_anti",
                )
                .select("eval_id", "train_id", "n_shared")
            )

        ins_split = assign_split(ins, "doc_id", self.weights)
        sh_new = (
            D.shingles(ins_split, "doc_id", "text", self.ngram)
            .join(ins_split.select("doc_id", "split"), "doc_id")
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("shingle"), F.lit(self.N_SH_BUCKETS)),
            )
            .select("doc_id", "split", "shingle", "bucket")
        )
        from pyspark.storagelevel import StorageLevel

        # arriving shingles feed the touched-bucket lookup, the write,
        # and both overlap probes — compute them once
        sh_new = sh_new.persist(StorageLevel.MEMORY_AND_DISK)
        # WRITE side is bucket-pruned (only partitions holding arriving
        # or touched-doc postings recompute; the rest hard-link through
        # the swap); the PROBE side below stays the full retained
        # posting table — an arriving doc must see every shingle of the
        # other split, that read is the operator's semantics.
        if sh_full is None:
            sh, prune = sh_new, None
        else:
            tb = {
                r[0]
                for r in sh_new.select("bucket").distinct().collect()
            } | {
                r[0]
                for r in sh_full.join(touched, "doc_id", "left_semi")
                .select("bucket")
                .distinct()
                .collect()
            }
            sh = _without(
                sh_full.filter(isin_values(F.col("bucket"), tb)),
                touched,
                "doc_id",
            ).unionByName(sh_new)
            prune = {"sh": {f"bucket={b}" for b in tb}}

        is_train = F.col("split") == "train"
        tr_new = sh_new.filter(is_train).select(
            F.col("doc_id").alias("train_id"), "shingle"
        )
        ev_new = sh_new.filter(~is_train).select(
            F.col("doc_id").alias("eval_id"), "shingle"
        )
        # arriving-train x ALL evals covers every pair whose train side
        # arrived; retained-train x arriving-evals covers the rest —
        # train sources are disjoint, so no pair is counted twice
        ev_all = ev_new
        if sh_old is not None:
            ev_all = sh_old.filter(~is_train).select(
                F.col("doc_id").alias("eval_id"), "shingle"
            ).unionByName(ev_new)
        hits = tr_new.join(ev_all, "shingle").select("eval_id", "train_id")
        if sh_old is not None:
            tr_old = sh_old.filter(is_train).select(
                F.col("doc_id").alias("train_id"), "shingle"
            )
            hits = hits.unionByName(
                tr_old.join(ev_new, "shingle").select("eval_id", "train_id")
            )
        pairs_new = (
            hits.groupBy("eval_id", "train_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= self.min_shared)
        )
        pairs = (
            pairs_new
            if pairs_old is None
            else pairs_old.unionByName(pairs_new)
        )
        try:
            n = self._swap_in_frames(
                {"sh": sh, "pairs": pairs},
                batch_id,
                count_table="pairs",
                partition_by={"sh": ["bucket"]},
                prune=prune,
            )
        finally:
            sh_new.unpersist()
        self._record(batch_id, n)
