"""Retraction-maintained vocabulary statistics (round-11 verdict
stretch item 7).

Word counts are the ONE corpus-global statistic `train-vocab`
recomputed from scratch every run; this sink maintains (word, n) under
the Z-set contract so a vocabulary refresh after a snapshot sync costs
O(|delta|), not a full corpus pass — the same economics every other
maintained structure already has.  The served table is exactly
operators/bpe.py word_counts(corpus): bpe_learn_from_counts can train
straight off it, and the coverage / OOV curves serve from it without
touching document text.

State, one swap-atomic directory:

  vocab/  (word, n) partitioned by ib = id_bucket(word) — the same
          64-bucket hash layout (and therefore the same `rebucket`
          migration verb, with --id-col word) as every id-keyed state
          table.

Maintenance per batch: the arriving (doc_id, text, MULT) Z-set explodes
to per-occurrence word tuples weighted by MULT and collapses to per-word
count deltas — a changed document's old text rides as -1 and its new
text as +1, so the deltas are exact.  Counts merge additively inside
the TOUCHED buckets only (existing rows there union the deltas, one
keyed sum, drop non-positive); every untouched bucket directory
hard-links through the atomic swap.  Exactly-once per batch id,
single-writer lease, ledger auto-compaction — all from the
ParquetUpsertSink template.

Reference parity: the reference recomputes aggregate statistics with
full-table ANALYZE-style passes after each load (loader.py's
post-load refresh); this is that refresh as an incremental view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators.ivm import MULT
from vcf_pg_loader_spark.streaming.sink import (
    ParquetUpsertSink,
    _checkpointed,
    distinct_values,
    id_bucket,
    isin_values,
)


class VocabSink(ParquetUpsertSink):
    """Maintains the (word, n) vocabulary table from a documents Z-set.

    ``mode``/``max_chars`` pick the unit the table counts — whitespace
    words (default) or bounded raw-text chunks (operators/bpe.py chars
    mode, the no-space-corpus path).  The unit definition changes every
    row, so a non-default mode joins the parameter fingerprint and a
    words-mode state refuses chars-mode maintenance (and vice versa)."""

    def __init__(
        self, target: str, mode: str = "words", max_chars: int | None = None
    ):
        super().__init__(target, key=["word"])
        self.mode = mode
        if max_chars is None:
            from vcf_pg_loader_spark.operators.bpe import MAX_CHARS

            max_chars = MAX_CHARS
        self.max_chars = int(max_chars)

    def _params_fingerprint(self) -> dict:
        from vcf_pg_loader_spark.streaming.sink import N_ID_BUCKETS

        fp = {"n_id_buckets": N_ID_BUCKETS}
        if self.mode != "words":
            fp["mode"] = self.mode
            fp["max_chars"] = self.max_chars
        return fp

    # -- serve ----------------------------------------------------------
    def counts(self, spark) -> DataFrame:
        """(w, n) — schema-identical to operators/bpe.py word_counts,
        so everything downstream of word statistics (coverage, OOV,
        bpe_learn_from_counts) consumes it unchanged."""
        voc = self._table(spark, "vocab")
        if voc is None:
            raise FileNotFoundError(
                f"no maintained state at {self.target}; apply a batch first"
            )
        return voc.select(F.col("word").alias("w"), "n")

    # -- maintenance -----------------------------------------------------
    def _apply(self, batch_df: DataFrame, batch_id: int, held: list) -> int:
        spark = batch_df.sparkSession
        # per-word count deltas: one explode + one keyed sum — the same
        # tokenization as word_counts (mode-selected unit, drop empties)
        from vcf_pg_loader_spark.operators.bpe import _units

        # consumed twice (touched-bucket collect + the merge union):
        # materialize once so a 100 TB delta's explode+sum doesn't run
        # twice; distributed, never lands on the driver
        deltas = _checkpointed(
            batch_df.select(
                F.explode(
                    _units(F.col("text"), self.mode, self.max_chars)
                ).alias("word"),
                F.col(MULT),
            )
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.sum(MULT).alias("dn"))
            .filter(F.col("dn") != 0),
            held,
        )
        old = self._table_raw(spark, "vocab")
        if old is None:
            vocab = deltas.filter(F.col("dn") > 0).select(
                "word",
                F.col("dn").cast("bigint").alias("n"),
                id_bucket(F.col("word")).alias("ib"),
            )
            prune = None
        else:
            # touched buckets: bounded by the bucket count — control-plane
            tb = distinct_values(id_bucket(F.col("word")), deltas)
            if not tb:  # a delta that touches no word (e.g. all-empty)
                return 0
            surviving = old.filter(isin_values(F.col("ib"), tb)).select(
                "word", "n"
            )
            vocab = (
                surviving.unionByName(
                    deltas.select("word", F.col("dn").alias("n"))
                )
                .groupBy("word")
                .agg(F.sum("n").cast("bigint").alias("n"))
                .filter(F.col("n") > 0)
                .select("word", "n", id_bucket(F.col("word")).alias("ib"))
            )
            prune = {f"ib={b}" for b in tb}
        return self._swap_in_frames(
            {"vocab": vocab},
            batch_id,
            count_table="vocab",
            partition_by={"vocab": ["ib"]},
            prune={"vocab": prune},
        )
