"""Retraction-maintained SEQUENCE-level decontamination index (round-14
stretch, round-13 verdict item 7): the doc-level DecontamIndexSink
pattern lifted to PACKED training streams, so `seq-decontam
--fail-on-hit` gating serves in O(eval) per check and costs
O(touched shards) per sync instead of re-assembling and re-shingling
every sequence of the corpus.

Why shard-granular retraction is the right unit: packing is
concat-and-cut, so ONE changed document shifts every offset behind it
in its shard — the shard's sequence identities (seq_id, window
positions, boundary set) move wholesale.  The natural Z-set row here
is therefore a SHARD's posting block, retracted and re-derived
whole, which is exactly the granularity the TrainingShardSink delta
already repacks: the index's touched set IS the layout's touched set.
Untouched shard partitions hard-link through the atomic swap
(ParquetUpsertSink prune=), so per-sync cost is O(|touched shards|) —
and a lockstep epoch stamp proves which corpus snapshot the postings
describe.

State, one swap-atomic directory:

  post/ (shard, seq_id, sh60, crosses) partitioned by shard — one row
        per n-gram window of every packed sequence, `crosses` marking
        windows that span a document boundary (the class of
        contamination only packing creates; cli.py cmd_seq_decontam
        documents the semantics).  `sh60` is the 60-bit deterministic
        hash (functions/hashing.py h60, salt "seqix:") of the joined
        window — NOT the raw string: a raw posting table is
        O(tokens x ngram) bytes, several times the corpus itself at
        100 TB, while the hash is a fixed 8 bytes per window
        (round-14 verdict item 4).

Serving: one broadcast join of the eval corpus's shingle vocabulary —
hashed with the SAME salt — against the posting table + one keyed
aggregation: the exact q_seq_decontam result (queries/pipeline.py),
which is the equality the q_seq_decontam_served oracle twin pins
value-exactly.  Hash-collision bound: a false hit needs an eval
shingle and a DIFFERENT corpus window sharing one 60-bit value;
expected spurious hits ~ |eval shingles| x |distinct corpus windows|
/ 2^60 — at 10^6 eval shingles against 10^9 corpus windows that is
~10^-3 expected false sequence-hits corpus-wide, and a hit only ever
FLAGS a sequence for exclusion (conservative direction).

Reference analogue: the reference's staged-load + post-load validation
loop (loader.py) re-derives integrity tables per load; this is that
derived table maintained incrementally instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vcf_pg_loader_spark.functions.hashing import h60
from vcf_pg_loader_spark.streaming.sink import ParquetUpsertSink, isin_values

#: salt for the posting-table shingle hash — index and serve must agree
SHINGLE_SALT = "seqix:"


def sequence_shingle_table(
    seqs: DataFrame, spans: DataFrame, ngram: int, sep: str = " "
) -> DataFrame:
    """(shard, seq_id, shingle, crosses) for every n-gram window of the
    given packed sequences — the identical window arithmetic as
    q_seq_decontam / cmd_seq_decontam (boundaries are document starts
    at nonzero sequence offsets; a window crosses when a boundary falls
    strictly inside it).  `sep` is the window joiner: " " for
    whitespace-token sinks, "\\x1f" for BPE piece space where pieces may
    themselves contain spaces."""
    bounds = (
        spans.filter((F.col("tok_start") == 0) & (F.col("seq_off") > 0))
        .groupBy("shard", "seq_id")
        .agg(F.collect_list("seq_off").alias("bnds"))
    )
    seqs = seqs.join(bounds, ["shard", "seq_id"], "left").select(
        "shard",
        "seq_id",
        "tokens",
        F.coalesce(F.col("bnds"), F.array().cast("array<bigint>")).alias(
            "bnds"
        ),
    )
    windows = seqs.filter(F.size("tokens") >= ngram).select(
        "shard",
        "seq_id",
        "tokens",
        "bnds",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                (F.size("tokens") - ngram).cast("bigint"),
            )
        ).alias("p"),
    )
    return windows.select(
        "shard",
        "seq_id",
        F.concat_ws(
            sep, F.slice(F.col("tokens"), (F.col("p") + 1).cast("int"), ngram)
        ).alias("shingle"),
        F.exists(
            "bnds",
            lambda b: (b > F.col("p")) & (b <= F.col("p") + (ngram - 1)),
        ).alias("crosses"),
    )


class SeqShingleIndexSink(ParquetUpsertSink):
    """Maintains the packed-stream shingle postings, shard-granular."""

    def __init__(self, target: str, ngram: int = 3, sep: str = " "):
        super().__init__(target, key=["shard"])
        self.ngram = int(ngram)
        self.sep = sep
        self._ctx = None

    def _params_fingerprint(self) -> dict:
        # all SEMANTIC: the window width changes every posting row, the
        # joiner changes shingle equality itself (piece space), and the
        # posting representation (h60 since round 15) changes the
        # table's join column — a raw-shingle state must refuse
        return {"ngram": self.ngram, "sep": self.sep,
                "shingle_repr": "h60"}

    # -- maintenance -------------------------------------------------------
    def sync(
        self,
        spark,
        shard_sink,
        corpus: DataFrame,
        batch_id: int,
        shards: set[int] | None = None,
    ) -> None:
        """Bring the posting table up to the CURRENT layout of
        `shard_sink`: recompute exactly the given touched shards (or
        everything when `shards` is None / no state exists — bootstrap
        and healing), hard-link the rest.  Exactly-once per batch id
        via the inherited ledger; replays no-op."""
        self._ctx = (shard_sink, corpus, shards)
        # the batch frame is a ledger-shape placeholder — the real
        # input is the shard sink's persisted layout plus the corpus
        self.apply_batch(
            spark.createDataFrame([], "shard bigint"), batch_id
        )

    def _postings(
        self, spark, shard_sink, corpus: DataFrame,
        shards: set[int] | None,
    ) -> DataFrame:
        from vcf_pg_loader_spark.operators.shards import shard_sequences

        shard_list = sorted(shards) if shards is not None else None
        seqs = shard_sink.materialize_sequences(
            spark, corpus, shards=shard_list
        )
        lay = shard_sink.layout(spark)
        if shards is not None:
            lay = lay.filter(isin_values(F.col("shard"), shards))
        spans = shard_sequences(lay, shard_sink.seq_len)
        sh = sequence_shingle_table(seqs, spans, self.ngram, self.sep)
        # store the 60-bit hash, not the raw joined window: fixed 8
        # bytes per posting instead of O(ngram x token) strings
        return sh.select(
            "shard",
            "seq_id",
            h60(F.col("shingle"), SHINGLE_SALT).alias("sh60"),
            "crosses",
        )

    def _apply(self, batch_df: DataFrame, batch_id: int, held: list) -> int:
        spark = batch_df.sparkSession
        shard_sink, corpus, shards = self._ctx
        if self._table_raw(spark, "post") is None:
            shards = None  # no state yet: full build regardless
        post = self._postings(spark, shard_sink, corpus, shards)
        prune = None
        if shards is not None:
            # touched shard partitions rewrite; every other shard dir
            # hard-links through the swap — a shard's postings are a
            # pure function of its packed stream, which only moves when
            # the layout delta touched it
            prune = {f"shard={s}" for s in shards}
        return self._swap_in_frames(
            {"post": post},
            batch_id,
            count_table="post",
            partition_by={"post": ["shard"]},
            prune={"post": prune},
        )

    # -- serving -----------------------------------------------------------
    def postings(self, spark) -> DataFrame:
        post = self._table(spark, "post")
        if post is None:
            raise FileNotFoundError(
                f"no maintained state at {self.target}; sync a batch first"
            )
        return post

    def serve(self, spark, eval_shingles: DataFrame) -> DataFrame:
        """(shard, seq_id, n_hits, n_cross_boundary) for every packed
        sequence containing an eval shingle — the q_seq_decontam result
        shape, one broadcast join + one keyed aggregation against the
        maintained postings (no sequence re-assembly, no corpus
        read)."""
        ev = (
            eval_shingles.select(
                h60(F.col("shingle"), SHINGLE_SALT).alias("sh60")
            )
            .distinct()
        )
        return (
            self.postings(spark)
            .join(F.broadcast(ev), "sh60")
            .groupBy("shard", "seq_id")
            .agg(
                F.count(F.lit(1)).alias("n_hits"),
                F.sum(F.col("crosses").cast("bigint")).alias(
                    "n_cross_boundary"
                ),
            )
        )
