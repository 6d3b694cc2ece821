"""Persisted BM25 inverted index: build once, serve keyword queries many
times — the sparse-retrieval sibling of the vector index
(sources/vector_index.py) and the dedup cluster table
(sources/cluster_store.py).

Layout (one swap-atomic directory, vcf_pg_loader_spark/durable.py):

  postings/ (term, doc_id, tf)  — partitioned by a hash bucket of the
                                  term so a query's terms prune to a few
                                  directories on disk (the postings-list
                                  seek, expressed as partition pruning)
  doclens/  (doc_id, dl)        — document lengths
  stats/    (n_docs, avgdl, df per term is derived at serve time from
             the pruned postings; corpus scalars are stored)

Serving a query = scan ONLY the probed term buckets, join doc lengths,
score with the same Okapi expression as operators/retrieval.py
bm25_topk — identical output (and the identical DuckDB oracle), without
re-tokenizing the corpus.  Rebuild after corpus changes, like every
secondary structure here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vcf_pg_loader_spark import durable

N_TERM_BUCKETS = 64


def _term_bucket(term) -> F.Column:
    return F.pmod(F.xxhash64(term), F.lit(N_TERM_BUCKETS))


class BM25Index:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    def _p(self, name: str) -> str:
        return f"{self.root}/{name}"

    def exists(self) -> bool:
        durable.heal_dir(self.root)
        return os.path.isdir(self._p("stats"))

    # -- build ----------------------------------------------------------
    @durable.leased
    def build(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> None:
        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        ).filter(F.col("term") != "")
        tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
        # n_docs counts ALL documents (retrieval.bm25_topk and its oracle
        # use COUNT(*) over the corpus); a doc whose text tokenizes to
        # zero terms still counts toward idf.  avgdl stays over doclens,
        # matching bm25_topk's avgdl aggregation exactly.
        stats = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
            dl.agg(
                (
                    F.sum(F.col("dl").cast("bigint")).cast("double")
                    / F.count(F.lit(1))
                ).alias("avgdl")
            )
        )
        staging = durable.stage_dir(self.root)
        (
            tf.withColumn("bucket", _term_bucket(F.col("term")))
            .repartition("bucket")
            .sortWithinPartitions("term", "doc_id")
            .write.partitionBy("bucket")
            .parquet(os.path.join(staging, "postings"))
        )
        dl.write.parquet(os.path.join(staging, "doclens"))
        stats.write.parquet(os.path.join(staging, "stats"))
        durable.swap_dir(staging, self.root)

    # -- serve ----------------------------------------------------------
    def search(
        self, terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75
    ) -> DataFrame:
        """Identical semantics (and output) to retrieval.bm25_topk run
        fresh over the corpus — but the scan touches only the query
        terms' postings buckets (partition pruning on `bucket`), plus
        the tiny doclens/stats tables."""
        postings = self.spark.read.parquet(self._p("postings"))
        buckets = sorted(
            {
                r.b
                for r in self.spark.createDataFrame(
                    [(t,) for t in terms], "term string"
                )
                .select(_term_bucket(F.col("term")).alias("b"))
                .collect()
            }
        )
        qtf = postings.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        ).select("doc_id", "term", "tf")
        dl = self.spark.read.parquet(self._p("doclens"))
        stats = self.spark.read.parquet(self._p("stats"))
        df_ = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        norm = F.col("tf") + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl"))
        )
        contrib = idf * ((F.col("tf") * F.lit(k1 + 1.0)) / norm)
        scored = (
            qtf.join(F.broadcast(df_), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select(F.col("doc_id"), contrib.alias("contrib"))
            .groupBy("doc_id")
            .agg(
                F.round(
                    F.sum(F.col("contrib").cast("decimal(24,12)")).cast(
                        "double"
                    ),
                    6,
                ).alias("score")
            )
        )
        top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return top.withColumn("rn", F.row_number().over(w)).select(
            "doc_id", "score", "rn"
        )
