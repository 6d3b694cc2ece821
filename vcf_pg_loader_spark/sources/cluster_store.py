"""Persisted dedup cluster assignments: compute once, serve keep-decisions
many times.

The near-dup pipeline (operators/dedup.py) is two very different costs
glued together: MinHash-LSH + connected components is the expensive,
iterative, corpus-scanning half; the keep-decision is one left-anti join
against the (small) loser set.  Recomputing the first half on every
keep-decision call — what q_dedup_keep necessarily does for oracle
self-containment — is not what a production pipeline does: it
materializes the cluster table after each dedup run and serves every
downstream consumer (keep filters, cluster stats, dup-rate dashboards)
from the table.  Same build-once/serve-many shape as the IVF index in
sources/vector_index.py, applied to the other expensive structure.

Layout:
  clusters/  (node, comp)  — one row per doc that appears in ANY
                             near-dup pair; docs absent from the table
                             are singletons and always kept.  Tiny
                             relative to the corpus (only clustered
                             docs), so the serve join broadcasts.

Rebuild after corpus changes, like any secondary structure.  The write
is the stage → swap → heal protocol of vcf_pg_loader_spark/durable.py,
so readers never see a half-written table and a crash at any step is
recoverable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vcf_pg_loader_spark import durable


class DedupClusterStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.clusters_path = f"{self.root}/clusters"

    def exists(self) -> bool:
        durable.heal_dir(self.clusters_path)
        return os.path.isdir(self.clusters_path)

    # -- build ----------------------------------------------------------
    @durable.leased
    def write(self, components: DataFrame) -> None:
        """Persist a (node, comp) component labelling — the output of
        operators/dedup.py connected_components — atomically."""
        staging = durable.stage_dir(self.clusters_path)
        components.select("node", "comp").write.mode("overwrite").parquet(
            staging
        )
        durable.swap_dir(staging, self.clusters_path)

    # -- serve ----------------------------------------------------------
    def read(self) -> DataFrame:
        durable.heal_dir(self.clusters_path)
        return self.spark.read.parquet(self.clusters_path)

    def losers(self) -> DataFrame:
        """Docs to drop: every clustered doc except its component's
        canonical (min-id) member."""
        cc = self.read()
        return cc.where(F.col("node") != F.col("comp")).select("node")

    def serve_keep(self, df: DataFrame, id_col: str = "doc_id") -> DataFrame:
        """The keep-decision served from the persisted table: ONE
        left-anti join — the LSH/CC pipeline never re-runs.  Identical
        output to keep_canonical(df, <the components written>, id_col).

        No forced broadcast hint: the loser set is small relative to the
        corpus but NOT absolutely small at scale (100 TB with a 20-30%
        near-dup rate = billions of loser ids), and a forced
        `F.broadcast` bypasses AQE's size check and OOMs every executor.
        The losers read from parquet, so Spark has footer-size stats:
        AQE picks broadcast-hash when the table is genuinely under
        `spark.sql.autoBroadcastJoinThreshold` (plan-asserted at test
        scale in tests/test_cluster_store.py) and falls back to a
        shuffled anti join when it is not — same stance as
        dedup.keep_canonical."""
        losers = self.losers().withColumnRenamed("node", id_col)
        return df.join(losers, id_col, "left_anti")


class MaterializedTable:
    """Generic swap-atomic persisted result table — the shape every
    observability artifact here shares (funnel reports, drop
    attribution, dataset cards): compute once after a curation run,
    serve every dashboard/debug read from the parquet.  Same crash
    discipline as the cluster table above: stage beside the table, swap
    in atomically, heal on read after a crash."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.table_path = f"{self.root}/table"

    def exists(self) -> bool:
        durable.heal_dir(self.table_path)
        return os.path.isdir(self.table_path)

    @durable.leased
    def write(self, df: DataFrame) -> None:
        staging = durable.stage_dir(self.table_path)
        df.write.mode("overwrite").parquet(staging)
        durable.swap_dir(staging, self.table_path)

    def read(self) -> DataFrame:
        durable.heal_dir(self.table_path)
        return self.spark.read.parquet(self.table_path)
