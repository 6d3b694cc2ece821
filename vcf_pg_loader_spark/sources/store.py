"""Variant store: chromosome-partitioned Parquet + load audit + idempotent
reload.

Reference semantics: loader.py — SHA-256 file hash (loader.py:73-83),
skip-or-replace on re-load of the same file (loader.py:182-252), audit
rows with UUID batch ids (schema.py:205-241; loader.py:518-575).

Physical layout = the reference's LIST-partitioning (schema.py:186-203)
as Parquet `partitionBy('chrom')`, with rows sorted by pos within files
so parquet min/max stats give range-query data skipping (the GiST-index
analogue).  Idempotent reload = filter-out-batch + append, expressed as a
dynamic partition overwrite of only the touched chromosomes.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vcf_pg_loader_spark import durable


def compute_file_hash(path: str, chunk_size: int = 1 << 20) -> str:
    """Streaming SHA-256 of an input file (loader.py:73-83)."""
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        while chunk := fh.read(chunk_size):
            h.update(chunk)
    return h.hexdigest()


@dataclass
class LoadResult:
    batch_id: str
    variants_loaded: int
    skipped: bool
    file_hash: str
    duration_sec: float


class VariantStore:
    """Parquet-backed variant store with audit + idempotent reload."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.variants_path = f"{self.root}/variants"
        self.audit_path = f"{self.root}/audit"

    # -- audit ----------------------------------------------------------
    def _read_audit(self) -> list[dict]:
        if not os.path.exists(self.audit_path):
            return []
        out = []
        for name in sorted(os.listdir(self.audit_path)):
            if name.endswith(".json"):
                with open(os.path.join(self.audit_path, name)) as fh:
                    out.append(json.load(fh))
        return out

    def _write_audit(self, rec: dict) -> None:
        os.makedirs(self.audit_path, exist_ok=True)
        durable.write_json_atomic(
            os.path.join(self.audit_path, f"{rec['batch_id']}.json"), rec
        )

    def audit_frame(self) -> DataFrame:
        rows = self._read_audit()
        if not rows:
            return self.spark.createDataFrame(
                [],
                "batch_id string, source_file string, file_hash string, "
                "n_variants long, status string, completed_at double",
            )
        return self.spark.createDataFrame(rows)

    def find_existing(self, file_hash: str) -> dict | None:
        """Previous completed load of the same content (loader.py:182-200)."""
        done = [
            r
            for r in self._read_audit()
            if r["file_hash"] == file_hash and r["status"] == "completed"
        ]
        return done[-1] if done else None

    # -- load -----------------------------------------------------------
    @durable.leased
    def load(
        self,
        variants: DataFrame,
        source_file: str,
        *,
        force: bool = False,
    ) -> LoadResult:
        """Append a decomposed variants frame under a fresh batch id.

        Same-content reloads are skipped unless force=True, in which case
        the old batch's rows are replaced (delete-then-append semantics,
        loader.py:230-252).

        The batch is audited as "loading" before its rows are appended
        and as "completed" after, so a load that crashed in between is
        recognisable: the next load drops its rows and marks it
        "aborted" before appending anything (and the temp file of a
        "loading" record a crash cut is dropped)."""
        t0 = time.time()
        durable.heal_dir(self.variants_path)
        durable.drop_tmp(self.audit_path)
        file_hash = compute_file_hash(source_file)
        existing = self.find_existing(file_hash)
        if existing and not force:
            return LoadResult(
                existing["batch_id"], 0, True, file_hash, time.time() - t0
            )
        for rec in self._read_audit():
            if rec["status"] == "loading":
                self._delete_batch(rec["batch_id"])
                self._write_audit({**rec, "status": "aborted"})
        if existing and force:
            self._delete_batch(existing["batch_id"])

        batch_id = str(uuid.uuid4())
        rec = {
            "batch_id": batch_id,
            "source_file": source_file,
            "file_hash": file_hash,
            "n_variants": 0,
            "status": "loading",
            "completed_at": time.time(),
        }
        self._write_audit(rec)
        df = variants.withColumn("load_batch_id", F.lit(batch_id))
        # sortWithinPartitions(pos): parquet row-group min/max stats then
        # prune range scans — the GiST analogue (SURVEY §4 index strategy)
        (
            df.repartition("chrom")
            .sortWithinPartitions("pos")
            .write.mode("append")
            .partitionBy("chrom")
            .parquet(self.variants_path)
        )
        n = self.read().filter(F.col("load_batch_id") == batch_id).count()
        self._write_audit(
            {
                **rec,
                "n_variants": n,
                "status": "completed",
                "completed_at": time.time(),
            }
        )
        return LoadResult(batch_id, n, False, file_hash, time.time() - t0)

    @durable.leased
    def delete_batch(self, batch_id: str) -> None:
        """Remove one batch (DELETE WHERE load_batch_id=...,
        loader.py:249-252): rewrite only the touched chromosome
        partitions into staging, hard-link the untouched ones beside
        them, and swap the whole variants directory (durable.py).

        NB: dynamic partition overwrite alone is NOT enough — a partition
        whose rows are all deleted produces no output partition and would
        silently survive.  A transactional table format (Delta/Iceberg
        DELETE) is the production-cluster path; this filesystem swap is
        the plain-Parquet equivalent."""
        self._delete_batch(batch_id)

    def _delete_batch(self, batch_id: str) -> None:
        """delete_batch under the caller's lease."""
        durable.heal_dir(self.variants_path)
        if not os.path.isdir(self.variants_path):
            return
        df = self.read()
        touched = [
            r.chrom
            for r in df.filter(F.col("load_batch_id") == batch_id)
            .select("chrom")
            .distinct()
            .collect()
        ]
        if not touched:
            return
        keep = df.filter(
            F.col("chrom").isin(touched) & (F.col("load_batch_id") != batch_id)
        )
        staging = durable.stage_dir(self.variants_path)
        keep.write.mode("overwrite").partitionBy("chrom").parquet(staging)
        # a touched partition whose rows all belonged to the batch is in
        # neither the write nor the links, so it vanishes
        durable.link_partitions(
            self.variants_path, staging, {f"chrom={c}" for c in touched}
        )
        durable.swap_dir(staging, self.variants_path)

    def read(self) -> DataFrame:
        durable.heal_dir(self.variants_path)
        return self.spark.read.parquet(self.variants_path)

    # -- bucketed layout (co-located joins) ------------------------------
    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: list[str],
        n_buckets: int = 32,
    ) -> None:
        """Persist as a bucketed table: joins/aggregations on the bucket
        key skip their shuffle entirely (both sides pre-partitioned).

        The Spark-native answer to the reference's hash-partitioned
        tables for parallel aggregation (genotypes/schema.py:38-48) —
        asserted shuffle-free in tests/test_plans.py."""
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .option("path", f"{self.root}/tables/{table}")
            .saveAsTable(table)
        )

    def read_as_of(self, ts: float) -> DataFrame:
        """Snapshot read: only rows from batches whose load COMPLETED at
        or before `ts` (epoch seconds) — time travel over the audit
        trail, since every row carries its load_batch_id.

        Holds as long as history is append-only; `delete_batch`/`force`
        reloads physically remove rows, so a snapshot older than the
        earliest surviving batch is partial (the audit records what was
        deleted).  A transactional table format's version travel is the
        production twin."""
        batches = [
            r["batch_id"]
            for r in self._read_audit()
            if r["status"] == "completed" and r["completed_at"] <= ts
        ]
        if not batches:
            return self.read().limit(0)
        return self.read().filter(F.col("load_batch_id").isin(batches))

    # -- maintenance ----------------------------------------------------
    @durable.leased
    def compact(self, target_rows_per_file: int = 1_000_000) -> dict:
        """Rewrite each chromosome partition into ~target-sized, pos-sorted
        files — the small-files compaction every append-heavy parquet
        table needs (each `load` appends its own files; a thousand loads
        otherwise mean a thousand tiny footers per partition, and scan
        task scheduling degenerates to file-open overhead at 100 TB).

        Row identity is untouched (same rows, same batch ids); only the
        physical layout changes, restoring the pos-sort that gives range
        queries their row-group skipping after interleaved appends.
        Stage-then-swap of the variants directory, like delete_batch; a
        transactional format's OPTIMIZE/rewrite_data_files is the
        cluster-native twin.
        """
        durable.heal_dir(self.variants_path)
        df = self.read()
        counts = {
            r["chrom"]: r["n"]
            for r in df.groupBy("chrom").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        if not counts:
            return {"partitions": 0, "rows": 0}
        staging = durable.stage_dir(self.variants_path)
        (
            df.repartition("chrom")
            .sortWithinPartitions("pos")
            .write.mode("overwrite")
            .option(
                "maxRecordsPerFile", str(max(1, int(target_rows_per_file)))
            )
            .partitionBy("chrom")
            .parquet(staging)
        )
        durable.swap_dir(staging, self.variants_path)
        return {"partitions": len(counts), "rows": sum(counts.values())}

    def file_count(self) -> int:
        """Data files currently backing the store (compaction metric)."""
        n = 0
        for root, _dirs, files in os.walk(self.variants_path):
            n += sum(f.endswith(".parquet") for f in files)
        return n

    # -- query surface (reference latency tests, test_query_latency.py) --
    def query_region(self, chrom: str, start: int, end: int) -> DataFrame:
        """Region query: partition pruning on chrom + row-group min/max
        skipping on pos (the GiST-range-index analogue; rows were sorted
        by pos at write time)."""
        return self.read().filter(
            (F.col("chrom") == chrom)
            & (F.col("pos") >= start)
            & (F.col("pos") <= end)
        )

    def lookup_variant(self, chrom: str, pos: int) -> DataFrame:
        """Single-site lookup (reference <5ms point query; here a pruned
        single-partition scan with pos skipping)."""
        return self.query_region(chrom, pos, pos)

    def lookup_rsid(self, rs_id: str) -> DataFrame:
        """rsid lookup: served from the rsid-sorted secondary copy when
        one has been built (row-group min/max prune to ~one group — the
        reference's HASH-index analogue, schema.py:272), else a full
        column scan of the primary."""
        if os.path.isdir(self.rsid_index_path):
            return self.spark.read.parquet(self.rsid_index_path).filter(
                F.col("rs_id") == rs_id
            )
        return self.read().filter(F.col("rs_id") == rs_id)

    @property
    def rsid_index_path(self) -> str:
        return f"{self.root}/variants_by_rsid"

    @durable.leased
    def build_rsid_index(self, files: int = 32) -> None:
        """Materialize the rsid-sorted secondary copy (a "covering
        index": same rows, different sort).  `repartitionByRange` makes
        file-level min/max DISJOINT across files, so an rs_id equality
        prunes to one file and one row group inside it; rebuild after
        loads the way the reference recreates indexes post-COPY
        (loader.py:393-395).  Cost: one range exchange + sort — at
        100 TB run it per-partition-group or move to a transactional
        format's clustering."""
        staging = durable.stage_dir(self.rsid_index_path)
        (
            self.read()
            .repartitionByRange(files, "rs_id")
            .sortWithinPartitions("rs_id")
            .write.mode("overwrite")
            .parquet(staging)
        )
        durable.swap_dir(staging, self.rsid_index_path)

    def partition_stats(self) -> DataFrame:
        """Row counts per chromosome partition (reference
        partitions.py:12-32 get_partition_stats, catalog-free)."""
        return (
            self.read()
            .groupBy("chrom")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("pos").alias("min_pos"),
                F.max("pos").alias("max_pos"),
                F.countDistinct("load_batch_id").alias("n_batches"),
            )
        )
