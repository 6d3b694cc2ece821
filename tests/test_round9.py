"""Round-9 regressions: the four ADVICE items.

1. VectorIndex.apply_delta is DELETE-WINS for an id named by both the
   insert and delete frames of one delta (was insert-wins, silently
   diverging from the recompute-over-retained oracle).
2. Z-set consolidation keeps the batch's own id type (was hardcoded
   long, breaking string-keyed sinks) — now pinned on `zset_delta` in
   tests/test_dedup_maint.py.
3. Maintained sinks persist their parameter fingerprint and refuse a
   batch applied under different LSH/gate parameters (was silent state
   corruption); CLI defaults are pinned to the pipeline constants.
4. hash_sample_bounds stays a row-uniform sample under tie-heavy keys
   when the caller passes uniq_col (was value-level sampling only).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

BASE = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 3
NEAR = BASE.rsplit(" ", 1)[0] + " zulu"
OTHER = "one two three four five six seven eight nine ten " * 3


def _vecs(spark, ids):
    return spark.createDataFrame(
        [
            (
                i,
                [
                    float(x)
                    for x in np.random.default_rng(100 + i).normal(size=8)
                ],
            )
            for i in ids
        ],
        "vec_id int, embedding array<double>",
    )


class TestVectorIndexDeleteWins:
    def test_overlapping_insert_and_delete_in_one_delta(self, spark, tmp_path):
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        idx = VectorIndex(spark, str(tmp_path / "idx"))
        idx.build(_vecs(spark, range(32)), k_centroids=4, m=2, k_sub=4)
        # vid 5 arrives as an insert AND a delete in the SAME delta:
        # delete must win (Z-set consolidation; matches the
        # recompute-over-retained oracle semantics of q_ann_retract)
        idx.apply_delta(
            inserts=_vecs(spark, [5, 33]),
            delete_ids=spark.createDataFrame([(5,), (7,)], "vec_id int"),
        )
        vec_ids = {
            r.vid for r in spark.read.parquet(f"{idx.root}/vectors").collect()
        }
        code_ids = {
            r.vid for r in spark.read.parquet(f"{idx.root}/codes").collect()
        }
        expected = (set(range(32)) - {5, 7}) | {33}
        assert vec_ids == expected
        assert code_ids == expected
        # and the deleted ids never surface in a search
        got = {
            r.cand_id
            for r in idx.search_flat(_vecs(spark, [10]), k=31).collect()
        }
        assert 5 not in got and 7 not in got


class TestSinkParamsFingerprint:
    def test_mismatched_params_refused(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )

        target = str(tmp_path / "state")
        sink = DedupClusterMaintSink(target, ngram=3, k=16, bands=4)
        sink.apply_batch(
            spark.createDataFrame(
                [(1, BASE), (2, NEAR), (3, OTHER)],
                "doc_id bigint, text string",
            ),
            0,
        )
        # same params: fine (and replay is still a no-op)
        DedupClusterMaintSink(target, ngram=3, k=16, bands=4).apply_batch(
            spark.createDataFrame(
                [(4, "unrelated words entirely fresh content here " * 3)],
                "doc_id bigint, text string",
            ),
            1,
        )
        # different k: refused before any state is touched
        wrong = DedupClusterMaintSink(target, ngram=3, k=8, bands=4)
        with pytest.raises(ValueError, match="parameters"):
            wrong.apply_batch(
                spark.createDataFrame(
                    [(5, BASE)], "doc_id bigint, text string"
                ),
                2,
            )
        # the refused batch left the state servable and unchanged
        kept = {r.doc_id for r in sink.keep(spark).collect()}
        assert 4 in kept and 5 not in kept

    def test_funnel_sink_fingerprints_gate_threshold(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import FunnelReportSink

        target = str(tmp_path / "funnel")
        FunnelReportSink(target, nll_max=3.45).apply_batch(
            spark.createDataFrame(
                [(1, BASE), (2, OTHER)], "doc_id bigint, text string"
            ),
            0,
        )
        with pytest.raises(ValueError, match="parameters"):
            FunnelReportSink(target, nll_max=9.99).apply_batch(
                spark.createDataFrame(
                    [(3, NEAR)], "doc_id bigint, text string"
                ),
                1,
            )

    def test_cli_defaults_match_pipeline_constants(self):
        from vcf_pg_loader_spark.cli import build_parser
        from vcf_pg_loader_spark.queries.pipeline import (
            JACCARD_T,
            MINHASH_BANDS,
            MINHASH_K,
            NGRAM,
        )

        p = build_parser()
        for cmd in ("dedup-corpus", "retract-corpus"):
            extra = (
                ["corpus", "--out", "o", "--clusters", "c"]
                if cmd == "dedup-corpus"
                else ["--state", "s", "--batch-id", "0"]
            )
            ns = p.parse_args([cmd, *extra])
            assert ns.ngram == NGRAM
            assert ns.minhash_k == MINHASH_K
            assert ns.bands == MINHASH_BANDS
            assert ns.threshold == JACCARD_T


class TestHashSampleRowUniformity:
    def test_tie_heavy_key_balances_with_uniq_col(self, spark):
        from vcf_pg_loader_spark.operators.rank import hash_sample_bounds

        # 90% of rows share ONE key value; key_col alone cannot place a
        # bound inside the tie run, so pid assignment by (key > bound)
        # puts >=90% of rows in one partition.  With uniq_col the
        # sample is row-uniform — but bounds are still key VALUES, so
        # the test asserts the sample's rank coverage instead: the
        # bounds must bracket the tie value when ties dominate, and on
        # a composite (key, id) encoding they must SPLIT the tie run.
        n = 4000
        rows = [(i, 7 if i % 10 else 100 + i) for i in range(n)]
        df = spark.createDataFrame(rows, "id bigint, key bigint")
        # composite encoding, the length_batches shape: ties split by id
        keyed = df.withColumn(
            "_skey", F.col("key") * F.lit(1 << 24) + F.col("id")
        )
        # k < n so the sample is a real sample, not the whole dataset
        bounds = hash_sample_bounds(keyed, "_skey", 8, k=256, uniq_col="id")
        assert len(bounds) == 7
        pid = sum(
            (F.col("_skey") > F.lit(float(b))).cast("int") for b in bounds
        )
        sizes = [
            r.n
            for r in keyed.withColumn("_pid", pid)
            .groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        assert max(sizes) / (sum(sizes) / len(sizes)) < 2.0

    def test_uniq_col_restores_rank_uniform_quantiles(self, spark):
        from vcf_pg_loader_spark.operators.rank import hash_sample_bounds

        # Value-level sampling (no uniq_col) weights each VALUE once, so
        # with 90% ties the sampled median lands far above the true
        # rank-median (the tie value).  Row-uniform sampling must put
        # the median bound AT the tie value.
        n = 4000
        rows = [(i, 7 if i % 10 else 100 + i) for i in range(n)]
        df = spark.createDataFrame(rows, "id bigint, key bigint")
        # k=64 < the 401 distinct values; xxhash64(7) ranks ~155th of
        # 401, so value-level sampling keeps NO tie rows at all and the
        # median bound lands deep in the distinct tail (deterministic:
        # the hash is fixed) — while the row-uniform sample is ~90%
        # tie rows and puts the median bound AT the tie value.
        bounds_row = hash_sample_bounds(df, "key", 2, k=64, uniq_col="id")
        assert bounds_row == [7.0]
        bounds_val = hash_sample_bounds(df, "key", 2, k=64)
        assert bounds_val != [7.0]  # the documented failure mode
