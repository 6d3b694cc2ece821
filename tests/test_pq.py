"""Product quantization: encode determinism, reconstruction sanity, and
ADC search recall against exact brute force.

Random fixture embeddings are PQ's hardest case (no cluster structure
for codebooks to exploit), so the recall bound is deliberately modest —
the point is that compressed-domain ranking carries real signal (far
above chance) while never touching a corpus vector at search time.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators.pq import pq_encode, pq_fit, pq_topk
from vcf_pg_loader_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
M = 4
K_SUB = 16
TOP_K = 10
N_Q = 5


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def fitted(spark, emb):
    books = pq_fit(emb, M, K_SUB)
    codes = pq_encode(emb, books, M)
    return books, codes


class TestPQ:
    def test_codebook_shape(self, spark, emb, fitted):
        books, _ = fitted
        rows = books.groupBy("sub").count().collect()
        assert {r.sub for r in rows} == set(range(M))
        for r in rows:
            assert r["count"] <= K_SUB  # empty cells may drop
        dim = len(emb.first().embedding)
        assert len(books.first().cvec) == dim // M

    def test_codes_cover_corpus_deterministically(self, spark, emb, fitted):
        books, codes = fitted
        assert codes.count() == emb.count()
        assert codes.filter(F.size("codes") != M).count() == 0
        again = pq_encode(emb, books, M)
        diff = (
            codes.alias("a")
            .join(again.alias("b"), "vid")
            .filter(F.col("a.codes") != F.col("b.codes"))
            .count()
        )
        assert diff == 0  # encoding is a pure function

    def test_adc_recall_beats_chance(self, spark, emb, fitted):
        from pyspark.sql.window import Window

        from vcf_pg_loader_spark.operators.similarity import dot_fast

        books, codes = fitted
        queries = emb.filter(F.col("vec_id") < N_Q)
        got = pq_topk(codes, queries, books, TOP_K, M)
        assert got.groupBy("query_id").count().filter(
            F.col("count") != TOP_K
        ).count() == 0

        # exact L2 top-k (PQ approximates L2, not cosine)
        q = queries.select(
            F.col("vec_id").alias("query_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
        )
        c = emb.select(
            F.col("vec_id").alias("cand_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
        )
        d = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("cand_id") != F.col("query_id"))
            .withColumn(
                "dist",
                dot_fast(F.col("cv"), F.col("cv"))
                - 2.0 * dot_fast(F.col("cv"), F.col("qv"))
                + dot_fast(F.col("qv"), F.col("qv")),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("cand_id"))
        exact = d.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= TOP_K
        )
        g = {(r.query_id, r.cand_id) for r in got.collect()}
        e = {(r.query_id, r.cand_id) for r in exact.collect()}
        n_corpus = emb.count()
        recall = len(g & e) / len(e)
        chance = TOP_K / n_corpus
        assert recall >= max(0.15, 10 * chance), (recall, chance)


class TestIVFPQ:
    def test_composed_prune_and_rank(self, spark, emb):
        from vcf_pg_loader_spark.operators.pq import ivf_pq_topk

        queries = emb.filter(F.col("vec_id") < N_Q)
        got = ivf_pq_topk(emb, queries, TOP_K, k_centroids=8, nprobe=2, m=M)
        rows = got.collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r.query_id, []).append(r)
        assert set(per_q) == set(range(N_Q))
        for q, rs in per_q.items():
            assert len(rs) == TOP_K
            assert sorted(r.rn for r in rs) == list(range(1, TOP_K + 1))
            assert all(r.cand_id != q for r in rs)
        # determinism: same fit/encode/search twice -> same pairs
        again = {
            (r.query_id, r.cand_id)
            for r in ivf_pq_topk(
                emb, queries, TOP_K, k_centroids=8, nprobe=2, m=M
            ).collect()
        }
        assert {(r.query_id, r.cand_id) for r in rows} == again


class TestVectorIndex:
    def test_persisted_index_matches_direct_search(self, spark, emb, tmp_path):
        from vcf_pg_loader_spark.operators.pq import ivf_pq_topk
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        idx = VectorIndex(spark, str(tmp_path / "vidx"))
        idx.build(emb, k_centroids=8, m=M, k_sub=K_SUB)

        queries = emb.filter(F.col("vec_id") < N_Q)
        served = {
            (r.query_id, r.cand_id, r.rn)
            for r in idx.search(queries, TOP_K, nprobe=2).collect()
        }
        direct = {
            (r.query_id, r.cand_id, r.rn)
            for r in ivf_pq_topk(
                emb, queries, TOP_K, k_centroids=8, nprobe=2, m=M
            ).collect()
        }
        assert served == direct  # deterministic build: byte-equal artifacts

    def test_build_releases_its_fits(self, spark, emb, tmp_path, monkeypatch):
        """Once build swaps the index in, nothing its fits cached is
        left: not the IVF fit's vector prep or its centroid checkpoints
        (three rounds, so one is superseded), nor the PQ subspace fits'
        preps and checkpoints, nor the codebooks' checkpoint."""
        from tests.test_dedup_maint import _cache_state, _pin_cached_frames
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        spark.catalog.clearCache()
        _empty, rdds = _cache_state(spark)
        _pin_cached_frames(spark, monkeypatch)
        idx = VectorIndex(spark, str(tmp_path / "vidx"))
        idx.build(emb, k_centroids=8, m=M, k_sub=K_SUB, n_iter=3, pq=True)
        empty, after = _cache_state(spark)
        assert empty and after <= rdds, after - rdds
        assert idx.search(emb.filter(F.col("vec_id") < N_Q), TOP_K).count()

    def test_codes_partitioned_by_cell(self, spark, emb, tmp_path):
        import glob as g

        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        idx = VectorIndex(spark, str(tmp_path / "vidx"))
        idx.build(emb, k_centroids=8, m=M, k_sub=K_SUB)
        cells = g.glob(str(tmp_path / "vidx" / "codes" / "cid=*"))
        assert len(cells) >= 2  # nprobe pruning maps to directory pruning
        # the flat-serving corpus shares the same cid directory layout
        vcells = g.glob(str(tmp_path / "vidx" / "vectors" / "cid=*"))
        assert sorted(vcells) == sorted(
            c.replace("/codes/", "/vectors/") for c in cells
        )

    def test_flat_serving_matches_direct_ivf(self, spark, emb, tmp_path):
        """search_flat from the persisted index == ivf_topk run fresh
        over the corpus with the same params — the read-from-disk path
        q_ann_ivf_served puts under the driver's oracle."""
        from vcf_pg_loader_spark.operators.similarity import ivf_topk
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        idx = VectorIndex(spark, str(tmp_path / "vidx"))
        idx.build(emb, k_centroids=8, m=M, k_sub=K_SUB, kernel="exact")
        queries = emb.filter(F.col("vec_id") < N_Q)
        served = {
            (r.query_id, r.cand_id, r.cos_sim, r.rn)
            for r in idx.search_flat(queries, TOP_K, nprobe=2).collect()
        }
        direct = {
            (r.query_id, r.cand_id, r.cos_sim, r.rn)
            for r in ivf_topk(
                emb, queries, TOP_K, k_centroids=8, n_iter=2, nprobe=2
            ).collect()
        }
        assert served == direct  # exact ranks AND exact doubles

    def test_failed_rebuild_leaves_old_index_servable(
        self, spark, emb, tmp_path, monkeypatch
    ):
        """build() stages into a temp dir and swaps atomically: a crash
        mid-rebuild over an existing index must leave the OLD index
        fully intact and servable (meta/ present beside mixed old/new
        artifacts was the failure mode)."""
        import pytest as pt

        import vcf_pg_loader_spark.sources.vector_index as VI

        idx = VI.VectorIndex(spark, str(tmp_path / "vidx"))
        idx.build(emb, k_centroids=8, m=M, k_sub=K_SUB, kernel="exact", pq=False)
        queries = emb.filter(F.col("vec_id") < N_Q)
        before = sorted(
            map(tuple, idx.search_flat(queries, TOP_K, nprobe=2).collect())
        )
        # inject a crash AFTER centroids are staged but before the swap
        def boom(*a, **k):
            raise RuntimeError("injected mid-build crash")

        monkeypatch.setattr(VI, "pq_fit", boom)
        with pt.raises(RuntimeError):
            idx.build(emb, k_centroids=8, m=M, k_sub=K_SUB, pq=True)
        assert idx.exists()
        after = sorted(
            map(tuple, idx.search_flat(queries, TOP_K, nprobe=2).collect())
        )
        assert after == before

