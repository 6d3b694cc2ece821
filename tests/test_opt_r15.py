"""Round-15 optimization pins: restructured operators must produce
bit-identical results to their pre-optimization formulations.

Each test spells the ORIGINAL (pre-optimization) plan shape inline as
the reference and asserts the production operator matches it exactly —
so the optimized internals (shared aggregates, persisted subtrees,
single-pass counters) can never drift from the semantics the oracle
pins.
"""

from __future__ import annotations

from pyspark.sql import functions as F


class TestDocNLLRestructure:
    """operators/lm.py doc_nll: c1 and the vocabulary size are now
    derived from the (persisted, vocabulary-sized) c12 table instead of
    three independent corpus-wide bigram aggregations — guide §2.3
    'aggregate before you shuffle' / §5 reuse.  c(w1) == Σ_w2 c12 and
    |distinct w2| are identities over the same bigram multiset, so the
    NLL doubles must match bit-for-bit."""

    ROWS = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox naps under the old tree"),
        (3, "zq xv jk wp mn bg td lr cs fh"),
        (4, "one two one two one two one two"),
        (5, "solo"),
        (6, ""),
    ]

    def _reference_nll(self, docs, k=0.5):
        # the pre-optimization formulation, verbatim: four independent
        # passes over the exploded bigram frame
        toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        n1 = F.greatest(F.size(toks) - 1, F.lit(0))
        grams = F.zip_with(
            F.slice(toks, 1, n1),
            F.slice(toks, 2, n1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        bg = docs.select(F.col("doc_id"), F.explode(grams).alias("g")).select(
            "doc_id", "g.w1", "g.w2"
        )
        c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
        c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
        vocab = bg.select("w2").distinct().agg(F.count(F.lit(1)).alias("v"))
        logprob = F.log(
            (F.col("c12") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("v"))
        )
        return (
            bg.join(c12, ["w1", "w2"])
            .join(c1, "w1")
            .crossJoin(F.broadcast(vocab))
            .select(F.col("doc_id"), logprob.alias("lp"))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_bigrams"),
                F.round(
                    -(
                        F.sum(F.col("lp").cast("decimal(24,12)")).cast(
                            "double"
                        )
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("nll"),
            )
        )

    def test_doc_nll_matches_four_pass_reference(self, spark):
        from vcf_pg_loader_spark.operators.lm import doc_nll

        docs = spark.createDataFrame(self.ROWS, "doc_id bigint, text string")
        got = {
            r.doc_id: (r.n_bigrams, r.nll)
            for r in doc_nll(docs).collect()
        }
        want = {
            r.doc_id: (r.n_bigrams, r.nll)
            for r in self._reference_nll(docs).collect()
        }
        assert got == want
        spark.catalog.clearCache()

    def test_bigram_model_tables_match_direct_aggregations(self, spark):
        from vcf_pg_loader_spark.operators.lm import bigram_model

        docs = spark.createDataFrame(self.ROWS, "doc_id bigint, text string")
        c12, c1, vocab = bigram_model(docs)
        c12_rows = {(r.w1, r.w2): r.c12 for r in c12.collect()}
        # c1 must equal the direct per-w1 bigram count
        direct_c1 = {}
        for (w1, _w2), c in c12_rows.items():
            direct_c1[w1] = direct_c1.get(w1, 0) + c
        assert {r.w1: r.c1 for r in c1.collect()} == direct_c1
        # vocab must equal |distinct w2|
        assert vocab.collect()[0].v == len({w2 for _w1, w2 in c12_rows})
        spark.catalog.clearCache()


class TestDsirBucketStatsRestructure:
    """q_dsir_weights (queries/pipeline.py): the target/source bucket
    totals now come from ONE conditional-count aggregation over the
    exploded grams with the grand totals window-attached, replacing
    three independent corpus passes — guide §1.2/§2.3.  The identity:
    summing per-(doc, bucket) counts over docs equals counting gram
    rows per bucket (filtered to target docs for nt), and the window
    totals equal the scalar-aggregate totals, so every operand double
    of the log-ratio is bit-identical.  Pinned here against the
    pre-optimization three-branch formulation on an inline corpus."""

    ROWS = [
        (1, "alpha beta gamma alpha", "en"),
        (2, "beta gamma delta", "en"),
        (3, "alpha beta", "fr"),
        (4, "delta epsilon zeta eta theta", "de"),
        (5, "alpha alpha alpha", "en"),
        (6, "", "en"),
    ]

    def _reference_lr(self, docs):
        # the pre-optimization formulation, verbatim
        from pyspark.sql import functions as F

        from vcf_pg_loader_spark.queries.pipeline import (
            DSIR_ALPHA,
            DSIR_BUCKETS,
            DSIR_TARGET_LANG,
            _dsir_features,
        )

        feats = _dsir_features(docs)
        target_ids = docs.filter(
            F.col("lang") == DSIR_TARGET_LANG
        ).select("doc_id")
        tgt = (
            feats.join(target_ids, "doc_id", "left_semi")
            .groupBy("b")
            .agg(F.sum("n").alias("nt"))
        )
        src = feats.groupBy("b").agg(F.sum("n").alias("ns"))
        tt = tgt.agg(F.sum("nt").alias("Tt"))
        ts = src.agg(F.sum("ns").alias("Ts"))
        a, m = DSIR_ALPHA, DSIR_BUCKETS
        return (
            src.join(tgt, "b", "left")
            .crossJoin(F.broadcast(tt))
            .crossJoin(F.broadcast(ts))
            .select(
                "b",
                (
                    F.log(
                        (F.coalesce(F.col("nt"), F.lit(0)) + F.lit(a))
                        / (F.col("Tt") + F.lit(a * m))
                    )
                    - F.log(
                        (F.col("ns") + F.lit(a)) / (F.col("Ts") + F.lit(a * m))
                    )
                ).alias("lr"),
            )
        )

    def test_single_pass_weights_match_three_branch_reference(self, spark):
        from pyspark.sql import functions as F

        from vcf_pg_loader_spark.queries.pipeline import _dsir_features

        docs = spark.createDataFrame(
            self.ROWS, "doc_id bigint, text string, lang string"
        )
        lr = self._reference_lr(docs)
        want = {
            r.doc_id: r.log_weight
            for r in (
                _dsir_features(docs)
                .join(F.broadcast(lr), "b")
                .groupBy("doc_id")
                .agg(
                    F.round(
                        F.sum(
                            (F.col("n") * F.col("lr")).cast("decimal(24,12)")
                        ).cast("double"),
                        6,
                    ).alias("log_weight")
                )
            ).collect()
        }
        # production path: write docs as the documents table of a tmp
        # sf dir so q_dsir_weights runs verbatim
        import os
        import tempfile

        from vcf_pg_loader_spark.queries.pipeline import q_dsir_weights

        with tempfile.TemporaryDirectory() as d:
            docs.withColumn("source", F.lit("s")).withColumn(
                "n_chars", F.length("text")
            ).write.parquet(os.path.join(d, "documents.parquet"))
            got = {
                r.doc_id: r.log_weight
                for r in q_dsir_weights(spark, d).collect()
            }
        assert got == want
        spark.catalog.clearCache()


class TestIvfAssignRestructure:
    """operators/similarity.py _ivf_assign / _ivf_rank_centroids and
    operators/pq.py pq_encode: the crossJoin-against-centroid-rows +
    groupBy(vid)/window formulations are now row-local array folds over
    ONE broadcast centroid-array row — guide §2.4 'remove shuffles
    outright'.  array_min / array_sort over (d, cid) structs compare
    field-by-field, so the winners are exactly the old
    min(struct(d, cid)) / ROW_NUMBER() ORDER BY d, cid picks; the
    distance arithmetic is written identically, so assignments, ranks
    and PQ codes must match bit-for-bit — and the new plans must carry
    ZERO Exchange (the corpus never shuffles to be assigned/encoded)."""

    def _emb(self, spark, n=40, d=8):
        rows = [
            (i, [((i * 7 + j * 13) % 19) - 9.0 + 0.25 * j for j in range(d)])
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        )

    def _reference_assign(self, vecs, cents, kernel="exact"):
        # the pre-optimization formulation, verbatim: corpus × centroids
        # broadcast cross join, hash-aggregate argmin keyed on vid
        from vcf_pg_loader_spark.operators.similarity import _dot

        dot = _dot(kernel)
        scored = vecs.crossJoin(F.broadcast(cents)).select(
            "vid",
            "vec",
            "vv",
            "cid",
            (
                (F.col("vv") - F.lit(2.0) * dot(F.col("vec"), F.col("cvec")))
                + F.col("cc")
            ).alias("d"),
        )
        return (
            scored.groupBy("vid")
            .agg(
                F.first("vec").alias("vec"),
                F.first("vv").alias("vv"),
                F.min(F.struct("d", "cid")).alias("_m"),
            )
            .select("vid", "vec", "vv", F.col("_m.cid").alias("cid"))
        )

    def test_assign_matches_reference_bitwise(self, spark):
        from vcf_pg_loader_spark.operators.similarity import (
            _ivf_assign,
            _prep_vectors,
        )

        emb = self._emb(spark)
        vecs = _prep_vectors(emb, "vec_id", "embedding")
        cents = vecs.orderBy("vid").limit(5).select(
            F.col("vid").alias("cid"),
            F.col("vec").alias("cvec"),
            F.col("vv").alias("cc"),
        )
        got = {
            r.vid: r.cid for r in _ivf_assign(vecs, cents).collect()
        }
        want = {
            r.vid: r.cid
            for r in self._reference_assign(vecs, cents).collect()
        }
        assert got == want

    def test_rank_matches_window_reference(self, spark):
        from pyspark.sql.window import Window

        from vcf_pg_loader_spark.operators.similarity import (
            _dot,
            _ivf_rank_centroids,
            _prep_vectors,
        )

        emb = self._emb(spark, n=12)
        vecs = _prep_vectors(emb, "vec_id", "embedding")
        cents = vecs.orderBy("vid").limit(4).select(
            F.col("vid").alias("cid"),
            F.col("vec").alias("cvec"),
            F.col("vv").alias("cc"),
        )
        dot = _dot("exact")
        scored = vecs.crossJoin(F.broadcast(cents)).select(
            "vid",
            "cid",
            (
                (F.col("vv") - F.lit(2.0) * dot(F.col("vec"), F.col("cvec")))
                + F.col("cc")
            ).alias("d"),
        )
        w = Window.partitionBy("vid").orderBy(F.asc("d"), F.asc("cid"))
        want = {
            (r.vid, r.cid): r.rn
            for r in scored.withColumn(
                "rn", F.row_number().over(w)
            ).collect()
        }
        got = {
            (r.vid, r.cid): r.rn
            for r in _ivf_rank_centroids(vecs, cents).collect()
        }
        assert got == want

    def test_assign_and_encode_plans_have_no_exchange(self, spark):
        from vcf_pg_loader_spark.operators.pq import pq_encode, pq_fit
        from vcf_pg_loader_spark.operators.similarity import (
            _ivf_assign,
            _prep_vectors,
        )

        emb = self._emb(spark)
        vecs = _prep_vectors(emb, "vec_id", "embedding")
        cents = vecs.orderBy("vid").limit(5).select(
            F.col("vid").alias("cid"),
            F.col("vec").alias("cvec"),
            F.col("vv").alias("cc"),
        )
        assigned = _ivf_assign(vecs, cents)
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        # the one-row centroid-array aggregate pays a SinglePartition
        # exchange of k rows inside the broadcast subtree; the corpus
        # itself must never shuffle (no hash partitioning anywhere)
        assert "hashpartitioning" not in plan

        books = pq_fit(emb, m=4, k_sub=4)
        codes = pq_encode(emb, books, m=4)
        plan = codes._jdf.queryExecution().executedPlan().toString()
        # the codebook subtree may aggregate (it is k-sized); the corpus
        # side must not shuffle: no hashpartitioning on vid anywhere
        assert "hashpartitioning(vid" not in plan

    def test_pq_codes_match_reference(self, spark):
        from vcf_pg_loader_spark.operators.pq import (
            _subvector,
            pq_encode,
            pq_fit,
        )
        from vcf_pg_loader_spark.operators.similarity import dot_fast

        emb = self._emb(spark, n=24, d=8)
        m, k_sub = 4, 4
        books = pq_fit(emb, m=m, k_sub=k_sub)
        got = {
            r.vid: list(r.codes) for r in pq_encode(emb, books, m=m).collect()
        }
        # reference: the pre-optimization per-subspace loop, verbatim
        vecs = emb.select(
            F.col("vec_id").alias("vid"),
            F.transform(
                F.col("embedding"), lambda x: x.cast("double")
            ).alias("vec"),
        )
        parts = None
        for sub in range(m):
            sv = vecs.select(
                "vid", _subvector(F.col("vec"), m, sub).alias("sv")
            )
            scored = sv.join(
                F.broadcast(books.filter(F.col("sub") == sub)), how="cross"
            ).select(
                "vid",
                F.lit(sub).alias("sub"),
                "code",
                (
                    dot_fast(F.col("sv"), F.col("sv"))
                    - 2.0 * dot_fast(F.col("sv"), F.col("cvec"))
                    + dot_fast(F.col("cvec"), F.col("cvec"))
                ).alias("d"),
            )
            best = scored.groupBy("vid", "sub").agg(
                F.min(F.struct("d", "code")).alias("_m")
            )
            part = best.select("vid", "sub", F.col("_m.code").alias("code"))
            parts = part if parts is None else parts.unionByName(part)
        want = {
            r.vid: list(r.codes)
            for r in parts.groupBy("vid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("sub", "code"))
                ).alias("_sc")
            )
            .select(
                "vid",
                F.transform(F.col("_sc"), lambda s: s.code).alias("codes"),
            )
            .collect()
        }
        assert got == want


class TestCmsPreaggRestructure:
    """operators/sketch.py cms_partial: multiplicities are now summed
    per DISTINCT value BEFORE the md5-derived h60 hash and the rowpos
    explode — guide §2.3 'aggregate before you shuffle'.  Count-Min
    counters are linear, so Σ_occurrences m == Σ_values (Σ m per value)
    per (row, pos): exact integers, the sketch must match the
    per-occurrence formulation bit-for-bit, signed multiplicities
    included."""

    def _reference_partial(self, df, value_col, rows, width, mult_col):
        # the pre-optimization formulation, verbatim: hash + explode per
        # occurrence, one terminal (row, pos) aggregation
        from vcf_pg_loader_spark.functions.hashing import h60
        from vcf_pg_loader_spark.operators.sketch import _cms_rowpos_pairs

        m = (
            F.col(mult_col).cast("bigint")
            if mult_col
            else F.lit(1).cast("bigint")
        )
        return (
            df.filter(F.col(value_col).isNotNull())
            .select(
                h60(F.col(value_col), salt="cms:").alias("_h"), m.alias("_m")
            )
            .select(
                F.col("_m"),
                F.explode(
                    _cms_rowpos_pairs(F.col("_h"), rows, width)
                ).alias("_rp"),
            )
            .select(
                F.col("_rp.row").alias("row"),
                F.col("_rp.pos").alias("pos"),
                "_m",
            )
            .groupBy("row", "pos")
            .agg(F.sum("_m").alias("cnt"))
        )

    def test_partial_matches_reference_with_signed_mults(self, spark):
        from vcf_pg_loader_spark.operators.sketch import cms_partial

        rows = [
            ("alpha", 1), ("alpha", 1), ("beta", 1), ("gamma", 1),
            ("alpha", -1), ("beta", -1), ("beta", 1), ("delta", -1),
            (None, 1), ("gamma", 1), ("alpha", 1),
        ]
        df = spark.createDataFrame(rows, "token string, zmult bigint")
        got = {
            (r.row, r.pos): r.cnt
            for r in cms_partial(
                df, "token", rows=4, width=64, mult_col="zmult"
            ).collect()
        }
        want = {
            (r.row, r.pos): r.cnt
            for r in self._reference_partial(
                df, "token", 4, 64, "zmult"
            ).collect()
        }
        assert got == want

    def test_partial_matches_reference_unit_mult(self, spark):
        from vcf_pg_loader_spark.operators.sketch import cms_partial

        df = spark.createDataFrame(
            [(t,) for t in "a b c a b a d e f a".split()], "token string"
        )
        got = {
            (r.row, r.pos): r.cnt
            for r in cms_partial(df, "token", rows=4, width=32).collect()
        }
        want = {
            (r.row, r.pos): r.cnt
            for r in self._reference_partial(
                df, "token", 4, 32, None
            ).collect()
        }
        assert got == want
