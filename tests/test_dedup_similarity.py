"""Edge-case coverage for dedup/similarity operators.

The oracle queries exercise these on the sf corpora, whose documents are
all long; these tests pin the short-input semantics under Spark 4 ANSI
mode (bare element_at throws there) and check the DuckDB twins agree.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators.dedup import (
    minhash_lsh_dedup,
    shingles,
    simhash,
    sql_shingles,
)
from vcf_pg_loader_spark.operators.similarity import sign_bucket, sql_sign_bucket


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestShortDocShingles:
    ROWS = [
        (1, "only two"),
        (2, "a b c d"),
        (3, ""),
        (4, "one"),
        (5, "x y z"),
    ]

    def test_short_docs_yield_no_shingles(self, spark):
        out = shingles(_docs(spark, self.ROWS), "doc_id", "text", n=3)
        got = {(r.doc_id, r.shingle) for r in out.collect()}
        assert got == {(2, "a b c"), (2, "b c d"), (5, "x y z")}

    def test_matches_duckdb_twin(self, spark):
        out = shingles(_docs(spark, self.ROWS), "doc_id", "text", n=3)
        got = {(r.doc_id, r.shingle) for r in out.collect()}
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, '{t}')" for i, t in self.ROWS)
            + ") AS v(doc_id, text)"
        )
        want = set(map(tuple, con.execute(sql_shingles(3)).fetchall()))
        assert got == want

    def test_lsh_pipeline_survives_short_docs(self, spark):
        # Regression: this crashed with INVALID_ARRAY_INDEX_IN_ELEMENT_AT.
        out = minhash_lsh_dedup(
            _docs(spark, self.ROWS + [(6, "a b c d")]), threshold=0.5
        )
        pairs = {(r.d1, r.d2) for r in out.collect()}
        assert (2, 6) in pairs

    def test_row_local_sets_and_signatures_match_grouped(self, spark):
        """shingle_sets (one sorted array row per doc, no shuffle) holds
        exactly each doc's DuckDB sql_shingles rows, and
        minhash_signatures over it equals the DuckDB twin's grouped MIN
        of sql_mh_expr over those rows; a doc with no shingles gets an
        empty set and no signature."""
        from vcf_pg_loader_spark.functions.hashing import sql_h60
        from vcf_pg_loader_spark.operators import dedup as D

        rows = self.ROWS + [(6, "a b c d a b c"), (7, None)]
        sets = D.shingle_sets(_docs(spark, rows), "doc_id", "text", n=3)
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        sh_sql = sql_shingles(3)
        grouped = {
            i: (sorted(s), len(s))
            for i, s in con.execute(
                f"SELECT doc_id, list(shingle) FROM ({sh_sql}) GROUP BY 1"
            ).fetchall()
        }
        got = {r.doc_id: (list(r._set), r.n_sh) for r in sets.collect()}
        assert {i: v for i, v in got.items() if v[1]} == grouped
        assert {i for i, v in got.items() if not v[1]} == {1, 3, 4, 7}
        mins = ", ".join(
            f"MIN({D.sql_mh_expr('_h', i)}) AS mh{i}" for i in range(16)
        )
        want = con.execute(
            f"SELECT doc_id, {mins} FROM (SELECT doc_id, "
            f"{sql_h60('shingle', salt='mh:')} AS _h FROM ({sh_sql})) "
            "GROUP BY doc_id"
        ).fetchall()
        assert sorted(
            tuple(r) for r in D.minhash_signatures(sets, 16).collect()
        ) == sorted(want)

    def test_simhash_tolerates_single_token(self, spark):
        out = simhash(_docs(spark, [(1, "one"), (2, "a b")]), "doc_id", "text")
        assert out.count() == 2


class TestShortVectorSignBucket:
    def test_missing_components_count_non_positive(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, -2.0]), (2, [1.0, -2.0, 3.0, 4.0, -5.0, 6.0, 7.0, 8.0])],
            "vec_id bigint, embedding array<double>",
        )
        rows = {
            r.vec_id: r.bucket
            for r in df.select(
                "vec_id", sign_bucket(F.col("embedding"), bits=8).alias("bucket")
            ).collect()
        }
        assert rows[1] == 0b00000001
        assert rows[2] == 0b11101101

    def test_matches_duckdb_twin(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, -2.0]), (2, [0.5] * 3)],
            "vec_id bigint, embedding array<double>",
        )
        got = {
            r.vec_id: r.bucket
            for r in df.select(
                "vec_id", sign_bucket(F.col("embedding"), bits=8).alias("bucket")
            ).collect()
        }
        con = duckdb.connect()
        want = dict(
            con.execute(
                "SELECT vec_id, "
                + sql_sign_bucket("embedding", 8)
                + " FROM (VALUES (1, [1.0, -2.0]), (2, [0.5, 0.5, 0.5]))"
                " AS v(vec_id, embedding)"
            ).fetchall()
        )
        assert got == want


class TestPrefixFilteredJaccard:
    def test_equals_naive_self_join(self, spark):
        """Prefix filtering is a pruning, not an approximation: output
        must equal the naive all-pairs shingle self-join, including on a
        corpus with a hot shingle shared by every doc."""
        from vcf_pg_loader_spark.operators.dedup import (
            jaccard_pairs,
            prefix_filtered_jaccard_pairs,
            shingle_sets,
        )

        hot = "the quick brown"
        rows = [
            (1, f"{hot} fox jumps over the lazy dog"),
            (2, f"{hot} fox jumps over the lazy cat"),
            (3, f"{hot} fox leaps over the lazy dog"),
            (4, f"{hot} entirely different tail of words here"),
            (5, "unrelated text with no overlap at all present"),
            (6, f"{hot} fox jumps over the lazy dog"),  # exact dup of 1
        ]
        sh = shingles(_docs(spark, rows), "doc_id", "text", n=3).persist()
        sets = shingle_sets(_docs(spark, rows), "doc_id", "text", n=3).persist()
        for t in (0.5, 0.8):
            naive = {tuple(r) for r in jaccard_pairs(sh, t).collect()}
            fast = {
                tuple(r) for r in prefix_filtered_jaccard_pairs(sets, t).collect()
            }
            assert fast == naive and (t > 0.5 or len(naive) > 0)
        sh.unpersist()
        sets.unpersist()


# --------------------------------------------------------------------------
# the MinHash-LSH pipeline: shingle_sets -> minhash_signatures ->
# lsh_band_table -> lsh_bucket_pairs -> verify_candidate_jaccard
# --------------------------------------------------------------------------
NGRAM_T = 3
K_T = 8
BANDS_T = 4
THRESH_T = 0.8


def _hyperdup_rows(n_dup=40):
    """One hyper-duplicated key (the adversarial shape the bucket-size
    valve is for: boilerplate crawled n times) plus a handful of
    distinct docs."""
    spam = "click here to accept all cookies and continue to the site"
    rows = [(i, spam) for i in range(n_dup)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog today"),
        (101, "pack my box with five dozen liquor jugs tonight"),
        (102, "sphinx of black quartz judge my vow carefully now"),
        (103, "how vexingly quick daft zebras jump around here"),
        (104, "bright vixens jump dozy fowl quack together loudly"),
    ]
    return rows


def _components(pairs_df):
    """Set-of-frozensets component partition from a verified pair frame."""
    from vcf_pg_loader_spark.operators import dedup as D

    cc = D.connected_components(pairs_df, "d1", "d2")
    comps = {}
    for r in cc.collect():
        comps.setdefault(r["comp"], set()).add(r["node"])
    return {frozenset(v) for v in comps.values()}


def _bands(docs, k=8, bands=4, n=3):
    """The band table of `docs` through the one pipeline."""
    from vcf_pg_loader_spark.operators import dedup as D

    sets = D.shingle_sets(docs, "doc_id", "text", n)
    return D.lsh_band_table(D.minhash_signatures(sets, k), k, bands)


class TestVerifyJaccardRestructure:
    """verify_candidate_jaccard: per-doc sorted shingle sets + row-local
    array_intersect must equal the row-expanded formulation (pair×shingle
    join + per-pair count + twice-joined sizes aggregation).  Sets hold
    distinct grams, so the intersection size and hence the rounded
    jaccard are bit-identical; zero-overlap candidates drop in both
    shapes."""

    def _reference_verify(self, cands, sh, threshold):
        # the row-expanded formulation over shingles() rows
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            cands.join(a, cands["d1"] == F.col("a.doc_id"))
            .join(
                b,
                (cands["d2"] == F.col("b.doc_id"))
                & (F.col("a.shingle") == F.col("b.shingle")),
            )
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sa = sizes.alias("sa")
        sb = sizes.alias("sb")
        return (
            inter.join(sa, F.col("d1") == F.col("sa.doc_id"))
            .join(sb, F.col("d2") == F.col("sb.doc_id"))
            .withColumn(
                "jaccard",
                F.round(
                    F.col("n_inter")
                    / (
                        F.col("sa.n_sh")
                        + F.col("sb.n_sh")
                        - F.col("n_inter")
                    ),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("d1", "d2", "n_inter", "jaccard")
        )

    def test_matches_reference_incl_zero_overlap_and_threshold_zero(
        self, spark
    ):
        from vcf_pg_loader_spark.operators.dedup import (
            shingle_sets,
            verify_candidate_jaccard,
        )

        docs = spark.createDataFrame(
            [
                (1, "a b c d e f g"),
                (2, "a b c d e f h"),
                (3, "a b c d e f g"),
                (4, "x y z w v u t"),
                (5, "p q r s"),
            ],
            "doc_id bigint, text string",
        )
        sh = shingles(docs, "doc_id", "text", 3)
        sets = shingle_sets(docs, "doc_id", "text", 3)
        cands = spark.createDataFrame(
            [(1, 2), (1, 3), (1, 4), (2, 3), (4, 5)],
            "d1 bigint, d2 bigint",
        )
        for t in (0.0, 0.5, 0.8):
            got = {
                tuple(r)
                for r in verify_candidate_jaccard(cands, sets, t).collect()
            }
            want = {
                tuple(r)
                for r in self._reference_verify(cands, sh, t).collect()
            }
            assert got == want, f"threshold {t}"
        # sanity: the zero-overlap pair (1,4) is absent even at t=0.0
        got0 = {
            (r.d1, r.d2)
            for r in verify_candidate_jaccard(cands, sets, 0.0).collect()
        }
        assert (1, 4) not in got0


class TestVerifyCandidateDocPrefilter:
    """verify_candidate_jaccard invariant: docs outside the candidate
    list can never affect the output (the two inner joins restrict to
    candidate ids), pinned on a corpus where most docs are NOT
    candidates, plus the empty-candidates edge.  This is the equivalence
    a semi-join prefilter of the sets would rely on — measured and
    rejected (see the kernel docstring) — kept as a pin so the invariant
    survives whatever shape the kernel takes next."""

    def test_non_candidate_docs_do_not_change_output(self, spark):
        from vcf_pg_loader_spark.operators.dedup import (
            shingle_sets,
            verify_candidate_jaccard,
        )

        rows = [(i, f"filler document number {i} with its own words {i}")
                for i in range(10, 40)]
        rows += [
            (1, "a b c d e f g"),
            (2, "a b c d e f h"),
            (3, "a b c d e f g"),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        sets = shingle_sets(docs, "doc_id", "text", 3)
        cands = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3)], "d1 bigint, d2 bigint"
        )
        got = {
            tuple(r)
            for r in verify_candidate_jaccard(cands, sets, 0.5).collect()
        }
        # reference: the same kernel fed ONLY the candidate docs' sets
        # (what the semi-join reduces it to) must equal the full-corpus
        # call — and both must contain the known duplicate pair
        sets_c = sets.filter(F.col("doc_id").isin(1, 2, 3))
        want = {
            tuple(r)
            for r in verify_candidate_jaccard(cands, sets_c, 0.5).collect()
        }
        assert got == want
        assert {(d1, d2) for (d1, d2, *_rest) in got} == {
            (1, 2), (1, 3), (2, 3)
        }

    def test_empty_candidates(self, spark):
        from vcf_pg_loader_spark.operators.dedup import (
            shingle_sets,
            verify_candidate_jaccard,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e")], "doc_id bigint, text string"
        )
        sets = shingle_sets(docs, "doc_id", "text", 3)
        cands = spark.createDataFrame([], "d1 bigint, d2 bigint")
        assert verify_candidate_jaccard(cands, sets, 0.0).count() == 0


class TestCappedSmallBucketArrayPairs:
    """lsh_bucket_pairs under a cap: small-bucket pairs come from a
    per-bucket sorted member array (bounded by the cap itself) instead
    of a second window execution feeding a bucket self-join.
    sort_array + suffix slicing enumerates exactly the d1 < d2 member
    pairs the self-join's a.doc_id < b.doc_id predicate emits, so the
    candidate set (and hence everything verified downstream) is
    identical; the star path for oversized buckets and the routed frame
    are untouched."""

    def _reference_capped(self, banded, cap):
        # the self-join formulation: window-sized band table self-joined
        # on the bucket keys
        from pyspark.sql import Window

        w = Window.partitionBy("band_id", "band_key")
        sized = banded.withColumn(
            "_sz", F.count(F.lit(1)).over(w)
        ).withColumn("_bmin", F.min("doc_id").over(w))
        small = sized.filter(F.col("_sz") <= cap).select(
            "doc_id", "band_id", "band_key"
        )
        a = small.alias("a")
        b = small.alias("b")
        pairs_small = a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        big = sized.filter(F.col("_sz") > cap)
        pairs_big = big.filter(F.col("doc_id") != F.col("_bmin")).select(
            F.col("_bmin").alias("d1"), F.col("doc_id").alias("d2")
        )
        return pairs_small.unionByName(pairs_big).distinct()

    def _docs(self, spark, as_string_ids=False):
        rows = [(i, "a b c d e f g h i j") for i in range(1, 13)] + [
            (100, "x y z w v u t s r q"),
            (101, "x y z w v u t s r p"),
            (102, "m n o p q r s t u v"),
            (103, "entirely different words appear in this document here"),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        if as_string_ids:
            docs = docs.select(
                F.concat(F.lit("id"), F.col("doc_id").cast("string")).alias(
                    "doc_id"
                ),
                "text",
            )
        return docs

    def test_matches_reference_binding_and_nonbinding_cap(self, spark):
        from vcf_pg_loader_spark.operators.dedup import lsh_bucket_pairs

        banded = _bands(self._docs(spark))
        for cap in (1, 2, 10_000):  # binding hard, binding, non-binding
            got_pairs, got_routed = lsh_bucket_pairs(banded, bucket_cap=cap)
            want = {
                tuple(r)
                for r in self._reference_capped(banded, cap).collect()
            }
            got = {tuple(r) for r in got_pairs.collect()}
            assert got == want, f"cap {cap}"
            if cap == 10_000:
                assert got_routed.count() == 0

    def test_string_ids_same_order_as_join_predicate(self, spark):
        """sort_array on string ids must agree with the self-join
        predicate's lexicographic a.doc_id < b.doc_id (same total
        order)."""
        from vcf_pg_loader_spark.operators.dedup import lsh_bucket_pairs

        banded = _bands(self._docs(spark, as_string_ids=True))
        got_pairs, _ = lsh_bucket_pairs(banded, bucket_cap=2)
        want = {
            tuple(r) for r in self._reference_capped(banded, 2).collect()
        }
        assert {tuple(r) for r in got_pairs.collect()} == want


class TestCappedArrayBoundFallback:
    """lsh_bucket_pairs: caps above BUCKET_CAP_ARRAY_MAX must stream
    small-bucket pairs through the self-join (O(cap²) per-row arrays
    are unsafe there) with an identical candidate set."""

    def test_join_fallback_identical_pairs(self, spark, monkeypatch):
        from vcf_pg_loader_spark.operators import dedup as D

        docs = spark.createDataFrame(
            [(i, "a b c d e f g h i j") for i in range(1, 9)]
            + [(100, "x y z w v u t s r q"), (101, "x y z w v u t s r p")],
            "doc_id bigint, text string",
        )
        banded = _bands(docs)
        cap = 4
        array_pairs, array_routed = D.lsh_bucket_pairs(banded, cap)
        a_rows = sorted(map(tuple, array_pairs.collect()))
        a_routed = sorted(map(tuple, array_routed.collect()))
        # force the join fallback for the same cap
        monkeypatch.setattr(D, "BUCKET_CAP_ARRAY_MAX", cap - 1)
        join_pairs, join_routed = D.lsh_bucket_pairs(banded, cap)
        assert sorted(map(tuple, join_pairs.collect())) == a_rows
        assert sorted(map(tuple, join_routed.collect())) == a_routed


class TestBucketCapOperator:
    def test_non_binding_cap_identical(self, spark):
        """With a cap no bucket reaches, the capped path IS the
        uncapped path — pinned value-exactly, routed frame empty."""
        from vcf_pg_loader_spark.operators import dedup as D

        df = _docs(spark, _hyperdup_rows(n_dup=3))
        base = D.minhash_lsh_dedup(
            df, "doc_id", "text", NGRAM_T, K_T, BANDS_T, THRESH_T
        )
        capped = D.minhash_lsh_dedup(
            df, "doc_id", "text", NGRAM_T, K_T, BANDS_T, THRESH_T,
            bucket_cap=1_000_000,
        )
        assert sorted(map(tuple, base.collect())) == sorted(
            map(tuple, capped.collect())
        )
        _, routed = D.lsh_bucket_pairs(
            _bands(df, K_T, BANDS_T, NGRAM_T), 1_000_000
        )
        assert routed.count() == 0

    def test_hyperdup_star_bounds_candidates_same_clusters(self, spark):
        """On the adversarial one-key corpus the capped candidate set is
        O(bucket) instead of O(bucket²), the routing counters are
        non-zero (never silent), and the CLUSTER partition — the thing
        dedup actually consumes — is identical: every member of a
        hyper-dup bucket is near-identical to the bucket minimum, so
        the verified star connects the same component the full clique
        would."""
        from pyspark.storagelevel import StorageLevel

        from vcf_pg_loader_spark.operators import dedup as D

        n_dup = 40
        df = _docs(spark, _hyperdup_rows(n_dup=n_dup))
        sets = D.shingle_sets(df, "doc_id", "text", NGRAM_T).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        banded = D.lsh_band_table(
            D.minhash_signatures(sets, K_T), K_T, BANDS_T
        )
        cand_u, routed_u = D.lsh_bucket_pairs(banded, None)
        cand_c, routed_c = D.lsh_bucket_pairs(banded, 5)
        n_u, n_c = cand_u.count(), cand_c.count()
        # clique C(40,2)=780 collapses to the 39-edge star
        assert n_u >= n_dup * (n_dup - 1) // 2
        assert n_c < n_u
        assert n_c <= n_dup + 20  # star + small-bucket pairs, not clique
        assert routed_u.count() == 0
        routed_rows = routed_c.agg(F.sum("sz")).collect()[0][0]
        assert routed_c.count() >= 1 and routed_rows >= n_dup
        # identical component partition after exact verification
        pairs_u = D.verify_candidate_jaccard(cand_u, sets, THRESH_T)
        pairs_c = D.verify_candidate_jaccard(cand_c, sets, THRESH_T)
        assert _components(pairs_u) == _components(pairs_c)
        sets.unpersist()


class TestBucketCapPlan:
    def test_capped_candidates_stay_equi_join(self, spark):
        """The valve must not cost the plan its shape: the capped
        candidate generation is one window over the bucket key plus a
        row-local array expansion of the (cap-bounded) small buckets —
        no cartesian/nested-loop join anywhere, and no bucket self-join
        either (small-bucket pairs come out of a per-bucket sorted
        member array, so the only Generate input is bounded by the
        cap).  Which is the whole point at 100 TB."""
        import io
        from contextlib import redirect_stdout

        from vcf_pg_loader_spark.operators import dedup as D

        df = _docs(spark, _hyperdup_rows(10))
        pairs, _ = D.lsh_bucket_pairs(_bands(df, K_T, BANDS_T, NGRAM_T), 5)
        buf = io.StringIO()
        with redirect_stdout(buf):
            pairs.explain(mode="formatted")
        plan = buf.getvalue()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Window" in plan
        # small-bucket pairs: bounded collect per bucket + explode —
        # the second window execution and the self-join are gone
        assert "collect_list" in plan and "Generate" in plan
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan


class TestRecallSampleRestructure:
    """lsh_recall_sample: the true-pair and banded-coverage counters
    come out of one left join + one aggregate over a single execution
    of the true-pair pipeline, and must match a driver-side reference
    computed from the constituent operators."""

    ROWS = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta iota"),
        (2, "one two three four five six seven eight nine"),
        (3, "one two three four five six seven eight ten"),
        (4, "totally unrelated words appear in this document"),
        (5, "more unrelated text with different content here"),
        (6, "cats dogs birds fish mice snakes horses cows"),
        (7, "red green blue yellow purple orange pink brown"),
    ]

    def test_counters_match_constituent_operators(self, spark):
        from pyspark.storagelevel import StorageLevel

        from vcf_pg_loader_spark.operators.dedup import (
            lsh_bucket_pairs,
            lsh_recall_sample,
            prefix_filtered_jaccard_pairs,
            shingle_sets,
        )

        docs = _docs(spark, self.ROWS)
        n, k, bands, t = 3, 8, 4, 0.5
        got = lsh_recall_sample(
            docs, "doc_id", "text", n=n, k=k, bands=bands,
            threshold=t, sample_mod=1,
        ).collect()[0]
        # reference: true pairs and banded candidates computed by the
        # constituent operators, coverage counted driver-side
        sets = shingle_sets(docs, "doc_id", "text", n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        true_pairs = {
            (r.d1, r.d2)
            for r in prefix_filtered_jaccard_pairs(sets, t)
            .select("d1", "d2")
            .collect()
        }
        cands = {
            (r.d1, r.d2)
            for r in lsh_bucket_pairs(_bands(docs, k, bands, n))[0].collect()
        }
        assert got.n_sample_docs == len(self.ROWS)
        assert got.n_true_pairs == len(true_pairs)
        assert got.n_banded_pairs == len(true_pairs & cands)
        want_recall = (
            1.0
            if not true_pairs
            else round(len(true_pairs & cands) / len(true_pairs), 6)
        )
        assert got.recall == want_recall
        spark.catalog.clearCache()


class TestLshPipelineCost:
    def test_q_dedup_keep_jobs_and_stages_bound(self, spark, sf_dir):
        """q_dedup_keep through the runner at sf0.001: the set-form
        pipeline (row-local sets and signatures, one verify join pair)
        fires 15 jobs and 28 stages over build and execute.  The
        row-form pipeline it replaced (a signature groupBy over exploded
        shingles, a verify groupBy rebuilding each doc's set) fired 18
        and 40."""
        from vcf_pg_loader_spark import runner
        from vcf_pg_loader_spark.queries.pipeline import q_dedup_keep

        rec, n = runner.run(
            spark, lambda: q_dedup_keep(spark, sf_dir), runner.count
        )
        assert n > 0
        assert rec["build_jobs"] + rec["exec_jobs"] <= 15, rec
        assert rec["build_stages"] + rec["exec_stages"] <= 28, rec


class TestMultiProbeANN:
    def test_recall_improves_on_single_bucket(self, spark):
        """Multi-probe candidates are a superset of the single-bucket
        candidates, so recall@k vs exact brute force can only go up."""
        from vcf_pg_loader_spark.operators.similarity import (
            ann_bucketed_topk,
            ann_multiprobe_topk,
            cosine_topk,
        )
        from vcf_pg_loader_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        exact = {
            (r.query_id, r.cand_id)
            for r in cosine_topk(emb, emb, k=3).collect()
        }

        def recall(df):
            got = {(r.query_id, r.cand_id) for r in df.collect()}
            return len(got & exact) / len(exact)

        r1 = recall(ann_bucketed_topk(emb, k=3, bits=8))
        r2 = recall(ann_multiprobe_topk(emb, k=3, bits=8, probes=2))
        # random fixture vectors: recall is data-poor for ANY sign-LSH,
        # but probing can only widen the candidate set
        assert r2 >= r1

    def test_planted_neighbor_across_hyperplane(self, spark):
        """A near-identical vector whose least-confident sign flips
        lands one bucket away: single-bucket misses it, probing finds
        it."""
        from vcf_pg_loader_spark.operators.similarity import (
            ann_bucketed_topk,
            ann_multiprobe_topk,
        )

        base = [0.9, 0.05, 0.8, -0.7, 0.6, -0.5, 0.4, -0.3]
        twin = list(base)
        twin[1] = -0.05  # flip the least-confident sign only
        far = [-x for x in base]
        df = spark.createDataFrame(
            [(1, base), (2, twin), (3, far)],
            "vec_id bigint, embedding array<double>",
        )
        single = {
            (r.query_id, r.cand_id)
            for r in ann_bucketed_topk(df, k=1, bits=8).collect()
        }
        probed = {
            (r.query_id, r.cand_id)
            for r in ann_multiprobe_topk(df, k=1, bits=8, probes=2).collect()
        }
        assert (1, 2) not in single
        assert (1, 2) in probed and (2, 1) in probed

    def test_probe_buckets_distinct_and_sized(self, spark):
        from vcf_pg_loader_spark.operators.similarity import probe_buckets

        df = spark.createDataFrame(
            [(1, [0.9, -0.01, 0.5, -0.6, 0.02, 0.7, -0.8, 0.9])],
            "vec_id bigint, embedding array<double>",
        )
        buckets = df.select(
            probe_buckets(F.col("embedding"), bits=8, probes=3).alias("b")
        ).collect()[0].b
        assert len(buckets) == 4
        assert len(set(buckets)) == 4
        # least-confident components are indices 1 (0.01) and 4 (0.02):
        # first flips toggle bits 1 and 4 of the base bucket
        base = buckets[0]
        assert buckets[1] == base ^ (1 << 1)
        assert buckets[2] == base ^ (1 << 4)


class TestWinnowing:
    def test_shared_passage_guarantees_shared_fingerprint(self, spark):
        """Winnowing invariant: any shared substring of length
        >= k + w - 1 chars must produce at least one shared fingerprint."""
        from vcf_pg_loader_spark.operators.text import (
            WINNOW_K,
            WINNOW_W,
            winnow_fingerprints,
            winnow_overlap_pairs,
        )

        passage = "the quick brown fox jumps over the lazy dog repeatedly"
        assert len(passage) >= WINNOW_K + WINNOW_W - 1
        docs = spark.createDataFrame(
            [
                (1, "AAAA " + passage + " BBBB unique tail one xxxxxx"),
                (2, "CCCC different head material " + passage + " DDDD"),
                (3, "totally unrelated content with no overlap at all here"),
            ],
            ["doc_id", "text"],
        )
        fps = winnow_fingerprints(docs)
        by_doc = {
            r["doc_id"]: set()
            for r in docs.select("doc_id").collect()
        }
        for r in fps.collect():
            by_doc[r["doc_id"]].add(r["fp"])
        assert by_doc[1] & by_doc[2], "shared passage must share a fingerprint"
        pairs = winnow_overlap_pairs(fps, max_df=10, min_shared=1).collect()
        assert {(r["d1"], r["d2"]) for r in pairs} == {(1, 2)}

    def test_short_docs_degenerate_cases(self, spark):
        from vcf_pg_loader_spark.operators.text import winnow_fingerprints

        docs = spark.createDataFrame(
            [(1, "tiny"), (2, "exactly8!"), (3, None)],
            "doc_id long, text string",
        )
        rows = winnow_fingerprints(docs).collect()
        # doc 1 (< k chars) and doc 3 (NULL) yield nothing; doc 2 yields
        # its single global-min fingerprint
        assert {r["doc_id"] for r in rows} == {2}
        assert len(rows) == 1


class TestConnectedComponents:
    """Hash-min + pointer-jump label propagation (operators/dedup.py)."""

    def _cc(self, spark, edges, **kw):
        from vcf_pg_loader_spark.operators.dedup import connected_components

        df = spark.createDataFrame(edges, "d1 bigint, d2 bigint")
        rows = connected_components(df, "d1", "d2", **kw).collect()
        return {r["node"]: r["comp"] for r in rows}

    def test_chain_and_clique_and_pair(self, spark):
        # chain 1-2-3-4, clique {10,11,12}, isolated pair (20,21)
        got = self._cc(
            spark,
            [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        )
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    def test_long_path_converges_in_log_rounds(self, spark, monkeypatch):
        # pointer jumping: a 16-node path must converge well inside
        # max_iter=6 (hash-min alone would need ~15 rounds).  Force the
        # DISTRIBUTED loop — the round-14 small-graph union-find would
        # otherwise take this case and leave the loop untested.
        from vcf_pg_loader_spark.operators import dedup as D

        monkeypatch.setattr(D, "SMALL_CC_EDGES", 0)
        edges = [(i, i + 1) for i in range(1, 16)]
        got = self._cc(spark, edges, max_iter=6)
        assert set(got.values()) == {1}
        assert len(got) == 16

    def test_small_graph_fast_path_equals_distributed(
        self, spark, monkeypatch
    ):
        """Round 14: below SMALL_CC_EDGES the labels come from driver
        union-find — must equal the distributed loop's output exactly,
        including string node ids (lexicographic min)."""
        from vcf_pg_loader_spark.operators import dedup as D

        edges = [(1, 5), (5, 9), (2, 9), (7, 8), (3, 4), (4, 12),
                 (12, 3), (20, 21)]
        fast = self._cc(spark, edges)
        monkeypatch.setattr(D, "SMALL_CC_EDGES", 0)
        dist = self._cc(spark, edges)
        assert fast == dist
        monkeypatch.undo()
        sdf = spark.createDataFrame(
            [("b", "a"), ("a", "c"), ("x", "y")], "d1 string, d2 string"
        )
        rows = {
            r["node"]: r["comp"]
            for r in D.connected_components(sdf, "d1", "d2").collect()
        }
        assert rows == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    def test_bounded_probe_both_sides_of_threshold(self, spark, monkeypatch):
        """One limit(SMALL_CC_EDGES + 1) collect decides the path: at
        the bound the in-process union-find runs, one edge past it the
        distributed loop does — identical labels, and exact cc_edges /
        cc_rounds stats on both sides."""
        from vcf_pg_loader_spark.operators import dedup as D

        edges = [(1, 5), (5, 9), (2, 9), (7, 8), (3, 4), (4, 12), (20, 21)]
        got = {}
        for bound in (len(edges), len(edges) - 1):
            monkeypatch.setattr(D, "SMALL_CC_EDGES", bound)
            stats: dict = {}
            got[bound] = self._cc(spark, edges, stats=stats)
            assert stats["cc_edges"] == len(edges)
            if bound == len(edges):
                assert stats["cc_rounds"] == 0
            else:
                assert stats["cc_rounds"] >= 1
        assert got[len(edges)] == got[len(edges) - 1]
        assert got[len(edges)] == {
            1: 1, 2: 1, 5: 1, 9: 1, 7: 7, 8: 7, 3: 3, 4: 3, 12: 3, 20: 20, 21: 20,
        }

    def test_distributed_rounds_release_their_checkpoints(
        self, spark, monkeypatch
    ):
        """The distributed loop checkpoints every round; each
        superseded round's checkpoint is released, so a multi-round run
        leaves at most the returned frame's checkpoint persisted (the
        edge lists `und`/`half` are unpersisted before it returns)."""
        from vcf_pg_loader_spark.operators import dedup as D

        monkeypatch.setattr(D, "SMALL_CC_EDGES", 2)
        edges = [(i, i + 1) for i in range(1, 40)]
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        stats: dict = {}
        df = spark.createDataFrame(edges, "d1 bigint, d2 bigint")
        cc = D.connected_components(df, "d1", "d2", stats=stats)
        assert stats["cc_rounds"] >= 2
        assert len(set(jsc.getPersistentRDDs().keySet()) - before) <= 1
        got = {r["node"]: r["comp"] for r in cc.collect()}
        assert got == {i: 1 for i in range(1, 41)}

    def test_duplicate_and_reversed_edges(self, spark):
        got = self._cc(spark, [(2, 1), (1, 2), (2, 1), (3, 2)])
        assert got == {1: 1, 2: 1, 3: 1}

    def test_keep_canonical(self, spark):
        from vcf_pg_loader_spark.operators.dedup import (
            connected_components,
            keep_canonical,
        )

        docs = _docs(spark, [(i, f"doc {i}") for i in range(1, 7)])
        edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "d1 bigint, d2 bigint")
        comps = connected_components(edges, "d1", "d2")
        kept = sorted(r["doc_id"] for r in keep_canonical(docs, comps).collect())
        # 2,3 fold into 1; 6 folds into 5; 4 untouched (no dup pair)
        assert kept == [1, 4, 5]

    def test_matches_duckdb_recursive_cte(self, spark):
        edges = [(1, 5), (5, 9), (2, 9), (7, 8), (3, 4), (4, 12), (12, 3)]
        got = sorted(self._cc(spark, edges).items())
        con = duckdb.connect()
        con.execute("CREATE TABLE e (s BIGINT, t BIGINT)")
        con.executemany("INSERT INTO e VALUES (?, ?)", edges)
        want = con.execute(
            """
            WITH RECURSIVE und AS (SELECT s, t FROM e UNION SELECT t, s FROM e),
            nodes AS (SELECT DISTINCT s AS node FROM und),
            walk(node, reach) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT w.node, u.t FROM walk w JOIN und u ON u.s = w.reach
            )
            SELECT node, MIN(reach) FROM walk GROUP BY node ORDER BY node
            """
        ).fetchall()
        assert got == [tuple(r) for r in want]


class TestNgramRepetition:
    """Gopher-style repetition signals (operators/text.py)."""

    def _rep(self, spark, rows, n=2):
        from vcf_pg_loader_spark.operators.text import ngram_repetition

        df = _docs(spark, rows)
        return {
            r["doc_id"]: r.asDict()
            for r in ngram_repetition(df, "doc_id", "text", n).collect()
        }

    def test_fractions(self, spark):
        got = self._rep(
            spark,
            [
                (1, "a b a b a b"),   # grams: ab ba ab ba ab -> 5 total, 2 distinct
                (2, "w x y z"),        # 3 grams, all distinct
                (3, "one"),            # too short: no grams, dropped
                (4, ""),               # empty: dropped
            ],
        )
        assert set(got) == {1, 2}
        r1 = got[1]
        assert (r1["n_grams"], r1["n_distinct"], r1["top_count"]) == (5, 2, 3)
        assert abs(r1["dup_frac"] - 0.6) < 1e-12
        assert abs(r1["top_frac"] - 0.6) < 1e-12
        r2 = got[2]
        assert r2["dup_frac"] == 0.0 and r2["top_count"] == 1

    def test_case_folded(self, spark):
        got = self._rep(spark, [(1, "The THE the")])
        assert got[1]["n_distinct"] == 1 and got[1]["n_grams"] == 2

    def test_matches_duckdb_twin(self, spark):
        from vcf_pg_loader_spark.operators.text import sql_ngram_repetition

        rows = [(1, "a b a b a"), (2, "repeat repeat repeat x"), (3, "q")]
        got = sorted(
            tuple(r)
            for r in self._rep(spark, rows).values()
            for r in [tuple(r.values())]
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        want = sorted(
            tuple(r)
            for r in con.execute(sql_ngram_repetition(2)).fetchall()
        )
        assert got == want


class TestBpeIshTokens:
    """BPE-ish regex tokenizer: Java regex and DuckDB RE2 must agree."""

    ROWS = [
        (1, "don't stop, it's 3.14!!!"),
        (2, "hello   world"),
        (3, "we'll they've i'm you're he'd"),
        (4, "snake_case camelCase x2y 100km"),
        (5, "résumé naïve café"),
        (6, ""),
    ]

    def test_counts_match_duckdb(self, spark):
        from vcf_pg_loader_spark.operators.text import (
            bpe_ish_token_count,
            sql_bpe_ish_count,
        )

        df = _docs(spark, self.ROWS)
        got = {
            r["doc_id"]: r["n"]
            for r in df.select(
                "doc_id", bpe_ish_token_count(F.col("text")).alias("n")
            ).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", self.ROWS)
        want = dict(
            con.execute(
                f"SELECT doc_id, {sql_bpe_ish_count()} FROM documents"
            ).fetchall()
        )
        assert got == want

    def test_contraction_split(self, spark):
        from vcf_pg_loader_spark.operators.text import bpe_ish_tokens

        df = _docs(spark, [(1, "don't stop, it's 3.14!!!")])
        toks = df.select(bpe_ish_tokens(F.col("text")).alias("t")).head()["t"]
        assert toks == ["don", "'t", "stop", ",", "it", "'s", "3", ".", "14", "!!!"]


class TestIvfAnn:
    """IVF-Flat ANN (operators/similarity.py ivf_fit/ivf_topk)."""

    def _emb(self, spark):
        from vcf_pg_loader_spark.sources.tables import load_table

        return load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def test_fit_is_deterministic(self, spark):
        from vcf_pg_loader_spark.operators.similarity import ivf_fit

        emb = self._emb(spark)
        cents_a, assigned_a = ivf_fit(emb, 8, 2)
        cents_b, _ = ivf_fit(emb, 8, 2)
        a = {r.cid: r.cvec for r in cents_a.collect()}
        b = {r.cid: r.cvec for r in cents_b.collect()}
        assert a == b
        assert len(a) == 8
        assert all(len(v) == 64 for v in a.values())
        # the returned assignment covers the full corpus against exactly
        # the returned centroids
        rows = assigned_a.collect()
        assert len(rows) == emb.count()
        assert {r.cid for r in rows} <= set(a)

    def test_fit_releases_superseded_rounds(self, spark):
        """Each Lloyd round checkpoints its centroids; the round a
        later one supersedes is released, so a five-round fit leaves
        the prep the caller cached and the returned checkpoint."""
        from pyspark.storagelevel import StorageLevel

        from vcf_pg_loader_spark.operators.similarity import (
            _ivf_fit_prepped,
            _prep_vectors,
        )

        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        vecs = _prep_vectors(
            self._emb(spark), "vec_id", "embedding", "fast"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        cents, _assigned = _ivf_fit_prepped(vecs, 8, 5, "fast")
        assert len(cents.collect()) == 8
        assert len(set(jsc.getPersistentRDDs().keySet()) - before) <= 2
        vecs.unpersist()

    def test_fast_kernel_matches_exact_candidates(self, spark):
        """kernel="fast" (native-double dot products) must produce the
        same neighbor SETS as the oracle-exact decimal kernel on the
        fixture; scores may differ in the last ulp only."""
        from vcf_pg_loader_spark.operators.similarity import ivf_topk

        emb = self._emb(spark)
        q = emb.filter(F.col("vec_id") < 20)
        exact = {(r.query_id, r.cand_id) for r in ivf_topk(emb, q, 3, 8, 2, 2).collect()}
        fast = {
            (r.query_id, r.cand_id)
            for r in ivf_topk(emb, q, 3, 8, 2, 2, kernel="fast").collect()
        }
        assert exact == fast

    def test_recall_vs_bruteforce(self, spark):
        from vcf_pg_loader_spark.operators.similarity import cosine_topk, ivf_topk

        emb = self._emb(spark)
        q = emb.filter(F.col("vec_id") < 20)
        exact = {(r.query_id, r.cand_id) for r in cosine_topk(emb, q, 3).collect()}
        approx = {(r.query_id, r.cand_id) for r in ivf_topk(emb, q, 3, 8, 2, 2).collect()}
        # nprobe=2 of 8 cells scans ~1/4 of the corpus; on the random
        # fixture this lands ~0.75 recall@3 — pin a floor well above the
        # ~0.25 a random quarter-scan would give
        assert len(exact & approx) / len(exact) >= 0.6
        # every emitted neighbor list respects k
        from collections import Counter

        per_q = Counter(qid for qid, _ in approx)
        assert all(n <= 3 for n in per_q.values())


class TestSampling:
    """Deterministic splits/sampling (operators/sampling.py)."""

    def test_split_stable_under_corpus_growth(self, spark):
        from vcf_pg_loader_spark.operators.sampling import assign_split

        full = _docs(spark, [(i, f"d{i}") for i in range(200)])
        half = _docs(spark, [(i, f"d{i}") for i in range(100)])
        f = {r.doc_id: r.split for r in assign_split(full).collect()}
        h = {r.doc_id: r.split for r in assign_split(half).collect()}
        assert all(f[i] == h[i] for i in h)

    def test_split_proportions_and_exhaustive(self, spark):
        from vcf_pg_loader_spark.operators.sampling import assign_split

        docs = _docs(spark, [(i, "x") for i in range(2000)])
        counts = {
            r.split: r.n
            for r in assign_split(docs).groupBy("split").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert sum(counts.values()) == 2000
        assert 0.75 <= counts["train"] / 2000 <= 0.85
        assert 0.07 <= counts["val"] / 2000 <= 0.13
        assert 0.07 <= counts["test"] / 2000 <= 0.13

    def test_stratified_rates(self, spark):
        from vcf_pg_loader_spark.operators.sampling import stratified_sample

        rows = [(i, "t", "keepall" if i < 500 else "half") for i in range(1000)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
        kept = stratified_sample(df, {"keepall": 1.0, "half": 0.5}, default_rate=0.0)
        counts = {
            r.source: r.n
            for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert counts["keepall"] == 500
        assert 200 <= counts["half"] <= 300


class TestPiiScrub:
    """PII detection/redaction (operators/text.py PII_PATTERNS)."""

    ROWS = [
        (1, "mail me at jane.doe+spam@mail.example.org today"),
        (2, "server at 192.168.0.1 and 10.0.255.7 replied"),
        (3, "call +44 20 7946 0958 or +1 (555) 010-9999"),
        (4, "no pii here at all"),
        (5, "mixed: bob@x.io from 127.0.0.1 dials +1 555-010-1234"),
    ]

    def test_scrub_matches_duckdb(self, spark):
        from vcf_pg_loader_spark.operators.text import scrub_pii, sql_scrub_pii

        df = _docs(spark, self.ROWS)
        got = {
            r["doc_id"]: r["s"]
            for r in df.select("doc_id", scrub_pii(F.col("text")).alias("s")).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", self.ROWS)
        want = dict(
            con.execute(
                f"SELECT doc_id, {sql_scrub_pii()} FROM documents"
            ).fetchall()
        )
        assert got == want

    def test_scrub_removes_all_pii(self, spark):
        from vcf_pg_loader_spark.operators.text import pii_counts, scrub_pii

        df = _docs(spark, self.ROWS).select(
            "doc_id", scrub_pii(F.col("text")).alias("text")
        )
        counts = pii_counts(F.col("text"))
        leftover = df.select(
            (counts["email"] + counts["ipv4"] + counts["phone"]).alias("n")
        ).agg(F.sum("n").alias("total")).head()["total"]
        assert leftover == 0

    def test_detector_exactness(self, spark):
        from vcf_pg_loader_spark.operators.text import pii_counts

        df = _docs(spark, self.ROWS)
        counts = pii_counts(F.col("text"))
        got = {
            r["doc_id"]: (r["e"], r["i"], r["p"])
            for r in df.select(
                "doc_id",
                counts["email"].alias("e"),
                counts["ipv4"].alias("i"),
                counts["phone"].alias("p"),
            ).collect()
        }
        assert got[1] == (1, 0, 0)
        assert got[2] == (0, 2, 0)
        assert got[3] == (0, 0, 2)
        assert got[4] == (0, 0, 0)
        assert got[5] == (1, 1, 1)


class TestFastKernelUniformity:
    """kernel="fast" is accepted by every similarity entry point and
    produces the same neighbor sets as the oracle-exact kernel on the
    fixture (scores differ at most in the last ulp)."""

    def _emb(self, spark):
        from vcf_pg_loader_spark.sources.tables import load_table

        return load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def test_cosine_topk_fast_matches_exact(self, spark):
        from vcf_pg_loader_spark.operators.similarity import cosine_topk

        emb = self._emb(spark)
        q = emb.filter(F.col("vec_id") < 10)
        exact = {(r.query_id, r.cand_id) for r in cosine_topk(emb, q, 3).collect()}
        fast = {
            (r.query_id, r.cand_id)
            for r in cosine_topk(emb, q, 3, kernel="fast").collect()
        }
        assert exact == fast

    def test_bucketed_and_multiprobe_accept_fast(self, spark):
        from vcf_pg_loader_spark.operators.similarity import (
            ann_bucketed_topk,
            ann_multiprobe_topk,
        )

        emb = self._emb(spark)
        assert ann_bucketed_topk(emb, 3, kernel="fast").count() > 0
        assert ann_multiprobe_topk(emb, 3, kernel="fast").count() > 0

    def test_unknown_kernel_rejected(self, spark):
        from vcf_pg_loader_spark.operators.similarity import cosine_topk

        emb = self._emb(spark)
        with pytest.raises(ValueError, match="unknown dot kernel"):
            cosine_topk(emb, emb, 3, kernel="float16").collect()


class TestWeightedSample:
    def test_biased_toward_heavy_and_deterministic(self, spark):
        from vcf_pg_loader_spark.operators.sampling import weighted_sample
        from vcf_pg_loader_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        weighted = docs.withColumn("w", F.size(F.split(F.col("text"), " ")))
        got = weighted_sample(weighted, "doc_id", "w", 200)
        assert got.count() == 200

        mean_all = weighted.agg(F.avg("w")).first()[0]
        mean_sampled = got.agg(F.avg("w")).first()[0]
        # E-S inclusion prob ∝ weight: sampled docs skew heavier
        assert mean_sampled > mean_all * 1.05

        again = {
            r.doc_id for r in weighted_sample(weighted, "doc_id", "w", 200)
            .select("doc_id").collect()
        }
        assert {r.doc_id for r in got.select("doc_id").collect()} == again

    def test_plan_is_take_ordered(self, spark):
        from tests.test_plans import plan_of
        from vcf_pg_loader_spark.operators.sampling import weighted_sample
        from vcf_pg_loader_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        weighted = docs.withColumn("w", F.size(F.split(F.col("text"), " ")))
        plan = plan_of(weighted_sample(weighted, "doc_id", "w", 50), "simple")
        assert "TakeOrderedAndProject" in plan  # top-n, not a global sort
