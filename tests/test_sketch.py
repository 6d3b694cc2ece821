"""KMV distinct sketch: accuracy, exact-fallback, and merge semantics.

The oracle query (q_kmv_distinct) pins cross-engine bit-exactness; these
tests pin the properties that make it a sketch worth shipping: bounded
estimation error, exactness below k, and the union-merge law that lets
partial sketches fold across partitions/days like rollup partials.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from vcf_pg_loader_spark.operators.sketch import (
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
)
from vcf_pg_loader_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
K = 64


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events")


class TestKMV:
    def test_estimate_within_error_bound(self, spark, events):
        est = {
            r.event_type: r.n_distinct_est
            for r in kmv_estimate(
                kmv_sketch(events, ["event_type"], "user_id", K), K
            ).collect()
        }
        exact = {
            r.event_type: r.n
            for r in events.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert set(est) == set(exact)
        for t, n in exact.items():
            # stderr ~ 1/sqrt(k-2) ≈ 13% at k=64; allow 4 sigma
            assert abs(est[t] - n) <= max(3, 0.52 * n), (t, est[t], n)

    def test_exact_below_k(self, spark):
        df = spark.createDataFrame(
            [("g", f"v{i % 10}") for i in range(100)], "g string, v string"
        )
        est = kmv_estimate(kmv_sketch(df, ["g"], "v", K), K).first()
        assert est.n_distinct_est == 10.0  # < k distinct -> exact count

    def test_merge_equals_whole(self, spark, events):
        a = kmv_sketch(
            events.filter(F.col("event_id") % 2 == 0),
            ["event_type"], "user_id", K,
        )
        b = kmv_sketch(
            events.filter(F.col("event_id") % 2 == 1),
            ["event_type"], "user_id", K,
        )
        # a group whose sketches are all empty or null merges to an
        # empty sketch row: it is kept, not dropped
        ghost = StructType([StructField(f.name, f.dataType) for f in a.schema])
        a = a.unionByName(spark.createDataFrame([("ghost", [])], ghost))
        b = b.unionByName(spark.createDataFrame([("ghost", None)], ghost))
        merged = {
            r.event_type: r.hashes
            for r in kmv_merge(a, b, ["event_type"], K).collect()
        }
        whole = {
            r.event_type: r.hashes
            for r in kmv_sketch(events, ["event_type"], "user_id", K).collect()
        }
        assert merged.pop("ghost") == []
        assert merged == whole  # sketch(a ∪ b) == merge(sketch(a), sketch(b))


class TestKMVEdges:
    def test_empty_input_yields_empty_sketch(self, spark):
        df = spark.createDataFrame([], "g string, v string")
        assert kmv_sketch(df, ["g"], "v", K).count() == 0

    def test_null_values_hash_distinctly_from_absent(self, spark):
        df = spark.createDataFrame(
            [("g", None), ("g", "a"), ("g", "a")], "g string, v string"
        )
        est = kmv_estimate(kmv_sketch(df, ["g"], "v", K), K).first()
        # CAST(NULL AS STRING) hashes to null -> dropped by h60's md5;
        # only 'a' counts (matching COUNT(DISTINCT v) null semantics)
        assert est.n_distinct_est == 1.0


class TestCountMin:
    def test_one_sided_error_and_bound(self, spark):
        """est >= true ALWAYS (collisions only over-count); and with
        width >> distinct items the estimate is exact."""
        from vcf_pg_loader_spark.operators import sketch as SK
        from vcf_pg_loader_spark.sources.tables import load_table

        docs = load_table(spark, SF_DIR, "documents")
        toks = docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        true = {
            r.token: r.n
            for r in toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n")).limit(10).collect()
        }
        probes = spark.createDataFrame(
            [(t,) for t in true], "token string"
        )
        sk = SK.cms_partial(toks, "token")
        est = {
            r.token: r.cms_est
            for r in SK.cms_estimate(sk, probes, "token").collect()
        }
        n_total = toks.count()
        for t, n in true.items():
            assert est[t] >= n  # never under-counts
            # expected overshoot n_total/width per row; min over 4 rows —
            # allow a generous 4x slack on the single-row expectation
            assert est[t] - n <= 4 * n_total / SK.CMS_WIDTH + 1, (t, est[t], n)

    def test_absent_item_small_estimate(self, spark):
        from vcf_pg_loader_spark.operators import sketch as SK

        df = spark.createDataFrame([(f"v{i}",) for i in range(500)], "v string")
        sk = SK.cms_partial(df, "v")
        probes = spark.createDataFrame([("never_seen",)], "v string")
        est = SK.cms_estimate(sk, probes, "v").first().cms_est
        assert 0 <= est <= 4  # collisions only; 500 items over 1024 slots

    def test_merge_law(self, spark):
        from vcf_pg_loader_spark.operators import sketch as SK

        df = spark.createDataFrame(
            [(f"v{i % 40}",) for i in range(400)], "v string"
        )
        whole = SK.cms_partial(df, "v")
        parts = [
            SK.cms_partial(
                df.withColumn("_r", F.monotonically_increasing_id()).filter(
                    F.col("_r") % 3 == i
                ),
                "v",
            )
            for i in range(3)
        ]
        merged = SK.cms_merge(SK.cms_merge(parts[1], parts[2]), parts[0])
        a = sorted(map(tuple, whole.collect()))
        b = sorted(map(tuple, merged.collect()))
        assert a == b  # counts add exactly, any order


class TestCMSJoinSize:
    def test_disjoint_keys_estimate_zero(self, spark):
        """Disjoint key sets: every hash row's inner product is 0 (no
        overlapping cells), so the min must be 0 — a number, never NULL
        from an empty post-join aggregate."""
        from vcf_pg_loader_spark.operators import sketch as SK

        a = SK.cms_partial(
            spark.createDataFrame([(f"a{i}",) for i in range(10)], "v string"),
            "v",
        )
        b = SK.cms_partial(
            spark.createDataFrame([(f"b{i}",) for i in range(10)], "v string"),
            "v",
        )
        est = SK.cms_join_size(a, b).first().join_size_est
        assert est == 0

    def test_overlap_upper_bounds_true_size(self, spark):
        from vcf_pg_loader_spark.operators import sketch as SK

        left = spark.createDataFrame(
            [(f"k{i % 20}",) for i in range(200)], "v string"
        )
        right = spark.createDataFrame(
            [(f"k{i}",) for i in range(20)], "v string"
        )
        true_size = left.join(right, "v").count()
        est = SK.cms_join_size(
            SK.cms_partial(left, "v"), SK.cms_partial(right, "v")
        ).first().join_size_est
        assert est >= true_size  # one-sided, like the point estimates


class TestKMVOverlap:
    def test_exact_when_small(self, spark):
        """Union below k: every estimate is exact, not approximate."""
        from vcf_pg_loader_spark.operators import sketch as SK

        rows = [("a", f"u{i}") for i in range(20)] + [
            ("b", f"u{i}") for i in range(10, 40)
        ]
        df = spark.createDataFrame(rows, "g string, v string")
        sk = SK.kmv_sketch(df, ["g"], "v", k=64)
        r = SK.kmv_overlap(sk, "g", k=64).first()
        assert (r.group_a, r.group_b) == ("a", "b")
        assert r.union_est == 40.0  # |0..39|
        assert r.intersect_est == 10.0  # |10..19|
        assert r.jaccard_est == 0.25

    def test_estimates_within_error_bound(self, spark):
        """Planted overlap far above k: union/intersection estimates land
        within ~3 standard errors (se ≈ 1/sqrt(k-2) ≈ 13% at k=64)."""
        from vcf_pg_loader_spark.operators import sketch as SK

        n, shared = 4000, 1000
        rows = [("a", f"u{i}") for i in range(n)] + [
            ("b", f"u{i}") for i in range(n - shared, 2 * n - shared)
        ]
        df = spark.createDataFrame(rows, "g string, v string")
        sk = SK.kmv_sketch(df, ["g"], "v", k=64)
        r = SK.kmv_overlap(sk, "g", k=64).first()
        true_union = 2 * n - shared
        assert abs(r.union_est - true_union) / true_union < 0.4
        # intersection compounds union + ratio error; allow a wide band
        # but demand the right order of magnitude and positivity
        assert 0 < r.intersect_est < 3 * shared
        assert abs(r.jaccard_est - shared / true_union) < 0.15
