"""Bit-equality pins for the round-16 optimization restructures: each
test spells the PRE-optimization formulation inline (verbatim from the
r15 tree) and asserts the optimized operator produces identical rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vcf_pg_loader_spark.operators.sketch import (
    kmv_merge,
    kmv_sketch,
)


def _rows(df):
    # repr key: tuples mix None/str/list, which plain sorted() cannot
    # compare pairwise
    return sorted(
        (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
        key=repr,
    )


class TestKmvMergeRestructure:
    """kmv_merge: explode + dedup-exchange + window + regroup ->
    one keyed aggregation with a row-local array fold."""

    @staticmethod
    def _old_merge(a, b, group_cols, k):
        # r15 formulation, verbatim
        both = a.unionByName(b)
        exploded = both.select(
            *group_cols, F.explode("hashes").alias("_h")
        ).dropDuplicates([*group_cols, "_h"])
        w = Window.partitionBy(*group_cols).orderBy("_h")
        return (
            exploded.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .groupBy(*group_cols)
            .agg(F.sort_array(F.collect_list("_h")).alias("hashes"))
        )

    def _sketches(self, spark):
        # adversarial: overlapping hashes across sides, a one-side-only
        # group, a group below k on both sides, and a NULL group key
        a = spark.createDataFrame(
            [
                ("x", [1, 3, 5, 7]),
                ("y", [2, 4]),
                (None, [10, 11, 12, 13]),
                ("only_a", [9]),
            ],
            "g string, hashes array<bigint>",
        )
        b = spark.createDataFrame(
            [
                ("x", [2, 3, 6, 8]),
                ("y", [4, 5]),
                (None, [11, 14, 15, 16]),
                ("only_b", [1]),
            ],
            "g string, hashes array<bigint>",
        )
        return a, b

    @pytest.mark.parametrize("k", [1, 2, 4, 64])
    def test_identical_to_exploded_formulation(self, spark, k):
        a, b = self._sketches(spark)
        assert _rows(kmv_merge(a, b, ["g"], k)) == _rows(
            self._old_merge(a, b, ["g"], k)
        )

    def test_merge_of_split_equals_whole(self, spark):
        # estimate(merge(partial(a), partial(b))) == partial(a ∪ b),
        # re-checked through the new merge
        df = spark.createDataFrame(
            [(i % 4, f"u{i % 37}") for i in range(500)], "g int, v string"
        )
        a = df.filter(F.col("v").substr(2, 10).cast("int") % 2 == 0)
        b = df.filter(F.col("v").substr(2, 10).cast("int") % 2 == 1)
        whole = kmv_sketch(df, ["g"], "v", 16)
        merged = kmv_merge(
            kmv_sketch(a, ["g"], "v", 16),
            kmv_sketch(b, ["g"], "v", 16),
            ["g"],
            16,
        )
        assert _rows(whole) == _rows(merged)


class TestKmvSingleScanPartials:
    """q_kmv_rollup_incremental builds both a/b partials from one scan
    with the split flag as a leading group key; the slices must equal
    the independently-filtered partials (filtering commutes with
    per-group operations)."""

    def test_flagged_slices_equal_filtered_partials(self, spark):
        from vcf_pg_loader_spark.operators.sketch import kmv_rollup_partial

        df = spark.createDataFrame(
            [(i, i % 5, f"u{i % 53}") for i in range(400)],
            "event_id bigint, g int, v string",
        )
        k = 8
        old_a = kmv_rollup_partial(
            df.filter(F.col("event_id") % 3 != 0), ["g"], "v", k
        )
        old_b = kmv_rollup_partial(
            df.filter(F.col("event_id") % 3 == 0), ["g"], "v", k
        )
        flagged = kmv_rollup_partial(
            df.withColumn("_part", F.col("event_id") % 3 == 0),
            ["_part", "g"],
            "v",
            k,
        )
        new_a = flagged.filter(~F.col("_part")).drop("_part")
        new_b = flagged.filter(F.col("_part")).drop("_part")
        assert _rows(old_a) == _rows(new_a)
        assert _rows(old_b) == _rows(new_b)


class TestDropReasonsSurvRestructure:
    """q_drop_reasons / q_pipeline_funnel: the survivor frame joined
    from the raw docs on the canonical-id set must equal the one joined
    from the fingerprint frame (doc_id is unique, canon ids are a
    subset of fp ids)."""

    def test_docs_semi_join_equals_fp_semi_join(self, spark, sf_dir):
        from vcf_pg_loader_spark.operators import text as T
        from vcf_pg_loader_spark.queries.pipeline import q_quality_filter
        from vcf_pg_loader_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        qual = q_quality_filter(spark, sf_dir)
        kept_q = docs.join(
            qual.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
        )
        fp = T.fingerprint(kept_q)
        canon_ids = (
            fp.groupBy("doc_fp")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        old = fp.join(canon_ids, "doc_id", "left_semi").select(
            "doc_id", "text"
        )
        new = docs.select("doc_id", "text").join(
            canon_ids, "doc_id", "left_semi"
        )
        assert _rows(old) == _rows(new)
