"""Variant store (idempotent reload + audit), materialized views, PRS
scoring, exporters, annotator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.vcf_fixtures import write_vcf
from vcf_pg_loader_spark.operators.annotate import AnnotationRegistry, annotate
from vcf_pg_loader_spark.plans.views import (
    chromosome_variant_counts,
    prs_candidate_variants,
    refresh_view,
    variant_qc_summary,
)
from vcf_pg_loader_spark.prs.export import (
    VariantFilter,
    ldpred2_frame,
    plink_score_frame,
    prs_cs_frame,
    prsice2_frame,
)
from vcf_pg_loader_spark.prs.scoring import score_samples, standardize
from vcf_pg_loader_spark.sources.store import VariantStore, compute_file_hash
from vcf_pg_loader_spark.sources.vcf import read_vcf


@pytest.fixture()
def vcf_file(tmp_path):
    rows = [
        "chr1\t100\trs1\tA\tG\t50.0\tPASS\tDP=30\tGT\t0/1\t0/0",
        "chr2\t200\trs2\tT\tC\t60.0\tPASS\tDP=20\tGT\t1/1\t0/1",
    ]
    return write_vcf(str(tmp_path / "s.vcf"), rows, samples=["a", "b"])


class TestVariantStore:
    def test_load_and_idempotent_reload(self, spark, tmp_path, vcf_file):
        store = VariantStore(spark, str(tmp_path / "store"))
        df = read_vcf(spark, vcf_file)
        r1 = store.load(df, vcf_file)
        assert not r1.skipped and r1.variants_loaded == 2
        # same content -> skip
        r2 = store.load(df, vcf_file)
        assert r2.skipped and r2.batch_id == r1.batch_id
        assert store.read().count() == 2
        # force -> replace, still 2 rows, new batch id
        r3 = store.load(df, vcf_file, force=True)
        assert not r3.skipped and r3.batch_id != r1.batch_id
        data = store.read()
        assert data.count() == 2
        assert data.filter(F.col("load_batch_id") == r1.batch_id).count() == 0
        # partition layout
        assert data.select("chrom").distinct().count() == 2

    def test_load_counts_rows_from_its_write(self, spark, tmp_path):
        """The load counts its batch as the write runs: no job re-reads
        the store to count it."""
        from vcf_pg_loader_spark import runner

        rows = [
            f"chr{1 + i % 3}\t{100 + i}\trs{i}\tA\tG,T\t50.0\tPASS\tDP=30"
            for i in range(30)
        ]
        vcf = write_vcf(str(tmp_path / "c.vcf"), rows)
        store = VariantStore(spark, str(tmp_path / "cstore"))
        df = read_vcf(spark, vcf)
        with runner.phase(spark, "load") as load:
            res = store.load(df, vcf)
        audit = store.audit_frame().collect()
        assert [r.n_variants for r in audit] == [res.variants_loaded] == [
            store.read().count()
        ] == [60]
        assert load["jobs"] <= 3

    def test_reads_infer_schema_once(self, spark, tmp_path, vcf_file):
        """Later reads of a path reuse the schema its first read
        inferred, and still list the files another writer swapped in."""
        from vcf_pg_loader_spark import runner

        root = str(tmp_path / "mstore")
        store = VariantStore(spark, root)
        store.load(read_vcf(spark, vcf_file), vcf_file)

        def rows(df):
            return sorted((r.chrom, r.pos, r.ref, r.alt, r.rs_id) for r in df.collect())

        first = store.read()
        second = store.read()
        assert second.schema == first.schema
        assert rows(second) == rows(first)
        v2 = write_vcf(
            str(tmp_path / "m2.vcf"), ["chr3\t300\trs3\tG\tA\t50.0\tPASS\tDP=9"]
        )
        VariantStore(spark, root).load(read_vcf(spark, v2), v2)
        assert rows(store.read()) == sorted(
            rows(first) + [("chr3", 300, "G", "A", "rs3")]
        )

        store.build_rsid_index(files=2)
        assert store.lookup_rsid("rs1").count() == 1
        with runner.phase(spark, "memo") as memo:
            store.lookup_rsid("rs1").collect()
        with runner.phase(spark, "fresh") as fresh:
            VariantStore(spark, root).lookup_rsid("rs1").collect()
        assert memo["jobs"] == fresh["jobs"] - 1

    def test_file_hash_stable(self, vcf_file):
        assert compute_file_hash(vcf_file) == compute_file_hash(vcf_file)


@pytest.fixture(scope="module")
def qc_variants(spark):
    rows = [
        # variant_id chrom pos ref alt rs_id info_score call_rate hwe_p maf aaf in_hapmap3 ld_block_id load_batch_id
        (1, "chr1", 100, "A", "G", "rs1", 0.9, 0.99, 0.5, 0.2, 0.2, True, 1, "b"),
        (2, "chr1", 200, "T", "C", "rs2", 0.4, 0.99, 0.5, 0.2, 0.8, True, 1, "b"),   # low info
        (3, "chr2", 300, "G", "A", "rs3", 0.9, 0.90, 0.5, 0.2, 0.2, True, 2, "b"),   # low call rate
        (4, "chr2", 400, "C", "T", "rs4", 0.9, 0.99, 1e-9, 0.2, 0.2, True, 2, "b"),  # hwe fail
        (5, "chr3", 500, "A", "C", "rs5", 0.9, 0.99, 0.5, 0.005, 0.005, True, 3, "b"),  # rare
        (6, "chr3", 600, "T", "G", "rs6", 0.9, 0.99, 0.5, 0.3, 0.3, False, 3, "b"),  # not hm3
    ]
    cols = [
        "variant_id", "chrom", "pos", "ref", "alt", "rs_id", "info_score",
        "call_rate", "hwe_p", "maf", "aaf", "in_hapmap3", "ld_block_id",
        "load_batch_id",
    ]
    return spark.createDataFrame(rows, cols)


@pytest.fixture(scope="module")
def gwas_frame(spark):
    return spark.createDataFrame(
        [
            (1, 0.05, 0.01, 1e-8, "G", "A", 100, 50, 1000),
            (6, -0.02, 0.005, 0.5, "G", "T", None, None, 500),
        ],
        ["variant_id", "beta", "standard_error", "p_value", "effect_allele",
         "other_allele", "n_cases", "n_controls", "n"],
    )


class TestViews:
    def test_candidate_variants(self, spark, qc_variants, gwas_frame):
        out = prs_candidate_variants(qc_variants, gwas_stats=gwas_frame)
        ids = [r.variant_id for r in out.collect()]
        assert ids == [1]  # only variant 1 passes all gates AND has stats

    def test_qc_summary(self, spark, qc_variants):
        row = variant_qc_summary(qc_variants).collect()[0]
        assert row.total_variants == 6
        assert row.hapmap3_variants == 5
        assert row.high_info_variants == 5
        assert row.hwe_pass_variants == 5
        assert row.common_variants == 5
        assert row.prs_ready_variants == 1

    def test_chrom_counts(self, spark, qc_variants):
        rows = {r.chrom: r for r in chromosome_variant_counts(qc_variants).collect()}
        assert rows["chr1"].n_variants == 2
        assert rows["chr3"].n_hapmap3 == 1

    def test_refresh_view_swap(self, spark, tmp_path, qc_variants):
        p = str(tmp_path / "views" / "qc_summary")
        refresh_view(variant_qc_summary(qc_variants), p, "variant_qc_summary")
        assert spark.sql("SELECT total_variants FROM variant_qc_summary").collect()[
            0
        ].total_variants == 6
        # second refresh swaps atomically
        refresh_view(
            variant_qc_summary(qc_variants.limit(3)), p, "variant_qc_summary"
        )
        assert spark.sql("SELECT total_variants FROM variant_qc_summary").collect()[
            0
        ].total_variants == 3


class TestPRS:
    def test_score_and_standardize(self, spark):
        genotypes = spark.createDataFrame(
            [
                ("chr1", 100, "A", "G", "s1", "0/1", None),
                ("chr1", 100, "A", "G", "s2", "1/1", None),
                ("chr1", 200, "T", "C", "s1", None, 1.5),  # dosage column wins
                ("chr1", 200, "T", "C", "s2", "0/0", None),
            ],
            ["chrom", "pos", "ref", "alt", "sample_id", "gt", "ds"],
        )
        weights = spark.createDataFrame(
            [("chr1", 100, "A", "G", 0.5), ("chr1", 200, "T", "C", -1.0)],
            ["chrom", "pos", "ref", "alt", "effect_weight"],
        )
        scores = {r.sample_id: r for r in score_samples(genotypes, weights).collect()}
        assert scores["s1"].prs_raw == pytest.approx(0.5 * 1 + (-1.0) * 1.5)
        assert scores["s2"].prs_raw == pytest.approx(0.5 * 2 + (-1.0) * 0.0)
        z = {r.sample_id: r for r in standardize(score_samples(genotypes, weights)).collect()}
        zs = sorted(v.prs_z for v in z.values())
        assert zs[0] == pytest.approx(-zs[1])  # two samples: symmetric z


class TestExports:
    def test_formats(self, spark, qc_variants, gwas_frame):
        plink = plink_score_frame(gwas_frame, qc_variants).collect()
        assert [r.SNP for r in plink] == ["rs1", "rs6"]  # chrom order
        assert plink[0].A1 == "G" and plink[0].BETA == 0.05

        prscs = prs_cs_frame(gwas_frame, qc_variants, use_se=True).collect()
        assert prscs[0].SE == 0.01

        ld = ldpred2_frame(gwas_frame, qc_variants).collect()
        assert ld[0].chr == "1" and ld[0].n_eff == pytest.approx(
            4.0 * 100 * 50 / 150
        )
        assert ld[1].n_eff == 500.0  # falls back to n

        prsice = prsice2_frame(gwas_frame, qc_variants).collect()
        assert prsice[0].CHR == "1" and prsice[0].BP == 100

    def test_variant_filter(self, spark, qc_variants, gwas_frame):
        out = plink_score_frame(
            gwas_frame, qc_variants, VariantFilter(hapmap3_only=True)
        ).collect()
        assert [r.SNP for r in out] == ["rs1"]


class TestAnnotate:
    def test_annotation_join_and_filter(self, spark, qc_variants):
        reg = AnnotationRegistry()
        gnomad = spark.createDataFrame(
            [("chr1", 100, "A", "G", 0.001), ("chr2", 300, "G", "A", 0.2)],
            ["chrom", "pos", "ref", "alt", "gnomad_af"],
        )
        clinvar = spark.createDataFrame(
            [("chr1", 100, "A", "G", "Pathogenic")],
            ["chrom", "pos", "ref", "alt", "clinvar_sig"],
        )
        reg.register("gnomad", gnomad)
        reg.register("clinvar", clinvar)
        assert reg.sources() == ["clinvar", "gnomad"]
        assert reg.available_fields() == {"gnomad_af", "clinvar_sig"}

        out = annotate(
            qc_variants,
            reg,
            filter_expr="gnomad_af < 0.01 && clinvar_sig == 'Pathogenic'",
        ).collect()
        assert len(out) == 1 and out[0].variant_id == 1

        limited = annotate(qc_variants, reg, limit=2)
        assert limited.count() == 2


class TestCompaction:
    def test_compact_reduces_files_preserves_rows(self, spark, tmp_path):
        from tests.vcf_fixtures import write_vcf
        from vcf_pg_loader_spark.sources.vcf import read_vcf

        store = VariantStore(spark, str(tmp_path / "cstore"))
        # five small loads of distinct content -> many tiny files
        for i in range(5):
            rows = [
                f"chr1\t{100 + 10 * i + j}\trs{i}_{j}\tA\tG\t50.0\tPASS\tDP=30"
                for j in range(3)
            ]
            vcf = write_vcf(str(tmp_path / f"c{i}.vcf"), rows)
            store.load(read_vcf(spark, vcf), vcf)
        before_files = store.file_count()
        before = {
            (r.pos, r.load_batch_id) for r in store.read().collect()
        }
        assert before_files >= 5  # at least one file per append

        res = store.compact()
        assert res == {"partitions": 1, "rows": 15}
        assert store.file_count() < before_files
        after = {(r.pos, r.load_batch_id) for r in store.read().collect()}
        assert after == before  # row identity (incl. batch ids) untouched
        # range pruning still works on the compacted layout
        assert store.query_region("chr1", 100, 102).count() == 3


class TestRsidIndex:
    def test_lookup_served_from_sorted_copy(self, spark, tmp_path):
        from tests.vcf_fixtures import write_vcf
        from vcf_pg_loader_spark.sources.vcf import read_vcf

        store = VariantStore(spark, str(tmp_path / "rstore"))
        rows = [
            f"chr1\t{100 + i}\trs{i:04d}\tA\tG\t50.0\tPASS\tDP=30"
            for i in range(50)
        ]
        vcf = write_vcf(str(tmp_path / "r.vcf"), rows)
        store.load(read_vcf(spark, vcf), vcf)

        # before the index: full-scan path still answers correctly
        assert store.lookup_rsid("rs0007").count() == 1

        store.build_rsid_index(files=4)
        hit = store.lookup_rsid("rs0007")
        assert hit.count() == 1 and hit.first().pos == 107
        assert store.lookup_rsid("rs9999").count() == 0
        # the secondary copy carries every row of the primary
        n = spark.read.parquet(store.rsid_index_path).count()
        assert n == store.read().count() == 50


class TestSnapshotRead:
    def test_read_as_of_excludes_later_batches(self, spark, tmp_path):
        import time as _time

        from tests.vcf_fixtures import write_vcf
        from vcf_pg_loader_spark.sources.vcf import read_vcf

        store = VariantStore(spark, str(tmp_path / "tstore"))
        v1 = write_vcf(
            str(tmp_path / "t1.vcf"),
            ["chr1\t100\trsT1\tA\tG\t50.0\tPASS\tDP=30"],
        )
        store.load(read_vcf(spark, v1), v1)
        cut = _time.time()
        _time.sleep(0.05)
        v2 = write_vcf(
            str(tmp_path / "t2.vcf"),
            ["chr2\t200\trsT2\tT\tC\t60.0\tPASS\tDP=20",
             "chr2\t300\trsT3\tG\tA\t70.0\tPASS\tDP=10"],
        )
        store.load(read_vcf(spark, v2), v2)

        assert store.read().count() == 3
        assert store.read_as_of(cut).count() == 1
        assert store.read_as_of(cut).first().rs_id == "rsT1"
        assert store.read_as_of(0.0).count() == 0
