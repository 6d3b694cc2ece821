"""vt normalization tests — vectors from the reference suite
(tests/unit/test_normalization.py) plus a property test pinning the
Catalyst closed form to the iterative Python twin."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from vcf_pg_loader_spark.functions.normalize import (
    classify_variant_expr,
    is_normalized_py,
    normalize_frame,
    normalize_variant_py,
)

VECTORS = [
    # (pos, ref, alt) -> (pos, ref, alt); reference test_normalization.py:17-24
    (10, "A", "G", 10, "A", "G"),
    (10, "GATC", "GTTC", 11, "A", "T"),
    (10, "ATCG", "TTCG", 10, "A", "T"),
    (10, "ACGT", "ACAT", 12, "G", "A"),
    (100, "A", "G", 100, "A", "G"),
    # indel trims (right-trim bounded without reference genome)
    (300, "ATT", "AT", 300, "AT", "A"),
    (400, "CGG", "CG", 400, "CG", "C"),
    # pos==1 boundary (reference test_normalization.py:141-173)
    (1, "A", "AG", 1, "A", "AG"),
    (1, "A", "G", 1, "A", "G"),
    (1, "AG", "A", 1, "AG", "A"),
    (1, "ATG", "ACG", 2, "T", "C"),
]


def _spark_norm(spark, pos, ref, alt):
    df = spark.createDataFrame([(pos, ref, alt)], "pos bigint, ref string, alt string")
    row = normalize_frame(df, "pos", "ref", "alt").collect()[0]
    return row.norm_pos, row.norm_ref, row.norm_alt


@pytest.mark.parametrize("pos,ref,alt,epos,eref,ealt", VECTORS)
def test_vectors_python(pos, ref, alt, epos, eref, ealt):
    rpos, rref, ralts = normalize_variant_py(pos, ref, [alt])
    assert (rpos, rref, ralts[0]) == (epos, eref, ealt)


@pytest.mark.parametrize("pos,ref,alt,epos,eref,ealt", VECTORS)
def test_vectors_spark(spark, pos, ref, alt, epos, eref, ealt):
    assert _spark_norm(spark, pos, ref, alt) == (epos, eref, ealt)


ALLELE = st.text(alphabet="ACGT", min_size=1, max_size=6)


@settings(max_examples=200, deadline=None)
@given(pos=st.integers(min_value=1, max_value=50), ref=ALLELE, alt=ALLELE)
def test_property_python_twin_matches_reference_loop(pos, ref, alt):
    """The closed form must equal the reference's iterative algorithm for
    every biallelic input (no reference genome)."""
    rpos, rref, ralts = normalize_variant_py(pos, ref, [alt])
    # closed-form recomputation (mirrors normalize_frame's math)
    r, a = ref.upper(), alt.upper()
    lcs = 0
    while lcs < min(len(r), len(a)) and r[-1 - lcs] == a[-1 - lcs]:
        lcs += 1
    bound = min(len(r), len(a)) - 1 if pos == 1 else min(len(r), len(a))
    rt = min(lcs, bound)
    r1, a1 = r[: len(r) - rt], a[: len(a) - rt]
    lcp = 0
    while lcp < min(len(r1), len(a1)) and r1[lcp] == a1[lcp]:
        lcp += 1
    lt = max(min(lcp, min(len(r1), len(a1)) - 1), 0)
    assert (rpos, rref, ralts[0]) == (pos + lt, r1[lt:], a1[lt:])


@settings(max_examples=60, deadline=None)
@given(ref=ALLELE, alts=st.lists(ALLELE, min_size=1, max_size=3))
def test_is_normalized_consistent(ref, alts):
    """A variant the quick-check calls normalized must be a fixed point of
    normalize (reference normalizer.py:131-157 contract)."""
    if is_normalized_py(ref, alts):
        pos2, ref2, alts2 = normalize_variant_py(10, ref, alts)
        assert (pos2, ref2, alts2) == (10, ref.upper(), [a.upper() for a in alts])


def test_spark_expression_matches_python_twin_batch(spark):
    """Random biallelic inputs through the Catalyst expression vs the
    iterative reference-twin, compared in one batch."""
    import random

    rng = random.Random(42)
    cases = [
        (
            rng.randint(1, 30),
            "".join(rng.choice("ACGT") for _ in range(rng.randint(1, 6))),
            "".join(rng.choice("ACGT") for _ in range(rng.randint(1, 6))),
        )
        for _ in range(300)
    ]
    df = normalize_frame(
        spark.createDataFrame(cases, ["pos", "ref", "alt"]), "pos", "ref", "alt"
    )
    for row in df.collect():
        epos, eref, ealts = normalize_variant_py(row.pos, row.ref, [row.alt])
        got = (row.norm_pos, row.norm_ref, row.norm_alt)
        assert got == (epos, eref, ealts[0]), (row.pos, row.ref, row.alt)


def test_classify(spark):
    df = spark.createDataFrame(
        [("A", "G"), ("A", "AT"), ("AT", "GC"), ("A", "<DEL>")], ["ref", "alt"]
    ).select(classify_variant_expr(F.col("ref"), F.col("alt")).alias("t"))
    assert [r.t for r in df.collect()] == ["snp", "indel", "mnp", "sv"]


# ---------------------------------------------------------------------------
# Left extension with a reference genome — vt test vectors ported from the
# reference tests/test_normalizer_vt.py (source data: vt/test/ref/20.fa.gz
# and vt/test/normalize/01_IN.vcf -> 01_OUT.vcf).
# ---------------------------------------------------------------------------
CHR20_BASES = {
    421805: "T", 421806: "C", 421807: "C",
    2171402: "T", 2171403: "A",
    3373437: "G", 3373438: "C", 3373439: "T", 3373440: "T",
    3635158: "A",
    4422115: "G", 4422116: "G", 4422117: "G", 4422118: "A",
    5900669: "G",
}

VT_CASES = [
    # (pos, ref, alt) -> (pos, ref, alt); needs_ext
    ((421808, "A", "ACCA"), (421805, "T", "TCCA"), True),
    ((1292033, "C", "CTTGT"), (1292033, "C", "CTTGT"), False),
    ((1600125, "GAA", "G"), (1600125, "GAA", "G"), False),
    ((2171404, "A", "AA"), (2171402, "T", "TA"), True),
    ((3373441, "TCTTT", "T"), (3373437, "GCTTT", "G"), True),
    ((3635159, "T", "TT"), (3635158, "A", "AT"), True),
    (
        (4422119, "GCTCCCAGGCTACAGAAAGATGATGGAG", "G"),
        (4422115, "GGGAGCTCCCAGGCTACAGAAAGATGAT", "G"),
        True,
    ),
    ((5900670, "C", "CC"), (5900669, "G", "GC"), True),
]


class TestLeftExtension:
    def _genome(self):
        from vcf_pg_loader_spark.functions.normalize import ReferenceBases

        return ReferenceBases.from_points({"20": CHR20_BASES})

    def test_python_twin_matches_vt(self):
        from vcf_pg_loader_spark.functions.normalize import normalize_variant_py

        g = self._genome()
        for (p, r, a), (ep, er, ea), _ in VT_CASES:
            np_, nr, nalts = normalize_variant_py(
                p, r, [a], fetch_base=lambda q: g.base("20", q)
            )
            assert (np_, nr, nalts[0]) == (ep, er, ea), (p, r, a)

    def test_flag_expression_marks_extension_cases(self, spark):
        rows = [(i, p, r, a) for i, ((p, r, a), _, _) in enumerate(VT_CASES)]
        df = spark.createDataFrame(rows, "id int, pos bigint, ref string, alt string")
        got = {
            r.id: r.needs_left_extension
            for r in normalize_frame(df, "pos", "ref", "alt").collect()
        }
        for i, (_, _, want) in enumerate(VT_CASES):
            assert got[i] is want, VT_CASES[i]

    def test_apply_left_extension_operator(self, spark):
        from vcf_pg_loader_spark.functions.normalize import apply_left_extension

        rows = [
            ("20", p, r, a) for (p, r, a), _, _ in VT_CASES
        ] + [("7", 5900670, "C", "CC")]  # chrom absent from the genome
        df = normalize_frame(
            spark.createDataFrame(
                rows, "chrom string, pos bigint, ref string, alt string"
            ),
            "pos", "ref", "alt",
        ).select("chrom", "pos", "ref", "alt", "needs_left_extension")
        out = {
            (r.chrom, r.pos, r.ref, r.alt, r.was_left_extended, r.needs_left_extension)
            for r in apply_left_extension(df, self._genome()).collect()
        }
        for (p0, r0, a0), (ep, er, ea), needs in VT_CASES:
            if needs:
                assert ("20", ep, er, ea, True, False) in out, (p0, r0, a0)
            else:
                assert ("20", p0, r0, a0, False, False) in out
        # unknown chrom: untouched, still flagged
        assert ("7", 5900670, "C", "CC", False, True) in out

    def test_scan_flags_and_extension_roundtrip(self, spark, tmp_path):
        from vcf_pg_loader_spark.functions.normalize import (
            ReferenceBases,
            apply_left_extension,
        )
        from vcf_pg_loader_spark.sources.vcf import read_vcf

        p = tmp_path / "ext.vcf"
        p.write_text(
            "##fileformat=VCFv4.2\n"
            '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n'
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
            "20\t2171404\t.\tA\tAA\t50\tPASS\tDP=3\n"
            "20\t1600125\t.\tGAA\tG\t50\tPASS\tDP=3\n"
        )
        scan = read_vcf(spark, str(p), human_genome=False, normalize=True)
        flags = {r.pos: r.needs_left_extension for r in scan.collect()}
        assert flags == {2171404: True, 1600125: False}
        out = apply_left_extension(
            scan,
            ReferenceBases.from_points({"20": CHR20_BASES}),
            src_pos_col="original_pos",
            src_ref_col="original_ref",
            src_alt_col="original_alt",
        )
        rows = {r.pos: r for r in out.collect()}
        assert rows[2171402].ref == "T" and rows[2171402].alt == "TA"
        assert rows[2171402].was_left_extended is True
        assert rows[1600125].ref == "GAA"

    def test_from_fasta(self, tmp_path):
        from vcf_pg_loader_spark.functions.normalize import ReferenceBases

        f = tmp_path / "toy.fa"
        f.write_text(">chr1 test\nACGT\nACGT\n>2\nGGCC\n")
        g = ReferenceBases.from_fasta(str(f))
        assert g.base("chr1", 5) == "A"
        assert g.base("1", 8) == "T"  # prefix-insensitive
        assert g.base("chr2", 1) == "G"
        assert g.base("chr1", 9) is None
        assert g.base("chrX", 1) is None


# ---------------------------------------------------------------------------
# read_vcf(normalize=True) against the Python twin: generated records go
# through the whole scan (decomposition included), and every output row
# must equal the iterative reference loop on its (pos, REF, ALT).
# ---------------------------------------------------------------------------
_SEQ = st.text(alphabet="ACGTNacgtn", max_size=20)


@st.composite
def _record(draw):
    """(pos, ref, alts): up to ~60-base alleles sharing a prefix and a
    suffix, so trims of every length occur; REF may be empty."""
    pre, suf = draw(_SEQ), draw(_SEQ)
    ref = pre + draw(_SEQ) + suf
    alts = [
        pre + draw(_SEQ) + suf or "A"
        for _ in range(draw(st.integers(min_value=1, max_value=2)))
    ]
    pos = draw(st.sampled_from([1, 1, 2, 3, 17, 1000]))
    return pos, ref, alts


def _asks_genome(pos, ref, alt) -> bool:
    """Whether the reference loop asks a genome for a left-extension
    base (identical alleles aside: the scan leaves them unflagged)."""

    def fetch(_q):
        raise LookupError

    try:
        normalize_variant_py(pos, ref, [alt], fetch_base=fetch)
    except LookupError:
        return ref.upper() != alt.upper()
    return False


_FIXED_RECORDS = [
    (1, "A", ["AG"]),
    (1, "ATG", ["ACG"]),
    (5, "", ["A"]),  # empty REF
    (2, "cAGt", ["CaTT", "n"]),
    (900, "A" + "".join("ACGT"[i * 7 % 4] for i in range(10_000)), ["A"]),
    *[(p, r, [a]) for (p, r, a), _, _ in VT_CASES],
]


@settings(max_examples=5, deadline=None)
@given(records=st.lists(_record(), min_size=1, max_size=60))
def test_read_vcf_rows_match_python_twin(spark, records):
    import os
    import tempfile

    from tests.vcf_fixtures import write_vcf
    from vcf_pg_loader_spark.sources.vcf import read_vcf

    records = _FIXED_RECORDS + records
    with tempfile.TemporaryDirectory() as d:
        path = write_vcf(
            os.path.join(d, "n.vcf"),
            [
                f"chr1\t{p}\tv{i}\t{r}\t{','.join(alts)}\t50\tPASS\tDP=1"
                for i, (p, r, alts) in enumerate(records)
            ],
        )
        got = {
            (row.rs_id, row.alt_idx): row
            for row in read_vcf(spark, path, normalize=True).collect()
        }
    assert len(got) == sum(len(alts) for _, _, alts in records)
    for i, (p, r, alts) in enumerate(records):
        for k, a in enumerate(alts):
            row = got[(f"v{i}", k)]
            epos, eref, ealts = normalize_variant_py(p, r, [a])
            # the twin returns an empty-REF record untouched; the scan
            # upper-cases every allele
            want = (epos, eref.upper(), ealts[0].upper())
            assert (row.pos, row.ref, row.alt) == want, (p, r, a)
            changed = want != (p, r.upper(), a.upper())
            assert row.normalized is changed, (p, r, a)
            assert (row.original_pos, row.original_ref, row.original_alt) == (
                (p, r, a) if changed else (None, None, None)
            )
            if r:
                assert row.needs_left_extension is _asks_genome(p, r, a), (p, r, a)
    for (p, r, a), _, needs in VT_CASES:
        i = _FIXED_RECORDS.index((p, r, [a]))
        assert got[(f"v{i}", 0)].needs_left_extension is needs, (p, r, a)
