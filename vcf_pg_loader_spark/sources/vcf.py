"""VCF source: text scan → typed, decomposed, normalized variants frame.

Architecture (NOT a port of the reference's cyvcf2 pull-parser,
vcf_parser.py:520-657): the header is parsed on the driver (it is a few
KB), and the body is a distributed `spark.read.text` scan transformed
entirely with Catalyst expressions — split / posexplode / element_at /
higher-order functions.  No Python executes per record, so the scan stays
in whole-stage codegen, parallelizes per file-split, and scales to any
number of input files.  A single bgzipped file routes through the
splittable BGZF range reader (sources/bgzf.py) so even a monolithic
.vcf.gz scans wide; only plain (non-BGZF) gzip remains a one-core
stream — SURVEY §7.3.

Semantics preserved from the reference (SURVEY §1.4):
  - multi-allelic decomposition: one output row per ALT
    (vcf_parser.py:290-388)
  - Number=A/R/G per-ALT extraction (vcf_parser.py:421-458)
  - vt normalization, original coords kept when changed
    (normalizer.py, vcf_parser.py:316-325)
  - chromosome canonicalization in human mode (vcf_parser.py:303-306)
  - CSQ/ANN worst-consequence selection (vcf_parser.py:460-508)
  - QUAL/FILTER/ID missing-value handling (vcf_parser.py:333-337)
  - INFO-score load filter (vcf_parser.py:634-651)
"""

from __future__ import annotations

import gzip
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vcf_pg_loader_spark.functions.genomics import normalize_clinvar_sig
from vcf_pg_loader_spark.sources.bgzf import read_text_auto
from vcf_pg_loader_spark.functions.normalize import (
    classify_variant_expr,
    normalize_frame,
)

IMPACT_RANKS = {"HIGH": 0, "MODERATE": 1, "LOW": 2, "MODIFIER": 3}

DEFAULT_ANN_FIELDS = [
    "Allele",
    "Annotation",
    "Annotation_Impact",
    "Gene_Name",
    "Gene_ID",
    "Feature_Type",
    "Feature_ID",
    "Transcript_BioType",
    "Rank",
    "HGVS.c",
    "HGVS.p",
    "cDNA.pos/cDNA.length",
    "CDS.pos/CDS.length",
    "AA.pos/AA.length",
    "Distance",
    "ERRORS/WARNINGS/INFO",
]


# ---------------------------------------------------------------------------
# header (driver-side — a few KB of ## lines)
# ---------------------------------------------------------------------------
@dataclass
class VCFHeader:
    """Parsed VCF header metadata (reference VCFHeaderParser,
    vcf_parser.py:42-270, reimplemented as plain regex over ## lines)."""

    info_fields: dict[str, dict[str, str]] = field(default_factory=dict)
    format_fields: dict[str, dict[str, str]] = field(default_factory=dict)
    samples: list[str] = field(default_factory=list)
    contigs: dict[str, dict[str, str]] = field(default_factory=dict)
    csq_fields: list[str] = field(default_factory=list)
    ann_fields: list[str] = field(default_factory=list)

    _FIELD_RE = re.compile(r"##(INFO|FORMAT)=<(.+)>\s*$")
    _CONTIG_RE = re.compile(r"##contig=<(.+)>\s*$", re.IGNORECASE)

    @staticmethod
    def _split_meta(body: str) -> dict[str, str]:
        """Split 'ID=AC,Number=A,Description="has, commas"' respecting quotes."""
        parts, cur, in_q = [], "", False
        for ch in body:
            if ch == '"':
                in_q = not in_q
                cur += ch
            elif ch == "," and not in_q:
                parts.append(cur)
                cur = ""
            else:
                cur += ch
        if cur:
            parts.append(cur)
        out = {}
        for p in parts:
            if "=" in p:
                k, v = p.split("=", 1)
                out[k] = v.strip('"')
        return out

    @classmethod
    def parse(cls, lines: list[str]) -> "VCFHeader":
        h = cls()
        for line in lines:
            m = cls._FIELD_RE.match(line)
            if m:
                kind, body = m.groups()
                meta = cls._split_meta(body)
                if "ID" not in meta:
                    continue
                rec = {
                    "Number": meta.get("Number", "."),
                    "Type": meta.get("Type", "String"),
                    "Description": meta.get("Description", ""),
                }
                if kind == "INFO":
                    h.info_fields[meta["ID"]] = rec
                else:
                    h.format_fields[meta["ID"]] = rec
                continue
            m = cls._CONTIG_RE.match(line)
            if m:
                meta = cls._split_meta(m.group(1))
                if "ID" in meta:
                    h.contigs[meta["ID"]] = {
                        k: v for k, v in meta.items() if k != "ID"
                    }
                continue
            if line.startswith("#CHROM"):
                cols = line.rstrip("\n").split("\t")
                if len(cols) > 9:
                    h.samples = cols[9:]

        # VEP CSQ: Description="... Format: A|B|C"
        csq = h.info_fields.get("CSQ")
        if csq and "Format:" in csq.get("Description", ""):
            h.csq_fields = (
                csq["Description"].split("Format:")[-1].strip().strip('"').split("|")
            )
        # SnpEff ANN: fields quoted in description, else the documented set
        ann = h.info_fields.get("ANN")
        if ann:
            desc = ann.get("Description", "")
            if "'" in desc and "|" in desc:
                start, end = desc.find("'"), desc.rfind("'")
                if start < end:
                    h.ann_fields = [
                        f.strip() for f in desc[start + 1 : end].split("|")
                    ]
            if not h.ann_fields:
                h.ann_fields = DEFAULT_ANN_FIELDS.copy()
        return h

    def fields_with_number(self, number: str) -> list[str]:
        return [k for k, v in self.info_fields.items() if v["Number"] == number]


def _header_lines(path: str) -> list[str]:
    opener = gzip.open if path.endswith(".gz") else open
    lines: list[str] = []
    with opener(path, "rb") as fh:
        for raw in io.TextIOWrapper(fh, encoding="utf-8", errors="replace"):
            if not raw.startswith("#"):
                break
            lines.append(raw.rstrip("\n"))
    return lines


def _resolve_one(path: str) -> str:
    """Globs/directories resolve to their first file (shards share a
    header by construction)."""
    import glob as _glob
    import os as _os

    if any(ch in path for ch in "*?[") or _os.path.isdir(path):
        matches = sorted(_glob.glob(path)) or sorted(
            _glob.glob(_os.path.join(path, "*"))
        )
        if matches:
            return matches[0]
    return path


def _header_text(path: str) -> str:
    return "\n".join(_header_lines(_resolve_one(path)))


def read_header(path: str) -> VCFHeader:
    """Read header lines from a local VCF(.gz) file on the driver."""
    return VCFHeader.parse(_header_lines(_resolve_one(path)))


# ---------------------------------------------------------------------------
# per-ALT INFO extraction expressions (vcf_parser.py:421-458)
# ---------------------------------------------------------------------------
def _split_vals(value: Column) -> Column:
    return F.split(value, ",")


def _extract_a(value: Column, alt_idx: Column) -> Column:
    """Number=A: value[alt_idx] (vcf_parser.py:421-429)."""
    return F.try_element_at(_split_vals(value), alt_idx + 1)


def _extract_r(value: Column, alt_idx: Column) -> Column:
    """Number=R: [value[0], value[alt_idx+1]] re-joined (vcf_parser.py:431-439)."""
    vals = _split_vals(value)
    return F.concat_ws(
        ",", F.try_element_at(vals, F.lit(1)), F.try_element_at(vals, alt_idx + 2)
    )


def _extract_g(value: Column, alt_idx: Column) -> Column:
    """Number=G diploid: indices [0, i+1, (i+1)(i+2)/2 + i+1]
    (vcf_parser.py:441-458).

    Reference parity note: the het index i+1 matches the reference's
    idx_0alt (vcf_parser.py:449) but diverges from the VCF-spec genotype
    ordering F(j,k) = k(k+1)/2 + j for ALTs beyond the first (spec puts
    0/2 at index 3, not 2).  Parity wins; pinned by the golden-file test
    (tests/test_golden_vcf.py)."""
    vals = _split_vals(value)
    idx_hom_alt = ((alt_idx + 1) * (alt_idx + 2)) / 2 + alt_idx + 1
    return F.concat_ws(
        ",",
        F.try_element_at(vals, F.lit(1)),
        F.try_element_at(vals, alt_idx + 2),
        F.try_element_at(vals, idx_hom_alt.cast("int") + 1),
    )


# ---------------------------------------------------------------------------
# CSQ / ANN worst-consequence expressions (vcf_parser.py:460-508)
# ---------------------------------------------------------------------------
def _impact_rank(impact: Column) -> Column:
    r = F.when(impact == "HIGH", 0)
    for name, rank in list(IMPACT_RANKS.items())[1:]:
        r = r.when(impact == name, rank)
    return r.otherwise(3)


def _best_entry(entries: Column, impact_val, keep) -> Column:
    """Pick the first entry with the lowest impact rank.

    entries: array<array<string>> of pre-split annotation values;
    impact_val(vals) -> impact Column; keep(vals) -> boolean Column.
    """
    indexed = F.transform(
        entries, lambda vals, i: F.struct(
            _impact_rank(impact_val(vals)).alias("rank"),
            i.alias("idx"),
            vals.alias("vals"),
        )
    )
    kept = F.filter(indexed, lambda s: keep(s["vals"]))
    return F.when(F.size(kept) > 0, F.array_min(kept)["vals"])


def _csq_best(csq_value: Column, alt: Column, fields: list[str]) -> Column:
    n = len(fields)
    allele_i = fields.index("Allele") + 1 if "Allele" in fields else None
    impact_i = fields.index("IMPACT") + 1 if "IMPACT" in fields else None
    entries = F.transform(F.split(csq_value, ","), lambda e: F.split(e, r"\|", -1))

    def keep(vals: Column) -> Column:
        ok = F.size(vals) == n
        if allele_i is not None:
            ok = ok & (F.try_element_at(vals, F.lit(allele_i)) == alt)
        return ok

    def impact(vals: Column) -> Column:
        if impact_i is None:
            return F.lit("MODIFIER")
        return F.try_element_at(vals, F.lit(impact_i))

    return _best_entry(entries, impact, keep)


def _ann_best(ann_value: Column, alt: Column, fields: list[str]) -> Column:
    allele_i = fields.index("Allele") + 1 if "Allele" in fields else None
    impact_i = (
        fields.index("Annotation_Impact") + 1
        if "Annotation_Impact" in fields
        else None
    )
    entries = F.transform(F.split(ann_value, ","), lambda e: F.split(e, r"\|", -1))

    def keep(vals: Column) -> Column:
        ok = F.size(vals) >= 4
        if allele_i is not None:
            a = F.try_element_at(vals, F.lit(allele_i))
            ok = ok & ((a == "") | a.isNull() | (a == alt))
        return ok

    def impact(vals: Column) -> Column:
        if impact_i is None:
            return F.lit("MODIFIER")
        return F.coalesce(F.try_element_at(vals, F.lit(impact_i)), F.lit("MODIFIER"))

    return _best_entry(entries, impact, keep)


def _field_of(best: Column, fields: list[str], name: str) -> Column:
    if name not in fields:
        return F.lit(None).cast("string")
    v = F.try_element_at(best, F.lit(fields.index(name) + 1))
    return F.when(v == "", F.lit(None)).otherwise(v)


# ---------------------------------------------------------------------------
# the reader
# ---------------------------------------------------------------------------
FEATURE_GROUPS = frozenset({"annotation", "imputation", "clinvar", "info_extras"})


def _resolve_features(
    features, hdr: VCFHeader, *,
    min_info_score: float | None, imputation_source: str | None,
) -> set[str]:
    """Which derived-column groups to compute.

    "auto" (the default) gates each group on whether the header declares
    the INFO fields that back it — per the VCF spec an undeclared key
    should not appear in INFO, so skipping the extraction loses nothing
    on well-formed files and keeps the scan projection minimal (round-4
    finding: unconditional CSQ/imputation/ClinVar extraction cost 3.5×
    parse throughput on files that carry none of them).  "all" forces
    every group (for lenient files with undeclared keys); an iterable of
    group names forces exactly those.
    """
    declared = set(hdr.info_fields)
    if features == "all":
        enabled = set(FEATURE_GROUPS)
    elif features == "auto":
        enabled = set()
        if hdr.csq_fields or hdr.ann_fields or (
            declared & {"SYMBOL", "Consequence", "IMPACT"}
        ):
            enabled.add("annotation")
        if declared & {"INFO", "R2", "DR2", "IMPUTED", "IMP", "TYPED",
                       "GENOTYPED"}:
            enabled.add("imputation")
        if "CLNSIG" in declared:
            enabled.add("clinvar")
        if declared & {"END", "gnomAD_AF", "CADD_PHRED"}:
            enabled.add("info_extras")
    else:
        enabled = set(features)
        unknown = enabled - FEATURE_GROUPS
        if unknown:
            raise ValueError(
                f"unknown read_vcf feature groups {sorted(unknown)}; "
                f"valid: {sorted(FEATURE_GROUPS)}"
            )
    # the load filter and an explicit source both require the imputation
    # columns regardless of what the header declares
    if min_info_score is not None or imputation_source is not None:
        enabled.add("imputation")
    return enabled


def read_vcf(
    spark: SparkSession,
    path: str,
    *,
    header: VCFHeader | None = None,
    normalize: bool = False,
    human_genome: bool = True,
    min_info_score: float | None = None,
    imputation_source: str | None = None,
    features="auto",
) -> DataFrame:
    """Distributed VCF scan → decomposed, typed variants DataFrame.

    One output row per (input row, ALT allele); schema follows
    schemas.VARIANTS_SCHEMA minus load bookkeeping columns.  `features`
    ("auto" | "all" | iterable of FEATURE_GROUPS) controls which derived
    column groups are computed; the schema is identical either way —
    disabled groups project typed NULLs, so downstream plans never
    change shape, only cost.
    """
    hdr = header or read_header(path)
    enabled = _resolve_features(
        features, hdr,
        min_info_score=min_info_score, imputation_source=imputation_source,
    )

    lines = read_text_auto(spark, path).filter(~F.col("value").startswith("#"))
    c = F.split(F.col("value"), "\t")

    # malformed/truncated rows are skipped, and F.get (not getItem) keeps
    # short arrays NULL instead of erroring under ANSI indexing
    df = lines.filter(F.size(c) >= 8).select(
        F.get(c, 0).alias("chrom_raw"),
        F.get(c, 1).try_cast("bigint").alias("pos_raw"),
        F.get(c, 2).alias("id_raw"),
        F.get(c, 3).alias("ref_raw"),
        F.split(F.get(c, 4), ",").alias("alts"),
        F.get(c, 5).alias("qual_raw"),
        F.get(c, 6).alias("filter_raw"),
        F.get(c, 7).alias("info_raw"),
    )

    # multi-allelic decomposition: one row per ALT (vcf_parser.py:297)
    df = df.select(
        "*",
        F.posexplode("alts").alias("alt_idx", "alt_raw"),
    ).filter((F.col("alt_raw").isNotNull()) & (F.col("alt_raw") != ""))

    # raw INFO as map; flags ("DB") become null-valued keys
    info_map = F.str_to_map(F.col("info_raw"), F.lit(";"), F.lit("="))

    # per-ALT rewrite of Number=A/R/G values inside the map
    a_fields = set(hdr.fields_with_number("A"))
    r_fields = set(hdr.fields_with_number("R"))
    g_fields = set(hdr.fields_with_number("G"))
    alt_idx = F.col("alt_idx")

    def adjust(k: Column, v: Column) -> Column:
        expr = v
        if a_fields:
            expr = F.when(
                k.isin(*a_fields), _extract_a(v, alt_idx)
            ).otherwise(expr)
        if r_fields:
            expr = F.when(k.isin(*r_fields), _extract_r(v, alt_idx)).otherwise(expr)
        if g_fields:
            expr = F.when(k.isin(*g_fields), _extract_g(v, alt_idx)).otherwise(expr)
        return expr

    df = df.withColumn("info", F.transform_values(info_map, adjust))

    # chromosome canonicalization (vcf_parser.py:303-306)
    chrom = (
        F.concat(F.lit("chr"), F.regexp_replace(F.col("chrom_raw"), "^chr", ""))
        if human_genome
        else F.col("chrom_raw")
    )

    # normalization (normalizer.py via closed-form expressions)
    if normalize:
        df = normalize_frame(df, "pos_raw", "ref_raw", "alt_raw")
        pos = F.col("norm_pos")
        ref = F.col("norm_ref")
        alt = F.col("norm_alt")
        was_norm = F.col("was_normalized")
        original_pos = F.when(was_norm, F.col("pos_raw"))
        original_ref = F.when(was_norm, F.col("ref_raw"))
        original_alt = F.when(was_norm, F.col("alt_raw"))
        # closed-form normalization cannot left-extend (no genome in the
        # scan); flag the rows a ReferenceBases-backed pass must finish
        # (functions/normalize.py apply_left_extension)
        needs_ext = F.col("needs_left_extension")
    else:
        pos = F.col("pos_raw")
        ref = F.col("ref_raw")
        alt = F.col("alt_raw")
        was_norm = F.lit(False)
        original_pos = F.lit(None).cast("bigint")
        original_ref = F.lit(None).cast("string")
        original_alt = F.lit(None).cast("string")
        needs_ext = F.lit(False)

    # CSQ first, ANN as fallback (vcf_parser.py:345-364).  NB: the
    # reference matches annotation alleles against the ORIGINAL alt
    # (vcf_parser.py:347 passes the loop variable, not current_alt).
    null_s = F.lit(None).cast("string")
    if "annotation" in enabled:
        csq_best = (
            _csq_best(F.col("info")["CSQ"], F.col("alt_raw"), hdr.csq_fields)
            if hdr.csq_fields
            else F.lit(None).cast("array<string>")
        )
        ann_best = (
            _ann_best(F.col("info")["ANN"], F.col("alt_raw"), hdr.ann_fields)
            if hdr.ann_fields
            else F.lit(None).cast("array<string>")
        )
        df = df.withColumn("_csq", csq_best).withColumn("_ann", ann_best)

        def csq_f(name: str) -> Column:
            return _field_of(F.col("_csq"), hdr.csq_fields, name)

        def ann_f(name: str) -> Column:
            return _field_of(F.col("_ann"), hdr.ann_fields, name)

        gene = F.coalesce(
            csq_f("SYMBOL"), ann_f("Gene_Name"), F.col("info")["SYMBOL"]
        )
        use_ann = csq_f("SYMBOL").isNull()  # reference: ANN only if CSQ gave no gene

        consequence = F.coalesce(
            csq_f("Consequence"),
            F.when(use_ann, ann_f("Annotation")),
            F.col("info")["Consequence"],
        )
        impact = F.coalesce(
            csq_f("IMPACT"),
            F.when(use_ann, ann_f("Annotation_Impact")),
            F.col("info")["IMPACT"],
        )
        hgvs_c = F.coalesce(csq_f("HGVSc"), F.when(use_ann, ann_f("HGVS.c")))
        hgvs_p = F.coalesce(csq_f("HGVSp"), F.when(use_ann, ann_f("HGVS.p")))
        transcript = F.when(use_ann, ann_f("Feature_ID"))
    else:
        gene = consequence = impact = hgvs_c = hgvs_p = transcript = null_s

    # imputation metrics: source-specific extraction when a source is
    # named or detectable from the header; generic fallback otherwise
    # (parsers/imputation.py semantics via functions/imputation.py)
    from vcf_pg_loader_spark.functions.imputation import (
        ImputationSource,
        detect_imputation_source,
        imputation_columns,
    )

    if "imputation" not in enabled:
        info_score = F.lit(None).cast("float")
        is_imputed = F.lit(False)
        is_typed = F.lit(False)
    else:
        if imputation_source == "auto":
            src = detect_imputation_source(_header_text(path))
        elif imputation_source is not None:
            src = ImputationSource(imputation_source)
        else:
            src = None

        if src is not None and src != ImputationSource.UNKNOWN:
            imp = imputation_columns(F.col("info"), src)
            info_score = imp["info_score"]
            is_imputed = imp["is_imputed"]
            is_typed = imp["is_typed"]
        else:
            info_score = (
                F.coalesce(
                    F.col("info")["INFO"], F.col("info")["R2"], F.col("info")["DR2"]
                )
                .try_cast("float")
            )
            is_imputed = (
                F.map_contains_key(F.col("info"), "IMPUTED")
                | F.map_contains_key(F.col("info"), "IMP")
            )
            is_typed = F.map_contains_key(
                F.col("info"), "TYPED"
            ) | F.map_contains_key(F.col("info"), "GENOTYPED")
        # flags default to False, never NULL (reference semantics; also
        # keeps the schema's nullability identical whether or not the
        # imputation group is computed)
        is_imputed = F.coalesce(is_imputed, F.lit(False))
        is_typed = F.coalesce(is_typed, F.lit(False))

    if "info_extras" in enabled:
        end_pos = F.coalesce(
            F.col("info")["END"].try_cast("bigint"), pos + F.length(ref)
        )
        af_gnomad = F.col("info")["gnomAD_AF"].try_cast("float")
        cadd_phred = F.col("info")["CADD_PHRED"].try_cast("float")
    else:
        end_pos = pos + F.length(ref)
        af_gnomad = F.lit(None).cast("float")
        cadd_phred = F.lit(None).cast("float")

    if "clinvar" in enabled:
        # Normalized significance (type_mapping.py:106-138), NULL-gated:
        # a variant with no ClinVar annotation stays NULL rather than
        # asserting 'not_provided'; the raw CLNSIG rides alongside.
        clinvar_sig = F.when(
            F.col("info")["CLNSIG"].isNotNull(),
            normalize_clinvar_sig(F.col("info")["CLNSIG"]),
        )
        clinvar_sig_raw = F.col("info")["CLNSIG"]
    else:
        clinvar_sig = clinvar_sig_raw = null_s

    out = df.select(
        chrom.alias("chrom"),
        pos.cast("bigint").alias("pos"),
        end_pos.alias("end_pos"),
        ref.alias("ref"),
        alt.alias("alt"),
        F.when(F.col("qual_raw") == ".", F.lit(None))
        .otherwise(F.col("qual_raw"))
        .try_cast("float")
        .alias("qual"),
        F.when(
            F.col("filter_raw").isin(".", "PASS", ""),
            F.array().cast("array<string>"),
        )
        .otherwise(F.split(F.col("filter_raw"), ";"))
        .alias("filter"),
        classify_variant_expr(ref, alt).alias("variant_type"),
        F.when(F.col("id_raw") == ".", F.lit(None))
        .otherwise(F.col("id_raw"))
        .alias("rs_id"),
        F.col("info"),
        gene.alias("gene"),
        transcript.alias("transcript"),
        consequence.alias("consequence"),
        impact.alias("impact"),
        hgvs_c.alias("hgvs_c"),
        hgvs_p.alias("hgvs_p"),
        af_gnomad.alias("af_gnomad"),
        cadd_phred.alias("cadd_phred"),
        clinvar_sig.alias("clinvar_sig"),
        clinvar_sig_raw.alias("clinvar_sig_raw"),
        was_norm.alias("normalized"),
        needs_ext.alias("needs_left_extension"),
        original_pos.cast("bigint").alias("original_pos"),
        original_ref.alias("original_ref"),
        original_alt.alias("original_alt"),
        info_score.alias("info_score"),
        is_imputed.alias("is_imputed"),
        is_typed.alias("is_typed"),
        F.col("alt_idx"),
    )

    if min_info_score is not None:
        # nulls pass (vcf_parser.py:634-651)
        out = out.filter(
            F.col("info_score").isNull() | (F.col("info_score") >= min_info_score)
        )
    return out


# ---------------------------------------------------------------------------
# genotype long-format reader (genotypes/genotype_loader.py:224-328)
# ---------------------------------------------------------------------------
def read_genotypes(
    spark: SparkSession,
    path: str,
    *,
    header: VCFHeader | None = None,
    human_genome: bool = True,
) -> DataFrame:
    """FORMAT/sample matrix → long (variant, sample) frame with GT/GQ/DP/
    AD/DS/GP columns.  Explodes the sample axis; per-sample values are
    split by the FORMAT column order at runtime (format keys can vary per
    row)."""
    hdr = header or read_header(path)
    if not hdr.samples:
        raise ValueError(f"no samples in VCF header: {path}")

    lines = read_text_auto(spark, path).filter(~F.col("value").startswith("#"))
    c = F.split(F.col("value"), "\t")

    sample_arr = F.array(
        *[
            F.struct(
                F.lit(s).alias("sample_id"),
                F.get(c, 9 + i).alias("raw"),
            )
            for i, s in enumerate(hdr.samples)
        ]
    )
    df = lines.filter(F.size(c) >= 10).select(
        F.get(c, 0).alias("chrom_raw"),
        F.get(c, 1).try_cast("bigint").alias("pos"),
        F.get(c, 3).alias("ref"),
        F.split(F.get(c, 4), ",").alias("alts"),
        F.split(F.get(c, 8), ":").alias("fmt"),
        F.explode(sample_arr).alias("s"),
    )

    chrom = (
        F.concat(F.lit("chr"), F.regexp_replace(F.col("chrom_raw"), "^chr", ""))
        if human_genome
        else F.col("chrom_raw")
    )

    vals = F.split(F.col("s.raw"), ":")

    def fmt_val(key: str) -> Column:
        idx = F.array_position(F.col("fmt"), key)
        v = F.when(idx > 0, F.try_element_at(vals, idx.cast("int")))
        return F.when(v == ".", F.lit(None)).otherwise(v)

    return df.select(
        chrom.alias("chrom"),
        F.col("pos"),
        F.col("ref"),
        F.col("alts"),
        F.col("s.sample_id").alias("sample_id"),
        fmt_val("GT").alias("gt"),
        fmt_val("GQ").try_cast("int").alias("gq"),
        fmt_val("DP").try_cast("int").alias("dp"),
        F.split(fmt_val("AD"), ",").try_cast("array<int>").alias("ad"),
        fmt_val("DS").try_cast("float").alias("ds"),
        F.split(fmt_val("GP"), ",").try_cast("array<float>").alias("gp"),
        F.split(fmt_val("PL"), ",").try_cast("array<int>").alias("pl"),
    )
