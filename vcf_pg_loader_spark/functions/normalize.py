"""vt-style variant normalization (Tan et al. 2015) as Catalyst expressions.

Reference semantics: normalizer.py:13-128 in the reference repo — two
phases, (1) right-trim-or-left-extend, (2) left-trim.  Without a reference
genome the left-extend path is a no-op (the reference `break`s), which
makes the whole algorithm closed-form:

  phase 1 (right trim): remove the longest common SUFFIX of (ref, alt),
    bounded so the loop's stop conditions hold:
      pos == 1 → stop before any allele drops below length 1
                 → trim ≤ min(len)-1
      pos  > 1 → the trim that empties an allele still happens, THEN the
                 loop breaks (no genome to extend with)
                 → trim ≤ min(len)  (== lcs, since lcs ≤ min(len))
  phase 2 (left trim): remove the longest common PREFIX bounded by
    min(len)-1 (stop when any allele reaches length 1), advancing pos.

`normalize_frame` adds the result as columns, in staged projections: the
upper-cased alleles, then the common-suffix length, then the trimmed
alleles, then the common-prefix length, then the output.  Each stage's
columns are plain attributes to the next, so every row computes each
affix length once (the needs-left-extension flag reads the same suffix
length), and every stage compiles in whole-stage codegen: a common
prefix is one `regexp_extract` (`_common_prefix_len`), a suffix the same
over the reversed alleles.  No Python UDF and no interpreted
higher-order function runs in the scan path.

A pure-Python twin (`normalize_variant_py`) mirrors the reference
algorithm exactly and serves as the property-test oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Group 1 takes the longest prefix of the first string that the second
# repeats right after the tab: the greedy group backs off one character
# at a time, and the possessive run re-takes the rest of the first
# string without backtracking into it.  Alleles never hold a tab (VCF
# splits its columns on tabs).  Each back-off costs up to the first
# string's length, so the shorter string goes first: the match is
# O(min(len)²), and a 10 kb deletion against a 1-base allele is one step.
_LCP_RE = "^([^\t]*)[^\t]*+\t\\1"

def _shorter_first(a: Column, b: Column) -> tuple[Column, Column]:
    a_first = F.length(a) <= F.length(b)
    return F.when(a_first, a).otherwise(b), F.when(a_first, b).otherwise(a)


def _common_prefix_len(short: Column, long: Column) -> Column:
    """Length of the longest common prefix of two strings, the shorter
    first (JVM-side, compiled)."""
    return F.length(
        F.regexp_extract(F.concat(short, F.lit("\t"), long), _LCP_RE, 1)
    )


def normalize_frame(df: DataFrame, pos: str, ref: str, alt: str) -> DataFrame:
    """`df` plus the vt normalization of its biallelic (pos, ref, alt)
    columns, without a reference genome:

      norm_pos bigint, norm_ref string, norm_alt string — the normalized
        variant;
      was_normalized boolean — it differs from the upper-cased input;
      needs_left_extension boolean — finishing it needs a genome.

    Matches normalize_variant(reference_genome=None) from the reference
    (normalizer.py:88-128) including its empty-allele edge case at
    pos>1.  The flag mirrors the reference loop's left-extend trigger
    (normalizer.py:32-62): right-trimming empties an allele exactly when
    the common suffix spans the whole shorter allele — possible only at
    pos > 1 (at pos == 1 the trim is bounded and the reference breaks
    too).  Identical alleles are excluded: the reference loop would walk
    them back to pos 1, which is degenerate VCF, not a left-alignment.
    """
    p = F.col(pos)
    r, a = F.col("_vt_r"), F.col("_vt_a")
    minlen = F.least(F.length(r), F.length(a))
    lcs = F.col("_vt_lcs")
    rt = F.when(p == 1, F.least(lcs, minlen - 1)).otherwise(F.least(lcs, minlen))
    rt = F.greatest(rt, F.lit(0))
    r1, a1 = F.col("_vt_r1"), F.col("_vt_a1")
    short, long = _shorter_first(r, a)
    short1, long1 = _shorter_first(r1, a1)
    minlen1 = F.least(F.length(r1), F.length(a1))
    lt = F.greatest(F.least(F.col("_vt_lcp"), minlen1 - 1), F.lit(0))
    new_pos = (p + lt).cast("bigint")
    r2 = r1.substr(lt + 1, F.length(r1))
    a2 = a1.substr(lt + 1, F.length(a1))
    return (
        df.withColumns({"_vt_r": F.upper(F.col(ref)), "_vt_a": F.upper(F.col(alt))})
        .withColumns(
            {"_vt_lcs": _common_prefix_len(F.reverse(short), F.reverse(long))}
        )
        .withColumns(
            {
                "_vt_r1": r.substr(F.lit(1), F.length(r) - rt),
                "_vt_a1": a.substr(F.lit(1), F.length(a) - rt),
                "needs_left_extension": (p > 1) & (lcs >= minlen) & (r != a),
            }
        )
        .withColumns({"_vt_lcp": _common_prefix_len(short1, long1)})
        .withColumns(
            {
                "norm_pos": new_pos,
                "norm_ref": r2,
                "norm_alt": a2,
                "was_normalized": (new_pos != p) | (r2 != r) | (a2 != a),
            }
        )
        .drop("_vt_r", "_vt_a", "_vt_lcs", "_vt_r1", "_vt_a1", "_vt_lcp")
    )


def classify_variant_expr(ref: Column, alt: Column) -> Column:
    """snp / indel / mnp / sv classification (normalizer.py:160-180)."""
    return (
        F.when(alt.startswith("<") & alt.endswith(">"), F.lit("sv"))
        .when((F.length(ref) == 1) & (F.length(alt) == 1), F.lit("snp"))
        .when(F.length(ref) != F.length(alt), F.lit("indel"))
        .otherwise(F.lit("mnp"))
    )


# ---------------------------------------------------------------------------
# Python twin — the test oracle, mirroring the reference algorithm step by
# step (normalizer.py:13-128) rather than the closed form above.
# ---------------------------------------------------------------------------
def normalize_variant_py(
    pos: int, ref: str, alts: list[str], fetch_base=None
) -> tuple[int, str, list[str]]:
    """Iterative vt normalization; `fetch_base(pos)` supplies the left-
    extension base when a reference genome is available."""
    if not ref or not alts:
        return pos, ref, alts
    alleles = [ref.upper()] + [a.upper() for a in alts]

    if len(alleles) > 1:
        while True:
            to_right_trim = all(
                len(a) > 0 and a[-1] == alleles[0][-1] for a in alleles
            )
            to_left_extend = any(len(a) == 0 for a in alleles)
            if to_left_extend:
                to_right_trim = False
            if pos == 1 and any(len(a) == 1 for a in alleles):
                to_right_trim = False
            if not to_right_trim and not to_left_extend:
                break
            if to_right_trim:
                alleles = [a[:-1] for a in alleles]
            if to_left_extend:
                if fetch_base is None or pos <= 1:
                    break
                pos -= 1
                base = fetch_base(pos).upper()
                alleles = [base + a for a in alleles]

    while True:
        if any(len(a) <= 1 for a in alleles):
            break
        if len({a[0] for a in alleles}) != 1:
            break
        alleles = [a[1:] for a in alleles]
        pos += 1

    return pos, alleles[0], alleles[1:]


def is_normalized_py(ref: str, alts: list[str]) -> bool:
    """Necessary-and-sufficient normalization check (normalizer.py:131-157)."""
    if not ref or not alts:
        return True
    alleles = [ref.upper()] + [a.upper() for a in alts]
    if len({a[-1] for a in alleles if a}) == 1:
        return False
    if min(len(a) for a in alleles) == 1:
        return True
    return len({a[0] for a in alleles}) > 1


# ---------------------------------------------------------------------------
# reference-genome-backed left extension (normalizer.py:32-62) — the one
# normalization step that cannot be closed-form: each extension reads a
# genome base at a position only known after the previous trim.  Rows are
# pre-filtered by the needs_left_extension flag (a tiny indel subset), so the
# Arrow-batched kernel never touches the scan hot path.
# ---------------------------------------------------------------------------
class ReferenceBases:
    """Per-chromosome base lookup for left extension.

    Holds either full sequences (from FASTA) or sparse {pos: base} maps
    (1-based).  Small enough to broadcast: extension only ever reads a
    few bases upstream of each flagged indel, so sparse maps cover real
    workloads; full FASTA works when the genome fits executor memory
    (GRCh38 ~3 GB — acceptable as a broadcast on real clusters, same
    order as a broadcast-join dimension).
    """

    def __init__(
        self,
        seqs: dict[str, str] | None = None,
        points: dict[str, dict[int, str]] | None = None,
    ) -> None:
        self._seqs = seqs or {}
        self._points = points or {}

    @classmethod
    def from_points(cls, points: dict[str, dict[int, str]]) -> "ReferenceBases":
        return cls(points=points)

    @classmethod
    def from_fasta(cls, path: str) -> "ReferenceBases":
        """Plain/gzipped FASTA via stdlib (no pysam in scope)."""
        import gzip

        opener = gzip.open if path.endswith(".gz") else open
        seqs: dict[str, str] = {}
        name: str | None = None
        chunks: list[str] = []
        with opener(path, "rt") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith(">"):
                    if name is not None:
                        seqs[name] = "".join(chunks)
                    name = line[1:].split()[0]
                    chunks = []
                elif line:
                    chunks.append(line)
        if name is not None:
            seqs[name] = "".join(chunks)
        return cls(seqs=seqs)

    def _chrom_key(self, chrom: str, table: dict) -> str | None:
        if chrom in table:
            return chrom
        alt = chrom[3:] if chrom.startswith("chr") else f"chr{chrom}"
        return alt if alt in table else None

    def base(self, chrom: str, pos: int) -> str | None:
        """1-based single-base lookup; None when unknown."""
        k = self._chrom_key(chrom, self._seqs)
        if k is not None and 1 <= pos <= len(self._seqs[k]):
            return self._seqs[k][pos - 1].upper()
        k = self._chrom_key(chrom, self._points)
        if k is not None:
            b = self._points[k].get(pos)
            return b.upper() if b else None
        return None


def apply_left_extension(
    df,
    bases: ReferenceBases,
    *,
    chrom_col: str = "chrom",
    pos_col: str = "pos",
    ref_col: str = "ref",
    alt_col: str = "alt",
    src_pos_col: str | None = None,
    src_ref_col: str | None = None,
    src_alt_col: str | None = None,
    flag_col: str = "needs_left_extension",
    out_flag: str = "was_left_extended",
):
    """Finish vt normalization for rows flagged needs_left_extension.

    Splits the frame on the flag; only flagged rows cross the Arrow
    boundary, where the iterative reference loop (normalize_variant_py)
    runs against the broadcast `bases`.  Unflagged rows pass through
    untouched.  When the genome lacks the needed base the row keeps its
    flag (still needs extension) — nothing is silently mangled.

    For read_vcf output pass src_*="original_*": the closed-form scan
    already right-trimmed flagged rows (possibly to an empty allele), so
    extension must restart from the RAW alleles it preserved there.
    """
    from pyspark.sql.functions import pandas_udf

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bases)

    @pandas_udf(
        "struct<pos:bigint,ref:string,alt:string,extended:boolean>"
    )
    def _ext(
        chrom: pd.Series, pos: pd.Series, ref: pd.Series, alt: pd.Series
    ) -> pd.DataFrame:
        g = bc.value
        out = {"pos": [], "ref": [], "alt": [], "extended": []}
        for c, p, r, a in zip(chrom, pos, ref, alt):
            done = False
            if r and a and g.base(c, int(p) - 1) is not None:

                def _fetch(q: int, _c=c) -> str:
                    b = g.base(_c, q)
                    if b is None:
                        raise KeyError(q)
                    return b

                try:
                    np_, nr, nalts = normalize_variant_py(
                        int(p), r, [a], fetch_base=_fetch
                    )
                    done = bool(nr) and bool(nalts[0])
                    if done:
                        p, r, a = np_, nr, nalts[0]
                except KeyError:
                    done = False
            out["pos"].append(int(p))
            out["ref"].append(r)
            out["alt"].append(a)
            out["extended"].append(done)
        return pd.DataFrame(out)

    src_pos = F.col(src_pos_col) if src_pos_col else F.col(pos_col)
    src_ref = F.col(src_ref_col) if src_ref_col else F.col(ref_col)
    src_alt = F.col(src_alt_col) if src_alt_col else F.col(alt_col)
    flag = F.coalesce(F.col(flag_col), F.lit(False))

    flagged = (
        df.filter(flag)
        .withColumn(
            "_ext",
            _ext(
                F.col(chrom_col),
                F.coalesce(src_pos, F.col(pos_col)).cast("bigint"),
                F.coalesce(src_ref, F.col(ref_col)),
                F.coalesce(src_alt, F.col(alt_col)),
            ),
        )
        .withColumn(pos_col, F.col("_ext.pos"))
        .withColumn(ref_col, F.col("_ext.ref"))
        .withColumn(alt_col, F.col("_ext.alt"))
        .withColumn(out_flag, F.col("_ext.extended"))
        .withColumn(flag_col, ~F.col("_ext.extended"))
        .drop("_ext")
    )
    rest = df.filter(~flag).withColumn(out_flag, F.lit(False))
    return rest.unionByName(flagged)
