"""Genomics-domain operators demonstrated over the driver fixtures.

The reference's domain semantics (variant QC aggregation, allele
harmonization, de-novo/compound-het queries, PRS scoring, popmax) are
pure functions of relational inputs, so we exercise them on deterministic
synthetic variant/genotype frames derived from the fixture tables — the
same trick as the reference's synthetic VCF generators
(tests/fixtures/vcf_generator.py).  The Spark side routes through the
REAL engine operators (qc.variant_qc, functions.genomics, ...), so the
DuckDB oracle validates the engine code itself.  Real VCF ingestion
lives in sources/vcf.py and is covered by pytest (no VCF fixtures in
testdata).

Synthetic frames (shared by Spark + SQL):
  genotypes: from lineitem — variant key = l_partkey, sample =
    l_suppkey, GT from a deterministic mod of the keys.
  variants:  from part — chrom/pos/ref/alt from deterministic mods.
  gwas:      from part × a second allele derivation — harmonization
    classification against the variants frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vcf_pg_loader_spark.functions import genomics as G
from vcf_pg_loader_spark.qc.variant_qc import variant_qc, with_allele_frequencies, genotype_counts
from vcf_pg_loader_spark.sources.tables import load_table

BASES = ["A", "C", "G", "T"]


# ---------------------------------------------------------------------------
# synthetic frames (Spark side) and their SQL CTE twins
# ---------------------------------------------------------------------------
def synth_genotypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long genotype frame from lineitem: one call per line item.

    Projection happens BEFORE the parallelism widening so the round-robin
    shuffle carries 6 narrow columns, not the full lineitem row."""
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    li = load_table(spark, sf_dir, "lineitem")
    gt = (
        F.when((F.col("l_partkey") + F.col("l_linenumber")) % 5 == 0, "0/0")
        .when((F.col("l_partkey") + F.col("l_linenumber")) % 5 == 1, "0/1")
        .when((F.col("l_partkey") + F.col("l_linenumber")) % 5 == 2, "1/1")
        .when((F.col("l_partkey") + F.col("l_linenumber")) % 5 == 3, "./.")
        .otherwise("0|1")
    )
    out = li.select(
        F.lit("chr1").alias("chrom"),
        (F.col("l_partkey") * 100).cast("bigint").alias("pos"),
        F.lit("A").alias("ref"),
        F.lit("G").alias("alt"),
        F.col("l_suppkey").cast("string").alias("sample_id"),
        gt.alias("gt"),
    )
    return ensure_min_parallelism(out)


SQL_GENOTYPES = """
  SELECT 'chr1' AS chrom, CAST(l_partkey * 100 AS BIGINT) AS pos,
         'A' AS ref, 'G' AS alt,
         CAST(l_suppkey AS VARCHAR) AS sample_id,
         CASE (l_partkey + l_linenumber) % 5
           WHEN 0 THEN '0/0' WHEN 1 THEN '0/1' WHEN 2 THEN '1/1'
           WHEN 3 THEN './.' ELSE '0|1' END AS gt
  FROM lineitem
"""

SQL_GT_CLASS = """
  CASE WHEN gt IN ('./.') THEN NULL
       WHEN gt IN ('0/0') THEN 'hom_ref'
       WHEN gt IN ('1/1') THEN 'hom_alt'
       ELSE 'het' END
"""


def synth_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant frame from part: deterministic chrom/pos/ref/alt."""
    p = load_table(spark, sf_dir, "part")
    ref_i = F.col("p_partkey") % 4
    alt_i = (ref_i + 1 + (F.col("p_partkey") % 3)) % 4
    base = F.array(*[F.lit(b) for b in BASES])
    return p.select(
        F.col("p_partkey").cast("bigint").alias("variant_id"),
        F.concat(F.lit("chr"), ((F.col("p_partkey") % 23) + 1).cast("string")).alias(
            "chrom"
        ),
        (F.col("p_partkey") * 100).cast("bigint").alias("pos"),
        F.element_at(base, (ref_i + 1).cast("int")).alias("ref"),
        F.element_at(base, (alt_i + 1).cast("int")).alias("alt"),
        F.col("p_brand").alias("gene"),
        F.when(F.col("p_size") % 7 == 0, "HIGH")
        .when(F.col("p_size") % 7 < 3, "MODERATE")
        .when(F.col("p_size") % 7 < 5, "LOW")
        .otherwise("MODIFIER")
        .alias("impact"),
        (F.col("p_retailprice") / 10000.0).alias("af"),
    )


SQL_VARIANTS = """
  SELECT CAST(p_partkey AS BIGINT) AS variant_id,
         'chr' || CAST((p_partkey % 23) + 1 AS VARCHAR) AS chrom,
         CAST(p_partkey * 100 AS BIGINT) AS pos,
         ['A','C','G','T'][CAST(p_partkey % 4 AS INT) + 1] AS ref,
         ['A','C','G','T'][CAST(((p_partkey % 4) + 1 + (p_partkey % 3)) % 4 AS INT) + 1] AS alt,
         p_brand AS gene,
         CASE WHEN p_size % 7 = 0 THEN 'HIGH'
              WHEN p_size % 7 < 3 THEN 'MODERATE'
              WHEN p_size % 7 < 5 THEN 'LOW'
              ELSE 'MODIFIER' END AS impact,
         p_retailprice / 10000.0 AS af
  FROM part
"""


# ---------------------------------------------------------------------------
# variant QC counts + allele frequencies (qc/variant_qc.py semantics)
# ---------------------------------------------------------------------------
def q_gx_variant_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    gts = synth_genotypes(spark, sf_dir)
    out = with_allele_frequencies(genotype_counts(gts))
    return out.select(
        "chrom", "pos", "ref", "alt",
        "n_called", "n_het", "n_hom_ref", "n_hom_alt",
        "aaf", "maf", F.col("mac").cast("bigint").alias("mac"), "call_rate",
    )


Q_GX_VARIANT_QC_SQL = f"""
WITH g AS ({SQL_GENOTYPES}),
c AS (
  SELECT chrom, pos, ref, alt,
         COUNT(*) FILTER (WHERE {SQL_GT_CLASS} = 'het') AS n_het,
         COUNT(*) FILTER (WHERE {SQL_GT_CLASS} = 'hom_ref') AS n_hom_ref,
         COUNT(*) FILTER (WHERE {SQL_GT_CLASS} = 'hom_alt') AS n_hom_alt,
         COUNT(*) AS n_samples
  FROM g GROUP BY 1, 2, 3, 4
)
SELECT chrom, pos, ref, alt,
       n_het + n_hom_ref + n_hom_alt AS n_called,
       n_het, n_hom_ref, n_hom_alt,
       CASE WHEN n_het + n_hom_ref + n_hom_alt > 0 THEN
         CAST(2 * n_hom_alt + n_het AS DOUBLE) / CAST(2 * (n_het + n_hom_ref + n_hom_alt) AS DOUBLE)
       END AS aaf,
       CASE WHEN n_het + n_hom_ref + n_hom_alt > 0 THEN
         least(CAST(2 * n_hom_alt + n_het AS DOUBLE) / CAST(2 * (n_het + n_hom_ref + n_hom_alt) AS DOUBLE),
               1 - CAST(2 * n_hom_alt + n_het AS DOUBLE) / CAST(2 * (n_het + n_hom_ref + n_hom_alt) AS DOUBLE))
       END AS maf,
       CAST(CASE WHEN n_het + n_hom_ref + n_hom_alt > 0
                 THEN least(2 * n_hom_alt + n_het, 2 * n_hom_ref + n_het)
                 ELSE 0 END AS BIGINT) AS mac,
       CASE WHEN n_samples > 0 THEN CAST(n_het + n_hom_ref + n_hom_alt AS DOUBLE) / n_samples END AS call_rate
FROM c
"""


# ---------------------------------------------------------------------------
# HWE exact test (Wigginton 2005) with a recursive-CTE DuckDB oracle.
#
# The reference proves SQL-expressibility in plpgsql
# (validation/sql_functions.py:28-156); here the same recursion is a
# DuckDB recursive CTE that replicates functions/hwe.py op-for-op:
#   - down/up chains thread the unnormalized prob through the recursion
#     with the exact IEEE expression shapes of _het_probs,
#   - both ordered float accumulations (total, masked p-value sum) are
#     list_reduce left-folds matching the kernel's sequential loops,
# so the p-values agree bit-for-bit before the shared ROUND(…, 9).
# ---------------------------------------------------------------------------
def q_gx_hwe(spark: SparkSession, sf_dir: str) -> DataFrame:
    gts = synth_genotypes(spark, sf_dir)
    return variant_qc(gts).select(
        "chrom", "pos", "ref", "alt", "n_het", "n_hom_ref", "n_hom_alt",
        F.round(F.col("hwe_p"), 9).alias("hwe_p"),
    )


Q_GX_HWE_SQL = f"""
WITH RECURSIVE g AS ({SQL_GENOTYPES}),
c AS (
  SELECT pos,
         COUNT(*) FILTER (WHERE {SQL_GT_CLASS} = 'het') AS n_het,
         COUNT(*) FILTER (WHERE {SQL_GT_CLASS} = 'hom_ref') AS n_hom_ref,
         COUNT(*) FILTER (WHERE {SQL_GT_CLASS} = 'hom_alt') AS n_hom_alt
  FROM g GROUP BY pos
),
base AS (
  SELECT pos, n_het, n_hom_ref, n_hom_alt,
         n_het + n_hom_ref + n_hom_alt AS n,
         2 * n_hom_ref + n_het AS na,
         2 * n_hom_alt + n_het AS nb
  FROM c
),
-- mid selection, mirroring _het_probs (functions/hwe.py)
m2 AS (
  SELECT pos, n_het, na, nb, min_het, max_het,
         CASE WHEN mid0a > max_het OR mid0a < min_het THEN min_het
              ELSE mid0a END AS mid
  FROM (
    SELECT *,
           CASE WHEN mid0 % 2 != min_het % 2
                THEN CASE WHEN mid0 < max_het THEN mid0 + 1 ELSE mid0 - 1 END
                ELSE mid0 END AS mid0a
    FROM (
      SELECT pos, n_het, na, nb,
             abs(na - nb) % 2 AS min_het,
             least(na, nb) AS max_het,
             (abs(na - nb) % 2 + least(na, nb)) // 2 AS mid0
      FROM base
      WHERE n > 0 AND na > 0 AND nb > 0 AND n_het <= least(na, nb)
    )
  )
),
down AS (
  SELECT pos, min_het, na, nb, mid AS h, CAST(1.0 AS DOUBLE) AS p, 0 AS step
  FROM m2
  UNION ALL
  SELECT pos, min_het, na, nb, h - 2 AS h,
         p * h * (h - 1) / (4.0 * ((na - h) // 2) * ((nb - h) // 2)) AS p,
         step + 1 AS step
  FROM down
  WHERE h > min_het AND h - 2 >= 0
    AND (na - h) // 2 > 0 AND (nb - h) // 2 > 0
),
up AS (
  SELECT pos, max_het, na, nb, mid AS h, CAST(1.0 AS DOUBLE) AS p, 0 AS step
  FROM m2
  UNION ALL
  SELECT pos, max_het, na, nb, h + 2 AS h,
         p * 4.0 * ((na - h) // 2) * ((nb - h) // 2) / ((h + 2) * (h + 1)) AS p,
         step + 1 AS step
  FROM up
  WHERE h < max_het AND h + 2 <= max_het
    AND (na - h) // 2 >= 0 AND (nb - h) // 2 >= 0
),
-- every unnormalized prob, ordered exactly as the kernel accumulates:
-- mid first (down step 0), then the down chain, then the up chain
probs AS (
  SELECT pos, h, p, step AS ord FROM down
  UNION ALL
  SELECT pos, h, p, 1000000 + step AS ord FROM up WHERE step > 0
),
tot AS (
  SELECT pos, list_reduce(list(p ORDER BY ord), (a, b) -> a + b) AS total
  FROM probs GROUP BY pos
),
normed AS (
  SELECT probs.pos, probs.h, probs.p / tot.total AS np
  FROM probs JOIN tot ON probs.pos = tot.pos
),
-- p_obs is 0.0 when the recursion never reached index n_het (gap rows)
obs AS (
  SELECT m2.pos, COALESCE(n.np, CAST(0.0 AS DOUBLE)) + 1e-10 AS threshold
  FROM m2 LEFT JOIN normed n ON n.pos = m2.pos AND n.h = m2.n_het
),
pv AS (
  SELECT o.pos,
         least(CAST(1.0 AS DOUBLE),
               list_reduce(
                 list_prepend(CAST(0.0 AS DOUBLE),
                              COALESCE(list(n.np ORDER BY n.h)
                                         FILTER (WHERE n.np <= o.threshold),
                                       [])),
                 (a, b) -> a + b)) AS p_raw
  FROM obs o JOIN normed n ON n.pos = o.pos
  GROUP BY o.pos, o.threshold
)
SELECT 'chr1' AS chrom, b.pos, 'A' AS ref, 'G' AS alt,
       b.n_het, b.n_hom_ref, b.n_hom_alt,
       ROUND(CASE WHEN b.n = 0 THEN NULL
                  WHEN b.na = 0 OR b.nb = 0 THEN CAST(1.0 AS DOUBLE)
                  WHEN b.n_het > least(b.na, b.nb) THEN NULL
                  ELSE pv.p_raw END, 9) AS hwe_p
FROM base b LEFT JOIN pv ON pv.pos = b.pos
"""


# ---------------------------------------------------------------------------
# allele harmonization classification (gwas/loader.py:68-176,
# sql_functions.py:182-227) — exact / swap / strand-flip / none
# ---------------------------------------------------------------------------
def q_gx_harmonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = synth_variants(spark, sf_dir)
    # second allele orientation derived from the same keys: rotate by a
    # different modulus so we produce every match class
    base = F.array(*[F.lit(b) for b in BASES])
    k = F.col("variant_id")
    ea_i = (k % 4 + F.when(k % 5 < 2, 0).otherwise(k % 3 + 1)) % 4
    oa_i = (ea_i + 1 + (k % 2)) % 4
    stats = v.select(
        "variant_id", "ref", "alt",
        F.element_at(base, (ea_i + 1).cast("int")).alias("ea"),
        F.element_at(base, (oa_i + 1).cast("int")).alias("oa"),
    )
    ea, oa, ref, alt = F.col("ea"), F.col("oa"), F.col("ref"), F.col("alt")
    match_type = (
        F.when((ea == alt) & (oa == ref), "exact")
        .when((ea == ref) & (oa == alt), "swap")
        .when((G.complement(ea) == alt) & (G.complement(oa) == ref), "strand_flip")
        .when((G.complement(ea) == ref) & (G.complement(oa) == alt), "flip_swap")
        .otherwise("none")
    )
    return (
        stats.select(
            "variant_id",
            match_type.alias("match_type"),
            G.alleles_match(ref, alt, ea, oa).alias("matches"),
            G.is_strand_ambiguous(ea, oa).alias("ambiguous"),
        )
    )


Q_GX_HARMONIZE_SQL = f"""
WITH v AS ({SQL_VARIANTS}),
stats AS (
  SELECT variant_id, ref, alt,
         ['A','C','G','T'][CAST((variant_id % 4 + CASE WHEN variant_id % 5 < 2 THEN 0 ELSE variant_id % 3 + 1 END) % 4 AS INT) + 1] AS ea,
         ['A','C','G','T'][CAST(((variant_id % 4 + CASE WHEN variant_id % 5 < 2 THEN 0 ELSE variant_id % 3 + 1 END) % 4 + 1 + (variant_id % 2)) % 4 AS INT) + 1] AS oa
  FROM v
)
SELECT variant_id,
       CASE WHEN ea = alt AND oa = ref THEN 'exact'
            WHEN ea = ref AND oa = alt THEN 'swap'
            WHEN translate(ea,'ACGT','TGCA') = alt AND translate(oa,'ACGT','TGCA') = ref THEN 'strand_flip'
            WHEN translate(ea,'ACGT','TGCA') = ref AND translate(oa,'ACGT','TGCA') = alt THEN 'flip_swap'
            ELSE 'none' END AS match_type,
       (ref = ea AND alt = oa) OR (ref = oa AND alt = ea)
         OR (translate(ref,'ACGT','TGCA') = ea AND translate(alt,'ACGT','TGCA') = oa)
         OR (translate(ref,'ACGT','TGCA') = oa AND translate(alt,'ACGT','TGCA') = ea) AS matches,
       (ea = 'A' AND oa = 'T') OR (ea = 'T' AND oa = 'A')
         OR (ea = 'C' AND oa = 'G') OR (ea = 'G' AND oa = 'C') AS ambiguous
FROM stats
"""


# ---------------------------------------------------------------------------
# de-novo trio query (tests/integration/test_database_queries.py:86-111):
# child variants absent from both parents — two anti-joins
# ---------------------------------------------------------------------------
def q_gx_denovo(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    member = (F.col("l_suppkey") % 3)
    calls = li.select(
        (F.col("l_orderkey")).alias("variant_key"),
        F.when(member == 0, "child").when(member == 1, "father").otherwise(
            "mother"
        ).alias("member"),
    ).distinct()
    child = calls.filter(F.col("member") == "child").select("variant_key")
    father = calls.filter(F.col("member") == "father").select("variant_key")
    mother = calls.filter(F.col("member") == "mother").select("variant_key")
    return (
        child.join(father, "variant_key", "left_anti")
        .join(mother, "variant_key", "left_anti")
        .orderBy("variant_key")
    )


Q_GX_DENOVO_SQL = """
WITH calls AS (
  SELECT DISTINCT l_orderkey AS variant_key,
         CASE l_suppkey % 3 WHEN 0 THEN 'child' WHEN 1 THEN 'father'
              ELSE 'mother' END AS member
  FROM lineitem
)
SELECT variant_key FROM calls c WHERE member = 'child'
  AND NOT EXISTS (SELECT 1 FROM calls f WHERE f.member = 'father'
                  AND f.variant_key = c.variant_key)
  AND NOT EXISTS (SELECT 1 FROM calls m WHERE m.member = 'mother'
                  AND m.variant_key = c.variant_key)
ORDER BY variant_key
"""


# ---------------------------------------------------------------------------
# compound-het (test_database_queries.py:192-221): genes with >=2 variants
# and >=1 HIGH impact — window rewrite of the reference's CTE+IN-subquery
# ---------------------------------------------------------------------------
def q_gx_compound_het(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = synth_variants(spark, sf_dir)
    w = Window.partitionBy("gene")
    return (
        v.withColumn("n_in_gene", F.count(F.lit(1)).over(w))
        .withColumn(
            "has_high", F.max(F.when(F.col("impact") == "HIGH", 1).otherwise(0)).over(w)
        )
        .filter((F.col("n_in_gene") >= 2) & (F.col("has_high") == 1))
        .select("gene", "variant_id", "impact", "n_in_gene")
    )


Q_GX_COMPOUND_HET_SQL = f"""
WITH v AS ({SQL_VARIANTS}),
w AS (
  SELECT gene, variant_id, impact,
         COUNT(*) OVER (PARTITION BY gene) AS n_in_gene,
         MAX(CASE WHEN impact = 'HIGH' THEN 1 ELSE 0 END)
           OVER (PARTITION BY gene) AS has_high
  FROM v
)
SELECT gene, variant_id, impact, n_in_gene
FROM w WHERE n_in_gene >= 2 AND has_high = 1
"""


# ---------------------------------------------------------------------------
# PRS scoring (docs/prs-workflows.md:174-181, 291-296): dosage×weight sum
# per sample + cohort z-score — the global window rewritten as a scalar
# aggregate + broadcast (SURVEY §7.3 "global windows" hazard)
# ---------------------------------------------------------------------------
def q_gx_prs_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    gts = synth_genotypes(spark, sf_dir)
    weights = synth_variants(spark, sf_dir).select(
        (F.col("variant_id") * 100).cast("bigint").alias("pos"),
        (F.col("af") * 2 - 0.1).alias("weight"),
    )
    dosage = G.gt_to_dosage(F.col("gt"))
    scored = (
        gts.join(F.broadcast(weights), "pos")
        .select(
            "sample_id",
            (dosage * F.col("weight")).cast("decimal(20,10)").alias("contrib"),
        )
        .groupBy("sample_id")
        .agg(F.sum("contrib").cast("double").alias("prs_raw"))
    )
    # cohort standardization: exact-decimal mean/std scalars, broadcast back
    stats = scored.agg(
        F.sum(F.col("prs_raw").cast("decimal(24,10)")).cast("double").alias("s1"),
        F.sum(
            (F.col("prs_raw") * F.col("prs_raw")).cast("decimal(30,10)")
        ).cast("double").alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    return (
        scored.crossJoin(F.broadcast(stats))
        .select(
            "sample_id",
            F.round("prs_raw", 6).alias("prs_raw"),
            F.round((F.col("prs_raw") - mean) / F.sqrt(var), 6).alias("prs_z"),
        )
    )


Q_GX_PRS_SCORE_SQL = f"""
WITH g AS ({SQL_GENOTYPES}),
v AS ({SQL_VARIANTS}),
weights AS (SELECT CAST(variant_id * 100 AS BIGINT) AS pos, af * 2 - 0.1 AS weight FROM v),
scored AS (
  SELECT sample_id,
         CAST(SUM(CAST((CASE replace(gt, '|', '/')
                 WHEN '0/0' THEN 0.0 WHEN '0/1' THEN 1.0 WHEN '1/0' THEN 1.0
                 WHEN '1/1' THEN 2.0 END) * weight AS DECIMAL(20,10))) AS DOUBLE) AS prs_raw
  FROM g JOIN weights USING (pos)
  GROUP BY sample_id
),
stats AS (
  SELECT CAST(SUM(CAST(prs_raw AS DECIMAL(24,10))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(prs_raw * prs_raw AS DECIMAL(30,10))) AS DOUBLE) AS s2,
         COUNT(*) AS n
  FROM scored
)
SELECT sample_id, ROUND(prs_raw, 6) AS prs_raw,
       ROUND((prs_raw - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS prs_z
FROM scored, stats
"""


# ---------------------------------------------------------------------------
# popmax (annotations/population_freq.py:172-216): max AF across
# populations excluding bottlenecked ASJ/FIN
# ---------------------------------------------------------------------------
_POPS = ["afr", "amr", "eas", "nfe", "asj", "fin"]
_EXCLUDED = {"asj", "fin"}


def q_gx_popmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = synth_variants(spark, sf_dir)
    pops = spark.createDataFrame([(p, i) for i, p in enumerate(_POPS)], ["pop", "pop_i"])
    freqs = v.crossJoin(F.broadcast(pops)).select(
        "variant_id",
        "pop",
        F.round(
            (F.col("af") * (1 + F.col("pop_i"))) % 1.0, 8
        ).alias("pop_af"),
    )
    return freqs.groupBy("variant_id").agg(
        F.max(
            F.when(~F.col("pop").isin(*_EXCLUDED), F.col("pop_af"))
        ).alias("popmax_af"),
        F.max("pop_af").alias("max_af_all"),
        F.count(F.lit(1)).alias("n_pops"),
    )


Q_GX_POPMAX_SQL = f"""
WITH v AS ({SQL_VARIANTS}),
pops AS (SELECT * FROM (VALUES ('afr',0),('amr',1),('eas',2),('nfe',3),('asj',4),('fin',5)) AS t(pop, pop_i)),
freqs AS (
  SELECT variant_id, pop, ROUND(fmod(af * (1 + pop_i), 1.0), 8) AS pop_af
  FROM v CROSS JOIN pops
)
SELECT variant_id,
       MAX(pop_af) FILTER (WHERE pop NOT IN ('asj','fin')) AS popmax_af,
       MAX(pop_af) AS max_af_all,
       COUNT(*) AS n_pops
FROM freqs GROUP BY variant_id
"""


# ---------------------------------------------------------------------------
# chromosome-order export sort (schema.py:15-41 enum order; SURVEY §4 #3)
# ---------------------------------------------------------------------------
def q_gx_chrom_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = synth_variants(spark, sf_dir)
    return (
        v.orderBy(G.chrom_sort_key(F.col("chrom")), F.col("pos"))
        .select("chrom", "pos", "ref", "alt")
        .limit(50)
    )


_CHROM_CASE = "CASE chrom " + " ".join(
    f"WHEN 'chr{c}' THEN {i}"
    for i, c in enumerate([str(x) for x in range(1, 23)] + ["X", "Y", "M"])
) + " ELSE 99 END"

Q_GX_CHROM_ORDER_SQL = f"""
WITH v AS ({SQL_VARIANTS})
SELECT chrom, pos, ref, alt FROM v
ORDER BY {_CHROM_CASE}, pos
LIMIT 50
"""


# ---------------------------------------------------------------------------
# cohort aggregation (test_database_queries.py:262-313): carriers per
# variant (COUNT DISTINCT), rare-in-cohort filter, per-sample burden
# ---------------------------------------------------------------------------
def q_gx_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.qc.variant_qc import classify_gt

    from pyspark.storagelevel import StorageLevel

    gts = synth_genotypes(spark, sf_dir)
    # One (variant, sample) pre-aggregation feeds BOTH downstream
    # aggregates: the naive plan (per-variant countDistinct + a global
    # countDistinct) scans and fully reshuffles the genotype frame twice;
    # here the raw frame shuffles once, and both countDistincts collapse
    # to cheap counts over the already-distinct persisted pairs.
    # Cache lifetime: the persist backs the returned lazy plan, so the
    # caller owns it (the query runner releases it after each run).
    #
    # The single corpus shuffle is KEYED on pos, not round-robin
    # (optimization round 16, guide §2.4 "share one exchange"):
    # hashpartitioning(pos) satisfies the clustered distribution of the
    # 5-key pairs groupBy (pos is in its key set), so the repartition
    # that widens the single-file scan IS the aggregation exchange —
    # one corpus exchange instead of round-robin + 5-key re-shuffle
    # (CollapseRepartition drops synth_genotypes' round-robin widen
    # under this keyed one).  Interleaved A/B at sf0.1: 3.17 -> 1.76 s
    # median.  Partition count stays the shuffle-partitions conf
    # (scale-adaptive, AQE-coalescible), and pos is corpus-cardinality
    # so the hash spreads without skew.
    cls = classify_gt(F.col("gt"))
    pairs = (
        gts.repartition("pos")
        .groupBy("chrom", "pos", "ref", "alt", "sample_id")
        .agg(
            F.max(
                F.when(cls.isin("het", "hom_alt"), F.lit(1)).otherwise(F.lit(0))
            ).alias("is_carrier")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per_variant = (
        pairs.groupBy("chrom", "pos", "ref", "alt")
        .agg(F.sum("is_carrier").alias("n_carriers"))
        .filter(F.col("n_carriers") > 0)
    )
    # n_samples as a 1-row aggregate crossJoined broadcast (the
    # q_gx_prs_score pattern) — no eager driver-side .count() mid-query.
    n = pairs.agg(F.countDistinct("sample_id").alias("n_samples"))
    return (
        per_variant.crossJoin(F.broadcast(n))
        .filter(F.col("n_carriers") <= F.floor(F.col("n_samples") * 0.6))
        .select(
            "chrom", "pos", "ref", "alt", "n_carriers",
            (F.col("n_carriers").cast("double") / F.col("n_samples")).alias(
                "cohort_freq"
            ),
        )
    )


def _cohort_sql() -> str:
    return f"""
WITH g AS ({SQL_GENOTYPES}),
cls AS (SELECT *, {SQL_GT_CLASS} AS c FROM g),
n AS (SELECT COUNT(DISTINCT sample_id) AS n_samples FROM g),
pv AS (
  SELECT chrom, pos, ref, alt, COUNT(DISTINCT sample_id) AS n_carriers
  FROM cls WHERE c IN ('het', 'hom_alt')
  GROUP BY 1, 2, 3, 4
)
SELECT chrom, pos, ref, alt, n_carriers,
       CAST(n_carriers AS DOUBLE) / n_samples AS cohort_freq
FROM pv, n
WHERE n_carriers <= CAST(floor(n_samples * 0.6) AS BIGINT)
"""


Q_GX_COHORT_SQL = _cohort_sql()


# ---------------------------------------------------------------------------
# full sample-QC rollup through the REAL qc.sample_qc operator
# (qc/sample_qc.py semantics over a synthetic cohort with SNP variety,
# chrX sites, and DP/GQ)
# ---------------------------------------------------------------------------
def synth_genotypes_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    li = load_table(spark, sf_dir, "lineitem")
    k = F.col("l_partkey")
    ref_i = k % 4
    alt_i = (ref_i + 1 + (k % 3)) % 4
    base = F.array(*[F.lit(b) for b in BASES])
    gt = (
        F.when((k + F.col("l_linenumber")) % 5 == 0, "0/0")
        .when((k + F.col("l_linenumber")) % 5 == 1, "0/1")
        .when((k + F.col("l_linenumber")) % 5 == 2, "1/1")
        .when((k + F.col("l_linenumber")) % 5 == 3, "./.")
        .otherwise("0|1")
    )
    out = li.select(
        F.when(k % 10 == 0, F.lit("chrX"))
        .otherwise(F.concat(F.lit("chr"), ((k % 9) + 1).cast("string")))
        .alias("chrom"),
        # chrX sites land inside the PAR window used by sex inference
        F.when(k % 10 == 0, (F.lit(3_000_000) + k)).otherwise(k * 100)
        .cast("bigint")
        .alias("pos"),
        F.element_at(base, (ref_i + 1).cast("int")).alias("ref"),
        F.element_at(base, (alt_i + 1).cast("int")).alias("alt"),
        F.col("l_suppkey").cast("string").alias("sample_id"),
        gt.alias("gt"),
        (F.col("l_linenumber") * 10 + 5).cast("int").alias("dp"),
        ((k % 60) + 20).cast("int").alias("gq"),
    )
    return ensure_min_parallelism(out)


SQL_GENOTYPES_RICH = """
  SELECT CASE WHEN l_partkey % 10 = 0 THEN 'chrX'
              ELSE 'chr' || CAST((l_partkey % 9) + 1 AS VARCHAR) END AS chrom,
         CAST(CASE WHEN l_partkey % 10 = 0 THEN 3000000 + l_partkey
                   ELSE l_partkey * 100 END AS BIGINT) AS pos,
         ['A','C','G','T'][CAST(l_partkey % 4 AS INT) + 1] AS ref,
         ['A','C','G','T'][CAST(((l_partkey % 4) + 1 + (l_partkey % 3)) % 4 AS INT) + 1] AS alt,
         CAST(l_suppkey AS VARCHAR) AS sample_id,
         CASE (l_partkey + l_linenumber) % 5
           WHEN 0 THEN '0/0' WHEN 1 THEN '0/1' WHEN 2 THEN '1/1'
           WHEN 3 THEN './.' ELSE '0|1' END AS gt,
         CAST(l_linenumber * 10 + 5 AS INT) AS dp,
         CAST((l_partkey % 60) + 20 AS INT) AS gq
  FROM lineitem
"""


def q_gx_sample_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.qc.sample_qc import sample_qc

    out = sample_qc(synth_genotypes_rich(spark, sf_dir))
    return out.select(
        "sample_id", "n_total", "n_called", "n_snp", "n_het", "n_hom_var",
        "call_rate", "het_hom_ratio", "ti_tv_ratio",
        "n_transitions", "n_transversions",
        "x_n_total", "x_n_het", "sex_inferred",
        "mean_dp", "mean_gq", "qc_pass",
    )


Q_GX_SAMPLE_QC_SQL = f"""
WITH g AS ({SQL_GENOTYPES_RICH}),
cls AS (
  SELECT *, {SQL_GT_CLASS} AS c,
         (length(ref) = 1 AND length(alt) = 1) AS is_snp,
         (ref || alt) IN ('AG','GA','CT','TC') AS is_ti,
         (chrom IN ('chrX','X') AND pos > 2781479 AND pos < 155701383) AS on_x
  FROM g
),
agg AS (
  SELECT sample_id,
         COUNT(*) AS n_total,
         COUNT(*) FILTER (WHERE c IS NOT NULL) AS n_called,
         COUNT(*) FILTER (WHERE c IS NOT NULL AND is_snp) AS n_snp,
         COUNT(*) FILTER (WHERE c = 'het') AS n_het,
         COUNT(*) FILTER (WHERE c = 'hom_alt') AS n_hom_var,
         COUNT(*) FILTER (WHERE c IN ('het','hom_alt') AND is_snp AND is_ti) AS n_transitions,
         COUNT(*) FILTER (WHERE c IN ('het','hom_alt') AND is_snp AND NOT is_ti) AS n_transversions,
         COUNT(*) FILTER (WHERE on_x AND c IS NOT NULL) AS x_n_total,
         COUNT(*) FILTER (WHERE on_x AND c = 'het') AS x_n_het,
         AVG(CAST(dp AS DOUBLE)) AS mean_dp,
         AVG(CAST(gq AS DOUBLE)) AS mean_gq
  FROM cls GROUP BY sample_id
)
SELECT sample_id, n_total, n_called, n_snp, n_het, n_hom_var,
       CASE WHEN n_total > 0 THEN CAST(n_called AS DOUBLE) / n_total ELSE 0.0 END AS call_rate,
       CASE WHEN n_hom_var > 0 THEN CAST(n_het AS DOUBLE) / n_hom_var END AS het_hom_ratio,
       CASE WHEN n_transversions > 0 THEN CAST(n_transitions AS DOUBLE) / n_transversions END AS ti_tv_ratio,
       n_transitions, n_transversions, x_n_total, x_n_het,
       CASE WHEN (CASE WHEN x_n_total > 0 THEN CAST(x_n_het AS DOUBLE) / x_n_total ELSE 0.0 END) <= 0.05 THEN 'M'
            WHEN (CASE WHEN x_n_total > 0 THEN CAST(x_n_het AS DOUBLE) / x_n_total ELSE 0.0 END) >= 0.15 THEN 'F'
            ELSE 'unknown' END AS sex_inferred,
       mean_dp, mean_gq,
       (CASE WHEN n_total > 0 THEN CAST(n_called AS DOUBLE) / n_total ELSE 0.0 END) >= 0.99 AS qc_pass
FROM agg
"""


# ---------------------------------------------------------------------------
# inbreeding F / expected het / singletons — the sample_qc metrics that
# need the variant_maf join (qc/sample_qc.py:96-103,137-144), through the
# REAL operator.  expected_het uses the decimal-sum pattern so the double
# is partition-order independent and bit-matches DuckDB.
# ---------------------------------------------------------------------------
def q_gx_inbreeding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.qc.sample_qc import sample_qc
    from vcf_pg_loader_spark.qc.variant_qc import (
        genotype_counts,
        with_allele_frequencies,
    )

    gts = synth_genotypes(spark, sf_dir)
    vqc = with_allele_frequencies(genotype_counts(gts))
    out = sample_qc(gts, variant_maf=vqc)
    return out.select(
        "sample_id",
        "n_het",
        F.col("n_singleton").cast("bigint").alias("n_singleton"),
        F.round(F.col("expected_het"), 9).alias("expected_het"),
        F.round(F.col("f_inbreeding"), 9).alias("f_inbreeding"),
    )


Q_GX_INBREEDING_SQL = f"""
WITH g AS ({SQL_GENOTYPES}),
cls AS (SELECT *, {SQL_GT_CLASS} AS c FROM g),
vc AS (
  SELECT chrom, pos, ref, alt,
         COUNT(*) FILTER (WHERE c = 'het') AS v_het,
         COUNT(*) FILTER (WHERE c = 'hom_ref') AS v_hom_ref,
         COUNT(*) FILTER (WHERE c = 'hom_alt') AS v_hom_alt
  FROM cls GROUP BY 1, 2, 3, 4
),
vqc AS (
  SELECT chrom, pos, ref, alt,
         CASE WHEN v_het + v_hom_ref + v_hom_alt > 0 THEN
           least(CAST(2 * v_hom_alt + v_het AS DOUBLE) / CAST(2 * (v_het + v_hom_ref + v_hom_alt) AS DOUBLE),
                 1 - CAST(2 * v_hom_alt + v_het AS DOUBLE) / CAST(2 * (v_het + v_hom_ref + v_hom_alt) AS DOUBLE))
         END AS maf,
         CAST(CASE WHEN v_het + v_hom_ref + v_hom_alt > 0
                   THEN least(2 * v_hom_alt + v_het, 2 * v_hom_ref + v_het)
                   ELSE 0 END AS BIGINT) AS mac
  FROM vc
),
j AS (
  SELECT cls.sample_id, cls.c, vqc.maf, vqc.mac
  FROM cls LEFT JOIN vqc USING (chrom, pos, ref, alt)
),
agg AS (
  SELECT sample_id,
         COUNT(*) FILTER (WHERE c = 'het') AS n_het,
         CAST(SUM(CASE WHEN c IS NOT NULL
                       THEN CAST((2 * maf) * (1 - maf) AS DECIMAL(28,12)) END)
              AS DOUBLE) AS expected_het,
         COUNT(*) FILTER (WHERE c IN ('het','hom_alt') AND mac = 1) AS n_singleton
  FROM j GROUP BY sample_id
)
SELECT sample_id, n_het, n_singleton,
       ROUND(expected_het, 9) AS expected_het,
       ROUND(CASE WHEN expected_het IS NOT NULL AND expected_het != 0
                  THEN 1.0 - CAST(n_het AS DOUBLE) / expected_het END, 9)
         AS f_inbreeding
FROM agg
"""


# ---------------------------------------------------------------------------
# gnomAD ADJ genotype filter (genotypes/genotype_loader.py:140-172) over a
# cohort with missing GQ/DP/AD sprinkled in — missing values pass, het
# calls additionally need allele balance >= 0.2
# ---------------------------------------------------------------------------
def q_gx_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.functions.genomics import passes_adj
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    li = load_table(spark, sf_dir, "lineitem")
    k = F.col("l_partkey")
    gt = (
        F.when((k + F.col("l_linenumber")) % 5 == 0, "0/0")
        .when((k + F.col("l_linenumber")) % 5 == 1, "0/1")
        .when((k + F.col("l_linenumber")) % 5 == 2, "1/1")
        .when((k + F.col("l_linenumber")) % 5 == 3, "./.")
        .otherwise("0|1")
    )
    gq = F.when(k % 11 == 0, F.lit(None)).otherwise(k % 40).cast("int")
    dp = (
        F.when(k % 13 == 0, F.lit(None))
        .otherwise(F.col("l_linenumber") * 4)
        .cast("int")
    )
    m = (k % 12).cast("int")
    ad = F.when(
        k % 17 != 0,
        F.array((F.col("l_linenumber") * 4 - m).cast("int"), m),
    )
    gts = ensure_min_parallelism(
        li.select(
            (k * 100).cast("bigint").alias("pos"),
            F.col("l_suppkey").cast("string").alias("sample_id"),
            gt.alias("gt"),
            gq.alias("gq"),
            dp.alias("dp"),
            ad.alias("ad"),
        )
    )
    flagged = gts.withColumn(
        "adj_pass", passes_adj(F.col("gt"), F.col("gq"), F.col("dp"), F.col("ad"))
    )
    return flagged.groupBy((F.col("pos") % 7).cast("bigint").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("adj_pass"), 1)).alias("n_pass"),
        F.count(
            F.when(
                F.col("adj_pass")
                & F.translate(F.col("gt"), "|", "/").isin("0/1", "1/0"),
                1,
            )
        ).alias("n_het_pass"),
    )


Q_GX_ADJ_SQL = """
WITH g AS (
  SELECT CAST(l_partkey * 100 AS BIGINT) AS pos,
         CAST(l_suppkey AS VARCHAR) AS sample_id,
         CASE (l_partkey + l_linenumber) % 5
           WHEN 0 THEN '0/0' WHEN 1 THEN '0/1' WHEN 2 THEN '1/1'
           WHEN 3 THEN './.' ELSE '0|1' END AS gt,
         CASE WHEN l_partkey % 11 = 0 THEN NULL
              ELSE CAST(l_partkey % 40 AS INT) END AS gq,
         CASE WHEN l_partkey % 13 = 0 THEN NULL
              ELSE CAST(l_linenumber * 4 AS INT) END AS dp,
         CASE WHEN l_partkey % 17 != 0
              THEN [CAST(l_linenumber * 4 - (l_partkey % 12) AS INT),
                    CAST(l_partkey % 12 AS INT)]
              END AS ad
  FROM lineitem
),
e AS (
  SELECT *,
         replace(gt, '|', '/') AS gslash,
         CASE WHEN ad IS NULL THEN NULL
              ELSE coalesce(ad[1], 0) + coalesce(ad[2], 0) END AS ad_total
  FROM g
),
ab AS (
  SELECT *,
         CASE WHEN ad_total > 0
              THEN CAST(ad_total - coalesce(ad[1], 0) AS DOUBLE) / ad_total
              END AS bal,
         gslash IN ('0/1', '1/0', '1/2', '2/1') AS is_het
  FROM e
),
p AS (
  SELECT *,
         (gq IS NULL OR gq >= 20)
         AND (dp IS NULL OR dp >= 10)
         AND ((NOT is_het) OR bal IS NULL OR bal >= 0.2) AS adj_pass
  FROM ab
)
SELECT CAST(pos % 7 AS BIGINT) AS grp,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE adj_pass) AS n_pass,
       COUNT(*) FILTER (WHERE adj_pass AND gslash IN ('0/1','1/0')) AS n_het_pass
FROM p GROUP BY 1
"""


# ---------------------------------------------------------------------------
# dosage-array statistics: af_from_dosages (HOF left-fold, no explode) and
# n_eff (sql_functions.py:159-179)
# ---------------------------------------------------------------------------
def q_gx_dosage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.functions.genomics import af_from_dosages, n_eff
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    p = ensure_min_parallelism(load_table(spark, sf_dir, "part"))
    k = F.col("p_partkey")
    ds = F.array(
        (k % 3).cast("double"),
        ((k + 2) % 4).cast("double") / 2,
        F.when(k % 5 != 0, (k % 2).cast("double")),
    )
    return p.select(
        k.cast("bigint").alias("variant_id"),
        F.round(af_from_dosages(ds), 9).alias("af_dosage"),
        F.round(n_eff((k % 100).cast("int"), ((k * 7) % 100).cast("int")), 9).alias(
            "n_eff"
        ),
    )


Q_GX_DOSAGE_STATS_SQL = """
WITH d AS (
  SELECT CAST(p_partkey AS BIGINT) AS variant_id,
         list_filter([CAST(p_partkey % 3 AS DOUBLE),
                      CAST((p_partkey + 2) % 4 AS DOUBLE) / 2,
                      CASE WHEN p_partkey % 5 != 0
                           THEN CAST(p_partkey % 2 AS DOUBLE) END],
                     x -> x IS NOT NULL) AS valid,
         CAST(p_partkey % 100 AS INT) AS n_cases,
         CAST((p_partkey * 7) % 100 AS INT) AS n_controls
  FROM part
)
SELECT variant_id,
       ROUND(CASE WHEN len(valid) > 0
                  THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), valid),
                                   (a, b) -> a + b) / (2.0 * len(valid))
                  END, 9) AS af_dosage,
       ROUND(CASE WHEN n_cases = 0 OR n_controls = 0 THEN NULL
                  ELSE 4.0 * CAST(n_cases AS DOUBLE) * CAST(n_controls AS DOUBLE)
                       / CAST(n_cases + n_controls AS DOUBLE) END, 9) AS n_eff
FROM d
"""


# ---------------------------------------------------------------------------
# worst-impact selection over annotation arrays (type_mapping.py:141-161)
# ---------------------------------------------------------------------------
def q_gx_worst_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.functions.genomics import worst_impact
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    p = ensure_min_parallelism(load_table(spark, sf_dir, "part"))
    k = F.col("p_partkey")
    rank = F.array(
        F.lit("HIGH"), F.lit("MODERATE"), F.lit("LOW"), F.lit("MODIFIER")
    )
    imp = lambda e: F.element_at(rank, (e % 4 + 1).cast("int"))  # noqa: E731
    impacts = F.array(
        F.when(k % 4 != 0, imp(k)),
        imp(k + 1),
        F.when(k % 3 != 0, imp(k + 2)),
    )
    return p.select(
        k.cast("bigint").alias("variant_id"),
        worst_impact(impacts).alias("worst_impact"),
    )


Q_GX_WORST_IMPACT_SQL = """
WITH d AS (
  SELECT CAST(p_partkey AS BIGINT) AS variant_id,
         [CASE WHEN p_partkey % 4 != 0
               THEN ['HIGH','MODERATE','LOW','MODIFIER'][CAST(p_partkey % 4 AS INT) + 1] END,
          ['HIGH','MODERATE','LOW','MODIFIER'][CAST((p_partkey + 1) % 4 AS INT) + 1],
          CASE WHEN p_partkey % 3 != 0
               THEN ['HIGH','MODERATE','LOW','MODIFIER'][CAST((p_partkey + 2) % 4 AS INT) + 1] END
         ] AS impacts
  FROM part
)
SELECT variant_id,
       CASE WHEN list_contains(impacts, 'HIGH') THEN 'HIGH'
            WHEN list_contains(impacts, 'MODERATE') THEN 'MODERATE'
            WHEN list_contains(impacts, 'LOW') THEN 'LOW'
            WHEN list_contains(impacts, 'MODIFIER') THEN 'MODIFIER'
            END AS worst_impact
FROM d
"""


# ---------------------------------------------------------------------------
# GWAS→variant matching through the REAL operator
# (operators/matching.py match_gwas_to_variants: positional join with
# orientation compatibility, rsid fallback for positional misses,
# broadcast variants) — the synthetic stats cycle through every match
# class: direct / swap / strand-flip / flip-swap / arbitrary pair /
# positional-miss-with-rsid / positional-miss-without-rsid.
# ---------------------------------------------------------------------------
def q_gx_gwas_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.matching import match_gwas_to_variants

    v = synth_variants(spark, sf_dir).withColumn(
        "rs_id", F.concat(F.lit("rs"), F.col("variant_id"))
    )
    base = F.array(*[F.lit(b) for b in BASES])
    k = F.col("variant_id")
    m = k % 7
    ref, alt = F.col("ref"), F.col("alt")
    ref_i = k % 4
    arb_ea = F.element_at(base, ((ref_i + 2) % 4 + 1).cast("int"))
    arb_oa = F.element_at(base, ((ref_i + 3) % 4 + 1).cast("int"))
    stats = v.select(
        F.col("chrom").alias("chromosome"),
        F.when(m >= 5, F.col("pos") + 1).otherwise(F.col("pos")).alias("position"),
        F.when(m == 6, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("rs"), k))
        .alias("rsid"),
        F.when(m == 0, alt)
        .when(m == 1, ref)
        .when(m == 2, G.complement(alt))
        .when(m == 3, G.complement(ref))
        .otherwise(arb_ea)
        .alias("effect_allele"),
        F.when(m == 0, ref)
        .when(m == 1, alt)
        .when(m == 2, G.complement(ref))
        .when(m == 3, G.complement(alt))
        .otherwise(arb_oa)
        .alias("other_allele"),
    )
    out = match_gwas_to_variants(stats, v, broadcast_variants=True)
    # variant_id carries NULLs for unmatched stats; DOUBLE on both sides
    # so the pandas comparison path renders Spark and DuckDB identically
    return out.select(
        "chromosome", "position", "rsid", "effect_allele", "other_allele",
        F.col("variant_id").cast("double").alias("variant_id"),
        "match_source",
        F.when(F.col("is_strand_flipped"), 1.0)
        .when(~F.col("is_strand_flipped"), 0.0)
        .alias("is_strand_flipped"),
        F.when(F.col("is_effect_allele_alt"), 1.0)
        .when(~F.col("is_effect_allele_alt"), 0.0)
        .alias("is_effect_allele_alt"),
        "is_ambiguous",
    )


_SQL_GWAS_COMP = "translate(upper({0}), 'ACGT', 'TGCA')"

Q_GX_GWAS_MATCH_SQL = f"""
WITH v0 AS ({SQL_VARIANTS}),
v AS (SELECT *, 'rs' || CAST(variant_id AS VARCHAR) AS rs_id FROM v0),
s AS (
  SELECT chrom AS chromosome,
         CASE WHEN variant_id % 7 >= 5 THEN pos + 1 ELSE pos END AS position,
         CASE WHEN variant_id % 7 = 6 THEN NULL
              ELSE 'rs' || CAST(variant_id AS VARCHAR) END AS rsid,
         CASE variant_id % 7
           WHEN 0 THEN alt WHEN 1 THEN ref
           WHEN 2 THEN {_SQL_GWAS_COMP.format('alt')}
           WHEN 3 THEN {_SQL_GWAS_COMP.format('ref')}
           ELSE ['A','C','G','T'][CAST((variant_id % 4 + 2) % 4 AS INT) + 1]
         END AS effect_allele,
         CASE variant_id % 7
           WHEN 0 THEN ref WHEN 1 THEN alt
           WHEN 2 THEN {_SQL_GWAS_COMP.format('ref')}
           WHEN 3 THEN {_SQL_GWAS_COMP.format('alt')}
           ELSE ['A','C','G','T'][CAST((variant_id % 4 + 3) % 4 AS INT) + 1]
         END AS other_allele
  FROM v
),
vv AS (
  SELECT variant_id, regexp_replace(chrom, '^chr', '') AS v_chrom,
         pos AS v_pos, upper(ref) AS v_ref, upper(alt) AS v_alt, rs_id
  FROM v
),
by_pos AS (
  SELECT s.*, vv.variant_id AS pos_variant_id, vv.v_ref, vv.v_alt
  FROM s LEFT JOIN vv
    ON regexp_replace(s.chromosome, '^chr', '') = vv.v_chrom
   AND s.position = vv.v_pos
   AND ((vv.v_ref = upper(s.other_allele) AND vv.v_alt = upper(s.effect_allele))
     OR (vv.v_ref = upper(s.effect_allele) AND vv.v_alt = upper(s.other_allele))
     OR ({_SQL_GWAS_COMP.format('vv.v_ref')} = upper(s.other_allele)
         AND {_SQL_GWAS_COMP.format('vv.v_alt')} = upper(s.effect_allele))
     OR ({_SQL_GWAS_COMP.format('vv.v_ref')} = upper(s.effect_allele)
         AND {_SQL_GWAS_COMP.format('vv.v_alt')} = upper(s.other_allele)))
),
rs AS (SELECT variant_id AS rs_variant_id, rs_id AS rs_key
       FROM vv WHERE rs_id IS NOT NULL),
o AS (
  SELECT bp.*, rs.rs_variant_id,
         upper(bp.effect_allele) AS ea, upper(bp.other_allele) AS oa
  FROM by_pos bp LEFT JOIN rs
    ON bp.rsid IS NOT NULL AND bp.rsid = rs.rs_key
   AND bp.pos_variant_id IS NULL
)
SELECT chromosome, position, rsid, effect_allele, other_allele,
       CAST(COALESCE(pos_variant_id, rs_variant_id) AS DOUBLE) AS variant_id,
       CASE WHEN pos_variant_id IS NOT NULL THEN 'position'
            WHEN rs_variant_id IS NOT NULL THEN 'rsid' END AS match_source,
       CASE WHEN (ea = v_alt AND oa = v_ref) OR (ea = v_ref AND oa = v_alt)
              THEN 0.0
            WHEN ({_SQL_GWAS_COMP.format('ea')} = v_alt AND {_SQL_GWAS_COMP.format('oa')} = v_ref)
              OR ({_SQL_GWAS_COMP.format('ea')} = v_ref AND {_SQL_GWAS_COMP.format('oa')} = v_alt)
              THEN 1.0 END AS is_strand_flipped,
       CASE WHEN ea = v_alt AND oa = v_ref THEN 1.0
            WHEN ea = v_ref AND oa = v_alt THEN 0.0
            WHEN {_SQL_GWAS_COMP.format('ea')} = v_alt
                 AND {_SQL_GWAS_COMP.format('oa')} = v_ref THEN 1.0
            WHEN {_SQL_GWAS_COMP.format('ea')} = v_ref
                 AND {_SQL_GWAS_COMP.format('oa')} = v_alt THEN 0.0
            END AS is_effect_allele_alt,
       (ea = 'A' AND oa = 'T') OR (ea = 'T' AND oa = 'A')
         OR (ea = 'C' AND oa = 'G') OR (ea = 'G' AND oa = 'C') AS is_ambiguous
FROM o
"""


# ---------------------------------------------------------------------------
# HapMap3 panel flagging through the REAL operator (operators/matching.py
# flag_hapmap3: broadcast join on bare chrom + pos with allele match
# including strand complements)
# ---------------------------------------------------------------------------
def q_gx_hapmap3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.matching import flag_hapmap3

    v = synth_variants(spark, sf_dir)
    k = F.col("variant_id")
    panel = v.filter(k % 2 == 0).select(
        F.regexp_replace(F.col("chrom"), "^chr", "").alias("chrom"),
        F.col("pos").alias("position"),
        # half direct orientation, half strand-complemented
        F.when(k % 6 == 0, G.complement(F.col("alt"))).otherwise(F.col("alt")).alias("a1"),
        F.when(k % 6 == 0, G.complement(F.col("ref"))).otherwise(F.col("ref")).alias("a2"),
        F.concat(F.lit("hm"), k).alias("rsid"),
    )
    out = flag_hapmap3(v.select("variant_id", "chrom", "pos", "ref", "alt"), panel)
    return out.select("variant_id", "in_hapmap3", "hapmap3_rsid")


Q_GX_HAPMAP3_SQL = f"""
WITH v AS ({SQL_VARIANTS}),
panel AS (
  SELECT regexp_replace(chrom, '^chr', '') AS p_chrom, pos AS p_pos,
         CASE WHEN variant_id % 6 = 0
              THEN translate(upper(alt), 'ACGT', 'TGCA') ELSE alt END AS a1,
         CASE WHEN variant_id % 6 = 0
              THEN translate(upper(ref), 'ACGT', 'TGCA') ELSE ref END AS a2,
         'hm' || CAST(variant_id AS VARCHAR) AS p_rsid
  FROM v WHERE variant_id % 2 = 0
)
SELECT v.variant_id, p.p_rsid IS NOT NULL AS in_hapmap3,
       p.p_rsid AS hapmap3_rsid
FROM v LEFT JOIN panel p
  ON regexp_replace(v.chrom, '^chr', '') = p.p_chrom AND v.pos = p.p_pos
 AND ((upper(v.ref) = upper(p.a1) AND upper(v.alt) = upper(p.a2))
   OR (upper(v.ref) = upper(p.a2) AND upper(v.alt) = upper(p.a1))
   OR (translate(upper(v.ref), 'ACGT', 'TGCA') = upper(p.a1)
       AND translate(upper(v.alt), 'ACGT', 'TGCA') = upper(p.a2))
   OR (translate(upper(v.ref), 'ACGT', 'TGCA') = upper(p.a2)
       AND translate(upper(v.alt), 'ACGT', 'TGCA') = upper(p.a1)))
"""


# ---------------------------------------------------------------------------
# multi-source annotation join + echtvar filter through the REAL operator
# (operators/annotate.py: registry, broadcast LEFT-join chain, translated
# filter pushed into the plan)
# ---------------------------------------------------------------------------
def q_gx_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.annotate import AnnotationRegistry, annotate

    v = synth_variants(spark, sf_dir)
    k = F.col("variant_id")
    gnomad = v.filter(k % 3 == 0).select(
        "chrom", "pos", "ref", "alt", F.col("af").alias("gnomad_af")
    )
    clinvar = v.filter(k % 4 == 0).select(
        "chrom", "pos", "ref", "alt",
        F.when(k % 5 == 0, "Pathogenic").otherwise("Benign").alias("clinvar_sig"),
    )
    reg = AnnotationRegistry()
    reg.register("gnomad", gnomad)
    reg.register("clinvar", clinvar)
    out = annotate(
        v.select("variant_id", "chrom", "pos", "ref", "alt"),
        reg,
        filter_expr="gnomad_af < 0.1",
    )
    return out.select(
        "variant_id", "chrom", "pos", "ref", "alt",
        F.round(F.col("gnomad_af"), 9).alias("gnomad_af"),
        "clinvar_sig",
    )


Q_GX_ANNOTATE_SQL = f"""
WITH v AS ({SQL_VARIANTS}),
g AS (SELECT chrom, pos, ref, alt, af AS gnomad_af FROM v WHERE variant_id % 3 = 0),
c AS (SELECT chrom, pos, ref, alt,
             CASE WHEN variant_id % 5 = 0 THEN 'Pathogenic' ELSE 'Benign' END AS clinvar_sig
      FROM v WHERE variant_id % 4 = 0)
SELECT v.variant_id, v.chrom, v.pos, v.ref, v.alt,
       ROUND(g.gnomad_af, 9) AS gnomad_af, c.clinvar_sig
FROM v
LEFT JOIN g USING (chrom, pos, ref, alt)
LEFT JOIN c USING (chrom, pos, ref, alt)
WHERE g.gnomad_af < 0.1
"""


# ---------------------------------------------------------------------------
# failed-sample listing + batch QC summary (reference sample_qc.py:318-325
# returns samples_processed/samples_pass/samples_fail/mean_call_rate; the
# CLI surfaces the failing samples' metrics for review).  Both ride the
# real sample_qc operator; the summary's mean uses the decimal-sum
# pattern so the double is partition-order independent.
# ---------------------------------------------------------------------------
def q_gx_failed_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.qc.sample_qc import sample_qc

    out = sample_qc(synth_genotypes_rich(spark, sf_dir))
    return out.filter(~F.col("qc_pass")).select(
        "sample_id", "n_total", "n_called", "call_rate", "mean_dp", "mean_gq"
    )


Q_GX_FAILED_SAMPLES_SQL = f"""
WITH qc AS ({Q_GX_SAMPLE_QC_SQL})
SELECT sample_id, n_total, n_called, call_rate, mean_dp, mean_gq
FROM qc WHERE NOT qc_pass
"""


def q_gx_qc_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.qc.sample_qc import sample_qc

    out = sample_qc(synth_genotypes_rich(spark, sf_dir))
    dec = "decimal(18,12)"
    return out.agg(
        F.count(F.lit(1)).alias("samples_processed"),
        F.count(F.when(F.col("qc_pass"), 1)).alias("samples_pass"),
        F.count(F.when(~F.col("qc_pass"), 1)).alias("samples_fail"),
        (
            F.sum(F.col("call_rate").cast(dec))
            / F.count(F.lit(1))
        ).cast("double").alias("mean_call_rate"),
    )


Q_GX_QC_SUMMARY_SQL = f"""
WITH qc AS ({Q_GX_SAMPLE_QC_SQL})
SELECT COUNT(*) AS samples_processed,
       COUNT(*) FILTER (WHERE qc_pass) AS samples_pass,
       COUNT(*) FILTER (WHERE NOT qc_pass) AS samples_fail,
       CAST(SUM(CAST(call_rate AS DECIMAL(18,12))) / COUNT(*) AS DOUBLE)
         AS mean_call_rate
FROM qc
"""


# ---------------------------------------------------------------------------
# effective sample size (reference validation/sql_functions.py:169-179):
# the registered SQL function over a synthetic per-study case/control
# frame, including the zero-side -> NULL contract
# ---------------------------------------------------------------------------
def q_gx_neff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.functions.genomics import n_eff

    c = load_table(spark, sf_dir, "customer")
    cases = (F.col("c_custkey") % 1000).cast("int")
    controls = ((F.col("c_custkey") * 7) % 997).cast("int")
    return c.select(
        F.col("c_custkey").alias("study_id"),
        cases.alias("n_cases"),
        controls.alias("n_controls"),
        n_eff(cases, controls).alias("n_eff"),
    )


Q_GX_NEFF_SQL = """
SELECT c_custkey AS study_id,
       CAST(c_custkey % 1000 AS INT) AS n_cases,
       CAST((c_custkey * 7) % 997 AS INT) AS n_controls,
       CASE WHEN c_custkey % 1000 = 0 OR (c_custkey * 7) % 997 = 0 THEN NULL
            ELSE 4.0 * CAST(c_custkey % 1000 AS DOUBLE)
                     * CAST((c_custkey * 7) % 997 AS DOUBLE)
                 / CAST((c_custkey % 1000) + ((c_custkey * 7) % 997) AS DOUBLE)
       END AS n_eff
FROM customer
"""


QUERIES = {
    "q_gx_variant_qc": q_gx_variant_qc,
    "q_gx_failed_samples": q_gx_failed_samples,
    "q_gx_qc_summary": q_gx_qc_summary,
    "q_gx_hwe": q_gx_hwe,
    "q_gx_harmonize": q_gx_harmonize,
    "q_gx_denovo": q_gx_denovo,
    "q_gx_neff": q_gx_neff,
    "q_gx_compound_het": q_gx_compound_het,
    "q_gx_prs_score": q_gx_prs_score,
    "q_gx_popmax": q_gx_popmax,
    "q_gx_chrom_order": q_gx_chrom_order,
    "q_gx_cohort": q_gx_cohort,
    "q_gx_sample_qc": q_gx_sample_qc,
    "q_gx_inbreeding": q_gx_inbreeding,
    "q_gx_adj": q_gx_adj,
    "q_gx_dosage_stats": q_gx_dosage_stats,
    "q_gx_worst_impact": q_gx_worst_impact,
    "q_gx_gwas_match": q_gx_gwas_match,
    "q_gx_hapmap3": q_gx_hapmap3,
    "q_gx_annotate": q_gx_annotate,
}

ORACLE = {
    "q_gx_variant_qc": Q_GX_VARIANT_QC_SQL,
    "q_gx_failed_samples": Q_GX_FAILED_SAMPLES_SQL,
    "q_gx_qc_summary": Q_GX_QC_SUMMARY_SQL,
    "q_gx_hwe": Q_GX_HWE_SQL,
    "q_gx_harmonize": Q_GX_HARMONIZE_SQL,
    "q_gx_denovo": Q_GX_DENOVO_SQL,
    "q_gx_neff": Q_GX_NEFF_SQL,
    "q_gx_compound_het": Q_GX_COMPOUND_HET_SQL,
    "q_gx_prs_score": Q_GX_PRS_SCORE_SQL,
    "q_gx_popmax": Q_GX_POPMAX_SQL,
    "q_gx_chrom_order": Q_GX_CHROM_ORDER_SQL,
    "q_gx_cohort": Q_GX_COHORT_SQL,
    "q_gx_sample_qc": Q_GX_SAMPLE_QC_SQL,
    "q_gx_inbreeding": Q_GX_INBREEDING_SQL,
    "q_gx_adj": Q_GX_ADJ_SQL,
    "q_gx_dosage_stats": Q_GX_DOSAGE_STATS_SQL,
    "q_gx_worst_impact": Q_GX_WORST_IMPACT_SQL,
    "q_gx_gwas_match": Q_GX_GWAS_MATCH_SQL,
    "q_gx_hapmap3": Q_GX_HAPMAP3_SQL,
    "q_gx_annotate": Q_GX_ANNOTATE_SQL,
}
