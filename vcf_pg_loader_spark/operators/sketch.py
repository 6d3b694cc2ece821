"""KMV (k-minimum-values) distinct-count sketch — deterministic and
cross-engine reproducible.

HyperLogLog is the usual distinct sketch, but its register layout is
engine-private: Spark's approx_count_distinct and DuckDB's cannot be
compared bit-for-bit, and sketches from different engines cannot merge.
KMV (Bar-Yossef et al. 2002; Beyer et al., "On Synopses for Distinct-
Value Estimation Under Multiset Operations", SIGMOD 2007) fixes both
here: the sketch IS the k smallest hash values of the group's distinct
elements, and with the engine's md5-derived h60 hash (functions/
hashing.py) any engine reproduces it exactly — so the estimate is
oracle-checkable bit-for-bit, something impossible with HLL.

  estimate = (k - 1) / r_k,  r_k = k-th smallest hash / 2^60

with exact fallback (the distinct count itself) when a group holds
fewer than k distinct values — small groups pay no estimation error.
Standard error ≈ 1/sqrt(k-2) (~13% at k=64, ~6% at k=256).

Mergeability (what makes it a 100 TB sketch): the union sketch of two
partitions is the k smallest of the concatenated sketches — an
associative/commutative fold like the rollup partials (operators/
rollup.py), proven by test_sketch.py's split-merge-equals-whole check.

Plan shape: one (group, hash) dedup aggregation, then one per-group
top-k — both key-partitioned hash shuffles of 8-byte hashes, never
payloads; nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vcf_pg_loader_spark.functions.hashing import h60, sql_h60

_HASH_SPACE = float(1 << 60)


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group KMV state: (group..., hashes array<bigint> ascending,
    n_distinct_seen capped at k)."""
    # nulls drop BEFORE ranking: COUNT(DISTINCT) ignores them, and a
    # null hash must not consume a top-k slot (Spark ascending sorts
    # nulls first, DuckDB last — at the k boundary that would diverge)
    hashed = (
        df.select(
            *group_cols, h60(F.col(value_col).cast("string")).alias("_h")
        )
        .filter(F.col("_h").isNotNull())
        .dropDuplicates([*group_cols, "_h"])
    )
    w = Window.partitionBy(*group_cols).orderBy("_h")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("_h")).alias("hashes"))
    )


def kmv_merge(a: DataFrame, b: DataFrame, group_cols: list[str], k: int = 64) -> DataFrame:
    """Union two sketch tables: per group, the k smallest of the
    concatenated hash sets — the sketch of the unioned inputs.

    Row-local (optimization round 16, guide §2.4): each group holds at
    most one ≤k-element sketch row per side, so ONE keyed aggregation
    gathers both rows and the k-smallest-distinct fold is pure array
    arithmetic (flatten → array_distinct → array_sort → slice) — the
    previous shape exploded every hash back into rows and paid a
    dedup exchange plus a window sort over the exploded table.  The
    merged sketch is identical: sort(distinct(S_a ∪ S_b))[:k] IS the
    k smallest distinct hashes (pinned against the exploded
    formulation in tests/test_opt_r16.py).  A group whose sketch arrays
    are all empty or null merges to an empty `[]` row: the group is
    kept, not dropped (pinned in tests/test_sketch.py)."""
    both = a.unionByName(b)
    return both.groupBy(*group_cols).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("hashes")))),
            1,
            k,
        ).alias("hashes")
    )


def kmv_estimate(sketch: DataFrame, k: int = 64) -> DataFrame:
    """(group..., n_distinct_est): exact when the group held < k distinct
    values, else the (k-1)/r_k estimator rounded to 4 decimals (the
    round absorbs last-ulp division drift between engines)."""
    n = F.size(F.col("hashes"))
    r_k = F.element_at(F.col("hashes"), k).cast("double") / F.lit(_HASH_SPACE)
    est = F.when(n < k, n.cast("double")).otherwise(
        F.round(F.lit(float(k - 1)) / r_k, 4)
    )
    return sketch.withColumn("n_distinct_est", est).drop("hashes")


def kmv_overlap(
    sketch: DataFrame, group_col: str, k: int = 64
) -> DataFrame:
    """Distinct-set OVERLAP estimation between every pair of groups from
    their KMV sketches alone (Beyer et al., SIGMOD 2007 §4: multiset
    operations on KMV synopses) — the audience-overlap primitive
    (distinct users shared by two event types, documents shared by two
    sources) computed without ever rescanning the data.

    For groups A, B with sketches S_A, S_B (each the k smallest hashes):
      L   = k smallest of S_A ∪ S_B        (a valid sketch of A ∪ B)
      ρ   = |L ∩ S_A ∩ S_B| / k            (Jaccard estimator)
      D_∪ = (k-1) / r_k over L             (union distinct estimate)
      D_∩ = ρ · D_∪                        (intersection estimate)
    When |S_A ∪ S_B| < k both sketches were exhaustive and every number
    is EXACT — the same small-group exactness kmv_estimate has.

    Everything is array expressions over the (tiny) sketch table
    self-joined on group < group: no shuffle touches data, and the
    deterministic h60 hashes make every estimate oracle-checkable
    bit-for-bit.  Returns (group_a, group_b, union_est, intersect_est,
    jaccard_est), estimates rounded to 4 decimals."""
    a = sketch.select(
        F.col(group_col).alias("group_a"), F.col("hashes").alias("_ha")
    )
    b = sketch.select(
        F.col(group_col).alias("group_b"), F.col("hashes").alias("_hb")
    )
    paired = a.join(b, F.col("group_a") < F.col("group_b"))
    topk = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("_ha"), F.col("_hb")))),
        1,
        k,
    )
    out = paired.withColumn("_l", topk)
    n = F.size(F.col("_l"))
    n_inter = F.size(
        F.array_intersect(
            F.array_intersect(F.col("_l"), F.col("_ha")), F.col("_hb")
        )
    )
    r_k = F.element_at(F.col("_l"), k).cast("double") / F.lit(_HASH_SPACE)
    d_union = F.lit(float(k - 1)) / r_k
    est_union = F.when(n < k, n.cast("double")).otherwise(F.round(d_union, 4))
    est_inter = F.when(n < k, n_inter.cast("double")).otherwise(
        F.round(n_inter.cast("double") / F.lit(float(k)) * d_union, 4)
    )
    jac = F.when(
        n < k, F.round(n_inter.cast("double") / n.cast("double"), 4)
    ).otherwise(F.round(n_inter.cast("double") / F.lit(float(k)), 4))
    return out.select(
        "group_a",
        "group_b",
        est_union.alias("union_est"),
        est_inter.alias("intersect_est"),
        jac.alias("jaccard_est"),
    )


def sql_kmv_overlap(
    table_expr: str, group_col: str, value_expr: str, k: int = 64
) -> str:
    """DuckDB twin of kmv_sketch |> kmv_overlap: rebuild the per-group
    hash sets relationally, rank each pair's union, apply the identical
    estimator arithmetic."""
    return f"""
WITH hashed AS (
  SELECT DISTINCT {group_col} AS g,
         {sql_h60(f"CAST({value_expr} AS VARCHAR)")} AS h
  FROM {table_expr}
  WHERE {value_expr} IS NOT NULL
),
ranked AS (
  SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
  FROM hashed
),
sk AS (SELECT g, h FROM ranked WHERE rn <= {k}),
pairs AS (
  SELECT a.g AS ga, b.g AS gb
  FROM (SELECT DISTINCT g FROM sk) a JOIN (SELECT DISTINCT g FROM sk) b
    ON a.g < b.g
),
u AS (
  SELECT p.ga, p.gb, s.h,
         MAX(CASE WHEN s.g = p.ga THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.g = p.gb THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.g IN (p.ga, p.gb)
  GROUP BY 1, 2, 3
),
ru AS (
  SELECT ga, gb, h, in_a, in_b,
         ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
  FROM u
),
agg AS (
  SELECT ga, gb, COUNT(*) AS n, MAX(h) AS kth,
         SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS n_inter
  FROM ru WHERE rn <= {k} GROUP BY 1, 2
)
SELECT ga AS group_a, gb AS group_b,
       CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
            ELSE ROUND(({k} - 1) / (CAST(kth AS DOUBLE) / {_HASH_SPACE:.1f}), 4)
       END AS union_est,
       CASE WHEN n < {k} THEN CAST(n_inter AS DOUBLE)
            ELSE ROUND(CAST(n_inter AS DOUBLE) / {float(k)}
                       * (({k} - 1) / (CAST(kth AS DOUBLE) / {_HASH_SPACE:.1f})), 4)
       END AS intersect_est,
       CASE WHEN n < {k} THEN ROUND(CAST(n_inter AS DOUBLE) / CAST(n AS DOUBLE), 4)
            ELSE ROUND(CAST(n_inter AS DOUBLE) / {float(k)}, 4)
       END AS jaccard_est
FROM agg
"""


def kmv_rollup_partial(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Alias of kmv_sketch with the rollup-partial naming: the sketch
    table IS mergeable partial state, so distinct-count rollups fold
    incrementally exactly like operators/rollup.py's sums — `merge =
    kmv_merge`, `final = kmv_estimate`, and
    estimate(merge(partial(a), partial(b))) == estimate(partial(a ∪ b))
    holds EXACTLY (the merged sketch is identical, not just close)."""
    return kmv_sketch(df, group_cols, value_col, k)


def sql_kmv_estimate(
    table_expr: str, group_cols: list[str], value_expr: str, k: int = 64
) -> str:
    """DuckDB twin of kmv_sketch |> kmv_estimate."""
    g = ", ".join(group_cols)
    return f"""
WITH hashed AS (
  SELECT DISTINCT {g}, {sql_h60(f"CAST({value_expr} AS VARCHAR)")} AS h
  FROM {table_expr}
  WHERE {value_expr} IS NOT NULL
),
ranked AS (
  SELECT {g}, h,
         ROW_NUMBER() OVER (PARTITION BY {g} ORDER BY h) AS rn
  FROM hashed
),
sk AS (
  SELECT {g}, COUNT(*) AS n, MAX(h) AS kth
  FROM ranked WHERE rn <= {k} GROUP BY {g}
)
SELECT {g},
       CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
            ELSE ROUND(({k} - 1) / (CAST(kth AS DOUBLE) / {_HASH_SPACE:.1f}), 4)
       END AS n_distinct_est
FROM sk
"""


# --------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): frequency estimation
# in fixed space, expressed relationally.  The sketch is a (row, pos,
# cnt) table — `rows` independent hash rows of `width` counters — built
# with one explode + one keyed aggregation; it merges by ADDING counts
# (k-way, out-of-order, exact), and serving an estimate is a join of
# the probe items' positions against the table with a min over rows.
#
# Guarantees (deterministic, not probabilistic-per-run, because the
# hash family is fixed): est >= true ALWAYS (counters only ever
# over-count via collisions); est - true <= total_items / width per row
# in expectation, and taking the min over `rows` independent rows makes
# a large overshoot require colliding in EVERY row.  All arithmetic is
# exact integers on md5-derived hashes, so Spark and DuckDB build the
# IDENTICAL sketch — the estimator itself is oracle-checkable.
#
# 100 TB shape: the sketch table is rows×width counters regardless of
# data volume (4×1024 = 4096 rows here); partials pre-aggregate
# map-side; probes broadcast against it.
# --------------------------------------------------------------------------
CMS_ROWS = 4
CMS_WIDTH = 1024


def _cms_rowpos_pairs(h: Column, rows: int, width: int) -> Column:
    """Array of (row, pos) structs from a MATERIALIZED base-hash column:
    one md5-derived h60 per item, `rows` arithmetic universal-hash
    permutations of it (the MinHash family, operators/dedup.py _mh_expr).
    The base hash must be a real column, not an inline expression —
    expression trees have no CSE, so an inline h60 would re-run the md5
    once per array element (the shingles lesson, dedup.py:63)."""
    from vcf_pg_loader_spark.operators.dedup import _mh_expr

    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(_mh_expr(h, i), F.lit(width)).alias("pos"),
            )
            for i in range(rows)
        ]
    )


def cms_partial(
    df: DataFrame,
    value_col: str,
    rows: int = CMS_ROWS,
    width: int = CMS_WIDTH,
    mult_col: str | None = None,
) -> DataFrame:
    """(row, pos, cnt) sketch of the multiset in `value_col` (nulls are
    out of domain, as in kmv_sketch).  `mult_col` names a Z-set
    multiplicity column (operators/ivm.py MULT): counters are then
    SIGNED sums, so a retraction batch decrements the sketch exactly —
    Count-Min is a linear sketch, the textbook deletable case."""
    m = (
        F.col(mult_col).cast("bigint")
        if mult_col
        else F.lit(1).cast("bigint")
    )
    # Pre-aggregate multiplicities per DISTINCT value before hashing
    # (optimization round 15, guide §2.3 "aggregate before you shuffle" /
    # §1.2): counters are linear, so Σ_occurrences m ≡ Σ_values (Σ m per
    # value) — exact integers, bit-identical sketch.  The md5-derived
    # h60 and the rows-wide rowpos explode now run once per distinct
    # value (vocabulary-sized under Zipf) instead of once per occurrence
    # (corpus-sized); the value groupBy partial-aggregates map-side, so
    # the added exchange carries the per-task-distinct values only.
    vals = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("_v"))
        .agg(F.sum(m).alias("_m"))
    )
    return (
        vals.select(h60(F.col("_v"), salt="cms:").alias("_h"), "_m")
        .select(
            F.col("_m"),
            F.explode(_cms_rowpos_pairs(F.col("_h"), rows, width)).alias("_rp"),
        )
        .select(F.col("_rp.row").alias("row"), F.col("_rp.pos").alias("pos"), "_m")
        .groupBy("row", "pos")
        .agg(F.sum("_m").alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Counts add — the same fold law as the rollup/KMV partials."""
    return (
        a.unionByName(b).groupBy("row", "pos").agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    rows: int = CMS_ROWS,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point estimates for each probe value: min over hash rows of the
    addressed counter (0 when a counter was never touched).  The probe
    frame is small by construction; the sketch is tiny — both sides of
    the join broadcast naturally."""
    addressed = (
        probes.select(
            F.col(value_col), h60(F.col(value_col), salt="cms:").alias("_h")
        )
        .select(
            F.col(value_col),
            F.explode(_cms_rowpos_pairs(F.col("_h"), rows, width)).alias("_rp"),
        )
        .select(
            value_col,
            F.col("_rp.row").alias("row"),
            F.col("_rp.pos").alias("pos"),
        )
    )
    return (
        addressed.join(F.broadcast(sketch), ["row", "pos"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def sql_cms_estimate(
    source_select: str,
    probe_select: str,
    value_col: str,
    rows: int = CMS_ROWS,
    width: int = CMS_WIDTH,
) -> str:
    """DuckDB twin: `source_select` yields the multiset (column
    `value_col`), `probe_select` the probe values (same column name)."""
    from vcf_pg_loader_spark.operators.dedup import sql_mh_expr

    base = sql_h60(value_col, salt="cms:")
    src_pos = ",\n    ".join(
        f"({sql_mh_expr(base, i)}) % {width} AS p{i}" for i in range(rows)
    )
    probe_pos = src_pos
    src_unions = " UNION ALL ".join(
        f"SELECT {i} AS row, p{i} AS pos FROM src_h" for i in range(rows)
    )
    probe_unions = " UNION ALL ".join(
        f"SELECT {value_col}, {i} AS row, p{i} AS pos FROM probe_h"
        for i in range(rows)
    )
    return f"""
WITH src AS ({source_select}),
src_h AS (SELECT {value_col},
    {src_pos}
  FROM src WHERE {value_col} IS NOT NULL),
cells AS ({src_unions}),
sk AS (SELECT row, pos, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
probe AS ({probe_select}),
probe_h AS (SELECT {value_col},
    {probe_pos}
  FROM probe),
addressed AS ({probe_unions})
SELECT a.{value_col},
       MIN(COALESCE(sk.cnt, 0)) AS cms_est
FROM addressed a LEFT JOIN sk USING (row, pos)
GROUP BY 1
"""


def cms_join_size(a: DataFrame, b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two Count-Min sketches built
    over the join keys: per hash row, the inner product of the counter
    vectors; the estimate is the MIN over rows (AGMS/CMS join-size
    estimation — Cormode & Muthukrishnan §4.2).  est >= |A ⋈ B| always
    (collisions only add cross terms); expected overshoot
    ||A||₁·||B||₁ / width per row.  The planner use-case: decide
    broadcast vs shuffle vs salting from KB-sized sketches, without
    touching either table again."""
    prod = (
        a.alias("a")
        .join(b.alias("b"), ["row", "pos"])
        .groupBy("row")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("s"))
    )
    # A hash row with NO overlapping cells has inner product 0 — it must
    # contribute 0 to the min (disjoint key sets => estimate 0), not
    # vanish from the aggregate (which would return NULL for fully-
    # disjoint sketches and lose the tightest bound for partly-disjoint
    # ones).  Left-join the per-row sums back onto the sketch's row set.
    per_row = (
        a.select("row")
        .distinct()
        .join(prod, "row", "left")
        .select(F.coalesce(F.col("s"), F.lit(0)).alias("s"))
    )
    return per_row.agg(
        F.coalesce(F.min("s"), F.lit(0)).cast("bigint").alias("join_size_est")
    )


def sql_cms_join_size(
    source_a: str,
    source_b: str,
    value_col: str,
    rows: int = CMS_ROWS,
    width: int = CMS_WIDTH,
) -> str:
    """DuckDB twin of cms_partial(a) x cms_partial(b) |> cms_join_size."""

    from vcf_pg_loader_spark.operators.dedup import sql_mh_expr

    base = sql_h60(value_col, salt="cms:")

    def sketch(src: str, tag: str) -> str:
        pos = ",\n      ".join(
            f"({sql_mh_expr(base, i)}) % {width} AS p{i}" for i in range(rows)
        )
        unions = " UNION ALL ".join(
            f"SELECT {i} AS row, p{i} AS pos FROM {tag}_h" for i in range(rows)
        )
        return f"""{tag} AS ({src}),
{tag}_h AS (SELECT {value_col},
      {pos}
  FROM {tag} WHERE {value_col} IS NOT NULL),
{tag}_cells AS ({unions}),
{tag}_sk AS (SELECT row, pos, COUNT(*) AS cnt FROM {tag}_cells GROUP BY 1, 2)"""

    return f"""
WITH {sketch(source_a, "sa")},
{sketch(source_b, "sb")},
prod AS (
  SELECT sa_sk.row, SUM(sa_sk.cnt * sb_sk.cnt) AS s
  FROM sa_sk JOIN sb_sk USING (row, pos)
  GROUP BY 1
),
rows_a AS (SELECT DISTINCT row FROM sa_sk),
per_row AS (
  SELECT COALESCE(s, 0) AS s FROM rows_a LEFT JOIN prod USING (row)
)
SELECT CAST(COALESCE(MIN(s), 0) AS BIGINT) AS join_size_est FROM per_row
"""
