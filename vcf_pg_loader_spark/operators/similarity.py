"""Similarity search over embedding columns (array<float>).

Two paths:
  brute-force cosine top-k — exact; broadcast the (small) query set and
    scan the corpus once.  Correctness baseline + the right plan whenever
    |queries| is small: cost O(|corpus|·|queries|) with NO shuffle on the
    corpus side (queries broadcast, ranking shuffles only the top
    candidates per query after a local filter).
  sign-LSH bucketed ANN — the scale path: hash every vector to a bucket
    from the sign pattern of its leading components, equi-join buckets.
    Shuffle ∝ corpus size, pair cost ∝ bucket collisions.

Determinism: dot products are summed as per-element DECIMAL(20,12) casts
(order-independent), so Spark and the DuckDB oracle agree bit-for-bit;
final scores round to 6 dp before ranking with id tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DOT_DEC = "decimal(20,12)"
ACC_DEC = "decimal(30,12)"


def dot_exact(a: Column, b: Column) -> Column:
    """Order-independent dot product: double per-element products, exact
    decimal accumulation, double result.

    This is the ORACLE kernel: the decimal fold exists solely so Spark
    and DuckDB agree bit-for-bit (each engine's native double summation
    orders/compensates differently).  It costs a decimal add per element;
    production deployments that don't need cross-engine hashes should use
    :func:`dot_fast` (docs/SCALE.md "exactness tax")."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    acc = F.aggregate(
        prods,
        F.lit(0).cast(ACC_DEC),
        lambda s, v: (s + v.cast(DOT_DEC)).cast(ACC_DEC),
    )
    return acc.cast("double")


def dot_fast(a: Column, b: Column) -> Column:
    """Double-precision dot product — the production kernel.

    A per-row left fold over the array, so it is deterministic run-to-run
    and partition-independent WITHIN Spark; it is not bit-identical to
    other engines (last-ulp summation differences), which only matters
    for the DuckDB oracle harness.  ~2-4× cheaper than the decimal fold
    on typical embedding widths."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda s, v: s + v)


_DOT_KERNELS = {"exact": dot_exact, "fast": dot_fast}


def _dot(kernel: str):
    try:
        return _DOT_KERNELS[kernel]
    except KeyError:
        raise ValueError(
            f"unknown dot kernel {kernel!r}; valid: {sorted(_DOT_KERNELS)}"
        ) from None


def sql_dot_exact(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot_exact` (1-based list indexing)."""
    return (
        f"CAST(list_aggregate(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) AS DECIMAL(20,12))), "
        f"'sum') AS DOUBLE)"
    )


def cosine(a: Column, b: Column, kernel: str = "exact") -> Column:
    dot = _dot(kernel)
    return F.round(
        dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))), 6
    )


def sql_cosine(a: str, b: str) -> str:
    return (
        f"ROUND({sql_dot_exact(a, b)} / "
        f"(sqrt({sql_dot_exact(a, a)}) * sqrt({sql_dot_exact(b, b)})), 6)"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "exact",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (self excluded).

    The query side is broadcast — the corpus is scanned once and never
    shuffled in full; only (query, candidate, score) survivors reach the
    ranking exchange.  kernel="fast" swaps the oracle-exact decimal dot
    products for native doubles (docs/SCALE.md "exactness tax").
    """
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            cosine(F.col("q_vec"), F.col("c_vec"), kernel).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim", "rn")
    )


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """Sign-pattern LSH bucket from the first `bits` components.

    try_element_at (not element_at): a vector shorter than `bits` yields
    NULL components, NULL > 0 is not true, so missing components count as
    non-positive — identical to the SQL twin, where out-of-range vec[j]
    is NULL and the CASE falls through to 0.  Bare element_at would throw
    under Spark 4 ANSI mode instead.
    """
    b: Column = F.lit(0)
    for j in range(bits):
        b = b + F.when(F.try_element_at(vec, F.lit(j + 1)) > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
    return b.cast("bigint")


def sql_sign_bucket(vec: str, bits: int = 8) -> str:
    terms = " + ".join(
        f"(CASE WHEN {vec}[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"CAST({terms} AS BIGINT)"


def probe_buckets(vec: Column, bits: int = 8, probes: int = 2) -> Column:
    """Multi-probe bucket list: own bucket + `probes` single-bit flips.

    The flipped positions are the LEAST-confident signs (smallest
    |component|) — the components most likely to differ for a true
    neighbor sitting across a hyperplane.  Flipping distinct bits always
    yields distinct buckets, so the list needs no dedup.  Missing
    components (vector shorter than `bits`) rank as infinitely
    confident and are never flipped.
    """
    base = sign_bucket(vec, bits)
    ranked = F.array_sort(
        F.transform(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda j: F.struct(
                F.coalesce(
                    F.abs(F.try_element_at(vec, j + 1)), F.lit(float("inf"))
                ).alias("m"),
                j.alias("j"),
            ),
        )
    )
    flips = F.transform(
        F.slice(ranked, 1, probes),
        lambda s: base.bitwiseXOR(F.pow(F.lit(2.0), s["j"]).cast("bigint")),
    )
    return F.concat(F.array(base), flips)


def sql_probe_buckets(vec: str, bucket: str, bits: int = 8, probes: int = 2) -> str:
    """DuckDB twin of :func:`probe_buckets`."""
    return (
        f"list_concat([{bucket}], list_transform("
        f"list_slice(list_sort(list_transform(range(1, {bits} + 1), "
        f"j -> {{'m': coalesce(abs({vec}[j]), 'inf'::DOUBLE), 'j': j - 1}})), 1, {probes}), "
        f"s -> xor({bucket}, CAST(pow(2, s.j) AS BIGINT))))"
    )


def ann_multiprobe_topk(
    corpus: DataFrame,
    k: int = 3,
    bits: int = 8,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "exact",
) -> DataFrame:
    """Multi-probe sign-LSH ANN: each query probes its own bucket plus
    `probes` least-confident single-bit flips.

    The scale lever: raising `bits` shrinks bucket population ~2×/bit
    (join cost falls quadratically per bucket) while probing recovers
    the recall the extra partitioning costs.  Candidate volume is
    ~(probes+1)× the single-bucket join — still an equi-join shuffle on
    small keys, never a cross join.  docs/SCALE.md has the sizing math.
    """
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    base = ensure_min_parallelism(corpus)
    v = base.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("c_vec"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    q = base.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probe_buckets(F.col(vec_col), bits, probes)).alias("bucket"),
    )
    scored = (
        q.join(v, ["bucket"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            cosine(F.col("q_vec"), F.col("c_vec"), kernel).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim", "rn")
    )


def ann_bucketed_topk(
    corpus: DataFrame,
    k: int = 3,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "exact",
) -> DataFrame:
    """Approximate all-pairs top-k: candidates restricted to the same
    sign-LSH bucket, then exact cosine within the bucket.

    This is the 100 TB shape: an equi-join on bucket id (shuffle on a
    small key) instead of a full cross join.
    """
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    v = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    a = v.alias("a")
    b = v.alias("b")
    scored = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vid") != F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("query_id"),
            F.col("b.vid").alias("cand_id"),
            cosine(F.col("a.vec"), F.col("b.vec"), kernel).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim", "rn")
    )


# ---------------------------------------------------------------------------
# IVF-Flat ANN: deterministic k-means coarse quantizer + cluster-probed
# exact search.  The third ANN path next to brute-force and sign-LSH:
# LSH buckets are data-independent, IVF cells adapt to the data
# distribution, so recall per candidate is higher on clustered corpora.
#
# Everything is deterministic so the DuckDB oracle can reproduce it
# bit-for-bit: init = the k lowest-id vectors, a FIXED number of Lloyd
# iterations (no convergence test), all distances via the decimal-sum
# dot product, argmin tie-broken on centroid id, centroid means as
# exact decimal sums divided as doubles.
# ---------------------------------------------------------------------------
def _prep_vectors(
    df: DataFrame, id_col: str, vec_col: str, kernel: str = "exact"
) -> DataFrame:
    """(vid, vec, vv): doubles + materialized self-dot-product.  Norms
    are computed ONCE here because Catalyst has no expression CSE —
    every downstream pairing reuses the column instead of re-running
    the decimal aggregate per pair."""
    dot = _dot(kernel)
    return df.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    ).withColumn("vv", dot(F.col("vec"), F.col("vec")))


def _sq_dist(v: Column, c: Column) -> Column:
    """Squared L2 distance, written identically to the SQL twin:
    (v.v - 2*v.c) + c.c so the double rounding sequence matches."""
    return (dot_exact(v, v) - F.lit(2.0) * dot_exact(v, c)) + dot_exact(c, c)


def sql_sq_dist(v: str, c: str) -> str:
    return (
        f"(({sql_dot_exact(v, v)}) - 2.0 * ({sql_dot_exact(v, c)})) "
        f"+ ({sql_dot_exact(c, c)})"
    )


def _cents_array(cents: DataFrame) -> DataFrame:
    """ONE-row frame holding the whole centroid table as an array of
    (cid, cvec, cc) structs.  Centroid tables are control-plane sized
    (k_centroids entries), so folding them into a single broadcast row
    lets every per-vector decision (argmin, ranking) run as a row-local
    array fold with ZERO exchange on the corpus side."""
    return cents.agg(
        F.collect_list(F.struct("cid", "cvec", "cc")).alias("_cents")
    )


def _cent_dists(dot) -> Column:
    """array<struct<d,cid>> of this row's distance to every centroid in
    `_cents`.  The double arithmetic ((vv - 2*v·c) + cc) is written in
    the same order as sql_sq_dist, so bit-exactness against the oracle
    is preserved; norms are pre-materialized (`vv` on the row, `cc` in
    the centroid struct) because Catalyst has no cross-expression CSE."""
    return F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (
                (F.col("vv") - F.lit(2.0) * dot(F.col("vec"), c["cvec"]))
                + c["cc"]
            ).alias("d"),
            c["cid"].alias("cid"),
        ),
    )


def _ivf_rank_centroids(
    vecs: DataFrame, cents: DataFrame, kernel: str = "exact"
) -> DataFrame:
    """(vid, vec, vv, cid, rn): every vector's centroids ranked by
    distance.  Centroids broadcast — the probe side never shuffles for
    the cross join; the only exchange is the per-vector rank window.

    This one deliberately KEEPS the window formulation (optimization
    round 15): every caller ranks the QUERY side, which is small by
    contract (a probe batch), so the window's exchange is tiny — an
    interleaved A/B of the :func:`_cents_array` array_sort form here
    measured the serve paths (q_cdc_ann, q_ann_reindex, q_ann_retract)
    ~0.2-0.3 s WORSE per query: the one-row centroid aggregate adds a
    scheduled stage whose fixed latency exceeds the removed tiny
    shuffle.  The corpus-sized assignment (:func:`_ivf_assign`), where
    the removed exchange is the full corpus, uses the array fold.

    Expects pre-materialized norms (`vv` on vecs, `cc` on cents): with no
    CSE across expression trees, inlining _sq_dist would recompute the
    v·v aggregate once per centroid and c·c once per VECTOR — k+1 of the
    3 decimal aggregates per pair are redundant.  The double arithmetic
    ((vv - 2*v·c) + cc) is written in the same order as sql_sq_dist, so
    bit-exactness against the oracle is preserved."""
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
    w = Window.partitionBy("vid").orderBy(F.asc("d"), F.asc("cid"))
    return scored.withColumn("rn", F.row_number().over(w))


def _ivf_assign(vecs: DataFrame, cents: DataFrame, kernel: str = "exact") -> DataFrame:
    """(vid, vec, vv, cid): each vector's nearest centroid — the rn=1
    slice of :func:`_ivf_rank_centroids`, computed as a row-local
    array_min over the broadcast centroid array.

    MIN over a (d, cid) struct compares field-by-field, so the winner is
    exactly ROW_NUMBER() ... ORDER BY d ASC, cid ASC = 1.  The previous
    formulation exploded the corpus k× against the centroid table and
    hash-aggregated it back by vid — a full-corpus exchange (carrying
    the vectors) per assignment round; the array fold removes that
    exchange outright (guide §2.4): assignment is now a narrow map."""
    dot = _dot(kernel)
    return vecs.crossJoin(F.broadcast(_cents_array(cents))).select(
        "vid",
        "vec",
        "vv",
        F.array_min(_cent_dists(dot))["cid"].alias("cid"),
    )


def ivf_assign(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "exact",
) -> DataFrame:
    """Route vectors to EXISTING centroids — no fitting: (vid, vec, vv,
    cid).  The maintenance half of ivf_fit: arriving vectors join a
    frozen routing table (broadcast centroids, map-side argmin, zero
    corpus shuffle), which is what a streaming index/SemDeDup sink does
    per batch instead of re-running Lloyd rounds."""
    return _ivf_assign(_prep_vectors(corpus, id_col, vec_col, kernel), cents, kernel)


def ivf_fit(
    corpus: DataFrame,
    k_centroids: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "exact",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic k-means: `n_iter` assignment rounds with n_iter-1
    centroid mean updates between them, seeded from the k lowest-id
    vectors.  Returns (centroids, assignment):

      centroids:  (cid, cvec, cc) — the routing table queries probe
      assignment: (vid, vec, vv, cid) — the corpus assigned to THOSE
                  centroids; this IS the stored IVF index

    The last Lloyd round's assignment is computed against the final
    centroids and returned rather than thrown away, so a caller building
    the index (ivf_topk) never re-runs the corpus×centroids distance
    pass — at N vectors × k centroids × d dims per pass, that redundant
    pass was the single largest cost in the round-4 bench profile.

    Per round: one broadcast assignment (no corpus shuffle) + one
    posexplode/groupBy mean keyed on (cid, dim) — k×dim groups, tiny.
    localCheckpoint truncates lineage between rounds; centroids never
    route through the driver.  Empty cells keep no centroid (their cid
    drops out), matching the SQL twin.  The corpus prep (double cast +
    norm) is persisted so the checkpoint actions and the final search
    scan it once; the caller owns the cache lifetime (the query runner,
    vcf_pg_loader_spark/runner.py, releases it after each run).  A
    caller that must release what the fit holds persists the prep
    itself and calls :func:`_ivf_fit_prepped`.
    """
    from pyspark.storagelevel import StorageLevel

    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    vecs = _prep_vectors(
        ensure_min_parallelism(corpus), id_col, vec_col, kernel
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return _ivf_fit_prepped(vecs, k_centroids, n_iter, kernel)


def _ivf_fit_prepped(
    vecs: DataFrame, k_centroids: int, n_iter: int, kernel: str
) -> tuple[DataFrame, DataFrame]:
    """:func:`ivf_fit` over prepped (vid, vec, vv) vectors the caller
    has cached.  With n_iter > 1 the returned centroids are a local
    checkpoint, whose blocks the caller releases; each round's
    checkpoint is released once the next one supersedes it."""
    from vcf_pg_loader_spark.operators.dedup import release_checkpoint

    if n_iter < 1:
        raise ValueError("ivf_fit needs n_iter >= 1 (assignment rounds)")
    cents = (
        vecs.orderBy("vid")
        .limit(k_centroids)
        .select(
            F.col("vid").alias("cid"),
            F.col("vec").alias("cvec"),
            F.col("vv").alias("cc"),
        )
    )
    dot = _dot(kernel)
    assigned = None
    for it in range(1, n_iter + 1):
        assigned = _ivf_assign(vecs, cents, kernel)
        if it == n_iter:
            break  # this assignment is against the FINAL centroids
        dims = assigned.select("cid", F.posexplode(F.col("vec")).alias("i", "x"))
        means = dims.groupBy("cid", "i").agg(
            (
                F.sum(F.col("x").cast(DOT_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        superseded = cents if it > 1 else None
        cents = (
            means.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "m"))),
                    lambda s: s["m"],
                ).alias("cvec")
            )
            .withColumn("cc", dot(F.col("cvec"), F.col("cvec")))
            .localCheckpoint(eager=True)
        )
        if superseded is not None:
            release_checkpoint(superseded)
    return cents, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    k_centroids: int = 8,
    n_iter: int = 2,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "exact",
) -> DataFrame:
    """IVF-Flat search: fit returns the corpus already assigned to its
    cells, probe each query's `nprobe` nearest cells, exact cosine inside
    the probed cells.

    Scale shape: centroids broadcast everywhere; the corpus is scanned
    once for assignment (narrow) and that assignment is REUSED from the
    fit stage; search is an equi-join on cid — shuffle keys are cell ids,
    candidate volume ≈ nprobe/k_centroids of the corpus per query.
    Raising k_centroids shrinks cells (join cost falls linearly); raising
    nprobe buys recall at linear candidate cost — same trade documented
    for sign-LSH in docs/SCALE.md.

    `kernel="exact"` (decimal-fold dot products) reproduces the DuckDB
    oracle bit-for-bit; `kernel="fast"` (native doubles) is the
    production path — same candidate sets in practice, ~2-4× cheaper
    distances (docs/SCALE.md "exactness tax").
    """
    cents, assigned = ivf_fit(
        corpus, k_centroids, n_iter, id_col, vec_col, kernel
    )
    return ivf_search(cents, assigned, queries, k, nprobe, id_col, vec_col, kernel)


def ivf_search(
    cents: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "exact",
) -> DataFrame:
    """The serve half of IVF-Flat, decoupled from the fit: rank each
    query's nprobe cells against the (tiny, broadcast) centroid table,
    equi-join on cid into the pre-assigned corpus, exact cosine inside
    the probed cells.  `assigned` is (vid, vec, vv, cid) — either fresh
    from ivf_fit or read back from a persisted VectorIndex
    (sources/vector_index.py), which is the build-once/serve-many
    production shape: serving never re-scans or re-fits the corpus."""
    dot = _dot(kernel)
    cand = assigned.select(
        F.col("vid").alias("cand_id"),
        F.col("vec").alias("c_vec"),
        F.col("vv").alias("c_vv"),
        "cid",
    )
    qv = _prep_vectors(queries, id_col, vec_col, kernel)
    probes = (
        _ivf_rank_centroids(qv, cents, kernel)
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col("vid").alias("query_id"),
            F.col("vec").alias("q_vec"),
            F.col("vv").alias("q_vv"),
            "cid",
        )
    )
    # cosine from the materialized norms: identical doubles to cosine()
    # (same dot products, same sqrt, same rounding), one aggregate per
    # pair instead of three
    scored = (
        probes.join(cand, ["cid"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.sqrt(F.col("q_vv")) * F.sqrt(F.col("c_vv"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim", "rn")
    )
