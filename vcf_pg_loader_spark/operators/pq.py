"""Product quantization (PQ): compressed-domain ANN search.

IVF-Flat (operators/similarity.py) stores full vectors and prunes by
cell; at 10^10 vectors the vectors themselves are the cost (a 768-dim
float corpus is ~30 TB).  PQ stores an m-byte CODE per vector instead:
the dimension axis is split into m subspaces, each subspace gets its own
small codebook (k_sub centroids, fit with the same deterministic Lloyd
recipe as ivf_fit: lowest-id seeds, fixed iterations, id tie-breaks),
and a vector's code is its per-subspace nearest-codeword ids.  Search
runs in the compressed domain (asymmetric distance computation): per
query, a m×k_sub table of exact subspace distances is built once, and
every corpus distance is m table lookups + adds — no corpus vector is
ever touched.

Scale shape: codebooks are tiny (m × k_sub × d/m doubles) and broadcast;
the per-query distance tables are a broadcast too (queries × m × k_sub);
scoring is a narrow map over the codes column (aggregate over a zipped
array — whole-stage codegen) followed by the usual per-query top-k
window.  The corpus shuffles only for that final top-k, as 8-byte ids +
codes + one double.  Compose with IVF cells for the standard
IVF-PQ layout (coarse cell prune, then compressed-domain rank).

Everything is deterministic (reuses the decimal dot kernel for
codebook fitting), so encodings are reproducible across runs/engines;
search quality is checked against exact brute-force recall in
tests/test_pq.py rather than a SQL oracle — the unrolled m×k-means CTE
would be the one oracle in the registry measured in pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _subvector(vec, m: int, sub: int):
    """Slice subspace `sub` (0-based) of an m-way split; dims must divide
    evenly (callers pad upstream otherwise)."""
    seg = F.size(vec) / m
    return F.slice(vec, (F.lit(sub) * seg + 1).cast("int"), seg.cast("int"))


def pq_fit(
    corpus: DataFrame,
    m: int = 4,
    k_sub: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit per-subspace codebooks; returns (sub, cid, cvec) with cid in
    [0, k_sub) per subspace.  One ivf_fit-shaped Lloyd loop per
    subspace over the m-way sliced corpus — the slicing is a narrow
    projection, so the m fits scan the corpus m times but never
    shuffle it (assignment is a broadcast argmin; means group on
    (cid, dim), a k_sub×d/m keyspace).

    The codebooks come back as one local checkpoint (m × k_sub rows),
    whose blocks the caller releases; each subspace fit's cached prep
    and centroid checkpoint are released before this returns."""
    from pyspark.storagelevel import StorageLevel

    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism
    from vcf_pg_loader_spark.operators.dedup import release_checkpoint
    from vcf_pg_loader_spark.operators.similarity import (
        _ivf_fit_prepped,
        _prep_vectors,
    )

    books, held = [], []
    try:
        for sub in range(m):
            sliced = corpus.select(
                F.col(id_col).alias("vid"),
                _subvector(
                    F.transform(F.col(vec_col), lambda x: x.cast("double")),
                    m,
                    sub,
                ).alias("svec"),
            )
            vecs = _prep_vectors(
                ensure_min_parallelism(sliced), "vid", "svec", "fast"
            ).persist(StorageLevel.MEMORY_AND_DISK)
            held.append(vecs.unpersist)
            cents, _assign = _ivf_fit_prepped(vecs, k_sub, n_iter, "fast")
            if n_iter > 1:
                held.append(lambda c=cents: release_checkpoint(c))
            # re-key centroid ids to dense [0, k_sub) in cid order so
            # codes are stable small ints regardless of which seed ids
            # survived
            w = Window.orderBy("cid")
            books.append(
                cents.withColumn("code", F.row_number().over(w) - 1).select(
                    F.lit(sub).alias("sub"), "code", "cvec"
                )
            )
        out = books[0]
        for b in books[1:]:
            out = out.unionByName(b)
        return out.localCheckpoint(eager=True)
    finally:
        for release in held:
            release()


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, codes array<int>): per subspace, the nearest codeword id.
    Codebooks broadcast; the corpus never shuffles — one argmin
    aggregation per subspace keyed on (vid, sub) after a broadcast
    cross join against the k_sub codewords of that subspace."""
    from vcf_pg_loader_spark.operators.similarity import dot_fast

    # The whole codebook collapses to ONE broadcast array row (m × k_sub
    # entries, control-plane sized) with each codeword's self-dot
    # pre-attached, and every row's m codes become a row-local argmin
    # fold over it.  The previous formulation ran one broadcast
    # cross-join + groupBy(vid) argmin PER SUBSPACE plus a final
    # collect_list groupBy — m+1 full-corpus exchanges; this is a single
    # narrow map with ZERO exchange (guide §2.4).  Arithmetic and the
    # min(struct(d, code)) tie-break are written identically, so the
    # codes are bit-identical.
    books = codebooks.agg(
        F.collect_list(
            F.struct(
                "sub",
                "code",
                "cvec",
                dot_fast(F.col("cvec"), F.col("cvec")).alias("cc"),
            )
        ).alias("_books")
    )
    vecs = corpus.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )

    def _sv(sub):
        return F.element_at(F.col("_subs"), sub + F.lit(1))

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(int(m) - 1)),
        lambda sub: F.array_min(
            F.transform(
                F.filter(F.col("_books"), lambda b: b["sub"] == sub),
                lambda b: F.struct(
                    (
                        F.element_at(F.col("_svv"), sub + F.lit(1))
                        - 2.0 * dot_fast(_sv(sub), b["cvec"])
                        + b["cc"]
                    ).alias("d"),
                    b["code"].alias("code"),
                ),
            )
        )["code"],
    )
    return (
        vecs.crossJoin(F.broadcast(books))
        .withColumn(
            "_subs",
            F.transform(
                F.sequence(F.lit(0), F.lit(int(m) - 1)),
                lambda sub: _subvector(F.col("vec"), m, sub),
            ),
        )
        .withColumn(
            "_svv",
            F.transform(F.col("_subs"), lambda a: dot_fast(a, a)),
        )
        .select("vid", codes.alias("codes"))
    )


def _adc_tables(
    queries: DataFrame,
    codebooks: DataFrame,
    m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, d_flat): per query, the dense lookup array of exact
    subspace distances, laid out d_flat[sub * k_sub + code]."""
    from vcf_pg_loader_spark.operators.similarity import dot_fast

    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qvec"),
    )
    table = None
    for sub in range(int(m)):
        qs = qvecs.select(
            "query_id", _subvector(F.col("qvec"), m, sub).alias("qs")
        )
        part = qs.join(
            F.broadcast(codebooks.filter(F.col("sub") == sub)), how="cross"
        ).select(
            "query_id",
            F.lit(sub).alias("sub"),
            "code",
            (
                dot_fast(F.col("qs"), F.col("qs"))
                - 2.0 * dot_fast(F.col("qs"), F.col("cvec"))
                + dot_fast(F.col("cvec"), F.col("cvec"))
            ).alias("d"),
        )
        table = part if table is None else table.unionByName(part)
    return (
        table.groupBy("query_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("sub", "code", "d"))).alias(
                "_t"
            )
        )
        .select(
            "query_id", F.transform(F.col("_t"), lambda t: t.d).alias("d_flat")
        )
    )


def _adc_dist(m: int):
    """dist = Σ_sub d_flat[sub * k_sub + codes[sub]] — m lookups per
    candidate, fully inside codegen (zip_with + aggregate)."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.size(F.col("codes")) - 1),
            lambda c, s: F.struct(c.alias("c"), s.alias("s")),
        ),
        F.lit(0.0),
        lambda acc, x: acc
        + F.element_at(
            F.col("d_flat"),
            (
                x["s"] * (F.size(F.col("d_flat")) / m).cast("int")
                + x["c"]
                + 1
            ).cast("int"),
        ),
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: exact per-subspace query↔codeword distance tables
    (built on the tiny broadcastable query set), then every corpus
    candidate's distance is m lookups + adds over its codes column —
    the corpus contributes only (vid, codes) to the plan."""
    flat = _adc_tables(queries, codebooks, m, id_col, vec_col)
    scored = codes.crossJoin(F.broadcast(flat)).filter(
        F.col("vid") != F.col("query_id")
    )
    scored = scored.withColumn("dist", _adc_dist(m))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("vid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("vid").alias("cand_id"), "dist", "rn")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    k_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k_sub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The standard IVF-PQ layout: an IVF coarse quantizer prunes the
    corpus to the query's nprobe nearest cells, then PQ's ADC ranks the
    survivors in the compressed domain — the two prunings compose, so
    search touches ~(nprobe/k_centroids) of the corpus and reads only
    codes, never vectors.  This is the 10^10-vector serving shape:
    cells bound the candidate count, codes bound the bytes.

    Fit + encode run here for self-containment; a production index
    persists (centroids, codebooks, codes-with-cid) once and serves
    many query batches.
    """
    from vcf_pg_loader_spark.operators.similarity import (
        _ivf_rank_centroids,
        _prep_vectors,
        ivf_fit,
    )

    cents, assign = ivf_fit(
        corpus, k_centroids, 2, id_col=id_col, vec_col=vec_col, kernel="fast"
    )
    books = pq_fit(corpus, m, k_sub, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(corpus, books, m, id_col=id_col, vec_col=vec_col).join(
        assign.select("vid", "cid"), "vid"
    )
    return ivf_pq_search(
        cents, books, codes, queries, k, nprobe, m, id_col, vec_col
    )


def ivf_pq_search(
    cents: DataFrame,
    books: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 2,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search over PREBUILT index artifacts (centroids, codebooks, coded
    corpus with cell ids) — what a persisted index serves per query
    batch without refitting anything."""
    from vcf_pg_loader_spark.operators.similarity import (
        _ivf_rank_centroids,
        _prep_vectors,
    )

    probes = (
        _ivf_rank_centroids(
            _prep_vectors(queries, id_col, vec_col, "fast"), cents, "fast"
        )
        .filter(F.col("rn") <= nprobe)
        .select(F.col("vid").alias("query_id"), "cid")
    )
    # candidates: codes in probed cells only — equi-join on cell id
    # keeps (query, candidate) pairs, so scoring and ranking are
    # per-query over exactly that query's probed cells
    cand = codes.join(F.broadcast(probes), "cid").select(
        "vid", "codes", "query_id"
    )
    flat = _adc_tables(queries, books, m, id_col, vec_col)
    scored = (
        cand.join(F.broadcast(flat), "query_id")
        .filter(F.col("vid") != F.col("query_id"))
        .withColumn("dist", _adc_dist(m))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("vid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("vid").alias("cand_id"), "dist", "rn")
    )
