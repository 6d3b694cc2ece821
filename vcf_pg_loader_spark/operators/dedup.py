"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):

  exact         one hash-shuffle on the dedup key; at 100 TB group on a
                64/128-bit digest of the payload, never the payload itself.
  ngram-jaccard exact pairwise similarity restricted to pairs that share a
                shingle — the shingle self-join is the quadratic hazard, so
                it is only for small/filtered corpora or as the LSH
                verification stage.
  minhash-lsh   the scale path: per-doc signature (one groupBy over
                exploded shingles), band-bucket join (equi-join, shuffles
                only bucket keys), exact Jaccard verification on the tiny
                candidate set.  Pair cost is O(collisions), not O(n²).
  simhash       per-doc fingerprint in one pass; near-dups = fingerprints
                at small Hamming distance (bucket by fingerprint for exact
                dup classes; rotate-and-sort for distance>0 at scale).

All hashes route through functions.hashing.h60 so the DuckDB oracle can
reproduce every value (Spark's own xxhash64 is not portable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vcf_pg_loader_spark.functions.hashing import h60, sql_h60
from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

# Largest bucket_cap for which the capped LSH path may generate
# small-bucket pairs from per-bucket arrays: the flattened pair array
# is O(cap²) structs per row (round-15 advice), so 4096 bounds a row at
# ~8.4M pair structs — far under Spark's ~2³¹ array-element / 2 GB row
# limits while covering every sane valve setting.  Caps beyond this
# use the streaming self-join formulation (identical pairs).
BUCKET_CAP_ARRAY_MAX = 4096


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
def exact_dedup_classes(df: DataFrame, key: str, id_col: str) -> DataFrame:
    """Group identical payloads; canonical id = min id per class.

    Reference analogue: duplicate detection GROUP BY (chrom,pos,ref,alt)
    HAVING count>1 (cli.py:552-561) and ON CONFLICT DO NOTHING dedupe
    (annotation_loader.py:166-170).
    """
    return df.groupBy(key).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------
def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle) rows.

    Built with sequence+transform (JVM-side) then exploded; the explode is
    the only row-multiplying step and feeds a single downstream groupBy.

    Docs with fewer than n tokens yield NO shingles: the gram branch is
    gated on size(toks) >= n so every element_at index is in bounds
    (bare element_at throws under Spark 4 ANSI mode), and the DuckDB twin
    drops the same docs because its out-of-range t[i] makes the || chain
    NULL and list_distinct strips NULLs.
    """
    return _distinct_grams(df, id_col, text_col, n).select(
        "doc_id", F.explode("_grams").alias("shingle")
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc_id, _set, n_sh): each doc's distinct shingles as ONE sorted
    array row with its size — the per-doc set that
    :func:`verify_candidate_jaccard` aggregates out of :func:`shingles`
    rows, built row-locally instead (no explode, no shuffle).  `df` must
    hold one row per id; a doc with fewer than n tokens gets an empty
    set (n_sh 0), where :func:`shingles` gives it no rows."""
    return _distinct_grams(df, id_col, text_col, n).select(
        "doc_id",
        F.sort_array("_grams").alias("_set"),
        F.size("_grams").alias("n_sh"),
    )


def _distinct_grams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc_id, _grams): the distinct word n-grams of each row's text."""
    # materialize the token array before the gram transform: expression
    # trees have no CSE store, so element_at over the raw split() chain
    # would re-split the text once per gram element
    tokenized = ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_toks"),
    )
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tokenized.select("doc_id", F.array_distinct(grams).alias("_grams"))


def sql_shingles(n: int = 3, table: str = "documents") -> str:
    """DuckDB twin of :func:`shingles` (1-based list indexing)."""
    concat = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(t) - {n - 1}, 1) + 1),
                              i -> {concat}))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM {table})
    """


# --------------------------------------------------------------------------
# exact n-gram Jaccard pairs (shingle self-join)
# --------------------------------------------------------------------------
def jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """All doc pairs with Jaccard(shingle sets) >= threshold.

    sh: output of :func:`shingles` — persist it first when feeding this
    (it is consumed three times: sizes + both join sides).  The self-join
    explodes on hot shingles; callers at scale must pre-filter (LSH
    candidates) first.
    """
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("d1") == F.col("sa.doc_id"))
        .join(sb, F.col("d2") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "n_inter", "jaccard")
    )


def prefix_filtered_jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard-similar pairs via prefix filtering (AllPairs/PPJoin).

    Same output as :func:`jaccard_pairs`, scale-safe plan: if
    Jaccard(A,B) >= t, A and B must share a shingle within each one's
    first |S| - ceil(t*|S|) + 1 shingles under any global total order.
    Ordering shingles by ascending document frequency makes the prefix
    the RAREST shingles, so the candidate self-join runs on cold keys —
    the hot-shingle quadratic blowup of the naive self-join cannot
    occur.  Candidates then go through exact verification
    (:func:`verify_candidate_jaccard`), so the filter only ever prunes,
    never approximates.

    +2 (not +1) prefix slack: the bound needs ceil of the exact real
    t*|S|; one extra shingle makes any double-rounding wobble at integer
    boundaries harmless on both engines.

    sh: output of :func:`shingles` — persist it first (feeds the df
    counts, the prefixes, and verification).

    The prefix frame feeds BOTH self-join sides; persist it (a bounded
    fraction of sh, spills safely) or the double-window pass — two
    sorts + two exchanges over the full shingle table — executes twice
    (optimization round 15, guide §2.4/§5; caller owns the lifetime).
    """
    from pyspark.sql.window import Window
    from pyspark.storagelevel import StorageLevel

    # Document frequency via a window over the shingle partition: ONE
    # exchange of sh (the old groupBy+join shuffled sh twice).  Rank and
    # size then share ONE doc_id exchange.
    w_df = Window.partitionBy("shingle")
    w_rank = Window.partitionBy("doc_id").orderBy(F.asc("_df"), F.asc("shingle"))
    w_doc = Window.partitionBy("doc_id")
    prefix = (
        sh.withColumn("_df", F.count(F.lit(1)).over(w_df))
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_sh", F.count(F.lit(1)).over(w_doc))
        .filter(
            F.col("rn")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 2
        )
        .select("doc_id", "shingle", "rn", "n_sh")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    an, bn = F.col("a.n_sh"), F.col("b.n_sh")
    # PPJoin pruning on top of the shared-prefix-shingle condition — both
    # prune-only (one unit of slack against rounding wobble), so exact
    # verification below still decides every surviving pair:
    #   length: Jaccard >= t forces t*|A| <= |B| (and symmetrically)
    #   position: intersection can't exceed 1 + min remaining shingles
    #     after this prefix position, and J >= t needs
    #     I >= t/(1+t) * (|A|+|B|)
    length_ok = (bn >= F.ceil(F.lit(threshold) * an) - 1) & (
        an >= F.ceil(F.lit(threshold) * bn) - 1
    )
    ubound = F.lit(1) + F.least(an - F.col("a.rn"), bn - F.col("b.rn"))
    minsize = F.ceil(F.lit(threshold / (1.0 + threshold)) * (an + bn)) - 1
    # groupBy instead of .distinct(): same single shuffle, and candidate
    # uniqueness is REQUIRED — duplicate (d1,d2) rows would multiply
    # every shingle match in verification and inflate n_inter.
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & length_ok
            & (ubound >= minsize),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("_n_prefix_shared"))
        .select("d1", "d2")
    )
    return verify_candidate_jaccard(cands, sh, threshold)


def sql_prefix_filtered_jaccard(sh_sql: str, threshold: float) -> str:
    """DuckDB twin of :func:`prefix_filtered_jaccard_pairs`."""
    return f"""
WITH sh AS ({sh_sql}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
dfc AS (SELECT shingle, COUNT(*) AS _df FROM sh GROUP BY shingle),
ranked AS (
  SELECT sh.doc_id, sh.shingle, sizes.n_sh,
         row_number() OVER (PARTITION BY sh.doc_id
                            ORDER BY dfc._df, sh.shingle) AS rn
  FROM sh JOIN dfc USING (shingle) JOIN sizes USING (doc_id)
),
prefix AS (
  SELECT doc_id, shingle FROM ranked
  WHERE rn <= n_sh - CAST(ceil({threshold} * n_sh) AS BIGINT) + 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM prefix a JOIN prefix b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.d1
  JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT d1, d2, n_inter,
       ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {threshold}
"""


# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------
# Universal-hash family derived from ONE base hash: h_i(x) = (a_i*hi(x)
# + b_i*lo(x) + c_i) mod P.  One md5 per shingle instead of K — the md5
# is the dominant cost at scale.  Constants bound every product under
# 2^62 (a, b < 2^31; hi, lo < 2^30) so the arithmetic is overflow-free
# (and hence reproducible) on any engine with int64.
#
# The parameter triples are FIXED PSEUDORANDOM draws
# (random.Random(61): a, b in [1, 2^31), c in [1, P)), hard-coded so
# both engines share them.  Round 8 finding: the previous arithmetic-
# progression parameters made consecutive permutations differ by the
# SAME affine map, correlating their min positions — measured effect:
# J~0.05 doc pairs collided on full 2-minhash bands at ~1% instead of
# J^2~0.25%, and widening bands to 4 rows did NOT reduce the false-
# candidate floor (453 vs 471 candidates at 2x sf0.01) as independent
# permutations must (4*J^4 ~ 0).  With unstructured parameters the
# floor drops and narrows with rows-per-band, restoring the LSH
# S-curve the banding math promises.
_MH_P = 2305843009213693951  # 2^61 - 1 (Mersenne prime)
_MH_PARAMS = [
    (1061903684, 390208919, 499844581152741730),
    (1738909328, 1947844081, 676363097439722674),
    (689272403, 1726527989, 63921434307813851),
    (1044036051, 767567467, 150166884438640265),
    (870804714, 990678429, 2246198597927157297),
    (359893101, 718663937, 14573071562012021),
    (1919376573, 1079903014, 211644077066032729),
    (1363179000, 374274029, 60825517274267915),
    (930974559, 1731915610, 294899636347875866),
    (1564925935, 865790392, 2088417987708418680),
    (626567604, 1585334281, 1946076512395633810),
    (730871807, 946291759, 734391780632273894),
    (1327054181, 799649447, 1889558770516438452),
    (1348583551, 1342224691, 1802919480834018638),
    (1530927545, 1320639414, 967335084094829004),
    (875548077, 502322238, 416654155175049420),
    (125479674, 1162013704, 1115174266981644702),
    (30252592, 1158445169, 197735008857577689),
    (1825663174, 662369149, 16360582690952063),
    (908238497, 382055434, 1077103980697299259),
    (743384150, 1532622358, 907750825866237778),
    (467059731, 246783375, 815494183418612499),
    (1324650174, 704121124, 1905976404425045615),
    (1047049766, 575531338, 2057796984553303116),
    (854411292, 418636632, 165164415351421484),
    (844740743, 1061526262, 2162242311414467475),
    (1473478940, 659228819, 1126911932775908564),
    (1350251896, 2092016622, 68442822462769924),
    (2054704192, 1841027761, 1698947308485699723),
    (437719114, 1549775843, 1902688526824576653),
    (1960074659, 1925381106, 1926849976091506346),
    (1639969606, 2065817643, 2236935442709429852),
    (1829512645, 1080661651, 2177627074807881689),
    (966564232, 164466728, 251611570333658526),
    (1525379635, 449895398, 2057516945746106277),
    (382963522, 265340355, 54534512334569691),
    (1585313030, 854195260, 1500752133631051573),
    (445195701, 564595553, 1768631355301258989),
    (1220076951, 975087333, 737260477040110584),
    (1043470157, 167054126, 1989171695740290370),
    (532325678, 391166097, 387473069226424382),
    (863137293, 986085434, 730223653031970073),
    (1925883067, 1975675996, 351572330305521664),
    (1269585217, 594768884, 1961717005641608826),
    (1285375264, 1388070602, 327085026095920871),
    (797867752, 231225184, 391140571957721997),
    (1068169051, 1832590651, 979512496706667993),
    (600811746, 934743335, 1005098983368494301),
    (1001011066, 1381313377, 1570436872880288488),
    (1242843941, 818219591, 2134491323750480317),
    (1557647516, 2085308311, 1809239359219714895),
    (145758632, 1619512663, 1858756692274170790),
    (288802594, 1860295583, 1519157693186129318),
    (729330159, 1630727063, 1123888453100612825),
    (428532703, 1083599976, 1570154578428586447),
    (1376511551, 1236946324, 91696854296062526),
    (113932434, 1047588540, 2201431896164571170),
    (954231782, 1885820607, 742201095658595314),
    (1673019798, 1748232454, 1555800113716936261),
    (1150593475, 600825400, 2088878844749549134),
    (1009996190, 1485007547, 2155649245359421026),
    (300531013, 1207332462, 645852588267887378),
    (1396475770, 1156854680, 1527973998755328644),
    (2100655619, 294955151, 798314610633686944),
]
_MASK30 = (1 << 30) - 1


def _mh_expr(h: Column, i: int) -> Column:
    a, b, c = _MH_PARAMS[i]
    hi = F.shiftright(h, 30)
    lo = h.bitwiseAND(F.lit(_MASK30))
    return (F.lit(a) * hi + F.lit(b) * lo + F.lit(c)) % F.lit(_MH_P)


def sql_mh_expr(h: str, i: int) -> str:
    a, b, c = _MH_PARAMS[i]
    return f"(({a} * ({h} >> 30) + {b} * ({h} & {_MASK30}) + {c}) % {_MH_P})"


def minhash_signatures(sh: DataFrame, k: int = 8) -> DataFrame:
    """K-permutation MinHash signature per doc: one md5-derived base hash
    per shingle, K arithmetic permutations, one groupBy with K min-aggs."""
    hashed = sh.withColumn("_h", h60(F.col("shingle"), salt="mh:"))
    aggs = [F.min(_mh_expr(F.col("_h"), i)).alias(f"mh{i}") for i in range(k)]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_signatures_of_sets(sets: DataFrame, k: int = 8) -> DataFrame:
    """:func:`minhash_signatures` over :func:`shingle_sets` rows: the
    same (doc_id, mh0..mh{k-1}) values — the min of each permutation
    over the same distinct shingles — computed row-locally with no
    groupBy.  Docs with no shingles get no row, as in the grouped form."""
    hashed = sets.filter(F.col("n_sh") > 0).select(
        "doc_id",
        F.transform("_set", lambda s: h60(s, salt="mh:")).alias("_hs"),
    )
    return hashed.select(
        "doc_id",
        *[
            F.array_min(F.transform("_hs", _mh_perm(i))).alias(f"mh{i}")
            for i in range(k)
        ],
    )


def _mh_perm(i: int):
    # a one-argument lambda per permutation (F.transform reads a second
    # parameter as the element index, so `i` cannot be a default arg)
    return lambda h: _mh_expr(h, i)


def lsh_band_table(sig: DataFrame, k: int = 8, bands: int = 4) -> DataFrame:
    """(doc_id, band_id, band_key) bucket rows for a signature frame —
    the persistable LSH index: a NEW doc collides with an EXISTING
    near-dup iff they share a (band_id, band_key) row, so maintaining
    this table incrementally (streaming/dedup_ingest.py) turns dedup
    into an equi-join against the index instead of a corpus re-scan.
    All band keys come out of ONE pass over the signature via posexplode
    (a per-band union would recompute the signature aggregate `bands`
    times)."""
    rows_per_band = k // bands
    keys = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        keys.append(F.md5(F.concat_ws("_", *[c.cast("string") for c in cols])))
    return sig.select(
        "doc_id", F.posexplode(F.array(*keys)).alias("band_id", "band_key")
    )


def lsh_candidate_pairs(sig: DataFrame, k: int = 8, bands: int = 4) -> DataFrame:
    """Band the signature, bucket-join docs sharing any band value.

    Equi-join on (band_id, band_key): this is the scale path — shuffle is
    proportional to docs×bands, and only colliding buckets produce pairs.

    The band table feeds BOTH self-join sides; persist it (docs×bands
    narrow rows, spills safely) or the signature aggregate — a full
    groupBy over the exploded shingles — executes twice (optimization
    round 15, guide §2.4/§5; caller/bench owns the cache lifetime, as
    with the LSH shingle tables).
    """
    from pyspark.storagelevel import StorageLevel

    banded = lsh_band_table(sig, k, bands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return lsh_bucket_pairs(banded)[0]


def lsh_candidate_pairs_capped(
    sig: DataFrame,
    k: int = 8,
    bands: int = 4,
    bucket_cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Band-bucket candidate pairs with a per-band bucket-size safety
    valve (round-14 verdict item 6).

    The uncapped bucket self-join emits ΣC(size, 2) candidate rows per
    band — a single hyper-duplicated key (boilerplate, empty docs, a
    template page crawled a million times) makes one bucket quadratic
    and the verify join unbounded no matter how the s-curve is tuned.
    Buckets larger than ``bucket_cap`` are ROUTED instead of pairwise-
    joined: every member pairs with the bucket's minimum doc_id (a
    star), so an oversized bucket costs O(size) candidates instead of
    O(size²).  Star candidates still pass exact Jaccard verification
    downstream, so no false duplicate can enter the pair table; docs
    in a hyper-dup bucket are near-identical by construction, so the
    star's verified edges connect the same component the full clique
    would (pinned equal on the standard fixtures and on a planted
    one-key corpus by tests/test_round15b.py).  Routing is never
    silent: the second return value is one row per routed
    (band_id, band_key) bucket with its size, and callers
    (DedupClusterMaintSink, sync-corpus) log the aggregate per sync.

    One extra shuffle vs the uncapped path: the size/min window over
    (band_id, band_key) — the same key the self-join shuffles on, so
    the exchange is reused.  With ``bucket_cap=None`` this is exactly
    :func:`lsh_candidate_pairs` plus an empty routed frame.

    Returns ``(pairs, routed)``: pairs is (d1, d2) distinct with
    d1 < d2; routed is (band_id, band_key, sz) for buckets > cap.

    The band table feeds multiple plan branches, so it is persisted
    here — otherwise the signature aggregate (a full groupBy over the
    exploded shingles) re-executes per branch (optimization round 15,
    guide §2.4/§5).  The persist stays cached after the pairs are used;
    a caller that must release it (a maintenance sink applying batch
    after batch) builds and persists the band table itself, passes it
    to :func:`lsh_bucket_pairs` and unpersists it when done.

    Memory shape of the row-local pair generation (round-15 advice):
    each small bucket's C(size, 2) pair structs flatten into ONE array
    before the explode, so per-row memory is O(bucket_cap²) — safe for
    the few-dozen-to-few-hundred caps the valve exists for, but a very
    large cap (tens of thousands) would push single rows toward
    Spark's ~2³¹ array-element / 2 GB limits.  Caps above
    ``BUCKET_CAP_ARRAY_MAX`` therefore fall back to the streaming
    self-join formulation for small buckets (identical pairs — the
    array form is pinned against it in tests/test_opt_r15.py), which
    streams any bucket size.
    """
    from pyspark.storagelevel import StorageLevel

    banded = lsh_band_table(sig, k, bands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return lsh_bucket_pairs(banded, bucket_cap)


def lsh_bucket_pairs(
    banded: DataFrame, bucket_cap: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(pairs, routed) of :func:`lsh_candidate_pairs_capped` from a band
    table the caller built with :func:`lsh_band_table`.  Nothing is
    persisted here: the caller owns the band table's cache lifetime."""
    from pyspark.sql import Window

    if bucket_cap is None:
        a = banded.alias("a")
        b = banded.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .distinct()
        )
        routed = banded.limit(0).select(
            "band_id", "band_key", F.lit(0).cast("bigint").alias("sz")
        )
        return pairs, routed
    w = Window.partitionBy("band_id", "band_key")
    # `sized` itself stays lazy: its three consumers (small, star,
    # routed) re-run only the window over the PERSISTED band table —
    # an A/B persisting sized too measured a small loss (the extra
    # cache write outweighs re-running a window over cached input)
    sized = banded.withColumn(
        "_sz", F.count(F.lit(1)).over(w)
    ).withColumn("_bmin", F.min("doc_id").over(w))
    small = sized.filter(F.col("_sz") <= bucket_cap).select(
        "doc_id", "band_id", "band_key"
    )
    # Small-bucket pairs are generated ROW-LOCALLY (optimization round
    # 15, guide §2.4): the cap itself bounds every small bucket at
    # `bucket_cap` members, so collecting them into one sorted array row
    # is safe at any corpus size — and all i<j member pairs come out of
    # an array transform instead of a second window execution feeding a
    # bucket self-join.  The groupBy keys equal the window partition
    # keys, so no new exchange; sort_array + suffix slicing yields
    # exactly the d1 < d2 pairs the self-join emitted (same total order
    # as the old a.doc_id < b.doc_id predicate).  Hyper-dup buckets
    # never aggregate into arrays — they stay on the row-wise star path
    # below, which is the valve's whole point.
    if bucket_cap <= BUCKET_CAP_ARRAY_MAX:
        grp = small.groupBy("band_id", "band_key").agg(
            F.sort_array(F.collect_list("doc_id")).alias("_ms")
        )
        _pair_structs = F.flatten(
            F.transform(
                F.col("_ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("_ms"), i + F.lit(2), F.size(F.col("_ms"))),
                    lambda y: F.struct(x.alias("d1"), y.alias("d2")),
                ),
            )
        )
        pairs_small = grp.select(
            F.explode(_pair_structs).alias("_p")
        ).select("_p.d1", "_p.d2")
    else:
        # cap too large for O(cap²) per-row arrays: stream the pairs
        # through the self-join instead (identical output)
        a = small.alias("a")
        b = small.alias("b")
        pairs_small = a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
    big = sized.filter(F.col("_sz") > bucket_cap)
    # star: min pairs with every other member — d1 < d2 by construction
    pairs_big = big.filter(F.col("doc_id") != F.col("_bmin")).select(
        F.col("_bmin").alias("d1"), F.col("doc_id").alias("d2")
    )
    pairs = pairs_small.unionByName(pairs_big).distinct()
    routed = big.groupBy("band_id", "band_key").agg(
        F.max("_sz").cast("bigint").alias("sz")
    )
    return pairs, routed


def verify_candidate_jaccard(
    cands: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for CANDIDATE pairs only.  Cost is proportional to
    |candidates| × shingles-per-doc — never all-pairs.

    Plan shape (optimization round 15, guide §2.4): each doc's distinct
    shingles fold into ONE sorted array row (per-doc size rides the same
    aggregation), the pair list joins both sides' arrays by id, and the
    intersection is a row-local `array_intersect` — three exchanges
    where the row-expanded formulation (pair×shingle join + per-pair
    count + a separate sizes aggregation joined twice) paid six.
    shingles() emits DISTINCT grams per doc, so |array_intersect| IS the
    set-intersection count the old per-row match count computed —
    integers, hence the rounded jaccard doubles, are bit-identical
    (pinned in tests/test_opt_r15.py::TestVerifyJaccardRestructure).
    Zero-overlap candidates drop exactly as the old inner shingle join
    dropped them (the n_inter > 0 filter keeps that contract even at
    threshold 0.0).

    A candidate-doc semi-join prefilter of the set aggregation (guide
    §3: only docs appearing in a candidate pair can survive the verify
    joins) was measured and REJECTED in optimization round 15: a
    four-arm interleaved A/B (plain / semi-join / persisted-cands /
    broadcast-hinted semi-join) put every prefilter variant +0.5-1.4 s
    per query at sf0.1 — the extra id-distinct aggregation and the
    semi-join stage cost more than the full-corpus set aggregation they
    save at bench scale, and the persisted-cands variant alone was
    neutral (pure cost, single consumer).  At 100 TB dup rates the
    candidate-doc set approaches the corpus anyway (most docs collide
    in some band), so the prefilter is not even a clear scale win —
    unlike the band/prefix persists above, which remove whole corpus
    passes."""
    sets = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("_set"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    return verify_candidate_jaccard_sets(cands, sets, threshold)


def verify_candidate_jaccard_sets(
    cands: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """:func:`verify_candidate_jaccard` over per-doc shingle sets
    (doc_id, _set, n_sh) — the :func:`shingle_sets` shape — instead of
    shingle rows."""
    return (
        cands.join(
            sets.select(
                F.col("doc_id").alias("d1"),
                F.col("_set").alias("_sa"),
                F.col("n_sh").alias("_na"),
            ),
            "d1",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("d2"),
                F.col("_set").alias("_sb"),
                F.col("n_sh").alias("_nb"),
            ),
            "d2",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("_sa", "_sb")).cast("bigint")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("_na") + F.col("_nb") - F.col("n_inter")),
                6,
            ),
        )
        .filter((F.col("jaccard") >= threshold) & (F.col("n_inter") > 0))
        .select("d1", "d2", "n_inter", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: shingle → MinHash → LSH buckets → exact
    Jaccard verification restricted to the candidate pairs.

    The shingle table feeds the signature build AND the verification
    joins; persist it (memory-and-disk, spills safely at scale) so the
    explode+hash work runs once.  Verification touches only candidate
    pairs — the property that makes LSH sub-quadratic.  ``bucket_cap``
    routes oversized band buckets through the star path
    (:func:`lsh_candidate_pairs_capped`) so one hyper-dup key cannot
    make the verify join quadratic.
    """
    from pyspark.storagelevel import StorageLevel

    sh = shingles(df, id_col, text_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    cands, _routed = lsh_candidate_pairs_capped(
        minhash_signatures(sh, k), k, bands, bucket_cap
    )
    return verify_candidate_jaccard(cands, sh, threshold)


def lsh_recall_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
    sample_mod: int = 4,
    salt: str = "recall:",
) -> DataFrame:
    """Sampled recall estimator for the banded LSH at (k, bands) — the
    counter the bucket-density profile (q_lsh_bucket_stats) lacks: the
    density counters watch what the s-curve COSTS; this watches what it
    MISSES (round-14 verdict item 2: the rows-per-band knob buys its
    candidate collapse by spending recall at the threshold margin, and
    production had nothing measuring that trade).

    A deterministic hash sample (h60(id) % sample_mod == 0 — stable
    across syncs and engines, never a random split) is exact-verified
    against itself via prefix-filtered AllPairs, giving the sample's
    TRUE pairs at Jaccard >= threshold; the same sample is banded
    under the CURRENT parameters, and recall is the fraction of true
    pairs that collide in at least one band.  Cost is
    O((docs/sample_mod) * shingles) + the sample's candidate join —
    per-sync affordable at any corpus size by raising sample_mod.
    Pairs straddling the sample boundary are invisible by design: a
    pair's band-collision probability depends only on its Jaccard, so
    the within-sample estimate is unbiased for the corpus at the same
    similarity profile.

    One row: (n_sample_docs, n_true_pairs, n_banded_pairs, recall),
    recall = 1.0 when the sample holds no true pairs (nothing to
    miss).

    Plan shape (optimization round 15, guide §1.2/§2.4): the true-pair
    and banded-coverage counters come out of ONE left join + ONE
    aggregate — the original three crossJoined scalar aggregates each
    re-executed their full upstream (the AllPairs prefix-filter subtree
    ran twice, the banding once more), which doubled the dominant cost.
    The join cannot duplicate rows (cands is distinct on (d1, d2)), so
    COUNT(*) / COUNT(flag) equal the old separate counts exactly."""
    from pyspark.storagelevel import StorageLevel

    sample = df.filter(
        h60(F.col(id_col).cast("string"), salt) % F.lit(sample_mod) == 0
    ).select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    sh = shingles(sample, "doc_id", "text", n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    true_pairs = prefix_filtered_jaccard_pairs(sh, threshold).select(
        "d1", "d2"
    )
    cands = lsh_candidate_pairs(minhash_signatures(sh, k), k, bands)
    pair_counts = (
        true_pairs.join(
            cands.withColumn("_b", F.lit(1)), ["d1", "d2"], "left"
        )
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.count("_b").alias("n_banded_pairs"),
        )
    )
    n_docs = sample.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_sample_docs")
    )
    return (
        n_docs.crossJoin(pair_counts)
        .select(
            "n_sample_docs",
            "n_true_pairs",
            "n_banded_pairs",
            F.when(F.col("n_true_pairs") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.col("n_banded_pairs").cast("double")
                    / F.col("n_true_pairs"),
                    6,
                )
            )
            .alias("recall"),
        )
    )


def sql_lsh_recall_sample(
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
    sample_mod: int = 4,
    salt: str = "recall:",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`lsh_recall_sample` (brute-force exact
    pairs — same verified set the prefix filter prunes toward)."""
    sample = (
        f"SELECT doc_id, text FROM {table} "
        f"WHERE {sql_h60('CAST(doc_id AS VARCHAR)', salt)} "
        f"% {sample_mod} = 0"
    )
    sh_sql = sql_shingles(n, table="sample")
    base = sql_h60("shingle", salt="mh:")
    mins = ",\n         ".join(
        f"MIN({sql_mh_expr('_h', i)}) AS mh{i}" for i in range(k)
    )
    rows_per_band = k // bands
    band_selects = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({key}) AS band_key "
            f"FROM sig"
        )
    banded = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH sample AS ({sample}),
sh AS ({sh_sql}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
true_pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {threshold}
),
sig AS (SELECT doc_id, {mins}
        FROM (SELECT doc_id, {base} AS _h FROM sh) GROUP BY doc_id),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
covered AS (
  SELECT t.d1, t.d2 FROM true_pairs t
  WHERE EXISTS (SELECT 1 FROM cand c
                WHERE c.d1 = t.d1 AND c.d2 = t.d2)
)
SELECT (SELECT COUNT(*) FROM sample) AS n_sample_docs,
       (SELECT COUNT(*) FROM true_pairs) AS n_true_pairs,
       (SELECT COUNT(*) FROM covered) AS n_banded_pairs,
       CASE WHEN (SELECT COUNT(*) FROM true_pairs) = 0
            THEN CAST(1.0 AS DOUBLE)
            ELSE ROUND(
              CAST((SELECT COUNT(*) FROM covered) AS DOUBLE)
              / (SELECT COUNT(*) FROM true_pairs), 6)
       END AS recall
"""


# --------------------------------------------------------------------------
# connected components — near-dup pairs -> cluster ids
# --------------------------------------------------------------------------
# edge-count bound for the driver union-find fast path: a few MB of
# driver memory at most, far above any fixture and far below anything
# that should run distributed
SMALL_CC_EDGES = 100_000


def release_checkpoint(cp: DataFrame) -> None:
    """Drop the blocks of a local checkpoint.  The frame's logical plan
    holds the checkpointed RDD; its JVM handle is used directly, so no
    DataFrame-to-RDD plan translation happens here."""
    cp._jdf.queryExecution().logical().rdd().unpersist(False)  # rdd-ok


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    Dedup pipelines need clusters, not pairs: LSH/Jaccard emit edges, and
    the keep-one-per-cluster decision requires the transitive closure.
    This is hash-min label propagation (Rastogi et al., "Finding Connected
    Components in Map-Reduce") with pointer jumping — each round first
    takes the min label over the 1-hop neighborhood, then replaces every
    label by its label's label, so convergence is O(log diameter) rounds
    rather than O(diameter).

    Scale shape per round: one |E| equi-join + one (|V|+|E|) min-groupBy +
    one |V| self-join — all key-partitioned shuffles, nothing quadratic.
    `localCheckpoint(eager=True)` truncates lineage each round (the
    standard iterative-Spark pattern; without it the plan doubles every
    iteration).  The convergence probe is one tiny count action per round;
    near-dup graphs are unions of near-cliques, so 2–3 rounds is typical.
    Returns (node, comp).
    """
    from pyspark.storagelevel import StorageLevel

    half = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Small-graph fast path (round 14): verified near-dup edge sets are
    # control-plane sized next to the corpus (LSH verification keeps
    # ~0.5-1% of docs even on collision-dense corpora), yet each
    # label-propagation round costs several fixed-overhead Spark stages
    # — on a few-thousand-edge graph the distributed loop is ~90% job
    # scheduling.  Below the bound, run path-compressed union-find on
    # the collected edge list in Python — the IDENTICAL min-label
    # output (components labeled by their minimum member; Python min
    # and F.min agree on the numeric and string id types used here),
    # measured 7-8x faster at fixture scale.  ONE bounded collect both
    # decides the path and fetches the edges (the bpe_learn_local
    # idiom): at most SMALL_CC_EDGES + 1 rows are ever collected,
    # and a small graph pays no count job and no persist.
    rows = half.limit(SMALL_CC_EDGES + 1).collect()
    if stats is not None:
        stats["cc_edges"] = len(rows)
        stats["cc_rounds"] = 0
    if len(rows) <= SMALL_CC_EDGES:
        from pyspark.sql.types import StructField, StructType

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        nodes = set()
        for d1, d2 in rows:
            nodes.add(d1)
            nodes.add(d2)
            ra, rb = find(d1), find(d2)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for n in nodes:
            r = find(n)
            if r not in comp_min or n < comp_min[r]:
                comp_min[r] = n
        ty = edges.schema[src].dataType
        spark = edges.sparkSession
        return spark.createDataFrame(
            [(n, comp_min[find(n)]) for n in sorted(nodes)],
            StructType(
                [StructField("node", ty), StructField("comp", ty)]
            ),
        )
    del rows
    # Above the bound: persist the one-direction edge list BEFORE
    # mirroring it — union evaluates each branch independently, so
    # without this the (often expensive) upstream pair-generation
    # lineage, e.g. the full MinHash-LSH pipeline, executes twice to
    # build `und`.  The count materializes that persist (the first
    # round would pay it anyway) and makes cc_edges exact.
    half = half.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = half.count()
    if stats is not None:
        stats["cc_edges"] = n_edges
    und = (
        half.union(half.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _jump(lab: DataFrame) -> DataFrame:
        # comp := comp's comp (path halving); labels are node ids, so the
        # self-join resolves every label one more hop toward the root
        ptr = lab.select(F.col("node").alias("_n"), F.col("comp").alias("_c"))
        return (
            lab.alias("m")
            .join(ptr.alias("p"), F.col("m.comp") == F.col("p._n"), "left")
            .select(
                F.col("m.node").alias("node"),
                F.coalesce(F.col("p._c"), F.col("m.comp")).alias("comp"),
            )
        )

    # round 0 folded into initialization: against identity labels the
    # neighbor-min message set IS the edge list, so min(self, neighbors)
    # needs no join — one aggregation plus a jump
    labels = _jump(
        und.select(F.col("a").alias("node"), F.col("b").alias("comp"))
        .union(
            und.select(F.col("a").alias("node"), F.col("a").alias("comp")).distinct()
        )
        .groupBy("node")
        .agg(F.min("comp").alias("comp"))
    ).localCheckpoint(eager=True)

    for _ in range(max_iter):
        nbr = und.join(labels, und["a"] == labels["node"]).select(
            und["b"].alias("node"), "comp"
        )
        merged = (
            labels.select("node", "comp")
            .union(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        jumped = _jump(merged).localCheckpoint(eager=True)
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        # the superseded round's checkpoint: `jumped` holds its own
        # blocks, and the returned frame keeps only the last round's
        release_checkpoint(labels)
        labels = jumped
        if stats is not None:
            stats["cc_rounds"] += 1
        if changed == 0:
            break
    und.unpersist()
    half.unpersist()
    return labels.select("node", "comp")


def keep_canonical(
    df: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every clustered doc except its component's canonical (min-id)
    member; docs in no dup pair pass through untouched.  One left join on
    the (small) component table — the corpus itself never shuffles."""
    losers = components.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
# SimHash (16-bit portable variant)
# --------------------------------------------------------------------------
SIMHASH_BITS = 16


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc 16-bit SimHash over tokens (with multiplicity).

    bit_j(fingerprint) = majority of bit_j over token hashes.  One explode
    + one groupBy; the 16 conditional sums all ride the same hash-agg.
    """
    tok = ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).withColumn("h", h60(F.col("token"), salt="sim:"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    fp: Column = F.lit(0)
    for j in range(SIMHASH_BITS):
        fp = fp + F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return per_doc.select("doc_id", fp.cast("bigint").alias("simhash"))


# --------------------------------------------------------------------------
# exact-substring duplication spans (ExactSubstr, Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better"):
# character L-grams whose hash repeats ANYWHERE in the corpus mark their
# covering positions as duplicated text; overlapping marks merge into
# per-doc spans.  The reference ExactSubstr builds a corpus-wide suffix
# array; relationally the same signal is one gram explode + one
# frequency aggregation + a gaps-and-islands window — every stage keyed,
# nothing quadratic, hashes (not text) on the shuffle wire.
#
# `stride` trades resolution for shuffle volume via CONTENT-DEFINED
# sampling: only grams whose hash ≡ 0 (mod stride) survive, so the same
# substring selects the same grams in every document regardless of its
# byte offset (position-strided sampling would misalign: two copies at
# offsets differing mod stride share no sampled gram).  Every position
# is hashed (that CPU is inherent to ExactSubstr) but only ~1/stride of
# the rows reach the explode/shuffle — the knob that makes 100 TB
# affordable.  A duplicated region of length >= L + a few strides
# contains a selected gram with probability 1 - (1-1/s)^(region-L+1) —
# deterministic per content, overwhelmingly close to 1 for s << region.
# --------------------------------------------------------------------------
def char_gram_positions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 40,
    stride: int = 4,
) -> DataFrame:
    """(id, pos, gh): hash of the lowercased L-char gram at each selected
    1-based position (content-defined selection: gh % stride == 0)."""
    t = F.lower(F.col(text_col))
    n = F.length(t)
    idx = F.when(
        n >= gram_len,
        F.sequence(F.lit(1), n - gram_len + 1),
    ).otherwise(F.array().cast("array<int>"))
    hashed = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            h60(F.substring(t, i, gram_len), salt="ss:").alias("gh"),
        ),
    )
    selected = F.filter(hashed, lambda s: s["gh"] % stride == 0)
    return (
        ensure_min_parallelism(df)
        .select(F.col(id_col), F.explode(selected).alias("_s"))
        .select(id_col, F.col("_s.pos").alias("pos"), F.col("_s.gh").alias("gh"))
    )


def duplicated_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 40,
    stride: int = 4,
) -> DataFrame:
    """Per-doc merged duplicated-text spans: (id, span_start, span_end)
    half-open char ranges covered by grams whose corpus frequency > 1."""
    from pyspark.sql.window import Window

    grams = char_gram_positions(df, id_col, text_col, gram_len, stride)
    freq = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("n"))
    dup = grams.join(freq.filter(F.col("n") > 1), "gh").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    # sorted same-length intervals [pos, pos+L): a new island starts when
    # the gap to the previous start exceeds L (no overlap possible)
    flagged = dup.withColumn(
        "_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > gram_len),
            1,
        ).otherwise(0),
    ).withColumn("_island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy(id_col, "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + gram_len).alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def substring_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 40,
    stride: int = 4,
) -> DataFrame:
    """Per-doc duplicated-text accounting over the merged spans:
    (id, n_spans, dup_chars, dup_frac) for docs with any duplication."""
    spans = duplicated_substring_spans(df, id_col, text_col, gram_len, stride)
    sized = spans.join(
        df.select(F.col(id_col), F.length(F.col(text_col)).alias("_len")),
        id_col,
    )
    return (
        sized.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.least(F.col("span_end"), F.col("_len") + 1)
                - F.col("span_start")
            ).alias("dup_chars"),
            F.round(
                F.sum(
                    F.least(F.col("span_end"), F.col("_len") + 1)
                    - F.col("span_start")
                )
                / F.max("_len"),
                6,
            ).alias("dup_frac"),
        )
    )


def sql_substring_dup_stats(
    table: str, gram_len: int = 40, stride: int = 4
) -> str:
    """DuckDB twin of substring_dup_stats (same hash, windows, merging)."""
    gh = sql_h60(f"substr(t, i, {gram_len})", salt="ss:")
    return f"""
WITH t0 AS (SELECT doc_id, lower(text) AS t FROM {table}),
grams AS (
  SELECT doc_id, pos, gh FROM (
    SELECT doc_id, i AS pos, {gh} AS gh FROM (
      SELECT doc_id, t,
             unnest(range(1, greatest(length(t) - {gram_len} + 1, 0) + 1))
               AS i
      FROM t0
    )
  ) WHERE gh % {stride} = 0
),
freq AS (SELECT gh, COUNT(*) AS n FROM grams GROUP BY 1),
dup AS (SELECT doc_id, pos FROM grams JOIN freq USING (gh) WHERE n > 1),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                   OR pos - lag(pos) OVER w > {gram_len}
              THEN 1 ELSE 0 END AS _new
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
islands AS (
  SELECT doc_id, pos,
         SUM(_new) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS _island
  FROM flagged
),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {gram_len} AS span_end
  FROM islands GROUP BY doc_id, _island
),
sized AS (
  SELECT s.doc_id, s.span_start, s.span_end, length(t0.t) AS _len
  FROM spans s JOIN t0 USING (doc_id)
)
SELECT doc_id, COUNT(*) AS n_spans,
       CAST(SUM(least(span_end, _len + 1) - span_start) AS BIGINT)
         AS dup_chars,
       ROUND(SUM(least(span_end, _len + 1) - span_start) / MAX(_len), 6)
         AS dup_frac
FROM sized GROUP BY 1
"""


def strip_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove char ranges from each doc's text: `spans` is (id,
    span_start, span_end) half-open 1-based ranges, non-overlapping per
    doc (duplicated_substring_spans emits exactly that).  Returns every
    input doc with `clean_text` (untouched docs pass through) and
    `removed_chars`.

    The surgery is pure column expressions: spans collect per doc (a
    keyed aggregation of a FEW ints per doc — never text), sort in the
    array domain, and the kept segments concat via zip_with over the
    boundary arrays.  Text itself never shuffles: the span table joins
    TO the corpus broadcast-style and each doc is rewritten in place in
    the scan stage.  This is span-granular dedup — the curation step
    between "drop the whole near-dup doc" (keep_canonical) and keeping
    boilerplate: repeated regions vanish, unique prose stays.
    """
    from pyspark.sql.window import Window  # noqa: F401  (parity w/ siblings)

    collected = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    t = F.col(text_col)
    n = F.length(t)
    arr = F.col("_spans")
    prev_ends = F.concat(
        F.array(F.lit(1)), F.transform(arr, lambda s: s["span_end"])
    )
    next_starts = F.concat(
        F.transform(arr, lambda s: s["span_start"]), F.array(n + 1)
    )
    segments = F.zip_with(
        prev_ends,
        next_starts,
        lambda a, b: F.substring(t, a, F.greatest(b - a, F.lit(0))),
    )
    clean = F.when(arr.isNull(), t).otherwise(F.concat_ws("", segments))
    return (
        df.join(collected, id_col, "left")
        .withColumn("clean_text", clean)
        .withColumn("removed_chars", n - F.length(F.col("clean_text")))
        .drop("_spans")
    )


def sql_strip_spans_stats(table: str, gram_len: int = 40, stride: int = 4) -> str:
    """DuckDB twin of substring spans |> strip_spans, reduced to the
    stable per-doc accounting (md5 of the cleaned text + sizes)."""
    gh = sql_h60(f"substr(t, i, {gram_len})", salt="ss:")
    return f"""
WITH t0 AS (SELECT doc_id, lower(text) AS t FROM {table}),
grams AS (
  SELECT doc_id, pos, gh FROM (
    SELECT doc_id, i AS pos, {gh} AS gh FROM (
      SELECT doc_id, t,
             unnest(range(1, greatest(length(t) - {gram_len} + 1, 0) + 1))
               AS i
      FROM t0
    )
  ) WHERE gh % {stride} = 0
),
freq AS (SELECT gh, COUNT(*) AS n FROM grams GROUP BY 1),
dup AS (SELECT doc_id, pos FROM grams JOIN freq USING (gh) WHERE n > 1),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                   OR pos - lag(pos) OVER w > {gram_len}
              THEN 1 ELSE 0 END AS _new
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
islands AS (
  SELECT doc_id, pos,
         SUM(_new) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS _island
  FROM flagged
),
spans AS (
  SELECT doc_id, MIN(pos) AS s,
         least(MAX(pos) + {gram_len}, MIN(length(t0.t)) + 1) AS e
  FROM islands JOIN t0 USING (doc_id) GROUP BY doc_id, _island
),
coll AS (
  SELECT doc_id,
         list_sort(list(struct_pack(s := s, e := e))) AS sp
  FROM spans GROUP BY 1
),
cleaned AS (
  SELECT d.doc_id,
         CASE WHEN c.sp IS NULL THEN d.text ELSE
           list_aggregate(
             list_transform(
               list_zip(
                 list_prepend(1, list_transform(c.sp, x -> x.e)),
                 list_append(list_transform(c.sp, x -> x.s),
                             length(d.text) + 1)),
               p -> substr(d.text, p[1], greatest(p[2] - p[1], 0))),
             'string_agg', '')
         END AS clean_text,
         length(d.text) AS orig_len
  FROM {table} d LEFT JOIN coll c USING (doc_id)
)
SELECT doc_id, md5(clean_text) AS clean_fp,
       CAST(orig_len - length(clean_text) AS BIGINT) AS removed_chars
FROM cleaned
"""
