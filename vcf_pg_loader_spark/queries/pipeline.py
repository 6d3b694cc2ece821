"""Large-scale pipeline operators over the documents/embeddings fixtures:
dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity search
(brute-force + LSH-bucketed ANN), text analysis (lang-ID, quality, token
stats, fingerprinting).  Every query has an exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vcf_pg_loader_spark.functions.hashing import sql_h60
from vcf_pg_loader_spark.operators import dedup as D
from vcf_pg_loader_spark.operators import similarity as S
from vcf_pg_loader_spark.operators import text as T
from vcf_pg_loader_spark.sources.tables import load_table

NGRAM = 3
# 16 hashes / 4 bands = 4 rows per band (round 8; was 8/4 = 2).  With 2
# rows per band the false-candidate floor is 4·J² — ~1% even for J≈0.05
# pairs, i.e. QUADRATIC candidate growth with corpus size (measured:
# 101 → 318 candidates at 2× sf0.01 for a constant 24 true pairs).  At
# 4 rows the floor is 4·J⁴ and the measured 2× candidate count is flat
# (26 → 27, all but ~1 true pairs) — the LSH S-curve restored, which
# also needed the decorrelated permutation constants (operators/
# dedup.py _MH_PARAMS).  Threshold recall at J=0.8 is 1-(1-0.8⁴)⁴ ≈
# 0.88 and rises steeply above — the standard banding trade; the DuckDB
# twins share the constants, so oracle exactness is unaffected.
MINHASH_K = 16
MINHASH_BANDS = 4
JACCARD_T = 0.8
# Per-STRUCTURE semantic versions (round 10; was one global STATE_VERSION
# whose round-9 bump for the vector-index delete-wins fix forced every
# unrelated persisted structure to rebuild — ~160 s of the r9 bench
# headline, a multi-hour rebuild at 100 TB).  Bump a structure's version
# when ITS persisted state's semantics change: only that structure's
# _served_root moves, everything else keeps serving its existing state.
# All groups sit at 9 so round-9-built state stays valid verbatim.
STATE_VERSIONS = {
    # 10.1 = id-bucketed state-table layout (corpus/bands/doclens/
    # per-doc tables partition by ib so maintenance writes prune);
    # groups whose on-disk layout did not change keep their version
    "dedup": 10.1,   # LSH cluster stores (corpus/bands now id-bucketed)
    "semdedup": 9,   # semantic cluster stores (vectors already by cid)
    "ann": 9,        # VectorIndex roots (9 = delete-wins fix)
    "bm25": 10.1,    # inverted-index stores (doclens now id-bucketed)
    "winnow": 9,     # winnowing fingerprint index (already fp-bucketed)
    "funnel": 10.1,  # drop-reason funnel state (per-doc tables bucketed)
    "card": 10.1,    # maintained dataset-card state (stats/fp bucketed)
    "decontam": 10,  # maintained decontamination index (new in round 10)
    # 11.1 = layout carries the content fingerprint (dfp) the CLI's
    # kept-corpus self-diff keys on
    "shards": 11.1,  # maintained training-shard layout (new in round 11)
    "vocab": 12,     # maintained vocabulary counts (new in round 12)
    "seqdecontam": 15,  # round 15: postings store h60(shingle), not raw
}

# _served_root name -> structure group; every persisted root must be
# registered here (a KeyError on an unregistered name is deliberate —
# an unversioned structure would never invalidate on a semantic fix)
_STRUCTURE_OF = {
    "dedup_clusters": "dedup",
    "zdel_clusters": "dedup",
    "semdedup_clusters": "semdedup",
    "zdel_semdedup": "semdedup",
    "ivf_index": "ann",
    "zdel_ann": "ann",
    "ann_reindex": "ann",
    "bm25_index": "bm25",
    "zdel_bm25": "bm25",
    "zdel_winnow": "winnow",
    "drop_reasons_nll": "funnel",
    "zdel_funnel": "funnel",
    # CDC demo states ARE instances of the underlying sinks, so they
    # version with the structure they carry — a layout or semantic fix
    # in one sink invalidates exactly its own CDC state, nothing else
    "cdc_snapshot": "dedup",
    "cdc_funnel": "funnel",
    "cdc_ann": "ann",
    "cdc_bm25": "bm25",
    "cdc_winnow": "winnow",
    "cdc_semdedup": "semdedup",
    "cdc_decontam": "decontam",
    "cdc_decontam_eval": "decontam",
    "zdel_card": "card",
    "cdc_card": "card",
    "cdc_card_srcmove": "card",
    "zdel_decontam": "decontam",
    "cdc_shards": "shards",
    "shards_store": "shards",
    "vocab_store": "vocab",
    "vocab_train_store": "vocab",
    "cdc_vocab": "vocab",
    "seq_shingle_index": "seqdecontam",
    "seq_shingle_layout": "shards",
}


# --------------------------------------------------------------------------
# exact dedup / fingerprinting
# --------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T.fingerprint(load_table(spark, sf_dir, "documents"))
    return D.exact_dedup_classes(docs, key="doc_fp", id_col="doc_id")


Q_DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(trim(text), ' +', ' ', 'g')) AS doc_fp,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs — EXACT pairwise, prefix-filtered plan
# (AllPairs/PPJoin): identical output to the naive shingle self-join,
# but the join key set is each doc's rarest shingles, so hot shingles
# never explode the join.  The naive plan (D.jaccard_pairs) remains
# available for candidate verification.
# --------------------------------------------------------------------------
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    sets = D.shingle_sets(docs, "doc_id", "text", NGRAM).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return D.prefix_filtered_jaccard_pairs(sets, JACCARD_T)


_SH = D.sql_shingles(NGRAM)
Q_NGRAM_JACCARD_SQL = D.sql_prefix_filtered_jaccard(_SH, JACCARD_T)


# --------------------------------------------------------------------------
# MinHash + LSH banding near-dup pipeline
# --------------------------------------------------------------------------
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_dedup(
        docs, "doc_id", "text", NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T
    )


def _minhash_sql() -> str:
    base = sql_h60("shingle", salt="mh:")
    mins = ",\n         ".join(
        f"MIN({D.sql_mh_expr('_h', i)}) AS mh{i}" for i in range(MINHASH_K)
    )
    rows_per_band = MINHASH_K // MINHASH_BANDS
    band_selects = []
    for b in range(MINHASH_BANDS):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({key}) AS band_key FROM sig"
        )
    banded = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH sh AS ({_SH}),
sig AS (SELECT doc_id, {mins}
        FROM (SELECT doc_id, {base} AS _h FROM sh) GROUP BY doc_id),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT d1, d2, n_inter,
         ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_T}
)
SELECT cand.d1, cand.d2, n_inter, jaccard FROM cand JOIN verified
  ON cand.d1 = verified.d1 AND cand.d2 = verified.d2
"""


Q_MINHASH_LSH_SQL = _minhash_sql()

# Demo cap for the oracled routing pin: small enough to BIND on the
# test fixtures (max band bucket is 3-4 there), so the star path is
# actually exercised, not just compiled.
LSH_BUCKET_CAP_DEMO = 2


def q_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs under the per-band bucket-size safety
    valve (round-14 verdict item 6): band buckets larger than the cap
    route through a star against the bucket's minimum doc_id instead of
    the pairwise self-join — the guard that keeps one hyper-duplicated
    key (boilerplate crawled a million times) from making the verify
    join quadratic at 100 TB.  The cap here (2) deliberately binds on
    the fixtures so the DuckDB twin pins the ROUTING arithmetic
    value-exactly, star pairs included.  Capped output with a
    non-binding cap is pinned equal to q_minhash_lsh by
    tests/test_dedup_similarity.py."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_dedup(
        docs, "doc_id", "text", NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T,
        bucket_cap=LSH_BUCKET_CAP_DEMO,
    )


def _minhash_capped_sql(cap: int) -> str:
    base = sql_h60("shingle", salt="mh:")
    mins = ",\n         ".join(
        f"MIN({D.sql_mh_expr('_h', i)}) AS mh{i}" for i in range(MINHASH_K)
    )
    rows_per_band = MINHASH_K // MINHASH_BANDS
    band_selects = []
    for b in range(MINHASH_BANDS):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({key}) AS band_key FROM sig"
        )
    banded = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH sh AS ({_SH}),
sig AS (SELECT doc_id, {mins}
        FROM (SELECT doc_id, {base} AS _h FROM sh) GROUP BY doc_id),
banded AS ({banded}),
sized AS (
  SELECT doc_id, band_id, band_key,
         COUNT(*) OVER (PARTITION BY band_id, band_key) AS sz,
         MIN(doc_id) OVER (PARTITION BY band_id, band_key) AS bmin
  FROM banded
),
cand AS (
  SELECT DISTINCT d1, d2 FROM (
    SELECT a.doc_id AS d1, b.doc_id AS d2
    FROM (SELECT * FROM sized WHERE sz <= {cap}) a
    JOIN (SELECT * FROM sized WHERE sz <= {cap}) b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    UNION ALL
    SELECT bmin AS d1, doc_id AS d2
    FROM sized WHERE sz > {cap} AND doc_id <> bmin
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT d1, d2, n_inter,
         ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = d1
  JOIN sizes sb ON sb.doc_id = d2
  WHERE ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_T}
)
SELECT cand.d1, cand.d2, n_inter, jaccard FROM cand JOIN verified
  ON cand.d1 = verified.d1 AND cand.d2 = verified.d2
"""


Q_MINHASH_LSH_CAPPED_SQL = _minhash_capped_sql(LSH_BUCKET_CAP_DEMO)


def q_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket density profile under the pipeline LSH parameters —
    the operational counters behind the round-14 scale attribution
    (tools/scale_rehearsal.py lsh_profile), oracled: per band, the
    bucket count, the largest bucket, and sum C(size, 2) over buckets
    (the candidate-pair volume the bucket self-join MUST emit before
    distinct).  This is what a 100 TB operator watches per sync to
    know whether collision density is drifting toward the quadratic
    regime — and the number the rows-per-band knob (--minhash-k) is
    chosen against.  Pure integer arithmetic (DIV 2 both engines), so
    the twin is value-exact."""
    docs = load_table(spark, sf_dir, "documents")
    sets = D.shingle_sets(docs, "doc_id", "text", NGRAM)
    banded = D.lsh_band_table(
        D.minhash_signatures(sets, MINHASH_K), MINHASH_K, MINHASH_BANDS
    )
    per = banded.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return per.groupBy(
        F.col("band_id").cast("bigint").alias("band_id")
    ).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").cast("bigint").alias("max_bucket"),
        F.sum(
            F.expr("CAST(sz AS BIGINT) * (sz - 1) DIV 2")
        ).cast("bigint").alias("pairs_pre_distinct"),
    )


def _lsh_bucket_stats_sql() -> str:
    base = sql_h60("shingle", salt="mh:")
    mins = ",\n         ".join(
        f"MIN({D.sql_mh_expr('_h', i)}) AS mh{i}" for i in range(MINHASH_K)
    )
    rows_per_band = MINHASH_K // MINHASH_BANDS
    band_selects = []
    for b in range(MINHASH_BANDS):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({key}) AS band_key FROM sig"
        )
    banded = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH sh AS ({_SH}),
sig AS (SELECT doc_id, {mins}
        FROM (SELECT doc_id, {base} AS _h FROM sh) GROUP BY doc_id),
banded AS ({banded}),
per AS (
  SELECT band_id, band_key, COUNT(*) AS sz FROM banded GROUP BY 1, 2
)
SELECT CAST(band_id AS BIGINT) AS band_id,
       COUNT(*) AS n_buckets,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS pairs_pre_distinct
FROM per GROUP BY 1
"""


Q_LSH_BUCKET_STATS_SQL = _lsh_bucket_stats_sql()


def q_lsh_recall_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled LSH recall estimator under the pipeline parameters — the
    recall counterpart of q_lsh_bucket_stats' cost counters (round-14
    verdict item 2): a deterministic hash sample of the corpus is
    exact-verified against itself (prefix-filtered AllPairs), banded
    under the current (k, bands), and recall is the fraction of true
    >=threshold pairs that collide in at least one band.  This is the
    number an operator reads before and after raising --minhash-k: the
    density counters say what the tighter s-curve saves, this says
    what it misses.  sync-corpus --recall-sample logs the same
    arithmetic per sync; tools/scale_rehearsal.py records it per scale
    point."""
    docs = load_table(spark, sf_dir, "documents")
    return D.lsh_recall_sample(
        docs, "doc_id", "text", NGRAM, MINHASH_K, MINHASH_BANDS,
        JACCARD_T, sample_mod=2,
    )


Q_LSH_RECALL_SAMPLE_SQL = D.sql_lsh_recall_sample(
    NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T, sample_mod=2,
)


# --------------------------------------------------------------------------
# SimHash fingerprints
# --------------------------------------------------------------------------
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text")


def _simhash_sql() -> str:
    sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(D.SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(D.SIMHASH_BITS)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
h AS (SELECT doc_id, {sql_h60('token', salt='sim:')} AS h FROM tok),
s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM s
"""


Q_SIMHASH_SQL = _simhash_sql()


# --------------------------------------------------------------------------
# token frequency top-k
# --------------------------------------------------------------------------
def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


Q_TOKEN_TOPK_SQL = """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# BPE-ish token accounting: LM-token cost estimate per source, next to
# the whitespace count it refines.  Pure regexp_extract_all — JVM-side,
# narrow, no shuffle before the rollup.
# --------------------------------------------------------------------------
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        T.bpe_ish_token_count(F.col("text")).alias("bpe"),
        T.token_count(F.col("text")).alias("ws"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bpe").alias("bpe_tokens"),
        F.sum("ws").alias("ws_tokens"),
        (F.sum("bpe").cast("double") / F.sum("ws")).alias("bpe_per_ws"),
    )


Q_BPE_TOKEN_STATS_SQL = f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM({T.sql_bpe_ish_count()}) AS BIGINT) AS bpe_tokens,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(SUM({T.sql_bpe_ish_count()}) AS DOUBLE)
         / SUM(len(string_split(text, ' '))) AS bpe_per_ws
FROM documents
GROUP BY source
"""


# --------------------------------------------------------------------------
# language ID heuristic
# --------------------------------------------------------------------------
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = T.language_id(docs)
    return out.select(
        "doc_id", "lang", "pred_lang", *[f"hits_{lang}" for lang in T.LANG_PRECEDENCE]
    )


def _lang_sql() -> str:
    toks = "string_split(text, ' ')"
    hit_exprs = {}
    for lang in T.LANG_PRECEDENCE:
        words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
        hit_exprs[lang] = f"len(list_filter({toks}, t -> t IN ({words})))"
    hits_cols = ",\n       ".join(f"{e} AS hits_{lang}" for lang, e in hit_exprs.items())
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in T.LANG_PRECEDENCE) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in T.LANG_PRECEDENCE:
        case += f"WHEN hits_{lang} = {best} THEN '{lang}' "
    case += "END"
    return f"""
WITH h AS (
  SELECT doc_id, lang,
       {hits_cols}
  FROM documents
)
SELECT doc_id, lang, {case} AS pred_lang,
       hits_en, hits_es, hits_fr, hits_de
FROM h
"""


Q_LANG_ID_SQL = _lang_sql()


# --------------------------------------------------------------------------
# quality metrics rolled up per source
# --------------------------------------------------------------------------
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T.quality_metrics(load_table(spark, sf_dir, "documents"))
    dec = "decimal(18,6)"
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens")).alias("total_tokens"),
        F.sum(F.col("distinct_ratio").cast(dec)).cast("double").alias("sum_distinct_ratio"),
        F.sum(F.col("stopword_ratio").cast(dec)).cast("double").alias("sum_stopword_ratio"),
        F.sum(F.col("quality_score").cast(dec)).cast("double").alias("sum_quality"),
        F.count(F.when(F.col("quality_score") >= 0.7, 1)).alias("n_high_quality"),
    )


def _quality_sql() -> str:
    toks = "string_split(text, ' ')"
    n = f"len({toks})"
    sw_sets = []
    for lang in T.LANG_PRECEDENCE:
        words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
        sw_sets.append(f"len(list_filter({toks}, t -> t IN ({words})))")
    sw = " + ".join(sw_sets)
    dr = f"CAST(len(list_distinct({toks})) AS DOUBLE) / {n}"
    swr = f"CAST({sw} AS DOUBLE) / {n}"
    q = (
        f"((CASE WHEN {n} >= 20 AND {n} <= 1000 THEN 0.5 ELSE 0.0 END"
        f" + ({dr}) * 0.25) + ({swr}) * 0.25)"
    )
    return f"""
WITH m AS (
  SELECT source, {n} AS n_tokens, {dr} AS distinct_ratio,
         {swr} AS stopword_ratio, {q} AS quality_score
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(distinct_ratio AS DECIMAL(18,6))) AS DOUBLE) AS sum_distinct_ratio,
       CAST(SUM(CAST(stopword_ratio AS DECIMAL(18,6))) AS DOUBLE) AS sum_stopword_ratio,
       CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality,
       COUNT(*) FILTER (WHERE quality_score >= 0.7) AS n_high_quality
FROM m
GROUP BY source
"""


Q_TEXT_QUALITY_SQL = _quality_sql()


# --------------------------------------------------------------------------
# n-gram repetition (Gopher-style): per-source rollup of duplicate-bigram
# and top-bigram fractions, plus a repetitive-doc count at the Gopher
# dup_frac > 0.2 / top_frac > 0.18 thresholds.
# --------------------------------------------------------------------------
REP_DUP_T = 0.2
REP_TOP_T = 0.18


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rep = T.ngram_repetition(docs, "doc_id", "text", n=2)
    dec = "decimal(18,6)"
    joined = rep.join(docs.select("doc_id", "source"), "doc_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").alias("total_grams"),
        F.sum(F.col("dup_frac").cast(dec)).cast("double").alias("sum_dup_frac"),
        F.sum(F.col("top_frac").cast(dec)).cast("double").alias("sum_top_frac"),
        F.count(
            F.when((F.col("dup_frac") > REP_DUP_T) | (F.col("top_frac") > REP_TOP_T), 1)
        ).alias("n_repetitive"),
    )


Q_TEXT_REPETITION_SQL = f"""
WITH rep AS ({T.sql_ngram_repetition(2)})
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       CAST(SUM(CAST(dup_frac AS DECIMAL(18,6))) AS DOUBLE) AS sum_dup_frac,
       CAST(SUM(CAST(top_frac AS DECIMAL(18,6))) AS DOUBLE) AS sum_top_frac,
       COUNT(*) FILTER (WHERE dup_frac > {REP_DUP_T} OR top_frac > {REP_TOP_T})
         AS n_repetitive
FROM rep JOIN documents USING (doc_id)
GROUP BY source
"""


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------
N_QUERY_VECS = 5
TOP_K = 3


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.cosine_topk(emb, queries, TOP_K)


Q_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
           WHERE vec_id < {N_QUERY_VECS}),
c AS (SELECT vec_id AS cand_id, embedding AS c_vec FROM embeddings),
scored AS (
  SELECT query_id, cand_id, {S.sql_cosine('q_vec', 'c_vec')} AS cos_sim
  FROM c, q WHERE cand_id <> query_id
)
SELECT query_id, cand_id, cos_sim, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id ASC) AS rn
      FROM scored)
WHERE rn <= {TOP_K}
"""


ANN_BITS = 8


def q_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_bucketed_topk(emb, TOP_K, ANN_BITS)


Q_ANN_BUCKETED_SQL = f"""
WITH v AS (SELECT vec_id AS vid, embedding AS vec,
                  {S.sql_sign_bucket('embedding', ANN_BITS)} AS bucket
           FROM embeddings),
scored AS (
  SELECT a.vid AS query_id, b.vid AS cand_id,
         {S.sql_cosine('a.vec', 'b.vec')} AS cos_sim
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vid <> b.vid
)
SELECT query_id, cand_id, cos_sim, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id ASC) AS rn
      FROM scored)
WHERE rn <= {TOP_K}
"""


# --------------------------------------------------------------------------
# multi-probe ANN: same bucketed join, but each query also probes its
# least-confident single-bit-flip buckets — the knob that lets `bits`
# rise (smaller buckets) at 100 TB without losing recall
# --------------------------------------------------------------------------
ANN_PROBES = 2


def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_multiprobe_topk(emb, TOP_K, ANN_BITS, ANN_PROBES)


Q_ANN_MULTIPROBE_SQL = f"""
WITH v AS (SELECT vec_id AS cand_id, embedding AS c_vec,
                  {S.sql_sign_bucket('embedding', ANN_BITS)} AS bucket
           FROM embeddings),
q AS (SELECT cand_id AS query_id, c_vec AS q_vec,
             unnest({S.sql_probe_buckets('c_vec', 'bucket', ANN_BITS, ANN_PROBES)}) AS bucket
      FROM v),
scored AS (
  SELECT q.query_id, v.cand_id,
         {S.sql_cosine('q.q_vec', 'v.c_vec')} AS cos_sim
  FROM q JOIN v ON q.bucket = v.bucket AND q.query_id <> v.cand_id
)
SELECT query_id, cand_id, cos_sim, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id ASC) AS rn
      FROM scored)
WHERE rn <= {TOP_K}
"""


# --------------------------------------------------------------------------
# deterministic dataset splitting + stratified sampling (training-data
# mixing): membership is a pure function of doc_id, so splits survive
# re-partitioning/re-runs and eval sets stay uncontaminated as the
# corpus grows.  Narrow filters — no shuffle before the count rollup.
# --------------------------------------------------------------------------
SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
MIX_DEFAULT = 0.05


def q_split_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import sampling as SP

    docs = load_table(spark, sf_dir, "documents")
    return (
        SP.assign_split(docs, "doc_id", SPLIT_WEIGHTS)
        .groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _split_mix_sql() -> str:
    from vcf_pg_loader_spark.operators import sampling as SP

    case = SP.sql_assign_split("doc_id", SPLIT_WEIGHTS)
    return f"""
SELECT {case} AS split, source, COUNT(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


Q_SPLIT_MIX_SQL = _split_mix_sql()


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import sampling as SP

    docs = load_table(spark, sf_dir, "documents")
    kept = SP.stratified_sample(docs, MIX_RATES, default_rate=MIX_DEFAULT)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),  # pins WHICH rows were kept
    )


def _stratified_sample_sql() -> str:
    from vcf_pg_loader_spark.operators import sampling as SP

    pred = SP.sql_stratified_sample_pred(MIX_RATES, default_rate=MIX_DEFAULT)
    return f"""
SELECT source, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM documents WHERE {pred}
GROUP BY source
"""


Q_STRATIFIED_SAMPLE_SQL = _stratified_sample_sql()


# --------------------------------------------------------------------------
# PII detection + redaction: the fixture corpus carries no PII, so the
# query plants it deterministically from doc_id (the same synthesize-
# from-fixture pattern as the genomics queries) and then proves the
# detectors find exactly what was planted and the scrubber removes it.
# --------------------------------------------------------------------------
def _with_planted_pii() -> "F.Column":
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(F.lit(" call +1 (555) 010-"), (did % 10000).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" ip 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                (did % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )


SQL_PLANTED_PII = """
  text
  || CASE WHEN doc_id % 7 = 0
          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
          ELSE '' END
  || CASE WHEN doc_id % 11 = 0
          THEN ' call +1 (555) 010-' || CAST(doc_id % 10000 AS VARCHAR)
          ELSE '' END
  || CASE WHEN doc_id % 13 = 0
          THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
               || CAST(doc_id % 256 AS VARCHAR)
          ELSE '' END
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _with_planted_pii().alias("text")
    )
    counts = T.pii_counts(F.col("text"))
    per_doc = docs.select(
        "source",
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
        F.length(T.scrub_pii(F.col("text"))).alias("scrubbed_len"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("emails"),
        F.sum("n_ipv4").alias("ipv4s"),
        F.sum("n_phone").alias("phones"),
        F.count(
            F.when((F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")) > 0, 1)
        ).alias("docs_with_pii"),
        F.sum("scrubbed_len").alias("total_scrubbed_len"),
    )


Q_PII_SCRUB_SQL = f"""
WITH d AS (SELECT doc_id, source, {SQL_PLANTED_PII} AS text FROM documents),
m AS (
  SELECT source,
         {T.sql_pii_count('email')} AS n_email,
         {T.sql_pii_count('ipv4')} AS n_ipv4,
         {T.sql_pii_count('phone')} AS n_phone,
         length({T.sql_scrub_pii()}) AS scrubbed_len
  FROM d
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_email) AS BIGINT) AS emails,
       CAST(SUM(n_ipv4) AS BIGINT) AS ipv4s,
       CAST(SUM(n_phone) AS BIGINT) AS phones,
       COUNT(*) FILTER (WHERE n_email + n_ipv4 + n_phone > 0) AS docs_with_pii,
       CAST(SUM(scrubbed_len) AS BIGINT) AS total_scrubbed_len
FROM m GROUP BY source
"""


# --------------------------------------------------------------------------
# train/eval decontamination: which eval-split docs share enough shingles
# with a train-split doc to count as contaminated (the dedup machinery
# applied across the deterministic split boundary).
# --------------------------------------------------------------------------
DECON_MIN_SHARED = 3


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import sampling as SP

    docs = SP.assign_split(
        load_table(spark, sf_dir, "documents"), "doc_id", SPLIT_WEIGHTS
    )
    sh = D.shingles(docs, "doc_id", "text", NGRAM)
    splits = docs.select("doc_id", "split")
    sh = sh.join(splits, "doc_id")
    train = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_id"), "shingle"
    )
    evals = sh.filter(F.col("split") != "train").select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    return (
        evals.join(train, "shingle")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_SHARED)
    )


def _decon_sql() -> str:
    from vcf_pg_loader_spark.operators import sampling as SP

    case = SP.sql_assign_split("doc_id", SPLIT_WEIGHTS)
    return f"""
WITH sp AS (SELECT doc_id, {case} AS split FROM documents),
sh AS ({D.sql_shingles(NGRAM)}),
j AS (SELECT sh.doc_id, sh.shingle, sp.split FROM sh JOIN sp USING (doc_id))
SELECT e.doc_id AS eval_id, t.doc_id AS train_id, COUNT(*) AS n_shared
FROM (SELECT * FROM j WHERE split <> 'train') e
JOIN (SELECT * FROM j WHERE split = 'train') t USING (shingle)
GROUP BY 1, 2
HAVING COUNT(*) >= {DECON_MIN_SHARED}
"""


Q_DECONTAMINATE_SQL = _decon_sql()


# --------------------------------------------------------------------------
# IVF-Flat ANN: deterministic k-means coarse quantizer (fixed Lloyd
# iterations, lowest-id seeds) + nprobe-cell exact search.  The DuckDB
# twin unrolls the same iterations as CTEs, so the whole index build is
# oracle-checked bit-for-bit, not just the final ranking.
# --------------------------------------------------------------------------
IVF_CENTROIDS = 8
IVF_ITER = 2
IVF_NPROBE = 2


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.ivf_topk(
        emb, queries, TOP_K, IVF_CENTROIDS, IVF_ITER, IVF_NPROBE
    )


def _ivf_assignment_ctes() -> tuple[list[str], str, str]:
    """The k-means assignment CTE chain shared by the IVF oracle and
    SemDeDup: IVF_ITER assignment rounds with IVF_ITER-1 mean updates
    between them — the LAST assignment (against the final centroids) IS
    the stored index.  Returns (ctes, final_assignment_name,
    final_centroids_name)."""
    dist = S.sql_sq_dist("vec", "cvec")
    ctes = [
        "v AS (SELECT vec_id AS vid,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec"
        " FROM embeddings)",
        f"c0 AS (SELECT vid AS cid, vec AS cvec FROM v"
        f" ORDER BY vid LIMIT {IVF_CENTROIDS})",
    ]
    prev = "c0"
    for it in range(1, IVF_ITER + 1):
        ctes.append(
            f"""a{it} AS (
  SELECT vid, vec, cid FROM (
    SELECT vid, vec, cid,
           ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d ASC, cid ASC) AS rn
    FROM (SELECT vid, vec, cid, {dist} AS d FROM v CROSS JOIN {prev})
  ) WHERE rn = 1)"""
        )
        if it == IVF_ITER:
            break
        ctes.append(
            f"""m{it} AS (
  SELECT cid, s.i AS i,
         CAST(SUM(CAST(s.x AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*) AS m
  FROM (SELECT cid, unnest(list_transform(range(1, len(vec) + 1),
                                          i -> {{'i': i, 'x': vec[i]}})) AS s
        FROM a{it})
  GROUP BY cid, s.i)"""
        )
        ctes.append(
            f"c{it} AS (SELECT cid, list(m ORDER BY i) AS cvec"
            f" FROM m{it} GROUP BY cid)"
        )
        prev = f"c{it}"
    return ctes, f"a{IVF_ITER}", prev


def _ivf_sql() -> str:
    ctes, _assign, prev = _ivf_assignment_ctes()
    dist = S.sql_sq_dist("vec", "cvec")
    ctes.append(
        f"cand AS (SELECT vid AS cand_id, vec AS c_vec, cid"
        f" FROM a{IVF_ITER})"
    )
    ctes.append(
        f"""probes AS (
  SELECT vid AS query_id, vec AS q_vec, cid FROM (
    SELECT vid, vec, cid,
           ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d ASC, cid ASC) AS rn
    FROM (SELECT vid, vec, cid, {dist} AS d
          FROM (SELECT * FROM v WHERE vid < {N_QUERY_VECS}) v CROSS JOIN {prev})
  ) WHERE rn <= {IVF_NPROBE})"""
    )
    ctes.append(
        f"""scored AS (
  SELECT query_id, cand_id, {S.sql_cosine('q_vec', 'c_vec')} AS cos_sim
  FROM probes JOIN cand USING (cid)
  WHERE query_id <> cand_id)"""
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT query_id, cand_id, cos_sim, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id ASC) AS rn
      FROM scored)
WHERE rn <= {TOP_K}
"""


Q_ANN_IVF_SQL = _ivf_sql()


# --------------------------------------------------------------------------
# embedding-cosine near-dup detection (dedup track): all vector pairs
# above a similarity threshold, restricted to same-sign-bucket candidates
# (the scale path) — exact cosine verification inside the bucket
# --------------------------------------------------------------------------
# the fixture embeddings are random (no planted near-identical vectors);
# 0.35 exercises the pipeline with non-empty results at every SF
NEARDUP_T = 0.35


S_NEARDUP_BITS = 6


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    emb = ensure_min_parallelism(load_table(spark, sf_dir, "embeddings"))
    v = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
        S.sign_bucket(F.col("embedding"), S_NEARDUP_BITS).alias("bucket"),
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("v1"),
            F.col("b.vid").alias("v2"),
            S.cosine(F.col("a.vec"), F.col("b.vec")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NEARDUP_T)
    )

Q_EMBED_NEARDUP_SQL = f"""
WITH v AS (SELECT vec_id AS vid, embedding AS vec,
                  {S.sql_sign_bucket('embedding', S_NEARDUP_BITS)} AS bucket
           FROM embeddings),
scored AS (
  SELECT a.vid AS v1, b.vid AS v2,
         {S.sql_cosine('a.vec', 'b.vec')} AS cos_sim
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vid < b.vid
)
SELECT v1, v2, cos_sim FROM scored WHERE cos_sim >= {NEARDUP_T}
"""


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication"): k-means-cluster the
# embeddings, then within each cluster drop all but one of every group
# of semantically near-identical vectors (cosine >= tau, transitive
# closure, keep min id).  Clusters bound the quadratic — pair cost is
# sum of cell², never corpus² — which is the paper's own scale design;
# the engine composes it entirely from already-oracled pieces: ivf_fit
# (deterministic k-means), within-cell pairwise cosine (exact decimal
# kernel), connected_components, keep_canonical.
# --------------------------------------------------------------------------
SEMDEDUP_TAU = 0.35


def q_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    emb = load_table(spark, sf_dir, "embeddings")
    _cents, assigned = S.ivf_fit(emb, IVF_CENTROIDS, IVF_ITER)
    # the assignment feeds BOTH sides of the self-join: persist it or
    # the whole k-means lineage runs twice (caller/bench owns the cache
    # lifetime, as with the LSH shingle tables)
    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = assigned.alias("a"), assigned.alias("b")
    norm = F.sqrt(F.col("a.vv")) * F.sqrt(F.col("b.vv"))
    # two-stage threshold: the cheap double-precision cosine prunes the
    # within-cell pairs (they are the bulk of the work — cell² pairs ×
    # 64-dim dots), then the oracle-exact decimal kernel re-scores only
    # the ~1% that land near/above tau.  The 1e-4 margin dwarfs the
    # ~1e-12 double-vs-decimal divergence, so the final filter is
    # bit-identical to scoring everything exactly.
    fast_cos = S.dot_fast(F.col("a.vec"), F.col("b.vec")) / norm
    cos = F.round(S.dot_exact(F.col("a.vec"), F.col("b.vec")) / norm, 6)
    pairs = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .filter(fast_cos >= SEMDEDUP_TAU - 1e-4)
        .select(
            F.col("a.vid").alias("d1"),
            F.col("b.vid").alias("d2"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= SEMDEDUP_TAU)
    )
    cc = D.connected_components(pairs.select("d1", "d2"), "d1", "d2")
    return D.keep_canonical(
        emb.select(F.col("vec_id")), cc, "vec_id"
    )


def q_semdedup_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_semdedup_keep served from a materialized semantic-cluster table
    (the DedupClusterStore pattern applied to the embedding-space
    clusters): first call pays k-means + pairwise + CC and persists
    (node, comp); every call after is ONE broadcast anti-join.  Same
    oracle as q_semdedup_keep."""
    from vcf_pg_loader_spark.sources.cluster_store import DedupClusterStore

    emb = load_table(spark, sf_dir, "embeddings")
    store = DedupClusterStore(
        spark, _served_root(sf_dir, "semdedup_clusters", "embeddings.parquet")
    )
    if not store.exists():
        from pyspark.storagelevel import StorageLevel

        _cents, assigned = S.ivf_fit(emb, IVF_CENTROIDS, IVF_ITER)
        assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
        a, b = assigned.alias("a"), assigned.alias("b")
        norm = F.sqrt(F.col("a.vv")) * F.sqrt(F.col("b.vv"))
        fast_cos = S.dot_fast(F.col("a.vec"), F.col("b.vec")) / norm
        cos = F.round(S.dot_exact(F.col("a.vec"), F.col("b.vec")) / norm, 6)
        pairs = (
            a.join(
                b,
                (F.col("a.cid") == F.col("b.cid"))
                & (F.col("a.vid") < F.col("b.vid")),
            )
            .filter(fast_cos >= SEMDEDUP_TAU - 1e-4)
            .select(
                F.col("a.vid").alias("d1"),
                F.col("b.vid").alias("d2"),
                cos.alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= SEMDEDUP_TAU)
        )
        store.write(
            D.connected_components(pairs.select("d1", "d2"), "d1", "d2")
        )
    return store.serve_keep(emb.select(F.col("vec_id")), "vec_id")


def _semdedup_sql() -> str:
    ctes, assign, _prev = _ivf_assignment_ctes()
    ctes.append(
        f"""pairs AS (
  SELECT d1, d2 FROM (
    SELECT a.vid AS d1, b.vid AS d2,
           {S.sql_cosine('a.vec', 'b.vec')} AS cos_sim
    FROM {assign} a JOIN {assign} b
      ON a.cid = b.cid AND a.vid < b.vid
  ) WHERE cos_sim >= {SEMDEDUP_TAU})"""
    )
    ctes.append(
        "und AS (SELECT d1 AS s, d2 AS t FROM pairs"
        " UNION SELECT d2, d1 FROM pairs)"
    )
    ctes.append("nodes AS (SELECT DISTINCT s AS node FROM und)")
    ctes.append(
        """walk(node, reach) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT w.node, u.t FROM walk w JOIN und u ON u.s = w.reach)"""
    )
    ctes.append(
        "cc AS (SELECT node, MIN(reach) AS comp FROM walk GROUP BY node)"
    )
    body = ",\n".join(ctes)
    return f"""
WITH RECURSIVE {body}
SELECT e.vec_id FROM embeddings e
WHERE e.vec_id NOT IN (SELECT node FROM cc WHERE node <> comp)
"""


Q_SEMDEDUP_SQL = _semdedup_sql()


def _ivf_frozen_assignment_ctes(
    train_where: str,
    assign_where: str,
    assign_src: str = "embeddings",
    train_src: str = "embeddings",
) -> tuple[list[str], str, str]:
    """K-means trained on ONE subset, final assignment over ANOTHER —
    the frozen-centroid deployment shape (SemDeDupIngestSink bootstraps
    its routing table on the first batch and routes every later arrival
    against it).  `assign_src`/`train_src` may be any table expression
    exposing (vec_id, embedding) — the snapshot-CDC oracle passes the
    NEW snapshot with its changed vectors as the assign side; the
    reindex oracle passes it as BOTH sides (train == assign is the
    post-retrain shape).  Returns (ctes, assignment_name,
    centroid_name): the assignment CTE holds (vid, vec, cid) for the
    `assign_where` rows of `assign_src` under centroids fit on the
    `train_where` rows of `train_src`, bit-matching ivf_fit +
    ivf_assign with kernel="exact"; the centroid CTE routes probe
    queries."""
    dist = S.sql_sq_dist("vec", "cvec")
    ctes = [
        "vt AS (SELECT vec_id AS vid,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec"
        f" FROM {train_src} WHERE {train_where})",
        f"c0 AS (SELECT vid AS cid, vec AS cvec FROM vt"
        f" ORDER BY vid LIMIT {IVF_CENTROIDS})",
    ]
    prev = "c0"
    for it in range(1, IVF_ITER):
        ctes.append(
            f"""a{it} AS (
  SELECT vid, vec, cid FROM (
    SELECT vid, vec, cid,
           ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d ASC, cid ASC) AS rn
    FROM (SELECT vid, vec, cid, {dist} AS d FROM vt CROSS JOIN {prev})
  ) WHERE rn = 1)"""
        )
        ctes.append(
            f"""m{it} AS (
  SELECT cid, s.i AS i,
         CAST(SUM(CAST(s.x AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*) AS m
  FROM (SELECT cid, unnest(list_transform(range(1, len(vec) + 1),
                                          i -> {{'i': i, 'x': vec[i]}})) AS s
        FROM a{it})
  GROUP BY cid, s.i)"""
        )
        ctes.append(
            f"c{it} AS (SELECT cid, list(m ORDER BY i) AS cvec"
            f" FROM m{it} GROUP BY cid)"
        )
        prev = f"c{it}"
    ctes.append(
        "va AS (SELECT vec_id AS vid,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec"
        f" FROM {assign_src} WHERE {assign_where})"
    )
    ctes.append(
        f"""af AS (
  SELECT vid, vec, cid FROM (
    SELECT vid, vec, cid,
           ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d ASC, cid ASC) AS rn
    FROM (SELECT vid, vec, cid, {dist} AS d FROM va CROSS JOIN {prev})
  ) WHERE rn = 1)"""
    )
    return ctes, "af", prev


# interleaved insert+delete maintenance of the semantic cluster store —
# same batch algebra as the document-side retract queries
ZDEL_VEC_RETAIN_SQL = (
    "(vec_id % 11 <> 5) AND (vec_id % 7 <> 3 OR vec_id % 3 = 0)"
)


def q_semdedup_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-decision served from the RETRACTION-maintained
    streaming state (SemDeDupIngestSink with its round-8 pair table):
    deletions drop the vector and its incident semantic-dup edges and
    re-run CC over the pair table only — routing, scoring, and the
    surviving vectors never recompute.  Oracle: frozen-centroid SemDeDup
    recomputed over exactly the retained vectors (centroids fit on the
    bootstrap batch, matching the sink's frozen routing table)."""
    from vcf_pg_loader_spark.operators.ivm import MULT
    from vcf_pg_loader_spark.streaming.dedup_ingest import SemDeDupIngestSink

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    v = F.col("vec_id")

    def z(frame, mult):
        return frame.withColumn(MULT, F.lit(mult).cast("bigint"))

    batches = [
        z(emb.filter(v % 2 == 0), 1),
        z(emb.filter(v % 2 == 1), 1),
        z(emb.filter((v % 7 == 3) & (v % 3 == 0)), 1)
        .unionByName(z(emb.filter(v % 7 == 3), -1))
        .unionByName(z(emb.filter(v % 11 == 5), -1)),
    ]
    root = _served_root(sf_dir, "zdel_semdedup", "embeddings.parquet")
    sink = SemDeDupIngestSink(
        f"{root}/state",
        k_centroids=IVF_CENTROIDS,
        n_iter=IVF_ITER,
        tau=SEMDEDUP_TAU,
    )
    _replay(sink, batches)
    return sink.keep(spark).withColumnRenamed(sink.id_col, "vec_id")


def _semdedup_retract_sql() -> str:
    ctes, assign, _prev = _ivf_frozen_assignment_ctes(
        "vec_id % 2 = 0", ZDEL_VEC_RETAIN_SQL
    )
    ctes.append(
        f"""pairs AS (
  SELECT d1, d2 FROM (
    SELECT a.vid AS d1, b.vid AS d2,
           {S.sql_cosine('a.vec', 'b.vec')} AS cos_sim
    FROM {assign} a JOIN {assign} b
      ON a.cid = b.cid AND a.vid < b.vid
  ) WHERE cos_sim >= {SEMDEDUP_TAU})"""
    )
    ctes.append(
        "und AS (SELECT d1 AS s, d2 AS t FROM pairs"
        " UNION SELECT d2, d1 FROM pairs)"
    )
    ctes.append("nodes AS (SELECT DISTINCT s AS node FROM und)")
    ctes.append(
        """walk(node, reach) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT w.node, u.t FROM walk w JOIN und u ON u.s = w.reach)"""
    )
    ctes.append(
        "cc AS (SELECT node, MIN(reach) AS comp FROM walk GROUP BY node)"
    )
    body = ",\n".join(ctes)
    return f"""
WITH RECURSIVE {body}
SELECT e.vec_id FROM embeddings e
WHERE {ZDEL_VEC_RETAIN_SQL.replace('vec_id', 'e.vec_id')}
  AND e.vec_id NOT IN (SELECT node FROM cc WHERE node <> comp)
"""


Q_SEMDEDUP_RETRACT_SQL = _semdedup_retract_sql()


def q_winnow_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-reuse overlap pairs served from the retraction-maintained
    winnowing fingerprint index (streaming/retract.py WinnowIndexSink):
    the O(len·w) rolling-hash work runs once per doc at arrival; a
    takedown anti-joins the posting table; serving re-derives document
    frequencies and the fp equi-join from the index alone.  Oracle: the
    full winnowing pipeline recomputed over exactly the retained docs."""
    from vcf_pg_loader_spark.streaming.retract import WinnowIndexSink

    docs = load_table(spark, sf_dir, "documents")
    root = _served_root(sf_dir, "zdel_winnow", "documents.parquet")
    sink = WinnowIndexSink(f"{root}/state")
    _replay(sink, _zdel_batches(docs.select("doc_id", "text")))
    return sink.overlap_pairs(spark, WINNOW_MAX_DF, WINNOW_MIN_SHARED)


def q_ann_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN served from a persisted index maintained through
    deletions and re-insertions (VectorIndex.apply_delta): retractions
    anti-join the cid-partitioned vectors, arrivals route against the
    FROZEN centroids — k-means never re-runs, and the whole root swaps
    atomically per delta.  Oracle: the IVF search recomputed over
    exactly the retained vectors under centroids trained on the FULL
    corpus (what build() froze)."""
    import os

    from vcf_pg_loader_spark.sources.vector_index import VectorIndex

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("vec_id")
    idx = VectorIndex(
        spark, _served_root(sf_dir, "zdel_ann", "embeddings.parquet")
    )
    flag = os.path.join(idx.root, "_retract_done")
    if not os.path.exists(flag):
        idx.build(
            emb,
            k_centroids=IVF_CENTROIDS,
            n_iter=IVF_ITER,
            kernel="exact",
            pq=False,
        )
        idx.apply_delta(
            delete_ids=emb.filter(v % 7 == 3).select("vec_id")
        )
        idx.apply_delta(
            inserts=emb.filter((v % 7 == 3) & (v % 3 == 0)),
            delete_ids=emb.filter(v % 11 == 5).select("vec_id"),
        )
        with open(flag, "w") as fh:
            fh.write("done")
    queries = emb.filter(
        (v < N_QUERY_VECS)
        & (v % 11 != 5)
        & ((v % 7 != 3) | (v % 3 == 0))
    )
    return idx.search_flat(queries, TOP_K, IVF_NPROBE)


def _ann_retract_sql() -> str:
    ctes, assign, prev = _ivf_assignment_ctes()  # trained on the FULL set
    dist = S.sql_sq_dist("vec", "cvec")
    retained = ZDEL_VEC_RETAIN_SQL.replace("vec_id", "vid")
    ctes.append(
        f"cand AS (SELECT vid AS cand_id, vec AS c_vec, cid"
        f" FROM {assign} WHERE {retained})"
    )
    ctes.append(
        f"""probes AS (
  SELECT vid AS query_id, vec AS q_vec, cid FROM (
    SELECT vid, vec, cid,
           ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d ASC, cid ASC) AS rn
    FROM (SELECT vid, vec, cid, {dist} AS d
          FROM (SELECT * FROM v WHERE vid < {N_QUERY_VECS} AND {retained}) v
          CROSS JOIN {prev})
  ) WHERE rn <= {IVF_NPROBE})"""
    )
    ctes.append(
        f"""scored AS (
  SELECT query_id, cand_id, {S.sql_cosine('q_vec', 'c_vec')} AS cos_sim
  FROM probes JOIN cand USING (cid)
  WHERE query_id <> cand_id)"""
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT query_id, cand_id, cos_sim, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id ASC) AS rn
      FROM scored)
WHERE rn <= {TOP_K}
"""


Q_ANN_RETRACT_SQL = _ann_retract_sql()


# --------------------------------------------------------------------------
# trigram string similarity (pg_trgm parity — reference schema.py:294-297
# indexes hgvs_p with gin_trgm_ops): blocked self-join on (brand, size)
# so pair cost stays bounded at scale, then exact trigram Jaccard
# --------------------------------------------------------------------------
TRIGRAM_T = 0.5


def q_trigram_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    part = ensure_min_parallelism(load_table(spark, sf_dir, "part"))
    # materialize trigram sets BEFORE the self-join so each side computes
    # them once, not once per candidate pair
    v = part.select(
        "p_partkey",
        "p_brand",
        "p_size",
        T.char_trigrams(F.col("p_name")).alias("tg"),
    )
    a, b = v.alias("a"), v.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tg"), F.col("b.tg")))
    union = F.size(F.col("a.tg")) + F.size(F.col("b.tg")) - inter
    sim = F.round(
        F.when(union > 0, inter.cast("double") / union).otherwise(0.0), 6
    )
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("k1"),
            F.col("b.p_partkey").alias("k2"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= TRIGRAM_T)
    )


def _trigram_sql() -> str:
    pad = "'  ' || lower(trim(p_name)) || ' '"
    tg = f"list_distinct(list_transform(range(1, greatest(len({pad})-2,1)+1), i -> ({pad})[i:i+2]))"
    return f"""
WITH t AS (SELECT p_partkey, p_brand, p_size, {tg} AS tg FROM part),
pairs AS (
  SELECT a.p_partkey AS k1, b.p_partkey AS k2,
         ROUND(len(list_intersect(a.tg, b.tg)) * 1.0 /
               (len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg))), 6) AS sim
  FROM t a JOIN t b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
)
SELECT k1, k2, sim FROM pairs WHERE sim >= {TRIGRAM_T}
"""


Q_TRIGRAM_SQL = _trigram_sql()


# --------------------------------------------------------------------------
# merge/upsert semantics (ON CONFLICT DO UPDATE — SURVEY §4): customer
# balances upserted from each customer's max order total
# --------------------------------------------------------------------------
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.merge import merge_upsert

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").cast("decimal(18,2)").cast("double").alias("val"),
    )
    updates = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(
            F.max(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("val")
        )
    )
    return merge_upsert(cust, updates, ["key"])


Q_MERGE_UPSERT_SQL = """
WITH updates AS (
  SELECT o_custkey AS key,
         CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS val
  FROM orders GROUP BY o_custkey
)
SELECT COALESCE(c_custkey, u.key) AS key,
       COALESCE(u.val, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)) AS val
FROM customer FULL OUTER JOIN updates u ON c_custkey = u.key
"""




# --------------------------------------------------------------------------
# winnowing fingerprints (rolling-hash, MOSS): passage-reuse pairs —
# any shared substring of length >= K + W - 1 chars is guaranteed to
# share a fingerprint; document-frequency cap keeps the join cold.
# --------------------------------------------------------------------------
WINNOW_MAX_DF = 10
WINNOW_MIN_SHARED = 3


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = T.winnow_fingerprints(docs)
    return T.winnow_overlap_pairs(fps, WINNOW_MAX_DF, WINNOW_MIN_SHARED)


def _winnow_sql() -> str:
    k, w = T.WINNOW_K, T.WINNOW_W
    h = sql_h60("substr(t, i, %d)" % k, salt="wn:")
    return f"""
WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
h AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(t) - {k - 1}, 0) + 1),
                        i -> {h}) AS hs
  FROM t
),
sel AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= {w} THEN
                list_transform(range(1, len(hs) - {w} + 2),
                               j -> list_min(list_slice(hs, j, j + {w - 1})))
              WHEN len(hs) >= 1 THEN [list_min(hs)]
              ELSE [] END AS sels
  FROM h
),
fps AS (SELECT doc_id, unnest(list_distinct(sels)) AS fp FROM sel),
dfc AS (SELECT fp, COUNT(*) AS _df FROM fps GROUP BY fp),
rare AS (SELECT fps.doc_id, fps.fp FROM fps JOIN dfc USING (fp)
         WHERE _df <= {WINNOW_MAX_DF})
SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
"""


Q_WINNOW_SQL = _winnow_sql()


# --------------------------------------------------------------------------
# dedup clusters — transitive closure over MinHash-LSH near-dup pairs.
# The DuckDB twin walks reachability with a recursive CTE and takes the
# min reachable id per node; Spark side is hash-min label propagation
# (operators/dedup.py connected_components).
# --------------------------------------------------------------------------
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(
        docs, "doc_id", "text", NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T
    )
    cc = D.connected_components(pairs.select("d1", "d2"), "d1", "d2")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


Q_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({Q_MINHASH_LSH_SQL}),
und AS (SELECT d1 AS s, d2 AS t FROM pairs UNION SELECT d2, d1 FROM pairs),
nodes AS (SELECT DISTINCT s AS node FROM und),
walk(node, reach) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT w.node, u.t FROM walk w JOIN und u ON u.s = w.reach
)
SELECT node AS doc_id, MIN(reach) AS cluster_id FROM walk GROUP BY node
"""


# --------------------------------------------------------------------------
# sequence chunking & packing (operators/chunking.py): context-window
# chunking with stride, and concat-and-cut packing per source shard.
# --------------------------------------------------------------------------
CHUNK_WINDOW = 32
CHUNK_STRIDE = 24
PACK_CAPACITY = 256


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import chunking as C

    docs = load_table(spark, sf_dir, "documents")
    return C.chunk_token_windows(
        docs, "doc_id", "text", CHUNK_WINDOW, CHUNK_STRIDE
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import chunking as C

    docs = load_table(spark, sf_dir, "documents")
    return C.pack_contiguous(docs, PACK_CAPACITY)


def _chunk_pack_sqls() -> tuple[str, str]:
    from vcf_pg_loader_spark.operators import chunking as C

    return (
        C.sql_chunk_token_windows(
            "documents", "doc_id", "text", CHUNK_WINDOW, CHUNK_STRIDE
        ),
        C.sql_pack_contiguous(PACK_CAPACITY),
    )


Q_CHUNK_WINDOWS_SQL, Q_PACK_SEQUENCES_SQL = _chunk_pack_sqls()


# --------------------------------------------------------------------------
# composite quality filter: per-document keep/drop verdict with the
# C4/Gopher-style reasons that fired (too_short/too_long, word-length
# band, vocabulary diversity, stopword presence).  concat_ws skips NULLs
# identically in Spark and DuckDB, so the reasons string is exact.
# --------------------------------------------------------------------------
QF_MIN_TOKENS = 15
QF_MAX_TOKENS = 1000
QF_MIN_AVG_LEN = 3.0
QF_MAX_AVG_LEN = 10.0
QF_MIN_DISTINCT = 0.5


def quality_verdict(docs_frame: DataFrame) -> DataFrame:
    """Per-doc (doc_id, keep, reasons) verdict for ANY document frame —
    the reusable core of q_quality_filter, also applied batch-at-a-time
    by the incremental funnel sink (streaming/retract.py)."""
    docs = T.quality_metrics(docs_frame)
    reason = [
        F.when(F.col("n_tokens") < QF_MIN_TOKENS, F.lit("too_short")),
        F.when(F.col("n_tokens") > QF_MAX_TOKENS, F.lit("too_long")),
        F.when(
            (F.col("avg_token_len") < QF_MIN_AVG_LEN)
            | (F.col("avg_token_len") > QF_MAX_AVG_LEN),
            F.lit("word_len"),
        ),
        F.when(F.col("distinct_ratio") < QF_MIN_DISTINCT, F.lit("low_diversity")),
        F.when(F.col("stopword_ratio") == 0, F.lit("no_stopwords")),
    ]
    reasons = F.concat_ws(",", *reason)
    return docs.select(
        "doc_id",
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_verdict(load_table(spark, sf_dir, "documents"))


def _quality_filter_sql() -> str:
    toks = "string_split(text, ' ')"
    n = f"len({toks})"
    sw_sets = []
    for lang in T.LANG_PRECEDENCE:
        words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
        sw_sets.append(f"len(list_filter({toks}, t -> t IN ({words})))")
    sw = " + ".join(sw_sets)
    dr = f"CAST(len(list_distinct({toks})) AS DOUBLE) / {n}"
    al = f"CAST(length(text) - ({n} - 1) AS DOUBLE) / {n}"
    swr = f"CAST({sw} AS DOUBLE) / {n}"
    return f"""
WITH m AS (
  SELECT doc_id, {n} AS n_tokens, {dr} AS distinct_ratio,
         {al} AS avg_token_len, {swr} AS stopword_ratio
  FROM documents
),
r AS (
  SELECT doc_id, concat_ws(',',
    CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short' END,
    CASE WHEN n_tokens > {QF_MAX_TOKENS} THEN 'too_long' END,
    CASE WHEN avg_token_len < {QF_MIN_AVG_LEN}
           OR avg_token_len > {QF_MAX_AVG_LEN} THEN 'word_len' END,
    CASE WHEN distinct_ratio < {QF_MIN_DISTINCT} THEN 'low_diversity' END,
    CASE WHEN stopword_ratio = 0 THEN 'no_stopwords' END) AS reasons
  FROM m
)
SELECT doc_id, reasons = '' AS keep, reasons FROM r
"""


Q_QUALITY_FILTER_SQL = _quality_filter_sql()


# --------------------------------------------------------------------------
# ANN quality metric: recall@k of the IVF index against the exact
# brute-force neighbors — the number an ANN deployment is tuned by
# (nprobe/centroid sizing trades this against probe cost).  Composes the
# two existing, independently-oracled top-k queries.
# --------------------------------------------------------------------------
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    brute = q_cosine_topk(spark, sf_dir).select("query_id", "cand_id")
    ivf = (
        q_ann_ivf(spark, sf_dir)
        .select("query_id", "cand_id")
        .withColumn("_m", F.lit(1))
    )
    return (
        brute.join(ivf, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.count("_m").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_hit",
            (F.col("n_hit") / F.col("k")).alias("recall_at_k"),
        )
    )


Q_ANN_RECALL_SQL = f"""
WITH brute AS ({Q_COSINE_TOPK_SQL}),
ivf AS ({Q_ANN_IVF_SQL})
SELECT b.query_id, COUNT(i.cand_id) AS n_hit,
       CAST(COUNT(i.cand_id) AS DOUBLE) / COUNT(*) AS recall_at_k
FROM brute b
LEFT JOIN ivf i ON b.query_id = i.query_id AND b.cand_id = i.cand_id
GROUP BY b.query_id
"""


# --------------------------------------------------------------------------
# multimodal content dedup: the REAL binary-column operator
# (operators/multimodal.py dedup_by_content) over fixture-derived binary
# payloads — the fixtures carry no media columns, so the utf-8 bytes of
# `text` stand in as the opaque content blob; the operator path (binary
# column -> JVM sha2 -> hash-agg) is exactly what runs on real media.
# --------------------------------------------------------------------------
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.multimodal import dedup_by_content

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    return dedup_by_content(media)


Q_MULTIMODAL_DEDUP_SQL = """
SELECT sha256(text) AS content_sha256,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# perceptual image near-dup (operators/multimodal.py): re-encoded copies
# of the SAME pixels — PNG vs baseline JPEG vs subsampling-shifted JPEG —
# survive exact content dedup (different bytes, different sha256) but
# must collapse under a perceptual hash.  The fixture is synthesized
# in-query: 16 deterministic block-pattern images, each encoded three
# ways by the repo's own stdlib codecs, plus the real distributed
# pipeline (mapInPandas decode+aHash, Hamming band join, bit_count
# verification, connected components).  Not SQL-expressible (the decode
# seam is Python), so the driver records the rows-only check and the
# exact cluster membership is pinned in tests/test_round8.py.
# --------------------------------------------------------------------------
IMG_LEVELS = (32, 96, 160, 224)
IMG_GROUPS = 16


def _block_image(gid: int) -> "np.ndarray":
    """64x64 gray image of 8px cells: a seeded permutation of a BALANCED
    level multiset (16 cells of each of the four levels).  Balance pins
    the pooled aHash mean at exactly 128, and every cell sits ≥32 levels
    from it, so codec noise (±2 per pixel after a JPEG round-trip) can
    never flip an aHash bit; two different groups agree on any given bit
    with probability ~1/2, so cross-group Hamming distance concentrates
    around 32 — far above the max_hamming=6 verification gate."""
    import numpy as np

    rng = np.random.default_rng(1000 + gid)
    vals = np.repeat(np.array(IMG_LEVELS, dtype=np.uint8), 16)
    cells = rng.permutation(vals).reshape(8, 8)
    img = np.repeat(np.repeat(cells, 8, axis=0), 8, axis=1)
    return np.stack([img, img, img], axis=2)


def _image_fixture_rows() -> list[tuple[int, bytes]]:
    from vcf_pg_loader_spark.operators._jpeg import encode_jpeg
    from vcf_pg_loader_spark.operators._png import encode_png

    rows = []
    for gid in range(IMG_GROUPS):
        img = _block_image(gid)
        rows.append((gid * 10 + 0, encode_png(img)))
        rows.append((gid * 10 + 1, encode_jpeg(img, "4:4:4")))
        rows.append((gid * 10 + 2, encode_jpeg(img, "4:2:0")))
    return rows


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.multimodal import (
        image_neardup_clusters,
    )

    media = spark.createDataFrame(
        _image_fixture_rows(), "media_id bigint, content binary"
    )
    return image_neardup_clusters(media)


# --------------------------------------------------------------------------
# perceptual AUDIO near-dup: re-encoded copies of the same master —
# 16-bit PCM, 8-bit requantized, and a different-sample-rate render —
# survive exact content dedup but collapse under the spectral-grid
# fingerprint (operators/multimodal.py audio_fingerprint).  Fixture:
# 12 deterministic tone-grid clips (balanced on/off cells over the
# 8 time-windows × 8 log-bands hash grid, so every bit is decisive) ×
# 3 encodings, synthesized in-query, clustered by the real distributed
# pipeline.  Not SQL-expressible (Python decode seam): rows-only driver
# check; exact membership pinned in tests/test_round8.py.
# --------------------------------------------------------------------------
AUDIO_GROUPS = 12


def _tone_grid_wave(gid: int, sr: int, dur: float = 1.0) -> "np.ndarray":
    import numpy as np

    from vcf_pg_loader_spark.operators.multimodal import AUDIO_HASH_BANDS

    rng = np.random.default_rng(2000 + gid)
    onoff = rng.permutation(np.repeat([0, 1], 32)).reshape(8, 8)
    n = int(sr * dur)
    t = np.arange(n) / sr
    sig = np.zeros(n)
    fade = max(int(0.005 * sr), 1)
    for w in range(8):
        s, e = w * n // 8, (w + 1) * n // 8
        env = np.ones(e - s)
        env[:fade] = np.linspace(0.0, 1.0, fade)
        env[-fade:] = np.linspace(1.0, 0.0, fade)
        for b, (lo, hi) in enumerate(AUDIO_HASH_BANDS):
            if onoff[w, b]:
                f = (lo * hi) ** 0.5  # band-center tone
                sig[s:e] += 0.1 * np.sin(2 * np.pi * f * t[s:e]) * env
    return sig


def _wav_bytes(sig: "np.ndarray", sr: int, width: int) -> bytes:
    import io as _io
    import wave as _wave

    import numpy as np

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(width)
        wf.setframerate(sr)
        if width == 2:
            wf.writeframes(
                np.clip(sig * 32767, -32768, 32767).astype("<i2").tobytes()
            )
        else:
            wf.writeframes(
                (np.clip(sig * 127, -128, 127) + 128)
                .astype(np.uint8)
                .tobytes()
            )
    return buf.getvalue()


def _audio_fixture_rows() -> list[tuple[int, bytes]]:
    rows = []
    for g in range(AUDIO_GROUPS):
        hi = _tone_grid_wave(g, 16000)
        lo = _tone_grid_wave(g, 8000)
        rows.append((g * 10 + 0, _wav_bytes(hi, 16000, 2)))
        rows.append((g * 10 + 1, _wav_bytes(hi, 16000, 1)))  # requantized
        rows.append((g * 10 + 2, _wav_bytes(lo, 8000, 2)))  # resampled
    return rows


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_neardup_clusters,
    )

    media = spark.createDataFrame(
        [
            (mid, "audio", bytearray(content), "audio/wav", None)
            for mid, content in _audio_fixture_rows()
        ],
        MEDIA_SCHEMA,
    )
    return audio_neardup_clusters(media)


def _planted_cluster_sql(n_groups: int) -> str:
    """The perceptual-dedup fixtures carry their own ground truth: group
    g's three re-encoded variants (ids g*10..g*10+2) must all label
    g*10.  The decode seams are Python, so no SQL can RECOMPUTE the
    hashes — but the planted expectation is itself a complete, engine-
    independent oracle, which upgrades the driver's check from
    rows-only to value-exact."""
    rows = ", ".join(
        f"({g * 10 + v}, {g * 10})"
        for g in range(n_groups)
        for v in range(3)
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(media_id, cluster_id)"


Q_IMAGE_NEARDUP_SQL = _planted_cluster_sql(IMG_GROUPS)
Q_AUDIO_NEARDUP_SQL = _planted_cluster_sql(AUDIO_GROUPS)


# --------------------------------------------------------------------------
# token-rarity scoring: mean corpus-frequency of each document's tokens —
# the frequency-based half of LM-proxy quality scoring (rare-token-heavy
# docs are surprising; boilerplate scores high).  Mean PROBABILITY, not
# log-prob, keeps the oracle exact: p = n/total is the same IEEE double
# on both engines, while ln() may differ in the last ulp.
# The token-frequency side is broadcast here; a web-scale vocabulary
# (~10^7 types) still broadcasts, and beyond that the join flips to a
# shuffle join on `token` with no other change.
# --------------------------------------------------------------------------
def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    tot = tf.agg(F.sum("n").alias("total"))
    p = (
        tok.join(F.broadcast(tf), "token")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", (F.col("n").cast("double") / F.col("total")).alias("p"))
    )
    # scale 12, not 18: at scale 18 the double->decimal conversion sits
    # inside the double's ulp and the engines' rounding modes diverge
    dec = "decimal(24,12)"
    return p.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum(F.col("p").cast(dec)).cast("double") / F.count(F.lit(1))).alias(
            "mean_token_p"
        ),
    )


Q_TOKEN_RARITY_SQL = """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents),
tf AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM tf),
p AS (SELECT doc_id, CAST(n AS DOUBLE) / total AS p
      FROM tok JOIN tf USING (token) CROSS JOIN tot)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(CAST(p AS DECIMAL(24,12))) AS DOUBLE) / COUNT(*)
         AS mean_token_p
FROM p GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# cluster keep-decision: the corpus after near-dup collapse, through the
# REAL keep_canonical operator (one left-anti join against the small
# loser set — the corpus itself never shuffles).
# --------------------------------------------------------------------------
def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(
        docs, "doc_id", "text", NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T
    )
    cc = D.connected_components(pairs.select("d1", "d2"), "d1", "d2")
    return D.keep_canonical(docs.select("doc_id"), cc, "doc_id")


Q_DEDUP_KEEP_SQL = f"""
WITH cc AS ({Q_DEDUP_CLUSTERS_SQL})
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
"""


# --------------------------------------------------------------------------
# SERVED variants: the production build-once/serve-many shape.  The
# expensive structure (LSH+CC cluster table, IVF index) is materialized
# to disk on first call and every later call serves from it — the serve
# path is one broadcast anti-join / one cell-pruned scan, never a
# corpus re-scan.  Everything is deterministic, so cold (build+serve)
# and warm (serve-only) calls produce identical, oracle-exact output.
# --------------------------------------------------------------------------
def _served_root(sf_dir: str, name: str, fixture: str) -> str:
    """Deterministic per-corpus location for a persisted structure,
    keyed on the fixture's identity (path + mtime + size) so a
    regenerated corpus invalidates — never serves — a stale index."""
    import hashlib
    import os
    import tempfile

    p = os.path.join(sf_dir, fixture)
    st = os.stat(p)
    # the operator constants are part of the identity: a parameter
    # change (e.g. the round-8 rows-per-band bump) must invalidate every
    # structure built under the old parameters.  The version component
    # is PER STRUCTURE (STATE_VERSIONS) so a semantic fix in one store
    # rebuilds only that store's state.
    ident = (
        f"{os.path.abspath(p)}:{st.st_mtime_ns}:{st.st_size}"
        f":k{MINHASH_K}b{MINHASH_BANDS}t{JACCARD_T}:n{NLL_MAX}"
        f":v{STATE_VERSIONS[_STRUCTURE_OF[name]]}"
    )
    key = hashlib.sha256(ident.encode()).hexdigest()[:16]
    return os.path.join(
        tempfile.gettempdir(), "spark_graft_served", f"{name}_{key}"
    )


def q_dedup_keep_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_keep's answer served from the materialized cluster table
    (sources/cluster_store.py): first call pays the LSH+CC build and
    persists (node, comp); every call after is ONE broadcast left-anti
    join.  Oracle twin is the same Q_DEDUP_KEEP_SQL."""
    from vcf_pg_loader_spark.sources.cluster_store import DedupClusterStore

    docs = load_table(spark, sf_dir, "documents")
    store = DedupClusterStore(
        spark, _served_root(sf_dir, "dedup_clusters", "documents.parquet")
    )
    if not store.exists():
        pairs = D.minhash_lsh_dedup(
            docs, "doc_id", "text", NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T
        )
        cc = D.connected_components(pairs.select("d1", "d2"), "d1", "d2")
        store.write(cc)
    return store.serve_keep(docs.select("doc_id"), "doc_id")


def q_ann_ivf_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ann_ivf's answer served from the persisted VectorIndex
    (sources/vector_index.py): first call fits and persists centroids +
    cid-partitioned vectors; every call after routes queries against the
    read-back centroids and scans only the probed cells' directories.
    Built with kernel="exact" so the served ranks are bit-identical to
    the same Q_ANN_IVF_SQL oracle."""
    import os

    from vcf_pg_loader_spark.sources.vector_index import VectorIndex

    emb = load_table(spark, sf_dir, "embeddings")
    idx = VectorIndex(
        spark, _served_root(sf_dir, "ivf_index", "embeddings.parquet")
    )
    # meta/ is written last in build(), so its presence marks a
    # complete index; a half-built one (crash mid-build) rebuilds
    if not os.path.isdir(f"{idx.root}/meta"):
        idx.build(
            emb,
            k_centroids=IVF_CENTROIDS,
            n_iter=IVF_ITER,
            kernel="exact",
            pq=False,  # flat-only serving; skip the PQ artifacts
        )
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return idx.search_flat(queries, TOP_K, IVF_NPROBE)


# --------------------------------------------------------------------------
# sparse lexical retrieval (operators/retrieval.py): BM25 top-k for a
# bag-of-terms query and per-doc TF-IDF keywords — the inverted-index
# probe expressed relationally (postings pruned by the term list before
# any join; corpus scalars broadcast).
# --------------------------------------------------------------------------
BM25_TERMS = ["vector", "merge", "window", "shuffle", "broadcast"]
BM25_K = 15
TFIDF_PER_DOC = 3


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import retrieval as R

    docs = load_table(spark, sf_dir, "documents")
    return R.bm25_topk(docs, BM25_TERMS, BM25_K)


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import retrieval as R

    docs = load_table(spark, sf_dir, "documents")
    return R.tfidf_top_terms(docs, TFIDF_PER_DOC)


def _retrieval_sqls() -> tuple[str, str]:
    from vcf_pg_loader_spark.operators import retrieval as R

    return (
        R.sql_bm25_topk("documents", BM25_TERMS, BM25_K),
        R.sql_tfidf_top_terms("documents", TFIDF_PER_DOC),
    )


Q_BM25_SQL, Q_TFIDF_SQL = _retrieval_sqls()


def q_bm25_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_bm25_topk's answer served from the persisted inverted index
    (sources/bm25_index.py): first call tokenizes the corpus once and
    persists bucketed postings; every call after scans only the query
    terms' buckets.  Same oracle as q_bm25_topk."""
    from vcf_pg_loader_spark.sources.bm25_index import BM25Index

    idx = BM25Index(
        spark, _served_root(sf_dir, "bm25_index", "documents.parquet")
    )
    if not idx.exists():
        idx.build(load_table(spark, sf_dir, "documents"))
    return idx.search(BM25_TERMS, BM25_K)


# --------------------------------------------------------------------------
# PMI bigram collocations: pointwise mutual information over adjacent
# token pairs — the standard phrase-mining / tokenizer-vocabulary signal.
# All counts are exact integers; the single ln() on identical doubles is
# rounded to 6 dp and ranked AFTER rounding, so both engines order
# identically.  Plan: one explode for bigrams, one for unigrams, two
# keyed aggregations, two broadcast scalars — no all-pairs anything.
# --------------------------------------------------------------------------
PMI_MIN_COUNT = 20
PMI_TOP = 25


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    grams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bi = (
        docs.select(F.explode(grams).alias("g"))
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t_bi = bi.agg(F.sum("c_xy").alias("t_bi"))
    t_uni = uni.agg(F.sum("c").alias("t_uni"))
    pmi = F.round(
        F.log(
            (F.col("c_xy") / F.col("t_bi"))
            / (
                (F.col("c1") / F.col("t_uni"))
                * (F.col("c2") / F.col("t_uni"))
            )
        ),
        6,
    )
    scored = (
        bi.filter(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))),
            "w2",
        )
        .crossJoin(F.broadcast(t_bi))
        .crossJoin(F.broadcast(t_uni))
        .select("w1", "w2", "c_xy", pmi.alias("pmi"))
    )
    top = scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(PMI_TOP)
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rn", F.row_number().over(w))


Q_PMI_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
bi AS (
  SELECT g[1] AS w1, g[2] AS w2, COUNT(*) AS c_xy FROM (
    SELECT unnest(list_transform(range(1, len(ts)),
                                 i -> [ts[i], ts[i + 1]])) AS g
    FROM toks
  ) GROUP BY 1, 2
),
uni AS (
  SELECT w, COUNT(*) AS c FROM (
    SELECT unnest(ts) AS w FROM toks
  ) GROUP BY 1
),
tb AS (SELECT SUM(c_xy) AS t_bi FROM bi),
tu AS (SELECT SUM(c) AS t_uni FROM uni),
scored AS (
  SELECT w1, w2, c_xy,
         ROUND(ln((c_xy / t_bi) / ((u1.c / t_uni) * (u2.c / t_uni))), 6)
           AS pmi
  FROM bi
  JOIN uni u1 ON u1.w = bi.w1
  JOIN uni u2 ON u2.w = bi.w2, tb, tu
  WHERE c_xy >= {PMI_MIN_COUNT}
)
SELECT w1, w2, c_xy, pmi, rn FROM (
  SELECT w1, w2, c_xy, pmi,
         ROW_NUMBER() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rn
  FROM scored
) WHERE rn <= {PMI_TOP}
"""


# --------------------------------------------------------------------------
# exact-substring duplication (ExactSubstr, Lee et al. 2022): per-doc
# merged duplicated-text spans from corpus-repeated char L-grams —
# operators/dedup.py substring_dup_stats.  The suffix-array method's
# signal, produced by explode + frequency + gaps-and-islands windows.
# --------------------------------------------------------------------------
SUBSTR_GRAM_LEN = 40
SUBSTR_STRIDE = 4


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.substring_dup_stats(
        docs, "doc_id", "text", SUBSTR_GRAM_LEN, SUBSTR_STRIDE
    )


Q_SUBSTRING_DEDUP_SQL = D.sql_substring_dup_stats(
    "documents", SUBSTR_GRAM_LEN, SUBSTR_STRIDE
)


def q_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granular dedup: duplicated regions are CUT from each doc's
    text (operators/dedup.py strip_spans) — repeated boilerplate
    vanishes, unique prose stays.  Output is the per-doc accounting
    (md5 of the cleaned text + removed chars) so the oracle pins the
    exact surgery, not just sizes."""
    docs = load_table(spark, sf_dir, "documents")
    spans = D.duplicated_substring_spans(
        docs, "doc_id", "text", SUBSTR_GRAM_LEN, SUBSTR_STRIDE
    )
    return D.strip_spans(docs, spans).select(
        "doc_id",
        F.md5(F.col("clean_text")).alias("clean_fp"),
        F.col("removed_chars").cast("bigint").alias("removed_chars"),
    )


Q_STRIP_SPANS_SQL = D.sql_strip_spans_stats(
    "documents", SUBSTR_GRAM_LEN, SUBSTR_STRIDE
)


# --------------------------------------------------------------------------
# HDR-histogram quantile sketch (operators/histogram.py): mergeable
# log-bucketed quantile estimates per event type.  The estimator is a
# deterministic integer function of the data, so the oracle pins it
# bit-for-bit even though it approximates the true quantile.
# --------------------------------------------------------------------------
HDR_QS = [0.5, 0.9, 0.99]


def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import histogram as H

    ev = load_table(spark, sf_dir, "events")
    partials = H.hdr_partial(ev, ["event_type"], "value")
    return H.hdr_quantiles(partials, ["event_type"], HDR_QS)


def _hdr_sql() -> str:
    from vcf_pg_loader_spark.operators import histogram as H

    return H.sql_hdr_quantiles("events", "event_type", "value", HDR_QS)


Q_HDR_QUANTILES_SQL = _hdr_sql()


# --------------------------------------------------------------------------
# Count-Min frequency sketch (operators/sketch.py): token-frequency
# estimates from a fixed 4×1024-counter sketch, probed for a literal
# term set beside the exact counts — est >= true always; the whole
# estimator is integer-deterministic and oracle-checked bit-for-bit.
# --------------------------------------------------------------------------
CMS_PROBES = [
    "join", "hash", "row", "batch", "scan", "vector", "merge",
    "window", "zzz_absent_token",
]


def q_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import sketch as SK

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    sk = SK.cms_partial(toks, "token")
    probes = spark.createDataFrame(
        [(t,) for t in CMS_PROBES], "token string"
    )
    est = SK.cms_estimate(sk, probes, "token")
    true_cnt = (
        toks.filter(F.col("token").isin(CMS_PROBES))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    return est.join(true_cnt, "token", "left").select(
        "token",
        "cms_est",
        F.coalesce(F.col("true_cnt"), F.lit(0).cast("bigint")).alias(
            "true_cnt"
        ),
    )


def _cms_sql() -> str:
    from vcf_pg_loader_spark.operators import sketch as SK

    probe_list = ", ".join(f"'{t}'" for t in CMS_PROBES)
    est = SK.sql_cms_estimate(
        "SELECT unnest(string_split(text, ' ')) AS token FROM documents",
        f"SELECT unnest([{probe_list}]) AS token",
        "token",
    )
    return f"""
WITH est AS ({est}),
tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
tc AS (SELECT token, COUNT(*) AS true_cnt FROM tok
       WHERE token IN ({probe_list}) GROUP BY 1)
SELECT est.token, est.cms_est, COALESCE(tc.true_cnt, 0) AS true_cnt
FROM est LEFT JOIN tc USING (token)
"""


Q_CMS_TOKENS_SQL = _cms_sql()


# --------------------------------------------------------------------------
# linear sketches under retraction: Count-Min counters and HDR bucket
# counts are LINEAR in the input multiset, so Z-set deltas decrement
# them exactly (the deletable-sketch case; KMV's order statistics are
# not deletable and keep their rebuild stance).  Additive folds are
# non-idempotent, so the delete waves target only present rows — the
# q_rollup_retract batch algebra.
# --------------------------------------------------------------------------
def _additive_zdel_batches(frame: DataFrame, id_col: str) -> list[DataFrame]:
    from vcf_pg_loader_spark.operators.ivm import MULT

    e = F.col(id_col)

    def z(df, mult):
        return df.withColumn(MULT, F.lit(mult).cast("bigint"))

    return [
        z(frame.filter(e % 2 == 0), 1),
        z(frame.filter(e % 2 == 1), 1),
        z(frame.filter((e % 7 == 3) & (e % 3 == 0)), 1)
        .unionByName(z(frame.filter(e % 7 == 3), -1))
        .unionByName(
            z(frame.filter((e % 11 == 5) & ((e % 7 != 3) | (e % 3 == 0))), -1)
        ),
    ]


def q_cms_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency estimates served from a CMS maintained through
    interleaved insert+delete doc batches: each batch's tokens fold
    into the counter table with SIGNED multiplicities; zeroed counters
    consolidate away.  Oracle: the full sketch + probe pipeline
    recomputed over exactly the retained docs."""
    from vcf_pg_loader_spark.operators import sketch as SK
    from vcf_pg_loader_spark.operators.ivm import MULT

    docs = load_table(spark, sf_dir, "documents")
    sk = None
    for b in _additive_zdel_batches(docs.select("doc_id", "text"), "doc_id"):
        toks = b.select(
            F.explode(F.split(F.col("text"), " ")).alias("token"),
            F.col(MULT),
        )
        part = SK.cms_partial(toks, "token", mult_col=MULT)
        sk = part if sk is None else SK.cms_merge(sk, part)
    sk = sk.filter(F.col("cnt") != 0)
    probes = spark.createDataFrame(
        [(t,) for t in CMS_PROBES], "token string"
    )
    est = SK.cms_estimate(sk, probes, "token")
    retained = docs.filter(
        (F.col("doc_id") % 11 != 5)
        & ((F.col("doc_id") % 7 != 3) | (F.col("doc_id") % 3 == 0))
    )
    true_cnt = (
        retained.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token").isin(CMS_PROBES))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    return est.join(true_cnt, "token", "left").select(
        "token",
        "cms_est",
        F.coalesce(F.col("true_cnt"), F.lit(0).cast("bigint")).alias(
            "true_cnt"
        ),
    )


def q_hdr_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantile estimates served from HDR partials
    maintained through interleaved insert+delete event batches (signed
    bucket counts; zero buckets consolidate away).  Oracle: the sketch
    recomputed over exactly the retained events."""
    from vcf_pg_loader_spark.operators import histogram as H
    from vcf_pg_loader_spark.operators.ivm import MULT

    ev = load_table(spark, sf_dir, "events")
    partials = None
    for b in _additive_zdel_batches(
        ev.select("event_id", "event_type", "value"), "event_id"
    ):
        part = H.hdr_partial(b, ["event_type"], "value", mult_col=MULT)
        partials = (
            part
            if partials is None
            else H.hdr_merge(partials, part, ["event_type"])
        )
    partials = partials.filter(F.col("cnt") != 0)
    return H.hdr_quantiles(partials, ["event_type"], HDR_QS)


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimate for lineitem ⋈ orders from KB-sized
    sketches, beside the true size — the broadcast-vs-shuffle planning
    signal, oracle-checked exactly."""
    from vcf_pg_loader_spark.operators import sketch as SK

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("k")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("k")
    )
    est = SK.cms_join_size(SK.cms_partial(li, "k"), SK.cms_partial(orders, "k"))
    true = li.join(orders, "k").agg(F.count(F.lit(1)).alias("true_size"))
    return est.crossJoin(F.broadcast(true))


def _cms_join_sql() -> str:
    from vcf_pg_loader_spark.operators import sketch as SK

    est = SK.sql_cms_join_size(
        "SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem",
        "SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders",
        "k",
    )
    return f"""
WITH est AS ({est}),
tj AS (SELECT COUNT(*) AS true_size
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT est.join_size_est, tj.true_size FROM est, tj
"""


Q_CMS_JOIN_SIZE_SQL = _cms_join_sql()


# --------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): score every document by how much
# its hashed n-gram feature distribution looks like a TARGET domain
# (here: the 'en' slice) vs the whole corpus.  log w(doc) =
# Σ_b n_doc(b) · [ln p_target(b) − ln p_source(b)] over hashed
# unigram+bigram buckets with additive smoothing.  The scale shape: two
# corpus passes build the (tiny, broadcast) bucket log-ratio table; the
# per-doc score is one keyed aggregation of (doc, bucket) counts — no
# model, no Python, resampling-ready.
# --------------------------------------------------------------------------
DSIR_BUCKETS = 512
DSIR_ALPHA = 0.5
DSIR_TARGET_LANG = "en"


def _dsir_features(docs: DataFrame) -> DataFrame:
    """(doc_id, b, n): hashed unigram+bigram bucket counts per doc.
    The base hash materializes as a column before bucketing (no-CSE).
    Deliberately not widened: the ensure_min_parallelism A/B lost at
    bench scale (see operators/lm.py _doc_bigrams)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = F.concat(toks, bigrams)
    from vcf_pg_loader_spark.functions.hashing import h60

    return (
        docs.select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", h60(F.col("g"), salt="dsir:").alias("_h"))
        .select("doc_id", F.pmod(F.col("_h"), F.lit(DSIR_BUCKETS)).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    feats = _dsir_features(docs)
    # Bucket totals in ONE corpus pass (optimization round 15, guide
    # §1.2/§2.3): the target and source bucket counts are sums over the
    # same exploded-gram frame distinguished only by a per-doc flag, so
    # a single groupBy with a conditional count replaces the two
    # corpus-wide aggregations (and the per-(doc, bucket) intermediate
    # they shared); the grand totals Tt/Ts attach by a window over the
    # BUCKETS-row result instead of two scalar-aggregate branches that
    # each re-executed the corpus explode.  Exact equalities:
    # Σ_docs n(doc, b) = count of gram rows in bucket b (and likewise
    # filtered to target docs), so every operand double of `lr` is
    # bit-identical to the three-branch formulation (pinned in
    # tests/test_opt_r15.py).  An A/B persisting the shared feats frame
    # instead measured a net LOSS (+2.5 s: cache-write barrier
    # serializes stages the scheduler overlaps, guide §2.6/§5).
    is_target = F.col("lang") == DSIR_TARGET_LANG
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    grams = F.concat(toks, bigrams)
    from vcf_pg_loader_spark.functions.hashing import h60

    bucket_stats = (
        docs.select(is_target.alias("_t"), F.explode(grams).alias("g"))
        .select("_t", h60(F.col("g"), salt="dsir:").alias("_h"))
        .select("_t", F.pmod(F.col("_h"), F.lit(DSIR_BUCKETS)).alias("b"))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("ns"),
            F.count(F.when(F.col("_t"), F.lit(1))).alias("nt"),
        )
    )
    a, m = DSIR_ALPHA, DSIR_BUCKETS
    w_all = Window.partitionBy()
    lr = (
        bucket_stats.withColumn("Ts", F.sum("ns").over(w_all))
        .withColumn("Tt", F.sum("nt").over(w_all))
        .select(
            "b",
            (
                F.log(
                    (F.col("nt") + F.lit(a)) / (F.col("Tt") + F.lit(a * m))
                )
                - F.log((F.col("ns") + F.lit(a)) / (F.col("Ts") + F.lit(a * m)))
            ).alias("lr"),
        )
    )
    return (
        feats.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum((F.col("n") * F.col("lr")).cast("decimal(24,12)")).cast(
                    "double"
                ),
                6,
            ).alias("log_weight")
        )
    )


def _dsir_sql() -> str:
    h = sql_h60("g", salt="dsir:")
    a, m = DSIR_ALPHA, DSIR_BUCKETS
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
grams AS (
  SELECT doc_id, unnest(list_concat(
    ts,
    list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])
  )) AS g
  FROM t
),
feats AS (
  SELECT doc_id, ({h}) % {m} AS b, COUNT(*) AS n
  FROM grams GROUP BY 1, 2
),
tgt AS (
  SELECT b, SUM(n) AS nt FROM feats
  WHERE doc_id IN (SELECT doc_id FROM documents
                   WHERE lang = '{DSIR_TARGET_LANG}')
  GROUP BY 1
),
src AS (SELECT b, SUM(n) AS ns FROM feats GROUP BY 1),
tt AS (SELECT SUM(nt) AS Tt FROM tgt),
tsrc AS (SELECT SUM(ns) AS Ts FROM src),
lr AS (
  SELECT src.b,
         ln((COALESCE(tgt.nt, 0) + {a}) / (Tt + {a * m}))
           - ln((src.ns + {a}) / (Ts + {a * m})) AS lr
  FROM src LEFT JOIN tgt USING (b), tt, tsrc
)
SELECT doc_id,
       ROUND(CAST(SUM(CAST(n * lr AS DECIMAL(24,12))) AS DOUBLE), 6)
         AS log_weight
FROM feats JOIN lr USING (b)
GROUP BY 1
"""


Q_DSIR_SQL = _dsir_sql()


# --------------------------------------------------------------------------
# dataset profile (ANALYZE-style report): the engine's summaries
# composed into one (stat, value) frame over the events table — row
# count, exact + KMV-estimated user cardinality, HDR value quantiles,
# event-type skew factor, null rate.  Every piece deterministic, so the
# whole report is oracle-exact; at 100 TB each stat is a sketch or a
# single aggregation, never a sort.
# --------------------------------------------------------------------------
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import histogram as H
    from vcf_pg_loader_spark.operators import sketch as SK

    ev = load_table(spark, sf_dir, "events").withColumn("_g", F.lit(1))
    base = ev.agg(
        F.count(F.lit(1)).cast("double").alias("n_rows"),
        F.countDistinct("user_id").cast("double").alias("n_users_exact"),
        F.avg(F.col("value").isNull().cast("int")).alias("value_null_rate"),
    )
    kmv = SK.kmv_estimate(
        SK.kmv_sketch(ev, ["_g"], "user_id")
    ).select(F.col("n_distinct_est").alias("n_users_kmv"))
    hdr = (
        H.hdr_quantiles(H.hdr_partial(ev, ["_g"], "value"), ["_g"], [0.5, 0.99])
        .groupBy("_g")
        .pivot("q", [0.5, 0.99])
        .agg(F.first("quantile_est"))
        .select(
            F.col("`0.5`").alias("value_p50_est"),
            F.col("`0.99`").alias("value_p99_est"),
        )
    )
    skew = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.round(
                F.max("c") / (F.sum("c") / F.count(F.lit(1))), 6
            ).alias("event_type_skew")
        )
    )
    wide = (
        base.crossJoin(F.broadcast(kmv))
        .crossJoin(F.broadcast(hdr))
        .crossJoin(F.broadcast(skew))
    )
    stats = [
        "n_rows", "n_users_exact", "n_users_kmv",
        "value_null_rate", "value_p50_est", "value_p99_est",
        "event_type_skew",
    ]
    pairs = F.explode(
        F.array(
            *[
                F.struct(F.lit(s).alias("stat"), F.col(s).alias("value"))
                for s in stats
            ]
        )
    )
    return wide.select(pairs.alias("p")).select("p.stat", "p.value")


def _profile_sql() -> str:
    from vcf_pg_loader_spark.operators import histogram as H
    from vcf_pg_loader_spark.operators import sketch as SK

    kmv = SK.sql_kmv_estimate(
        "(SELECT 1 AS _g, user_id FROM events)", ["_g"], "user_id"
    )
    hdr = H.sql_hdr_quantiles(
        "(SELECT 1 AS _g, value FROM events)", "_g", "value", [0.5, 0.99]
    )
    return f"""
WITH base AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_rows,
         CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users_exact,
         AVG(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS value_null_rate
  FROM events
),
kmv AS (SELECT n_distinct_est AS n_users_kmv FROM ({kmv})),
hdr AS (
  SELECT MAX(CASE WHEN q = 0.5 THEN quantile_est END) AS value_p50_est,
         MAX(CASE WHEN q = 0.99 THEN quantile_est END) AS value_p99_est
  FROM ({hdr})
),
skew AS (
  SELECT ROUND(MAX(c) / (SUM(c) / COUNT(*)), 6) AS event_type_skew
  FROM (SELECT event_type, COUNT(*) AS c FROM events GROUP BY 1)
)
SELECT stat, value FROM (
  SELECT unnest(['n_rows', 'n_users_exact', 'n_users_kmv',
                 'value_null_rate', 'value_p50_est', 'value_p99_est',
                 'event_type_skew']) AS stat,
         unnest([n_rows, n_users_exact, n_users_kmv, value_null_rate,
                 value_p50_est, value_p99_est, event_type_skew]) AS value
  FROM base, kmv, hdr, skew
)
"""


Q_PROFILE_EVENTS_SQL = _profile_sql()


# --------------------------------------------------------------------------
# skew-safe grouped top-k (operators/topk.py): row_number + filter shaped
# so Catalyst's InferWindowGroupLimit plants a k-bounded Partial group
# limit on the map side of the exchange — identical output to the
# ROW_NUMBER oracle, k-bounded memory and shuffle on hot groups.
# --------------------------------------------------------------------------
def q_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.topk import grouped_topk

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return grouped_topk(
        ev.select("event_type", "value", "event_id"),
        ["event_type"],
        [("value", False), ("event_id", True)],
        k=3,
    )


Q_GROUPED_TOPK_SQL = """
SELECT event_type, value, event_id, rn FROM (
  SELECT event_type, value, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rn
  FROM events WHERE value IS NOT NULL
) WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# chunk-level dedup classes: exact dedup at context-window granularity
# (the passage-level analogue of q_dedup_exact) — group the chunk table
# by chunk hash; shuffles 32-char hashes, never chunk text.
# --------------------------------------------------------------------------
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = q_chunk_windows(spark, sf_dir)
    return chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("canonical_doc"),
    )


Q_CHUNK_DEDUP_SQL = f"""
WITH c AS ({Q_CHUNK_WINDOWS_SQL})
SELECT chunk_hash, COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS canonical_doc
FROM c GROUP BY 1
"""


# --------------------------------------------------------------------------
# data mixing: temperature-scaled source weights (the standard
# multi-source LLM pretraining mix: w_s ∝ n_s^τ with τ=0.5 damping
# head-heavy sources).  One tiny groupBy + a 1-row broadcast total —
# the plan is O(|sources|) after the first aggregate, so it costs the
# same at 100 TB as at sf0.01.
# --------------------------------------------------------------------------
MIX_BUDGET = 10_000  # planned docs per epoch across all sources


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    scaled = counts.withColumn("_s", F.sqrt(F.col("n_docs")))
    # decimal-sum the handful of sqrt weights so the total is the same
    # double in both engines (queries/_util.py pattern)
    tot = scaled.agg(
        F.sum(F.col("_s").cast("decimal(20,12)")).cast("double").alias("_tot")
    )
    ratio = F.col("_s") / F.col("_tot")
    return (
        scaled.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(ratio, 6).alias("mix_weight"),
            F.floor(F.lit(MIX_BUDGET) * ratio).cast("bigint").alias("planned_docs"),
        )
    )


Q_MIX_TEMPERATURE_SQL = f"""
WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
s AS (SELECT source, n_docs, sqrt(n_docs) AS sc FROM c),
t AS (SELECT CAST(SUM(CAST(sc AS DECIMAL(20,12))) AS DOUBLE) AS tot FROM s)
SELECT source, n_docs,
       ROUND(sc / tot, 6) AS mix_weight,
       CAST(FLOOR({MIX_BUDGET} * (sc / tot)) AS BIGINT) AS planned_docs
FROM s, t
"""


# --------------------------------------------------------------------------
# n-gram novelty: per document, the fraction of its distinct shingles
# that no lower-id document contains — a cheap "how much new text does
# this doc add" score for curriculum/dedup triage.  Shape: one explode,
# a min-groupBy on shingle (combinable), and an equi-join back where the
# grouped side carries ONE row per shingle — hot shingles cannot explode
# the join.
# --------------------------------------------------------------------------
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingles(docs, "doc_id", "text", NGRAM)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty"),
        )
    )


Q_NGRAM_NOVELTY_SQL = f"""
WITH sh AS ({_SH}),
f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
SELECT doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       ROUND(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS novelty
FROM sh JOIN f USING (shingle)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# deterministic epoch shuffle: reproducible global training order as
# (shard, position) — shard from the first hex digit of a seeded md5, so
# shard ASSIGNMENT is itself pseudorandom, and position from ordering by
# the full digest inside the shard.  The scale property: there is no
# global sort — the only wide ops are a hash exchange on `shard` and a
# per-shard sort, so epoch N of a 100 TB corpus is 16 independent sorted
# shards (data-parallel writers, no range-exchange sampling pass).
# Changing the seed string re-deals the entire order.
# --------------------------------------------------------------------------
EPOCH_SEED = "epoch0"


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(
        F.concat_ws("|", F.col("doc_id").cast("string"), F.lit(EPOCH_SEED))
    )
    keyed = docs.select(
        "doc_id",
        key.alias("shuffle_key"),
        F.substring(key, 1, 1).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.withColumn("position", F.row_number().over(w))


Q_EPOCH_SHUFFLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         md5(concat_ws('|', CAST(doc_id AS VARCHAR), '{EPOCH_SEED}'))
           AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key, substr(shuffle_key, 1, 1) AS shard,
       ROW_NUMBER() OVER (PARTITION BY substr(shuffle_key, 1, 1)
                          ORDER BY shuffle_key, doc_id) AS position
FROM keyed
"""


# --------------------------------------------------------------------------
# end-to-end curation funnel: quality filter -> exact-dedup keep ->
# deterministic split -> per-(split, source) doc/token rollup — the four
# stages every pretraining corpus passes through, composed from the REAL
# operators (quality_metrics, fingerprint, assign_split) in one plan so
# the oracle checks the composition, not just each stage in isolation.
# Per-stage plans stay narrow until the final tiny rollup; the only wide
# ops are the fingerprint groupBy (32-char keys) and the final count.
# --------------------------------------------------------------------------
def q_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import sampling as SP

    docs = load_table(spark, sf_dir, "documents")
    qual = q_quality_filter(spark, sf_dir)
    kept = docs.join(qual.filter(F.col("keep")).select("doc_id"), "doc_id")
    fp = T.fingerprint(kept)
    canon = fp.groupBy("doc_fp").agg(F.min("doc_id").alias("doc_id"))
    # Join the survivor ids back onto the RAW docs, not onto fp: canon's
    # min-ids are already downstream of the quality gate and the md5
    # aggregation, and doc_id is unique — so this inner join keeps
    # exactly the rows fp ⋈ canon kept, without executing the
    # quality-metrics + fingerprint subtree a second time for the join's
    # left side (optimization round 16; the q_drop_reasons surv rule).
    surviving = docs.select("doc_id", "source", "text").join(
        canon.select("doc_id"), "doc_id"
    )
    split = SP.assign_split(surviving, "doc_id", SPLIT_WEIGHTS)
    return split.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(T.tokens(F.col("text")))).alias("total_tokens"),
    )


def _pipeline_funnel_sql() -> str:
    from vcf_pg_loader_spark.operators import sampling as SP

    case = SP.sql_assign_split("doc_id", SPLIT_WEIGHTS)
    return f"""
WITH q AS ({Q_QUALITY_FILTER_SQL}),
kept AS (SELECT d.* FROM documents d JOIN q USING (doc_id) WHERE q.keep),
fp AS (SELECT doc_id, source, text,
              md5(regexp_replace(trim(text), ' +', ' ', 'g')) AS doc_fp
       FROM kept),
canon AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY doc_fp),
surv AS (SELECT f.* FROM fp f JOIN canon USING (doc_id))
SELECT {case} AS split, source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM surv
GROUP BY 1, 2
"""


Q_PIPELINE_FUNNEL_SQL = _pipeline_funnel_sql()


# --------------------------------------------------------------------------
# per-doc drop attribution: WHY did each document leave the pipeline —
# the observability query a curation team actually debugs with.  Every
# doc gets its FIRST drop stage (quality gate with its reason codes,
# LM-perplexity gate, exact-dup loser, near-dup loser) or 'kept'.
# Stages compose the already-oracled gates in funnel order
# quality -> lm_nll -> exact -> near-dup; the near-dup stage runs on
# the quality+lm+exact survivors (LSH pairs on a subset equal the
# full-corpus pairs restricted to that subset, since banding is
# per-doc).  The LM gate is the CCNet/KenLM-style perplexity filter
# (operators/lm.py): the bigram model trains on the FULL corpus — the
# curation analogue of scoring under a fixed reference LM — and docs
# whose mean NLL exceeds NLL_MAX (garbled/outlier text) drop with
# their own reason code.
# --------------------------------------------------------------------------
NLL_MAX = 3.45  # ~97th percentile of the corpus NLL distribution


def q_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from vcf_pg_loader_spark.operators.lm import doc_nll

    docs = load_table(spark, sf_dir, "documents")
    # qual and lm_losers each feed TWO plan branches (the gate chain and
    # the final attribution joins) — persist them or the corpus-wide
    # quality metrics and the whole LM execute twice (SCALE.md
    # multiply-consumed-lineage rule).  Both are small ID-LEVEL frames;
    # `surv` also feeds two branches but carries full text, and an A/B
    # measured caching it as a net LOSS (cache write/read of the text
    # column outweighs re-deriving it) — so it stays lazy.  The
    # caller/bench owns the cache lifetime, as with the LSH shingles.
    qual = q_quality_filter(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    lm_losers = (
        doc_nll(docs).filter(F.col("nll") > NLL_MAX).select("doc_id")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    kept_q = docs.join(
        qual.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    ).join(lm_losers, "doc_id", "left_anti")
    fp = T.fingerprint(kept_q)
    # canon's min-ids ARE the exact-dedup survivor set (doc_id is unique
    # per doc, so the semi-join back onto fp keeps exactly these ids) —
    # persist the narrow id frame and serve BOTH consumers (the surv
    # semi-join below and the final _exact attribution join) from it:
    # without the cache the docs→kept_q→fingerprint subtree executed
    # once per canon consumer per surv consumer — four md5 passes over
    # the kept corpus per run (optimization round 15, guide §2.4/§5;
    # same ID-LEVEL-persist rule as qual/lm_losers above).
    canon_ids = (
        fp.groupBy("doc_fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # surv = the exact-dedup survivors WITH their text.  canon_ids is
    # already downstream of the quality gate, the LM gate and the
    # fingerprint aggregation, and doc_id is unique per doc — so
    # semi-joining the RAW docs on the persisted id set yields exactly
    # the same (doc_id, text) rows as semi-joining fp, WITHOUT
    # re-running the qual->LM->md5 chain under the LSH path
    # (optimization round 16, verdict item 3: that chain previously
    # re-executed per surv consumer — one more full md5 corpus pass
    # plus the quality/LM gates, per run).  The LSH kernel touches
    # only (doc_id, text).
    surv = docs.select("doc_id", "text").join(
        canon_ids, "doc_id", "left_semi"
    )

    pairs = D.minhash_lsh_dedup(
        surv, "doc_id", "text", NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T
    )
    cc = D.connected_components(pairs.select("d1", "d2"), "d1", "d2")
    near_losers = cc.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )

    q = qual.select("doc_id", "keep", "reasons")
    exact_ids = canon_ids
    stage = (
        F.when(
            ~F.col("keep"), F.concat(F.lit("quality:"), F.col("reasons"))
        )
        .when(F.col("_lm").isNotNull(), F.lit("lm_nll"))
        .when(F.col("_exact").isNull(), F.lit("exact_dup"))
        .when(F.col("_near").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    return (
        docs.select("doc_id")
        .join(q, "doc_id")
        .join(lm_losers.withColumn("_lm", F.lit(1)), "doc_id", "left")
        .join(
            exact_ids.withColumn("_exact", F.lit(1)), "doc_id", "left"
        )
        # no forced broadcast: the loser set is corpus-relative-small but
        # not absolutely small at 100 TB dup rates — let AQE pick
        # broadcast from runtime sizes (it does at every tested SF) and
        # degrade to a shuffled join instead of an executor OOM beyond
        # the threshold
        .join(
            near_losers.withColumn("_near", F.lit(1)),
            "doc_id",
            "left",
        )
        .select("doc_id", stage.alias("stage"))
    )


def _drop_reasons_sql() -> str:
    from vcf_pg_loader_spark.operators.lm import sql_doc_nll

    return f"""
WITH RECURSIVE q AS ({Q_QUALITY_FILTER_SQL}),
nll AS ({sql_doc_nll('documents')}),
lm_losers AS (SELECT doc_id FROM nll WHERE nll > {NLL_MAX}),
kept_q AS (SELECT d.* FROM documents d JOIN q USING (doc_id) WHERE q.keep
           AND d.doc_id NOT IN (SELECT doc_id FROM lm_losers)),
fp AS (SELECT doc_id, md5(regexp_replace(trim(text), ' +', ' ', 'g'))
              AS doc_fp
       FROM kept_q),
canon AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY doc_fp),
surv AS (SELECT doc_id FROM fp WHERE doc_id IN (SELECT doc_id FROM canon)),
all_pairs AS ({Q_MINHASH_LSH_SQL}),
pairs AS (
  SELECT d1, d2 FROM all_pairs
  WHERE d1 IN (SELECT doc_id FROM surv)
    AND d2 IN (SELECT doc_id FROM surv)
),
und AS (SELECT d1 AS s, d2 AS t FROM pairs UNION SELECT d2, d1 FROM pairs),
nodes AS (SELECT DISTINCT s AS node FROM und),
walk(node, reach) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT w.node, u.t FROM walk w JOIN und u ON u.s = w.reach
),
cc AS (SELECT node, MIN(reach) AS comp FROM walk GROUP BY node),
near_losers AS (SELECT node AS doc_id FROM cc WHERE node <> comp)
SELECT d.doc_id,
       CASE WHEN NOT q.keep THEN 'quality:' || q.reasons
            WHEN d.doc_id IN (SELECT doc_id FROM lm_losers) THEN 'lm_nll'
            WHEN d.doc_id NOT IN (SELECT doc_id FROM surv) THEN 'exact_dup'
            WHEN d.doc_id IN (SELECT doc_id FROM near_losers) THEN 'near_dup'
            ELSE 'kept' END AS stage
FROM documents d JOIN q USING (doc_id)
"""


Q_DROP_REASONS_SQL = _drop_reasons_sql()


# --------------------------------------------------------------------------
# length-bucketed training batches (operators/rank.py): documents ranked
# by token count with the DISTRIBUTED global rank (range partition +
# per-partition offsets — never a single-partition window) and cut into
# k rank-balanced batches; per-batch padding stats oracle the whole rank.
# --------------------------------------------------------------------------
LENGTH_BATCHES_K = 16


def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.rank import length_batches

    docs = load_table(spark, sf_dir, "documents")
    return length_batches(docs, LENGTH_BATCHES_K)


def _length_batches_sql() -> str:
    from vcf_pg_loader_spark.operators.rank import sql_length_batches

    return sql_length_batches("documents", LENGTH_BATCHES_K)


Q_LENGTH_BATCHES_SQL = _length_batches_sql()


# --------------------------------------------------------------------------
# bigram-LM perplexity scoring (operators/lm.py): the CCNet/KenLM-style
# quality gate — per-doc mean negative log-likelihood under a smoothed
# bigram model trained on the corpus itself.  One explode, keyed lead
# window, two count tables, broadcast vocabulary scalar; zero Python.
# --------------------------------------------------------------------------
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.lm import doc_nll

    docs = load_table(spark, sf_dir, "documents")
    return doc_nll(docs)


def _lm_sql() -> str:
    from vcf_pg_loader_spark.operators.lm import sql_doc_nll

    return sql_doc_nll("documents")


Q_LM_PERPLEXITY_SQL = _lm_sql()


def q_drop_reasons_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_drop_reasons' answer served from a materialized attribution
    table (sources/cluster_store.py MaterializedTable): drop attribution
    is THE observability query a curation team re-runs — per-source
    dashboards, debugging a doc's fate, auditing a gate change — and its
    expensive stages (LSH + CC over the survivors) are fixed per
    curation run.  So the funnel report is materialized once per run,
    swap-atomically, and every later read is a plain pruned parquet
    scan.  Same build-once/serve-many shape as the cluster store / IVF /
    BM25 indexes; same oracle as q_drop_reasons."""
    from vcf_pg_loader_spark.sources.cluster_store import MaterializedTable

    # name versioned with the report definition (the nll gate joined in
    # round 8): a pre-gate materialization must never serve stale stages
    tbl = MaterializedTable(
        spark, _served_root(sf_dir, "drop_reasons_nll", "documents.parquet")
    )
    if not tbl.exists():
        tbl.write(q_drop_reasons(spark, sf_dir))
    return tbl.read()


# --------------------------------------------------------------------------
# RETRACTION-maintained served structures (streaming/retract.py): the
# takedown/GDPR-delete path.  Each query drives the corresponding sink
# through a fixed interleaved insert+delete batch sequence — two insert
# halves, then a mixed retraction batch that deletes two id waves while
# simultaneously carrying +1 rows for part of the first wave (those
# consolidate to net-zero no-ops, exercising Z-set cancellation; docs
# hit by both waves net to a delete) — and serves the result from the
# maintained state WITHOUT any rebuild.  The oracles recompute the full
# pipeline over exactly the retained rows, so value-equality proves the
# incremental maintenance exact.  (The longer delete-then-reinsert-
# later lineage is pytest-covered: tests/test_round8.py
# reinsert/interleaving cases.)
#
# Batch algebra (documents table, doc_id ranges are SF-independent):
#   b1 ins:  doc_id % 2 = 0          b2 ins:  doc_id % 2 = 1
#   b3 ins:  doc_id % 7 = 3 AND doc_id % 3 = 0
#      del:  doc_id % 7 = 3          del: doc_id % 11 = 5
# Final retained set:
ZDEL_RETAIN_SQL = (
    "(doc_id % 11 <> 5) AND (doc_id % 7 <> 3 OR doc_id % 3 = 0)"
)


def _zdel_batches(docs: DataFrame) -> list[DataFrame]:
    from vcf_pg_loader_spark.operators.ivm import MULT

    d = F.col("doc_id")

    def z(frame, mult):
        return frame.withColumn(MULT, F.lit(mult).cast("bigint"))

    return [
        z(docs.filter(d % 2 == 0), 1),
        z(docs.filter(d % 2 == 1), 1),
        z(docs.filter((d % 7 == 3) & (d % 3 == 0)), 1)
        .unionByName(z(docs.filter(d % 7 == 3), -1))
        .unionByName(z(docs.filter(d % 11 == 5), -1)),
    ]


def _replay(sink, batches: list[DataFrame]) -> None:
    """Apply `batches` to `sink` as batch ids 0, 1, ... exactly once: a
    state already maintained through the last id is served as it is."""
    if sink.applied(len(batches) - 1):
        return
    for i, b in enumerate(batches):
        sink.apply_batch(b, i)


def _cdc_batches(old: DataFrame, new: DataFrame, key: str) -> list[DataFrame]:
    """A snapshot sync as two batches: the OLD snapshot inserted whole,
    then ONE zset_snapshot_delta batch that moves it to the NEW one."""
    from vcf_pg_loader_spark.operators.ivm import MULT, zset_snapshot_delta

    return [
        old.withColumn(MULT, F.lit(1).cast("bigint")),
        zset_snapshot_delta(old, new, key),
    ]


def _over_retained(sql: str, pred: str = None) -> str:
    """Rewrite a composed oracle to run over the retained rows: every
    `FROM documents` table reference becomes a filtered subquery.  The
    token appears ONLY as the base-table reference in these SQLs (never
    inside a string literal), so plain substitution is exact — and the
    driver's value-hash gate would catch any drift."""
    pred = pred or ZDEL_RETAIN_SQL
    return sql.replace(
        "FROM documents", f"FROM (SELECT * FROM documents WHERE {pred})"
    )


def q_dedup_keep_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup keep-decision served from the RETRACTION-maintained
    cluster store: deletions drop incident edges from the persisted
    pair set and re-run connected components over the remaining pairs
    only — the LSH/shingle machinery never re-runs for surviving docs
    (VERDICT r7 top item; reference analogue: delete-by-batch reload,
    loader.py)."""
    from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink

    docs = load_table(spark, sf_dir, "documents")
    root = _served_root(sf_dir, "zdel_clusters", "documents.parquet")
    sink = DedupClusterMaintSink(
        f"{root}/state", NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T
    )
    _replay(sink, _zdel_batches(docs.select("doc_id", "text")))
    return sink.keep(spark)


Q_DEDUP_KEEP_RETRACT_SQL = _over_retained(Q_DEDUP_KEEP_SQL)


def q_bm25_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 search served from the retraction-maintained inverted
    index: a deleted doc's postings/doclens rows cancel (Z-set
    consolidation as keyed anti-joins) and n_docs/avgdl recompute from
    the consolidated doclens, so idf decrements — no re-tokenization of
    surviving docs, ever."""
    from vcf_pg_loader_spark.sources.bm25_index import BM25Index
    from vcf_pg_loader_spark.streaming.dedup_ingest import BM25IndexSink

    docs = load_table(spark, sf_dir, "documents")
    root = _served_root(sf_dir, "zdel_bm25", "documents.parquet")
    sink = BM25IndexSink(f"{root}/state")
    _replay(sink, _zdel_batches(docs.select("doc_id", "text")))
    return BM25Index(spark, sink.target).search(BM25_TERMS, BM25_K)


Q_BM25_RETRACT_SQL = _over_retained(Q_BM25_SQL)


def q_drop_reasons_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-attribution report served from the retraction-maintained
    funnel state: quality verdicts, frozen-LM scores, fingerprints,
    bands and verified pairs are all per-doc state maintained by keyed
    anti-join/union; the stage labels re-derive with joins + two
    aggregations (min-id canon re-election, CC over the maintained pair
    set).  The LM gate scores under the model frozen at bootstrap
    (batch 1 = even doc_ids), which the oracle mirrors by training its
    nll CTE on that subset."""
    from vcf_pg_loader_spark.streaming.retract import FunnelReportSink

    docs = load_table(spark, sf_dir, "documents")
    root = _served_root(sf_dir, "zdel_funnel", "documents.parquet")
    sink = FunnelReportSink(
        f"{root}/state", NLL_MAX, NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T
    )
    _replay(sink, _zdel_batches(docs.select("doc_id", "text")))
    return sink.report(spark)


def _drop_reasons_retract_sql() -> str:
    return _funnel_frozen_sql(
        ZDEL_RETAIN_SQL, "(SELECT * FROM documents WHERE doc_id % 2 = 0)"
    )


def _funnel_frozen_sql(retained_pred: str, boot: str) -> str:
    """The drop-attribution funnel recomputed over the docs retained by
    `retained_pred`, with the LM gate trained on the `boot` table
    expression (the frozen-at-bootstrap deployment shape) — the shared
    oracle of q_drop_reasons_retract and q_cdc_funnel."""
    from vcf_pg_loader_spark.operators.lm import sql_doc_nll_frozen

    retained = f"(SELECT * FROM documents WHERE {retained_pred})"
    qual = _over_retained(Q_QUALITY_FILTER_SQL, retained_pred)
    lsh = _over_retained(Q_MINHASH_LSH_SQL, retained_pred)
    return f"""
WITH RECURSIVE q AS ({qual}),
nll AS ({sql_doc_nll_frozen(retained, boot)}),
lm_losers AS (SELECT doc_id FROM nll WHERE nll > {NLL_MAX}),
kept_q AS (SELECT d.* FROM {retained} d JOIN q USING (doc_id) WHERE q.keep
           AND d.doc_id NOT IN (SELECT doc_id FROM lm_losers)),
fp AS (SELECT doc_id, md5(regexp_replace(trim(text), ' +', ' ', 'g'))
              AS doc_fp
       FROM kept_q),
canon AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY doc_fp),
surv AS (SELECT doc_id FROM fp WHERE doc_id IN (SELECT doc_id FROM canon)),
all_pairs AS ({lsh}),
pairs AS (
  SELECT d1, d2 FROM all_pairs
  WHERE d1 IN (SELECT doc_id FROM surv)
    AND d2 IN (SELECT doc_id FROM surv)
),
und AS (SELECT d1 AS s, d2 AS t FROM pairs UNION SELECT d2, d1 FROM pairs),
nodes AS (SELECT DISTINCT s AS node FROM und),
walk(node, reach) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT w.node, u.t FROM walk w JOIN und u ON u.s = w.reach
),
cc AS (SELECT node, MIN(reach) AS comp FROM walk GROUP BY node),
near_losers AS (SELECT node AS doc_id FROM cc WHERE node <> comp)
SELECT d.doc_id,
       CASE WHEN NOT q.keep THEN 'quality:' || q.reasons
            WHEN d.doc_id IN (SELECT doc_id FROM lm_losers) THEN 'lm_nll'
            WHEN d.doc_id NOT IN (SELECT doc_id FROM surv) THEN 'exact_dup'
            WHEN d.doc_id IN (SELECT doc_id FROM near_losers) THEN 'near_dup'
            ELSE 'kept' END AS stage
FROM {retained} d JOIN q USING (doc_id)
"""


Q_DROP_REASONS_RETRACT_SQL = _drop_reasons_retract_sql()
Q_WINNOW_RETRACT_SQL = _over_retained(Q_WINNOW_SQL)
Q_CMS_RETRACT_SQL = _over_retained(Q_CMS_TOKENS_SQL)
ZDEL_EV_RETAIN_SQL = (
    "(event_id % 11 <> 5) AND (event_id % 7 <> 3 OR event_id % 3 = 0)"
)
Q_HDR_RETRACT_SQL = Q_HDR_QUANTILES_SQL.replace(
    "FROM events", f"FROM (SELECT * FROM events WHERE {ZDEL_EV_RETAIN_SQL})"
)


# --------------------------------------------------------------------------
# snapshot CDC (round 10): the most common real-world maintenance flow at
# 100 TB is a re-crawl arriving as a whole NEW SNAPSHOT, not a delta
# stream.  zset_snapshot_delta (operators/ivm.py) diffs the incoming
# snapshot against the maintained corpus by (id, xxhash64-of-payload)
# anti-joins — removed rows emit -1, added rows +1, CHANGED rows both
# (an upsert to the sinks' touched-id logic), unchanged rows nothing —
# and the resulting Z-set batch feeds the SAME maintained sinks as the
# streaming retract path.  CLI twin: `sync-corpus`.
#
# Snapshot algebra (doc_id ranges SF-independent):
#   OLD snapshot: doc_id % 5 <> 4, with the text of doc_id % 13 = 2 rows
#                 carrying a stale suffix (a "previous crawl revision")
#   NEW snapshot: doc_id % 3 <> 1, texts as in the documents table
# so the delta exercises all three row classes: removals (in old only),
# additions (in new only), and changes (in both, text differs).  The
# oracle recomputes the full LSH+CC keep-decision over exactly the NEW
# snapshot — bootstrapped-on-old + delta must equal fresh-bootstrap-on-
# new, which is the guarantee zset_snapshot_delta's docstring states.
# --------------------------------------------------------------------------
CDC_NEW_RETAIN_SQL = "doc_id % 3 <> 1"


def _cdc_snapshots(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    d = F.col("doc_id")
    old = docs.filter(d % 5 != 4).withColumn(
        "text",
        F.when(
            d % 13 == 2, F.concat(F.col("text"), F.lit(" legacy-revision"))
        ).otherwise(F.col("text")),
    )
    new = docs.filter(d % 3 != 1)
    return old, new


def q_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup keep-decision after a snapshot sync: the cluster state
    bootstraps on the OLD snapshot, then ONE zset_snapshot_delta batch
    moves it to the NEW snapshot — removals retract, additions insert,
    changed docs rebuild from their arriving text, unchanged docs are
    untouched.  Oracle: the batch LSH+CC keep recomputed over exactly
    the new snapshot."""
    from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old, new = _cdc_snapshots(docs)
    root = _served_root(sf_dir, "cdc_snapshot", "documents.parquet")
    sink = DedupClusterMaintSink(
        f"{root}/state", NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T
    )
    _replay(sink, _cdc_batches(old, new, "doc_id"))
    return sink.keep(spark)


Q_CDC_SNAPSHOT_SQL = _over_retained(Q_DEDUP_KEEP_SQL, CDC_NEW_RETAIN_SQL)

# the OLD snapshot as a SQL table expression — the funnel CDC oracle
# trains its frozen LM gate on it (suffix-modified texts included,
# exactly what FunnelReportSink's bootstrap batch saw)
CDC_OLD_SRC_SQL = (
    "(SELECT doc_id,"
    " CASE WHEN doc_id % 13 = 2 THEN text || ' legacy-revision'"
    " ELSE text END AS text"
    " FROM documents WHERE doc_id % 5 <> 4)"
)


def q_cdc_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-attribution report after a snapshot sync: the funnel state
    (quality verdicts, frozen-LM scores, fingerprints, bands, pairs)
    bootstraps on the OLD snapshot — training the LM gate on it — and
    ONE zset_snapshot_delta batch moves it to the NEW snapshot; only
    the delta's docs re-run the per-doc stages.  Oracle: the whole
    funnel recomputed over the new snapshot with the nll CTE trained on
    the old one."""
    from vcf_pg_loader_spark.streaming.retract import FunnelReportSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old, new = _cdc_snapshots(docs)
    root = _served_root(sf_dir, "cdc_funnel", "documents.parquet")
    sink = FunnelReportSink(
        f"{root}/state", NLL_MAX, NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T
    )
    _replay(sink, _cdc_batches(old, new, "doc_id"))
    return sink.report(spark)


Q_CDC_FUNNEL_SQL = _funnel_frozen_sql(CDC_NEW_RETAIN_SQL, CDC_OLD_SRC_SQL)


def q_cdc_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 search after a snapshot sync: the maintained inverted index
    bootstraps on the OLD snapshot (stale texts indexed), then ONE
    snapshot-diff batch retracts removed docs' postings, appends new
    docs', and re-tokenizes CHANGED docs only — idf decrements through
    the consolidated doclens.  Oracle: BM25 over exactly the new
    snapshot."""
    from vcf_pg_loader_spark.sources.bm25_index import BM25Index
    from vcf_pg_loader_spark.streaming.dedup_ingest import BM25IndexSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old, new = _cdc_snapshots(docs)
    root = _served_root(sf_dir, "cdc_bm25", "documents.parquet")
    sink = BM25IndexSink(f"{root}/state")
    _replay(sink, _cdc_batches(old, new, "doc_id"))
    return BM25Index(spark, sink.target).search(BM25_TERMS, BM25_K)


Q_CDC_BM25_SQL = _over_retained(Q_BM25_SQL, CDC_NEW_RETAIN_SQL)


def q_cdc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-reuse overlap pairs after a snapshot sync: the winnowing
    posting table drops removed/changed docs' fingerprints by keyed
    anti-join and re-hashes only the delta's arriving texts.  Oracle:
    the full winnowing pipeline over exactly the new snapshot."""
    from vcf_pg_loader_spark.streaming.retract import WinnowIndexSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old, new = _cdc_snapshots(docs)
    root = _served_root(sf_dir, "cdc_winnow", "documents.parquet")
    sink = WinnowIndexSink(f"{root}/state")
    _replay(sink, _cdc_batches(old, new, "doc_id"))
    return sink.overlap_pairs(spark, WINNOW_MAX_DF, WINNOW_MIN_SHARED)


Q_CDC_WINNOW_SQL = _over_retained(Q_WINNOW_SQL, CDC_NEW_RETAIN_SQL)


# events-side snapshot algebra: the OLD snapshot carries a stale value
# for event_id % 13 = 2 rows (doubled — a corrected-measurement
# revision), so the rollup CDC exercises the additive fold's
# subtract-old/add-new path, not just insert/delete
CDC_EV_NEW_RETAIN_SQL = "event_id % 3 <> 1"


def _cdc_event_snapshots(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    e = F.col("event_id")
    old = ev.filter(e % 5 != 4).withColumn(
        "value",
        F.when(e % 13 == 2, F.col("value") * 2).otherwise(F.col("value")),
    )
    new = ev.filter(e % 3 != 1)
    return old, new


def q_cdc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed COUNT/SUM rollup after a snapshot sync: the
    counted fold bootstraps on the OLD snapshot (stale values for the
    changed rows), then folds the snapshot-diff Z-set — a changed
    event's -1 old tuple subtracts the stale value and its +1 tuple
    adds the corrected one, so the maintained aggregate lands exactly
    on the new snapshot's rollup.  Zero-count groups vanish.  Oracle:
    the single-pass aggregate over exactly the new snapshot."""
    from vcf_pg_loader_spark.operators.ivm import (
        MULT,
        as_zset,
        zset_snapshot_delta,
    )
    from vcf_pg_loader_spark.operators.rollup import (
        event_rollup_partial_counted,
        merge_rollup_counted,
        rollup_final_counted,
    )

    ev = load_table(spark, sf_dir, "events")
    old, new = _cdc_event_snapshots(ev)
    boot = event_rollup_partial_counted(as_zset(old), "hour").filter(
        F.col("n_events") != 0
    )
    delta = event_rollup_partial_counted(
        zset_snapshot_delta(old, new, "event_id"), "hour"
    )
    return rollup_final_counted(merge_rollup_counted(boot, delta))


Q_CDC_ROLLUP_SQL = f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) AS total_value
FROM events
WHERE {CDC_EV_NEW_RETAIN_SQL}
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# snapshot CDC through the vector index: the same re-crawl flow on the
# embedding side — a new snapshot removes vectors, adds vectors, and
# CHANGES some (re-embedded documents).  The diff feeds
# VectorIndex.apply_zset, whose update semantics make a changed id
# survive with its NEW vector and re-route under the FROZEN centroids
# (apply_delta's id-level delete-wins rule would drop it — the round-9
# advisory divergence, now oracle-pinned, not just pytest-pinned).
#
# Snapshot algebra (vec_id ranges SF-independent):
#   OLD: vec_id % 5 <> 4, vectors as stored
#   NEW: vec_id % 3 <> 1, with the embedding of vec_id % 13 = 2 rows
#        REVERSED (a deterministic, SQL-expressible "re-embedding";
#        vec_id 2 is also a query, so a mishandled update shows up in
#        the served ranks, not just the id set)
# Oracle: IVF-Flat search over the NEW snapshot assigned under
# centroids trained on the OLD snapshot (what build() froze).
# --------------------------------------------------------------------------
CDC_VEC_TRAIN_SQL = "vec_id % 5 <> 4"
CDC_VEC_NEW_RETAIN_SQL = "vec_id % 3 <> 1"
CDC_VEC_NEW_SRC = (
    "(SELECT vec_id,"
    " CASE WHEN vec_id % 13 = 2 THEN list_reverse(embedding)"
    " ELSE embedding END AS embedding FROM embeddings)"
)


def _cdc_vec_snapshots(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    v = F.col("vec_id")
    old = emb.filter(v % 5 != 4)
    new = emb.filter(v % 3 != 1).withColumn(
        "embedding",
        F.when(v % 13 == 2, F.reverse(F.col("embedding"))).otherwise(
            F.col("embedding")
        ),
    )
    return old, new


def _cdc_ann_index(spark: SparkSession, sf_dir: str):
    """The snapshot-synced (drifted) vector index shared by q_cdc_ann
    and q_ann_cell_stats: built on the OLD snapshot, moved to the NEW
    one by ONE zset_snapshot_delta batch through apply_zset — so its
    corpus is the new snapshot routed under centroids still trained on
    the old one.  Idempotent per root; both consumers are read-only."""
    import os

    from vcf_pg_loader_spark.operators.ivm import zset_snapshot_delta
    from vcf_pg_loader_spark.sources.vector_index import VectorIndex

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    old, new = _cdc_vec_snapshots(emb)
    idx = VectorIndex(
        spark, _served_root(sf_dir, "cdc_ann", "embeddings.parquet")
    )
    flag = os.path.join(idx.root, "_cdc_done")
    if not os.path.exists(flag):
        idx.build(
            old,
            k_centroids=IVF_CENTROIDS,
            n_iter=IVF_ITER,
            kernel="exact",
            pq=False,
        )
        idx.apply_zset(zset_snapshot_delta(old, new, "vec_id"))
        with open(flag, "w") as fh:
            fh.write("done")
    return idx, new


def q_cdc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN served from a persisted index synced to a new
    snapshot by ONE zset_snapshot_delta batch through apply_zset:
    removals anti-join, additions and changed vectors route against
    the frozen centroids — k-means never re-runs, updates are upserts.
    Oracle: the IVF search recomputed over exactly the new snapshot
    under centroids trained on the old one."""
    idx, new = _cdc_ann_index(spark, sf_dir)
    queries = new.filter(F.col("vec_id") < N_QUERY_VECS)
    return idx.search_flat(queries, TOP_K, IVF_NPROBE)


def _ivf_flat_topk_sql(ctes: list[str], assign: str, prev: str) -> str:
    """nprobe-cell exact cosine top-k over an assignment CTE chain —
    the serving half shared by the CDC and reindex ANN oracles."""
    dist = S.sql_sq_dist("vec", "cvec")
    ctes = list(ctes)
    ctes.append(
        f"cand AS (SELECT vid AS cand_id, vec AS c_vec, cid FROM {assign})"
    )
    ctes.append(
        f"""probes AS (
  SELECT vid AS query_id, vec AS q_vec, cid FROM (
    SELECT vid, vec, cid,
           ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d ASC, cid ASC) AS rn
    FROM (SELECT vid, vec, cid, {dist} AS d
          FROM (SELECT * FROM va WHERE vid < {N_QUERY_VECS}) q
          CROSS JOIN {prev})
  ) WHERE rn <= {IVF_NPROBE})"""
    )
    ctes.append(
        f"""scored AS (
  SELECT query_id, cand_id, {S.sql_cosine('q_vec', 'c_vec')} AS cos_sim
  FROM probes JOIN cand USING (cid)
  WHERE query_id <> cand_id)"""
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT query_id, cand_id, cos_sim, rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id ASC) AS rn
      FROM scored)
WHERE rn <= {TOP_K}
"""


Q_CDC_ANN_SQL = _ivf_flat_topk_sql(
    *_ivf_frozen_assignment_ctes(
        CDC_VEC_TRAIN_SQL, CDC_VEC_NEW_RETAIN_SQL, assign_src=CDC_VEC_NEW_SRC
    )
)


def q_ann_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-occupancy monitor over the snapshot-synced index — the
    aging signal for the frozen-centroid maintenance path: syncs keep
    per-batch cost O(|delta|) precisely BY freezing the quantizer, so
    occupancy drifts as the corpus moves away from the distribution the
    centroids were trained on; operations watch max/avg here and
    trigger `reindex` past a threshold.  Oracle: per-cell counts of the
    new snapshot assigned under old-snapshot-trained centroids."""
    idx, _new = _cdc_ann_index(spark, sf_dir)
    return idx.cell_stats().withColumnRenamed("cid", "cell_id")


def _ann_cell_stats_sql() -> str:
    ctes, assign, _prev = _ivf_frozen_assignment_ctes(
        CDC_VEC_TRAIN_SQL, CDC_VEC_NEW_RETAIN_SQL, assign_src=CDC_VEC_NEW_SRC
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT cid AS cell_id, COUNT(*) AS n_vecs FROM {assign} GROUP BY cid
"""


Q_ANN_CELL_STATS_SQL = _ann_cell_stats_sql()


def q_ann_reindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN served AFTER a reindex: the index drifts through
    the same snapshot sync as q_cdc_ann (old-snapshot centroids, new
    corpus), then `VectorIndex.reindex` retrains the routing table over
    the CURRENT persisted corpus and swaps every artifact atomically —
    the answer to the aging q_ann_cell_stats measures.  Retraining is
    deterministic (lowest-id seeds, fixed Lloyd rounds), so the
    reindexed structure equals a fresh build on the new snapshot, and
    the oracle trains its k-means on exactly that: the drift the frozen
    path accepted is now gone from the served ranks."""
    import os

    from vcf_pg_loader_spark.operators.ivm import zset_snapshot_delta
    from vcf_pg_loader_spark.sources.vector_index import VectorIndex

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    old, new = _cdc_vec_snapshots(emb)
    idx = VectorIndex(
        spark, _served_root(sf_dir, "ann_reindex", "embeddings.parquet")
    )
    flag = os.path.join(idx.root, "_reindexed")
    if not os.path.exists(flag):
        idx.build(
            old,
            k_centroids=IVF_CENTROIDS,
            n_iter=IVF_ITER,
            kernel="exact",
            pq=False,
        )
        idx.apply_zset(zset_snapshot_delta(old, new, "vec_id"))
        idx.reindex(n_iter=IVF_ITER)
        with open(flag, "w") as fh:
            fh.write("done")
    queries = new.filter(F.col("vec_id") < N_QUERY_VECS)
    return idx.search_flat(queries, TOP_K, IVF_NPROBE)


Q_ANN_REINDEX_SQL = _ivf_flat_topk_sql(
    *_ivf_frozen_assignment_ctes(
        CDC_VEC_NEW_RETAIN_SQL,
        CDC_VEC_NEW_RETAIN_SQL,
        assign_src=CDC_VEC_NEW_SRC,
        train_src=CDC_VEC_NEW_SRC,
    )
)


def q_cdc_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-decision after a snapshot sync: the semantic
    cluster store bootstraps on the OLD snapshot — fitting its FROZEN
    routing centroids there — then one snapshot-diff batch retracts
    removed vectors, routes added ones, and re-routes the re-embedded
    (changed) ones; incident semantic-dup edges drop and CC re-runs
    over the pair table only.  Oracle: frozen-centroid SemDeDup over
    exactly the new snapshot (centroids trained on the old one)."""
    from vcf_pg_loader_spark.streaming.dedup_ingest import SemDeDupIngestSink

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    old, new = _cdc_vec_snapshots(emb)
    root = _served_root(sf_dir, "cdc_semdedup", "embeddings.parquet")
    sink = SemDeDupIngestSink(
        f"{root}/state",
        k_centroids=IVF_CENTROIDS,
        n_iter=IVF_ITER,
        tau=SEMDEDUP_TAU,
    )
    _replay(sink, _cdc_batches(old, new, "vec_id"))
    return sink.keep(spark).withColumnRenamed(sink.id_col, "vec_id")


def _cdc_semdedup_sql() -> str:
    ctes, assign, _prev = _ivf_frozen_assignment_ctes(
        CDC_VEC_TRAIN_SQL, CDC_VEC_NEW_RETAIN_SQL, assign_src=CDC_VEC_NEW_SRC
    )
    ctes.append(
        f"""pairs AS (
  SELECT d1, d2 FROM (
    SELECT a.vid AS d1, b.vid AS d2,
           {S.sql_cosine('a.vec', 'b.vec')} AS cos_sim
    FROM {assign} a JOIN {assign} b
      ON a.cid = b.cid AND a.vid < b.vid
  ) WHERE cos_sim >= {SEMDEDUP_TAU})"""
    )
    ctes.append(
        "und AS (SELECT d1 AS s, d2 AS t FROM pairs"
        " UNION SELECT d2, d1 FROM pairs)"
    )
    ctes.append("nodes AS (SELECT DISTINCT s AS node FROM und)")
    ctes.append(
        """walk(node, reach) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT w.node, u.t FROM walk w JOIN und u ON u.s = w.reach)"""
    )
    ctes.append(
        "cc AS (SELECT node, MIN(reach) AS comp FROM walk GROUP BY node)"
    )
    body = ",\n".join(ctes)
    return f"""
WITH RECURSIVE {body}
SELECT vid AS vec_id FROM va
WHERE vid NOT IN (SELECT node FROM cc WHERE node <> comp)
"""


Q_CDC_SEMDEDUP_SQL = _cdc_semdedup_sql()


def q_decontam_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination pairs served from the RETRACTION-
    maintained decontamination index: arriving docs shingle once and
    probe the persisted posting table; a takedown anti-joins its
    postings and the pairs it induced on either side.  Because each
    pair's shared-shingle count is recomputed in full whenever either
    endpoint arrives (one join side is always the complete other-split
    posting set), the min_shared threshold holds at maintenance time
    and only contaminated pairs persist.  Oracle: the full shingle
    overlap join over the retained rows."""
    from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

    docs = load_table(spark, sf_dir, "documents")
    root = _served_root(sf_dir, "zdel_decontam", "documents.parquet")
    sink = DecontamIndexSink(f"{root}/state")
    _replay(sink, _zdel_batches(docs.select("doc_id", "text")))
    return sink.contamination(spark)


Q_DECONTAM_RETRACT_SQL = _over_retained(Q_DECONTAMINATE_SQL)


def q_cdc_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination pairs after a snapshot sync: the maintained
    decontamination index bootstraps on the OLD snapshot (suffix-
    modified texts shingled as they were), then ONE zset_snapshot_delta
    batch moves it to the NEW snapshot — removed docs' postings and
    pairs retract on either split, changed docs re-shingle and recount
    exactly their own pairs (the split assignment is a pure doc_id
    hash, so it is snapshot-stable).  Oracle: the full overlap join
    over exactly the new snapshot."""
    from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old, new = _cdc_snapshots(docs)
    root = _served_root(sf_dir, "cdc_decontam", "documents.parquet")
    sink = DecontamIndexSink(f"{root}/state")
    _replay(sink, _cdc_batches(old, new, "doc_id"))
    return sink.contamination(spark)


Q_CDC_DECONTAM_SQL = _over_retained(Q_DECONTAMINATE_SQL, CDC_NEW_RETAIN_SQL)


def q_cdc_decontam_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination CDC at the EVAL boundary (round-10 stretch):
    between snapshots the TRAIN side is identical and only the eval
    membership changes — a new benchmark arrives (eval-split docs with
    doc_id % 4 == 1 were absent from the old snapshot) and a retired
    one leaves (doc_id % 4 == 2 eval docs drop out).  The snapshot
    delta is therefore pure eval-split rows, exercising exactly the
    paths the posting-both-splits design exists for: arriving evals
    probe the full RETAINED train posting table (tr_old x ev_new), and
    departing evals retract their pairs without any train doc
    re-shingling.  Oracle: the full overlap join over exactly the new
    snapshot."""
    from vcf_pg_loader_spark.operators import sampling as SP
    from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ds = SP.assign_split(docs, "doc_id", SPLIT_WEIGHTS)
    is_train = F.col("split") == "train"
    old = ds.filter(is_train | (F.col("doc_id") % 4 != 1)).select(
        "doc_id", "text"
    )
    new = ds.filter(is_train | (F.col("doc_id") % 4 != 2)).select(
        "doc_id", "text"
    )
    root = _served_root(sf_dir, "cdc_decontam_eval", "documents.parquet")
    sink = DecontamIndexSink(f"{root}/state")
    _replay(sink, _cdc_batches(old, new, "doc_id"))
    return sink.contamination(spark)


def _cdc_decontam_eval_sql() -> str:
    from vcf_pg_loader_spark.operators import sampling as SP

    case = SP.sql_assign_split("doc_id", SPLIT_WEIGHTS)
    return _over_retained(
        Q_DECONTAMINATE_SQL,
        f"({case}) = 'train' OR doc_id % 4 <> 2",
    )


Q_CDC_DECONTAM_EVAL_SQL = _cdc_decontam_eval_sql()


# --------------------------------------------------------------------------
# dataset card: the one-row-per-source summary a corpus release ships —
# volume, token mass, quality keep-rate, exact-dup rate, and the mean
# LM negative log-likelihood, composed from the already-oracled gates.
# Every aggregate folds through decimals (queries/_util.py) so the card
# is bit-reproducible.
# --------------------------------------------------------------------------
def dataset_card_aggregate(per_doc: DataFrame) -> DataFrame:
    """The card's per-source aggregation over a (doc_id, source,
    n_tokens, keep, nll, _dup) frame — shared by the one-shot
    q_dataset_card and the retraction-maintained DatasetCardSink so
    both serve the exact decimal-folded shapes the oracle computes."""
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("bigint")).alias("total_tokens"),
        F.round(
            F.sum(F.col("keep").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("quality_keep_rate"),
        F.round(
            F.sum(
                F.coalesce(F.col("_dup"), F.lit(0)).cast("decimal(18,6)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("exact_dup_rate"),
        F.round(
            F.sum(F.col("nll").cast("decimal(24,12)")).cast("double")
            / F.count(F.col("nll")),
            6,
        ).alias("mean_nll"),
    )


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.lm import doc_nll

    docs = load_table(spark, sf_dir, "documents")
    qual = quality_verdict(docs).select("doc_id", "keep")
    nll = doc_nll(docs).select("doc_id", "nll")
    fp = T.fingerprint(docs.select("doc_id", "text")).select(
        "doc_id", "doc_fp"
    )
    canon = fp.groupBy("doc_fp").agg(F.min("doc_id").alias("doc_id"))
    exact_losers = fp.join(canon.select("doc_id"), "doc_id", "left_anti")

    per_doc = (
        docs.select(
            "doc_id",
            "source",
            F.size(T.tokens(F.col("text"))).alias("n_tokens"),
        )
        .join(qual, "doc_id")
        .join(nll, "doc_id", "left")
        .join(
            exact_losers.select("doc_id").withColumn("_dup", F.lit(1)),
            "doc_id",
            "left",
        )
    )
    return dataset_card_aggregate(per_doc)


_DATASET_CARD_TEMPLATE = f"""
WITH q AS ({Q_QUALITY_FILTER_SQL}),
nll AS ({{NLL}}),
fp AS (SELECT doc_id, md5(regexp_replace(trim(text), ' +', ' ', 'g'))
              AS doc_fp
       FROM documents),
canon AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY doc_fp),
per_doc AS (
  SELECT d.doc_id, d.source,
         len(string_split(d.text, ' ')) AS n_tokens,
         q.keep,
         n.nll,
         CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM canon)
              THEN 1 ELSE 0 END AS _dup
  FROM documents d
  JOIN q USING (doc_id)
  LEFT JOIN nll n USING (doc_id)
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CAST(CAST(keep AS INT) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS quality_keep_rate,
       ROUND(CAST(SUM(CAST(_dup AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS exact_dup_rate,
       ROUND(CAST(SUM(CAST(nll AS DECIMAL(24,12))) AS DOUBLE)
             / COUNT(nll), 6) AS mean_nll
FROM per_doc
GROUP BY 1
"""


def _dataset_card_sql() -> str:
    from vcf_pg_loader_spark.operators.lm import sql_doc_nll

    return _DATASET_CARD_TEMPLATE.replace("{NLL}", sql_doc_nll("documents"))


Q_DATASET_CARD_SQL = _dataset_card_sql()


def q_dataset_card_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release card served from RETRACTION-MAINTAINED per-doc state
    (streaming/retract.py DatasetCardSink): quality verdicts, token
    counts, frozen-LM scores, and content fingerprints are each
    computed once at a doc's arrival and maintained by keyed anti-join/
    union under Z-set batches; the card itself re-derives with the
    min-id canon election plus ONE aggregation — the release-report
    path is incremental like the funnel.  The LM scores under the model
    frozen at bootstrap (batch 1 = even doc_ids), which the oracle
    mirrors by training its nll CTE on that subset."""
    from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

    docs = load_table(spark, sf_dir, "documents")
    root = _served_root(sf_dir, "zdel_card", "documents.parquet")
    sink = DatasetCardSink(f"{root}/state")
    _replay(sink, _zdel_batches(docs.select("doc_id", "text", "source")))
    return sink.card(spark)


def _dataset_card_retract_sql() -> str:
    from vcf_pg_loader_spark.operators.lm import sql_doc_nll_frozen

    retained = f"(SELECT * FROM documents WHERE {ZDEL_RETAIN_SQL})"
    boot = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"
    return _over_retained(_DATASET_CARD_TEMPLATE).replace(
        "{NLL}", sql_doc_nll_frozen(retained, boot)
    )


Q_DATASET_CARD_RETRACT_SQL = _dataset_card_retract_sql()


def q_cdc_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release card after a snapshot sync — the last maintained
    structure joins the snapshot-CDC family: DatasetCardSink bootstraps
    on the OLD snapshot (training its frozen LM there, legacy-revision
    texts included), then ONE zset_snapshot_delta batch moves the
    per-doc state to the NEW snapshot; only the delta's docs re-run the
    per-doc stages (quality, tokens, frozen-LM nll, fingerprint).
    Oracle: the whole card recomputed over exactly the new snapshot
    with the nll CTE trained on the old one."""
    from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    old, new = _cdc_snapshots(docs)
    root = _served_root(sf_dir, "cdc_card", "documents.parquet")
    sink = DatasetCardSink(f"{root}/state")
    _replay(sink, _cdc_batches(old, new, "doc_id"))
    return sink.card(spark)


def _cdc_card_sql() -> str:
    from vcf_pg_loader_spark.operators.lm import sql_doc_nll_frozen

    retained = f"(SELECT * FROM documents WHERE {CDC_NEW_RETAIN_SQL})"
    return _over_retained(_DATASET_CARD_TEMPLATE, CDC_NEW_RETAIN_SQL).replace(
        "{NLL}", sql_doc_nll_frozen(retained, CDC_OLD_SRC_SQL)
    )


Q_CDC_CARD_SQL = _cdc_card_sql()


def q_cdc_card_source_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-CDC card where some rows' SOURCE moved while their text
    did not (round-10 verdict item 2: an attribute change must update,
    not no-op — the reference's ON CONFLICT DO UPDATE semantics,
    gwas/loader.py:467-491).  The OLD snapshot carries a 'legacy-'
    prefix on every (doc_id % 7 == 5) doc's source; the NEW snapshot
    has the true sources.  The sink bootstraps on the old snapshot and
    ONE zset_snapshot_delta batch — diffed on (text, source), not text
    alone — moves it: the source-only movers' ±1 tuples rebuild their
    stats rows under the new source, so the card's per-source tallies
    follow the snapshot.  Oracle: the card recomputed over exactly the
    new snapshot (true sources) with the nll CTE trained on the old
    one — if the delta dropped source from the comparison, the stale
    'legacy-*' rows would survive in the Spark card and hash-mismatch.
    Texts change per _cdc_snapshots too, so both mover kinds coexist."""
    from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    old, new = _cdc_snapshots(docs)
    old = old.withColumn(
        "source",
        F.when(
            F.col("doc_id") % 7 == 5,
            F.concat(F.lit("legacy-"), F.col("source")),
        ).otherwise(F.col("source")),
    )
    root = _served_root(sf_dir, "cdc_card_srcmove", "documents.parquet")
    sink = DatasetCardSink(f"{root}/state")
    # the delta compares every non-id column: text AND source
    _replay(sink, _cdc_batches(old, new, "doc_id"))
    return sink.card(spark)


# same oracle shape as q_cdc_card: the moved sources exist only in the
# OLD snapshot, which the SQL touches solely as the LM training set
# (text-only), so the card over the NEW snapshot is textually the same
# query — the Spark side is what must prove it converged to it
Q_CDC_CARD_SOURCE_MOVE_SQL = Q_CDC_CARD_SQL


# --------------------------------------------------------------------------
# training-shard layout (operators/shards.py): the corpus's load-ready
# form — stable hash sharding, deterministic within-shard shuffle order,
# concat-and-cut packing into SEQ_LEN-token sequences, and a per-shard
# integrity manifest (order-independent bit_xor content fingerprint).
# One shuffle (the per-shard packing window); everything else is narrow.
# --------------------------------------------------------------------------
def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    return SHD.shard_manifest(SHD.shard_layout(docs))


def _training_shards_sql() -> str:
    from vcf_pg_loader_spark.operators.shards import sql_shard_manifest

    return sql_shard_manifest()


Q_TRAINING_SHARDS_SQL = _training_shards_sql()

# tokenizer-space packing (round-11 verdict item 3): the layout's
# seq_len cuts count BPE tokens under a merge table learned from the
# corpus itself, not whitespace words
SHARD_BPE_MERGES = 4


def q_training_shards_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest with per-doc lengths in TOKENIZER space: learn
    SHARD_BPE_MERGES merges (bpe_train, the `train-vocab` trainer:
    at this table size its in-memory path, pinned merge-identical to
    its batched fallback and to the Python reference in
    tests/test_bpe.py), count each document's BPE tokens via the Arrow encoder, and pack
    through the same shard_layout_from_lengths seam the maintenance
    sink uses.  The DuckDB twin re-derives the identical merges with
    chained argmax CTEs, so the oracle covers learner + encoder +
    packing end-to-end."""
    from vcf_pg_loader_spark.operators import bpe as B
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = B.bpe_train(B.word_counts(docs), SHARD_BPE_MERGES)
    lengths = B.bpe_token_lengths(docs, merges)
    base = SHD.shard_base(docs, lengths=lengths)
    return SHD.shard_manifest(SHD.shard_layout_from_lengths(base))


def _sql_bpe_doc_lengths(k: int) -> str:
    """(doc_id, n_tokens) in BPE space after k learned merges — the
    lengths_sql seam for sql_shard_layout.  One fold CTE per merge
    round, mirroring operators/bpe.py exactly (argmax by count desc
    then lexicographic, min count 2, greedy left-to-right apply)."""
    ctes = [
        """wc AS (
  SELECT w AS word, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) > 0 GROUP BY w
)""",
        """s0 AS (
  SELECT word,
         list_aggregate(list_append(string_split(word, ''), '</w>'),
                        'string_agg', chr(31)) AS s, n
  FROM wc
)""",
    ]
    for i in range(1, k + 1):
        prev = f"s{i - 1}"
        ctes.append(
            f"""p{i} AS (
  SELECT ss[CAST(i AS INT)] AS l, ss[CAST(i AS INT) + 1] AS r, SUM(n) AS c
  FROM (SELECT string_split(s, chr(31)) AS ss, n FROM {prev}),
       UNNEST(range(1, len(ss))) AS t(i)
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""m{i} AS (
  SELECT l, r FROM p{i} WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1
)"""
        )
        ctes.append(
            f"""s{i} AS (
  SELECT word, {_BPE_FOLD.format(src=f'{prev}.s', m=f'm{i}')} AS s, n
  FROM {prev}, m{i}
)"""
        )
    ctes.append(
        f"""wl AS (
  SELECT word, CAST(len(string_split(s, chr(31))) AS BIGINT) AS wt
  FROM s{k}
)"""
    )
    ctes.append(
        """dw AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) > 0
)"""
    )
    ctes.append(
        """dl AS (
  SELECT dw.doc_id, SUM(wl.wt) AS n_tokens
  FROM dw JOIN wl ON dw.w = wl.word GROUP BY dw.doc_id
)"""
    )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT d.doc_id, CAST(COALESCE(dl.n_tokens, 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN dl ON dl.doc_id = d.doc_id"""


def _training_shards_bpe_sql() -> str:
    from vcf_pg_loader_spark.operators.shards import sql_shard_manifest

    return sql_shard_manifest(
        lengths_sql=_sql_bpe_doc_lengths(SHARD_BPE_MERGES)
    )


def q_train_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The terminal artifact of the whole pipeline, value-pinned: the
    ACTUAL seq_len-token training sequences in BPE space.  Learn the
    merges, encode every document once (Arrow), pack the layout in
    token space, expand the span recipe (shard_sequences), and
    assemble each sequence's token stream (operators/shards.py
    sequence_stream) — emitted as (shard, seq_id, n_tokens, tokens_fp)
    where tokens_fp is the md5 of the sequence's tokens, so the DuckDB
    twin must reproduce every training sequence byte-for-byte: merges,
    encoder, shard assignment, shuffle order, offsets, and slicing all
    have to agree at once."""
    from vcf_pg_loader_spark.operators import bpe as B
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = B.bpe_train(B.word_counts(docs), SHARD_BPE_MERGES)
    # enc feeds TWO sequential consumers (the lengths->layout->spans
    # chain, then the stream-assembly join): persist it or the Arrow
    # encode — the Python-boundary pass, the dominant cost here — runs
    # twice (optimization round 15, guide §4.1/§5).  The consumers are
    # already serialized by the packing window, so unlike the lazy
    # multi-branch frames (doc_nll, DSIR) the cache barrier costs no
    # scheduler overlap.  Caller/bench owns the cache lifetime.
    from pyspark.storagelevel import StorageLevel

    enc = B.bpe_encode_doc_arrow(docs, merges).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    lengths = enc.select(
        "doc_id", F.size("pieces").cast("bigint").alias("n_tokens")
    )
    layout = SHD.shard_layout_from_lengths(
        SHD.shard_base(docs, lengths=lengths)
    )
    spans = SHD.shard_sequences(layout)
    seqs = SHD.sequence_stream(spans, enc)
    return seqs.select(
        "shard",
        "seq_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws("\x1f", F.col("tokens"))).alias("tokens_fp"),
    )


def _train_sequences_sql() -> str:
    """DuckDB twin: the encode CTE chain (word -> chr(31)-joined
    pieces after the same merges), per-doc streams, BPE-space spans,
    and list_slice per span reassembled with an ordered string_agg."""
    from vcf_pg_loader_spark.operators.shards import sql_shard_sequences

    enc = _bpe_encode_sql()
    # reuse everything up to the per-doc flatten (CTE `flat` holds the
    # chr(31)-joined stream per doc)
    head = enc[: enc.rindex("SELECT d.doc_id")].rstrip()
    spans = sql_shard_sequences(
        lengths_sql=_sql_bpe_doc_lengths(SHARD_BPE_MERGES)
    )
    return (
        head
        + f""",
doc_stream AS (
  SELECT d.doc_id,
         string_split(COALESCE(flat.stream, ''), chr(31)) AS toks
  FROM documents d LEFT JOIN flat ON flat.doc_id = d.doc_id
), spans AS ({spans}),
parts AS (
  SELECT s.shard, s.seq_id, s.seq_off,
         CASE WHEN s.tok_len > 0
              THEN list_slice(ds.toks, CAST(s.tok_start + 1 AS INT),
                              CAST(s.tok_start + s.tok_len AS INT))
              ELSE [] END AS part
  FROM spans s JOIN doc_stream ds ON ds.doc_id = s.doc_id
)
SELECT CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(SUM(len(part)) AS BIGINT) AS n_tokens,
       md5(string_agg(array_to_string(part, chr(31)), chr(31)
                      ORDER BY seq_off)) AS tokens_fp
FROM parts GROUP BY shard, seq_id"""
    )


def q_train_sequence_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The id-space terminal pin (round-12 verdict item 2): the same
    training sequences as q_train_sequences, but every piece mapped
    through the artifact id assignment (operators/tokenids.py — pad,
    unk, sorted alphabet + END, then merge products in merge order)
    by the production Arrow path, emitted as (shard, seq_id, n_tokens,
    ids_fp) with ids_fp the md5 of the comma-joined id stream.  The
    DuckDB twin re-derives the vocabulary relationally (alphabet from
    the unit table, merge products from the merge CTEs, first-wins on
    collisions) and must agree on every id of every sequence — so the
    alphabet sort, the id offsets, the unk fallback, and the sequence
    assembly are all pinned at once."""
    from vcf_pg_loader_spark.operators import bpe as B
    from vcf_pg_loader_spark.operators import shards as SHD
    from vcf_pg_loader_spark.operators.tokenids import (
        alphabet_from_counts,
        ids_col_arrow,
    )

    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    wc = B.word_counts(docs)
    merges, _ = B.bpe_train(wc, SHARD_BPE_MERGES)
    alphabet = alphabet_from_counts(wc, "words")
    # persist: two sequential consumers of the Arrow encode — see
    # q_train_sequences (optimization round 15, guide §4.1/§5)
    enc = B.bpe_encode_doc_arrow(docs, merges).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    lengths = enc.select(
        "doc_id", F.size("pieces").cast("bigint").alias("n_tokens")
    )
    layout = SHD.shard_layout_from_lengths(
        SHD.shard_base(docs, lengths=lengths)
    )
    spans = SHD.shard_sequences(layout)
    seqs = SHD.sequence_stream(spans, enc)
    seqs = ids_col_arrow(seqs, alphabet, merges)
    return seqs.select(
        "shard",
        "seq_id",
        F.size("ids").cast("bigint").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                ",", F.transform(F.col("ids"), lambda x: x.cast("string"))
            )
        ).alias("ids_fp"),
    )


def _train_sequence_ids_sql() -> str:
    """DuckDB twin: the q_train_sequences CTE chain up to `parts`,
    then token-level unnest -> relational vocab join -> ordered id
    stream md5.  The vocab CTE is the id assignment spelled in SQL:
    id 0/1 specials, alphabet rows ranked by character, END after
    them, then one row per merge CTE at its merge-order offset;
    first-wins collisions collapse with MIN(id)."""
    base = _train_sequences_sql()
    head = base[: base.rindex("SELECT CAST(shard AS BIGINT)")].rstrip()
    k = SHARD_BPE_MERGES
    merge_rows = "\n    UNION ALL ".join(
        f"SELECT l || r AS piece, "
        f"3 + (SELECT COUNT(*) FROM alpha) + {i - 1} AS id FROM m{i}"
        for i in range(1, k + 1)
    )
    return (
        head
        + f""",
alpha AS (
  SELECT DISTINCT unnest(string_split(word, '')) AS ch FROM wc
),
vocab_raw AS (
  SELECT '<pad>' AS piece, 0 AS id
  UNION ALL SELECT '<unk>', 1
  UNION ALL SELECT ch, 1 + row_number() OVER (ORDER BY ch) FROM alpha
  UNION ALL SELECT '</w>', 2 + (SELECT COUNT(*) FROM alpha)
  UNION ALL {merge_rows}
),
vocab AS (
  SELECT piece, CAST(MIN(id) AS INT) AS id FROM vocab_raw GROUP BY piece
),
seq_toks AS (
  SELECT shard, seq_id, seq_off, part[CAST(i AS INT)] AS tok, i
  FROM parts, UNNEST(range(1, len(part) + 1)) AS t(i)
),
seq_ids AS (
  SELECT st.shard, st.seq_id, st.seq_off, st.i,
         COALESCE(v.id, 1) AS id
  FROM seq_toks st LEFT JOIN vocab v ON v.piece = st.tok
)
SELECT CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY seq_off, i))
         AS ids_fp
FROM seq_ids GROUP BY shard, seq_id"""
    )


EOS_TOKEN = "</s>"


def q_train_sequences_eos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EOS-aware packing value-pinned end to end: every document
    budgets ONE separator token (shard_base doc_sep=1 — zero-content
    documents still emit theirs, so nothing is skipped), the encoder's
    pieces get the EOS appended AFTER the Arrow pass, and the assembled
    sequences are md5-pinned — boundary cuts that land ON a separator
    must slice it into the right sequence for the twin to match.  Same
    terminal-artifact shape as q_train_sequences; together they pin
    that doc_sep moves every offset exactly one token per preceding
    document and nothing else."""
    from vcf_pg_loader_spark.operators import bpe as B
    from vcf_pg_loader_spark.operators import shards as SHD

    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = B.bpe_train(B.word_counts(docs), SHARD_BPE_MERGES)
    # persist: two sequential consumers of the Arrow encode — see
    # q_train_sequences (optimization round 15, guide §4.1/§5)
    enc = B.bpe_encode_doc_arrow(docs, merges).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    lengths = enc.select(
        "doc_id", F.size("pieces").cast("bigint").alias("n_tokens")
    )
    base = SHD.shard_base(docs, lengths=lengths, doc_sep=1)
    spans = SHD.shard_sequences(SHD.shard_layout_from_lengths(base))
    enc_eos = enc.select(
        "doc_id",
        F.concat(F.col("pieces"), F.array(F.lit(EOS_TOKEN))).alias(
            "pieces"
        ),
    )
    seqs = SHD.sequence_stream(spans, enc_eos)
    return seqs.select(
        "shard",
        "seq_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws("\x1f", F.col("tokens"))).alias("tokens_fp"),
    )


def _train_sequences_eos_sql() -> str:
    """_train_sequences_sql with doc_sep=1 offsets and the EOS appended
    to each document's token stream (a NULL stream — no words — becomes
    exactly [EOS])."""
    from vcf_pg_loader_spark.operators.shards import sql_shard_sequences

    enc = _bpe_encode_sql()
    head = enc[: enc.rindex("SELECT d.doc_id")].rstrip()
    spans = sql_shard_sequences(
        lengths_sql=_sql_bpe_doc_lengths(SHARD_BPE_MERGES), doc_sep=1
    )
    return (
        head
        + f""",
doc_stream AS (
  SELECT d.doc_id,
         CASE WHEN flat.stream IS NULL THEN ['{EOS_TOKEN}']
              ELSE list_append(string_split(flat.stream, chr(31)),
                               '{EOS_TOKEN}') END AS toks
  FROM documents d LEFT JOIN flat ON flat.doc_id = d.doc_id
), spans AS ({spans}),
parts AS (
  SELECT s.shard, s.seq_id, s.seq_off,
         CASE WHEN s.tok_len > 0
              THEN list_slice(ds.toks, CAST(s.tok_start + 1 AS INT),
                              CAST(s.tok_start + s.tok_len AS INT))
              ELSE [] END AS part
  FROM spans s JOIN doc_stream ds ON ds.doc_id = s.doc_id
)
SELECT CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(SUM(len(part)) AS BIGINT) AS n_tokens,
       md5(string_agg(array_to_string(part, chr(31)), chr(31)
                      ORDER BY seq_off)) AS tokens_fp
FROM parts GROUP BY shard, seq_id"""
    )


def q_seq_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-uniqueness monitor over the ACTUAL training sequences:
    per shard, how many packed sequences are byte-identical duplicates
    of another (post-packing dedup's unit of account — duplicated
    documents only yield duplicated SEQUENCES when boundary alignment
    cooperates, so this is a distinct signal from document-level
    dup_rate).  Same BPE pipeline as q_train_sequences, then one
    n_shards-row aggregate over the sequence fingerprints."""
    from vcf_pg_loader_spark.operators import bpe as B
    from vcf_pg_loader_spark.operators import shards as SHD

    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = B.bpe_train(B.word_counts(docs), SHARD_BPE_MERGES)
    # persist: two sequential consumers of the Arrow encode — see
    # q_train_sequences (optimization round 15, guide §4.1/§5)
    enc = B.bpe_encode_doc_arrow(docs, merges).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    lengths = enc.select(
        "doc_id", F.size("pieces").cast("bigint").alias("n_tokens")
    )
    layout = SHD.shard_layout_from_lengths(
        SHD.shard_base(docs, lengths=lengths)
    )
    seqs = SHD.sequence_stream(SHD.shard_sequences(layout), enc)
    fp = F.md5(F.concat_ws("\x1f", F.col("tokens")))
    per = seqs.select("shard", fp.alias("fp"))
    return per.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("dup_seqs"),
    )


def _seq_unique_sql() -> str:
    return f"""
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_seqs,
       CAST(COUNT(DISTINCT tokens_fp) AS BIGINT) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT tokens_fp) AS BIGINT) AS dup_seqs
FROM ({_train_sequences_sql()}) AS _s
GROUP BY shard
"""


MAX_DOC_TOKENS = 40  # the truncation cap q_train_sequences_trunc pins


def q_train_sequences_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing under a document-truncation cap, md5-pinned: every
    document budgets at most MAX_DOC_TOKENS tokens (the long-doc-skew
    guard — at 100 TB one pathological document must not dominate its
    shard), offsets move accordingly, and the assembled sequences
    carry exactly the first cap tokens of each document.  Whitespace
    space keeps the DuckDB twin a plain list_slice, so the oracle
    isolates the truncation semantics from the tokenizer."""
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    lengths = docs.select(
        "doc_id",
        F.least(F.size(toks), F.lit(MAX_DOC_TOKENS))
        .cast("bigint")
        .alias("n_tokens"),
    )
    base = SHD.shard_base(docs, lengths=lengths)
    spans = SHD.shard_sequences(SHD.shard_layout_from_lengths(base))
    pieces = docs.select(
        "doc_id",
        F.slice(toks, 1, MAX_DOC_TOKENS).alias("pieces"),
    )
    seqs = SHD.sequence_stream(spans, pieces)
    return seqs.select(
        "shard",
        "seq_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws("\x1f", F.col("tokens"))).alias("tokens_fp"),
    )


def _train_sequences_trunc_sql() -> str:
    from vcf_pg_loader_spark.operators.shards import sql_shard_sequences

    lengths = (
        "SELECT doc_id, CAST(LEAST(len(string_split(text, ' ')),"
        f" {MAX_DOC_TOKENS}) AS BIGINT) AS n_tokens FROM documents"
    )
    spans = sql_shard_sequences(lengths_sql=lengths)
    return f"""
WITH ds AS (
  SELECT doc_id,
         list_slice(string_split(text, ' '), 1, {MAX_DOC_TOKENS})
           AS toks
  FROM documents
), spans AS ({spans}),
parts AS (
  SELECT s.shard, s.seq_id, s.seq_off,
         list_slice(ds.toks, CAST(s.tok_start + 1 AS INT),
                    CAST(s.tok_start + s.tok_len AS INT)) AS part
  FROM spans s JOIN ds USING (doc_id)
)
SELECT CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(SUM(len(part)) AS BIGINT) AS n_tokens,
       md5(string_agg(array_to_string(part, chr(31)), chr(31)
                      ORDER BY seq_off)) AS tokens_fp
FROM parts GROUP BY shard, seq_id
"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION encoder oracled end-to-end: learn
    SHARD_BPE_MERGES merges, encode every document with the whole-doc
    Arrow encoder (one row per doc, pieces in document order), and
    emit (doc_id, n_tokens, pieces_fp) where pieces_fp is the md5 of
    the pieces joined on a unit separator — so the DuckDB twin, which
    re-derives the same merges and replays the greedy fold per word,
    must match the token STREAM byte-for-byte, not just its length.
    Until now the encoder was pytest-pinned only; this puts it under
    the value-hash gate."""
    from vcf_pg_loader_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = B.bpe_train(B.word_counts(docs), SHARD_BPE_MERGES)
    enc = B.bpe_encode_doc_arrow(docs, merges)
    return enc.select(
        "doc_id",
        F.size("pieces").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws("\x1f", F.col("pieces"))).alias("pieces_fp"),
    )


def _bpe_encode_sql() -> str:
    """DuckDB twin: word -> encoded symbol string (chr(31)-joined)
    after the same k merges, flattened per document in word order."""
    lengths = _sql_bpe_doc_lengths(SHARD_BPE_MERGES)
    # reuse the merge-derivation CTE chain by cutting the lengths query
    # at its final SELECT and adding the per-doc flatten instead
    head = lengths[: lengths.rindex("SELECT d.doc_id")].rstrip()
    return (
        head
        + ",\n"
        + f"""dseq AS (
  SELECT doc_id, ws[CAST(i AS INT)] AS w, i
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       UNNEST(range(1, len(ws) + 1)) AS t(i)
), dwp AS (
  SELECT doc_id, w, i FROM dseq WHERE len(w) > 0
), flat AS (
  SELECT dwp.doc_id,
         string_agg(s{SHARD_BPE_MERGES}.s, chr(31) ORDER BY dwp.i)
           AS stream,
         SUM(len(string_split(s{SHARD_BPE_MERGES}.s, chr(31)))) AS nt
  FROM dwp JOIN s{SHARD_BPE_MERGES}
    ON dwp.w = s{SHARD_BPE_MERGES}.word
  GROUP BY dwp.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(flat.nt, 0) AS BIGINT) AS n_tokens,
       md5(COALESCE(flat.stream, '')) AS pieces_fp
FROM documents d LEFT JOIN flat ON flat.doc_id = d.doc_id"""
    )


# chars-mode pins (round-12 verdict item 1): bounded-chunk
# pre-segmentation, the no-space/CJK tokenizer path.  The fixture
# documents are whitespace English — the HARDER case for chars mode to
# get right, because chunks cross word boundaries and spaces are
# ordinary symbols; the DuckDB twin must agree on every chunk cut and
# every merge anyway.  CJK behavior itself (bounded encode on a
# space-free corpus, trainer-path pinning) is pytest-pinned in
# tests/test_bpe.py on a synthetic no-space fixture.
CHARS_BPE_MERGES = 4
CHARS_MAX = 12


def q_bpe_encode_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chars-mode production encoder oracled end-to-end: learn
    CHARS_BPE_MERGES merges over CHARS_MAX-character raw-text chunks
    (operators/bpe.py mode="chars" — no whitespace split, no END
    marker, concat(pieces) == text exactly), encode every document
    with the whole-doc Arrow encoder, and emit (doc_id, n_tokens,
    pieces_fp) with pieces_fp the md5 of the unit-separator-joined
    stream — so the twin must match the token stream byte-for-byte.

    Trainer (round 14, verdict item 5): bpe_train over the distributed
    (chunk, count) collapse; the chars chunk type table at sf0.1 is 57k
    types over 126k chunk occurrences, well inside its in-memory bound,
    where the in-memory path learns the identical merges at ~1/3 the
    wall of batched rounds (55% global duplication but only ~9.5%
    per-task encode-cache hits — duplication lives ACROSS tasks, so
    the count collapse is the right place to exploit it, not the
    per-task encode cache)."""
    from vcf_pg_loader_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = B.bpe_train(
        B.word_counts(docs, mode="chars", max_chars=CHARS_MAX),
        CHARS_BPE_MERGES,
        "chars",
    )
    enc = B.bpe_encode_doc_arrow(
        docs, merges, mode="chars", max_chars=CHARS_MAX
    )
    return enc.select(
        "doc_id",
        F.size("pieces").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws("\x1f", F.col("pieces"))).alias("pieces_fp"),
    )


def q_training_shards_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest packed in CHARS-mode tokenizer space: the
    no-space-corpus pipeline oracled end-to-end — chars-mode merges
    (bounded chunk pre-segmentation), chunk-space token lengths via
    the Arrow encoder, packing through the same
    shard_layout_from_lengths seam the maintenance sink uses with
    TrainingShardSink(token_mode="chars").  The DuckDB twin
    re-chunks, re-derives the merges, folds per chunk, and sums per
    document in SQL.  Trainer: bpe_train, as in q_bpe_encode_chars."""
    from vcf_pg_loader_spark.operators import bpe as B
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = B.bpe_train(
        B.word_counts(docs, mode="chars", max_chars=CHARS_MAX),
        CHARS_BPE_MERGES,
        "chars",
    )
    lengths = B.bpe_token_lengths(
        docs, merges, mode="chars", max_chars=CHARS_MAX
    )
    base = SHD.shard_base(docs, lengths=lengths)
    return SHD.shard_manifest(SHD.shard_layout_from_lengths(base))


def _sql_bpe_chars_doc_lengths(k: int, c: int) -> str:
    """(doc_id, n_tokens) in chars-mode BPE space — the lengths_sql
    seam for sql_shard_manifest, chunk-pre-segmented with no END
    marker (mirrors bpe_token_lengths(mode="chars"))."""
    ctes = [
        f"""ch AS (
  SELECT doc_id, substring(text, CAST((i - 1) * {c} AS INT) + 1, {c}) AS w, i
  FROM documents,
       UNNEST(range(1, CAST(ceil(len(text) / {c}.0) AS BIGINT) + 1)) t(i)
)""",
        """wc AS (
  SELECT w AS word, COUNT(*) AS n FROM ch GROUP BY w
)""",
        """s0 AS (
  SELECT word,
         list_aggregate(string_split(word, ''), 'string_agg', chr(31))
           AS s, n
  FROM wc
)""",
    ]
    for i in range(1, k + 1):
        prev = f"s{i - 1}"
        ctes.append(
            f"""p{i} AS (
  SELECT ss[CAST(i AS INT)] AS l, ss[CAST(i AS INT) + 1] AS r, SUM(n) AS c
  FROM (SELECT string_split(s, chr(31)) AS ss, n FROM {prev}),
       UNNEST(range(1, len(ss))) AS t(i)
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""m{i} AS (
  SELECT l, r FROM p{i} WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1
)"""
        )
        ctes.append(
            f"""s{i} AS (
  SELECT word, {_BPE_FOLD.format(src=f'{prev}.s', m=f'm{i}')} AS s, n
  FROM {prev}, m{i}
)"""
        )
    ctes.append(
        f"""wl AS (
  SELECT word, CAST(len(string_split(s, chr(31))) AS BIGINT) AS wt
  FROM s{k}
)"""
    )
    ctes.append(
        """dl AS (
  SELECT ch.doc_id, SUM(wl.wt) AS n_tokens
  FROM ch JOIN wl ON ch.w = wl.word GROUP BY ch.doc_id
)"""
    )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT d.doc_id, CAST(COALESCE(dl.n_tokens, 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN dl ON dl.doc_id = d.doc_id"""


def _training_shards_chars_sql() -> str:
    from vcf_pg_loader_spark.operators.shards import sql_shard_manifest

    return sql_shard_manifest(
        lengths_sql=_sql_bpe_chars_doc_lengths(CHARS_BPE_MERGES, CHARS_MAX)
    )


def q_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The id-assignment vocabulary itself, value-pinned: learn
    SHARD_BPE_MERGES merges, derive the alphabet from the corpus type
    table, and emit the dense (id, piece) table a dataloader pairs
    with the binary shards (operators/tokenids.py vocab_pieces —
    specials, sorted alphabet + END, merge products in order;
    first-wins collisions carry the earlier id).  Driver-mediated like
    the other model-parameter queries (the vocabulary IS the model),
    but the DuckDB twin rebuilds the identical table relationally, so
    the ordering and offsets are hash-pinned."""
    from vcf_pg_loader_spark.operators import bpe as B
    from vcf_pg_loader_spark.operators.tokenids import (
        alphabet_from_counts,
        piece_ids,
        vocab_pieces,
    )

    docs = load_table(spark, sf_dir, "documents")
    wc = B.word_counts(docs)
    merges, _ = B.bpe_train(wc, SHARD_BPE_MERGES)
    alphabet = alphabet_from_counts(wc, "words")
    pieces = vocab_pieces(alphabet, merges)
    ids = piece_ids(alphabet, merges)
    rows = [
        (i, p) for i, p in enumerate(pieces) if ids[p] == i
    ]  # canonical rows only — the table encode actually uses
    return spark.createDataFrame(rows, "id int, piece string")


def _vocab_ids_sql() -> str:
    k = SHARD_BPE_MERGES
    base = _sql_bpe_doc_lengths(k)
    head = base[: base.rindex("SELECT d.doc_id")].rstrip()
    merge_rows = "\n    UNION ALL ".join(
        f"SELECT l || r AS piece, "
        f"3 + (SELECT COUNT(*) FROM alpha) + {i - 1} AS id FROM m{i}"
        for i in range(1, k + 1)
    )
    return (
        head
        + f""",
alpha AS (
  SELECT DISTINCT unnest(string_split(word, '')) AS ch FROM wc
),
vocab_raw AS (
  SELECT '<pad>' AS piece, 0 AS id
  UNION ALL SELECT '<unk>', 1
  UNION ALL SELECT ch, 1 + row_number() OVER (ORDER BY ch) FROM alpha
  UNION ALL SELECT '</w>', 2 + (SELECT COUNT(*) FROM alpha)
  UNION ALL {merge_rows}
)
SELECT CAST(MIN(id) AS INT) AS id, piece
FROM vocab_raw GROUP BY piece"""
    )


def _bpe_encode_chars_sql() -> str:
    """DuckDB twin of q_bpe_encode_chars: chunk each document into
    CHARS_MAX-character slices, re-derive the same merges over chunk
    counts (no END marker), replay the greedy fold per chunk, flatten
    per document in chunk order."""
    k, c = CHARS_BPE_MERGES, CHARS_MAX
    ctes = [
        f"""ch AS (
  SELECT doc_id, substring(text, CAST((i - 1) * {c} AS INT) + 1, {c}) AS w, i
  FROM documents,
       UNNEST(range(1, CAST(ceil(len(text) / {c}.0) AS BIGINT) + 1)) t(i)
)""",
        """wc AS (
  SELECT w AS word, COUNT(*) AS n FROM ch GROUP BY w
)""",
        """s0 AS (
  SELECT word,
         list_aggregate(string_split(word, ''), 'string_agg', chr(31))
           AS s, n
  FROM wc
)""",
    ]
    for i in range(1, k + 1):
        prev = f"s{i - 1}"
        ctes.append(
            f"""p{i} AS (
  SELECT ss[CAST(i AS INT)] AS l, ss[CAST(i AS INT) + 1] AS r, SUM(n) AS c
  FROM (SELECT string_split(s, chr(31)) AS ss, n FROM {prev}),
       UNNEST(range(1, len(ss))) AS t(i)
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""m{i} AS (
  SELECT l, r FROM p{i} WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1
)"""
        )
        ctes.append(
            f"""s{i} AS (
  SELECT word, {_BPE_FOLD.format(src=f'{prev}.s', m=f'm{i}')} AS s, n
  FROM {prev}, m{i}
)"""
        )
    ctes.append(
        f"""flat AS (
  SELECT ch.doc_id,
         string_agg(s{k}.s, chr(31) ORDER BY ch.i) AS stream,
         SUM(len(string_split(s{k}.s, chr(31)))) AS nt
  FROM ch JOIN s{k} ON ch.w = s{k}.word
  GROUP BY ch.doc_id
)"""
    )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT d.doc_id,
       CAST(COALESCE(flat.nt, 0) AS BIGINT) AS n_tokens,
       md5(COALESCE(flat.stream, '')) AS pieces_fp
FROM documents d LEFT JOIN flat ON flat.doc_id = d.doc_id"""


# layout detail pinned on a quarter of the shards (bounded output; the
# packing semantics are identical in every shard)
SHARD_LAYOUT_MAX = 4


def q_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    return SHD.shard_layout(docs).filter(
        F.col("shard") < SHARD_LAYOUT_MAX
    )


def _shard_layout_sql() -> str:
    from vcf_pg_loader_spark.operators.shards import sql_shard_layout

    return (
        f"SELECT * FROM ({sql_shard_layout()})"
        f" WHERE shard < {SHARD_LAYOUT_MAX}"
    )


Q_SHARD_LAYOUT_SQL = _shard_layout_sql()


def q_shard_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout expanded to per-(sequence, document) spans — the
    exact recipe a loader executes to assemble each training sequence
    from document token ranges.  Narrow F.sequence/explode over the
    layout; same bounded-shard cut as q_shard_layout."""
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    return SHD.shard_sequences(SHD.shard_layout(docs)).filter(
        F.col("shard") < SHARD_LAYOUT_MAX
    )


def _shard_sequences_sql() -> str:
    from vcf_pg_loader_spark.operators.shards import sql_shard_sequences

    return (
        f"SELECT * FROM ({sql_shard_sequences()})"
        f" WHERE shard < {SHARD_LAYOUT_MAX}"
    )


Q_SHARD_SEQUENCES_SQL = _shard_sequences_sql()


def q_training_shards_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_training_shards' manifest served from the maintained
    TrainingShardSink state: the first call bootstraps the layout (one
    packing shuffle) and persists; every later call is a plain scan of
    the 16-row manifest table — the integrity record a trainer checks
    before each epoch, so it is read far more often than it is built.
    Same oracle as q_training_shards."""
    from vcf_pg_loader_spark.operators.ivm import MULT
    from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = _served_root(sf_dir, "shards_store", "documents.parquet")
    sink = TrainingShardSink(f"{root}/state")
    _replay(sink, [docs.withColumn(MULT, F.lit(1).cast("bigint"))])
    return sink.manifest(spark)


def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-occupancy monitor — the same role q_ann_cell_stats plays
    for the frozen IVF quantizer: hash sharding balances by the law of
    large numbers, and this is the number an operator watches to know
    it (occupancy = shard tokens / mean; a skewed corpus or a
    too-small n_shards shows up as max drifting from 1.0, the signal
    to rebuild under a larger count).  One aggregate over the 16-row
    manifest frame; the mean broadcasts."""
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    man = SHD.shard_manifest(SHD.shard_layout(docs))
    mean = man.agg(F.avg("n_tokens").alias("mean_tokens"))
    return man.crossJoin(F.broadcast(mean)).select(
        "shard",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("mean_tokens"), 6).alias(
            "occupancy"
        ),
    )


def _shard_balance_sql() -> str:
    from vcf_pg_loader_spark.operators.shards import sql_shard_manifest

    return f"""
WITH man AS ({sql_shard_manifest()})
SELECT shard, n_docs, n_tokens,
       ROUND(n_tokens / (SELECT AVG(n_tokens) FROM man), 6) AS occupancy
FROM man
"""


Q_SHARD_BALANCE_SQL = _shard_balance_sql()


def q_mixture_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mixture-to-shards composition: the temperature plan
    (q_mix_temperature's w_s ∝ sqrt(n_s) budgets) selects each
    source's quota by deterministic hash rank (row_number per source
    over an independent hash — reproducible on any partitioning, no
    pow() selection boundary), and the surviving mixture packs into
    the standard shard layout; output is its manifest.  The oracle
    checks the whole composition, plan → selection → packing →
    fingerprint.  Plan shape: per-source window (bounded partitions),
    broadcast of the per-source budget table, then the one packing
    shuffle."""
    from vcf_pg_loader_spark.functions.hashing import h60
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    scaled = counts.withColumn("_s", F.sqrt(F.col("n_docs")))
    tot = scaled.agg(
        F.sum(F.col("_s").cast("decimal(20,12)")).cast("double").alias("_tot")
    )
    plan = scaled.crossJoin(F.broadcast(tot)).select(
        "source",
        F.floor(F.lit(MIX_BUDGET) * (F.col("_s") / F.col("_tot")))
        .cast("bigint")
        .alias("planned_docs"),
    )
    w = Window.partitionBy("source").orderBy(
        h60(F.col("doc_id").cast("string"), "mix:"), F.col("doc_id")
    )
    sel = (
        docs.select("doc_id", "text", "source")
        .withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(plan), "source")
        .filter(F.col("_rn") <= F.col("planned_docs"))
        .select("doc_id", "text")
    )
    return SHD.shard_manifest(SHD.shard_layout(sel))


def _mixture_shards_sql() -> str:
    from vcf_pg_loader_spark.functions.hashing import sql_h60
    from vcf_pg_loader_spark.operators.shards import sql_shard_manifest

    mix_key = sql_h60("CAST(doc_id AS VARCHAR)", "mix:")
    sel = f"""(
WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
s AS (SELECT source, sqrt(n_docs) AS sc FROM c),
t AS (SELECT CAST(SUM(CAST(sc AS DECIMAL(20,12))) AS DOUBLE) AS tot FROM s),
plan AS (SELECT source,
                CAST(FLOOR({MIX_BUDGET} * (sc / tot)) AS BIGINT) AS pd
         FROM s, t),
ranked AS (SELECT doc_id, text, source,
                  ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY {mix_key}, doc_id) AS rn
           FROM documents)
SELECT r.doc_id, r.text FROM ranked r JOIN plan p USING (source)
WHERE r.rn <= p.pd
)"""
    return sql_shard_manifest(table=sel)


Q_MIXTURE_SHARDS_SQL = _mixture_shards_sql()


def q_cdc_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifests after a snapshot sync: TrainingShardSink
    bootstraps on the OLD snapshot, then ONE zset_snapshot_delta batch
    moves the layout to the NEW snapshot — only the touched shards
    repack (their surviving lengths come from the persisted layout, the
    window partitions by shard) and only their partition directories
    rewrite; untouched shards hard-link through the swap.  Oracle: the
    manifest recomputed over exactly the new snapshot — packing offsets
    ride the fingerprint, so a stale or mis-packed shard hash-fails."""
    from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old, new = _cdc_snapshots(docs)
    root = _served_root(sf_dir, "cdc_shards", "documents.parquet")
    sink = TrainingShardSink(f"{root}/state")
    _replay(sink, _cdc_batches(old, new, "doc_id"))
    return sink.manifest(spark)


def _cdc_shards_sql() -> str:
    from vcf_pg_loader_spark.operators.shards import sql_shard_manifest

    return sql_shard_manifest(
        table=(
            f"(SELECT doc_id, text FROM documents"
            f" WHERE {CDC_NEW_RETAIN_SQL})"
        )
    )


Q_CDC_SHARDS_SQL = _cdc_shards_sql()


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste monitor (operators/shards.py pack_efficiency):
    each shard's final sequence pads to seq_len, so capacity =
    n_seqs * seq_len and fill = n_tokens / capacity.  Concat-and-cut
    bounds waste at seq_len - 1 tokens PER SHARD, so fill drifting from
    ~1.0 is the operational signal that n_shards is oversized for the
    corpus (too many padded tails) — the number a training-cost review
    reads next to q_shard_balance's occupancy.  Pure projection over
    the n_shards-row manifest."""
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    man = SHD.shard_manifest(SHD.shard_layout(docs))
    return SHD.pack_efficiency(man)


def _pack_efficiency_sql() -> str:
    from vcf_pg_loader_spark.operators.shards import (
        SEQ_LEN,
        sql_shard_manifest,
    )

    return f"""
WITH man AS ({sql_shard_manifest()})
SELECT shard, n_docs, n_tokens, n_seqs,
       CAST(n_seqs * {SEQ_LEN} AS BIGINT) AS capacity,
       CAST(n_seqs * {SEQ_LEN} - n_tokens AS BIGINT) AS pad_tokens,
       ROUND(n_tokens / CAST(n_seqs * {SEQ_LEN} AS DOUBLE), 6)
         AS fill_ratio
FROM man
"""


Q_PACK_EFFICIENCY_SQL = _pack_efficiency_sql()


# length-curriculum packing: bucket by document length (0 = shortest),
# pack bucket-by-bucket within each shard, hash-shuffled inside a
# bucket — the Shortformer-style schedule, expressed purely through the
# layout's order-key seam (no new operator, no extra shuffle)
CURRICULUM_BUCKET_TOKENS = 32
CURRICULUM_MAX_BUCKET = 3


def q_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering through shard_base's order_col seam
    (operators/shards.py curriculum_okey): okey = bucket * 2^60 +
    h60(doc_id), so the packing window — unchanged — lays documents
    bucket-by-bucket within each shard.  Output pins the realized
    order: per (shard, length-bucket) doc/token tallies plus the
    bucket's [min_start, max_end) offset range — contiguous,
    non-overlapping, ascending-by-bucket ranges are the curriculum
    property itself, and the offsets derive from the packed order so
    any ordering drift hash-fails."""
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    nt = F.size(F.split(F.col("text"), " "))
    bucket = F.least(
        F.lit(CURRICULUM_MAX_BUCKET),
        F.floor(nt / F.lit(CURRICULUM_BUCKET_TOKENS)),
    ).cast("bigint")
    base = SHD.shard_base(
        docs, order_col=SHD.curriculum_okey(bucket, F.col("doc_id"))
    )
    lay = SHD.shard_layout_from_lengths(base)
    lb = F.least(
        F.lit(CURRICULUM_MAX_BUCKET),
        F.floor(F.col("n_tokens") / F.lit(CURRICULUM_BUCKET_TOKENS)),
    ).cast("bigint")
    return lay.groupBy("shard", lb.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("start_offset").alias("min_start"),
        F.max(F.col("start_offset") + F.col("n_tokens")).alias("max_end"),
    )


def _curriculum_shards_sql() -> str:
    from vcf_pg_loader_spark.operators.shards import (
        sql_curriculum_okey,
        sql_shard_layout,
    )

    bucket = (
        f"LEAST({CURRICULUM_MAX_BUCKET}, CAST(FLOOR("
        f"len(string_split(_t.text, ' ')) / {CURRICULUM_BUCKET_TOKENS}.0"
        f") AS BIGINT))"
    )
    lay = sql_shard_layout(
        order_sql=sql_curriculum_okey(bucket, "_t.doc_id")
    )
    return f"""
WITH lay AS ({lay})
SELECT shard,
       LEAST({CURRICULUM_MAX_BUCKET},
             CAST(FLOOR(n_tokens / {CURRICULUM_BUCKET_TOKENS}.0)
                  AS BIGINT)) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MIN(start_offset) AS BIGINT) AS min_start,
       CAST(MAX(start_offset + n_tokens) AS BIGINT) AS max_end
FROM lay GROUP BY 1, 2
"""


Q_CURRICULUM_SHARDS_SQL = _curriculum_shards_sql()


# quality-curriculum pins: bucket by the per-doc LM quality score
# (doc_nll), fixed thresholds so a doc's bucket is a pure function of
# its own text — the property that keeps the MAINTAINED form
# (sync-corpus --curriculum quality:K, scored by the card state's
# frozen-LM nll) touched-shards-only under deltas.  The fixture's nll
# spans ~[3.26, 3.63], so lo=3.25/step=0.1 spreads 4 buckets.
CURRICULUM_Q_K = 4
CURRICULUM_Q_LO = 3.25
CURRICULUM_Q_STEP = 0.1


def q_curriculum_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality curriculum through the same order_col seam
    (round-12 verdict item 5): documents bucket by their LM quality
    score (operators/lm.py doc_nll — low-perplexity docs first) and
    each shard packs bucket-by-bucket; scoreless docs (no bigram)
    pack LAST.  Output pins the realized order exactly as
    q_curriculum_shards does: per (shard, bucket) doc/token tallies
    plus the bucket's contiguous [min_start, max_end) offset range —
    any ordering drift hash-fails."""
    from vcf_pg_loader_spark.operators import shards as SHD
    from vcf_pg_loader_spark.operators.lm import doc_nll

    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    k = CURRICULUM_Q_K
    # persist: the per-doc score frame feeds both the packing chain
    # (via bdocs -> shard_base) and the final bucket-labeling join, and
    # the labeling join cannot start before the packing window anyway —
    # caching the tiny (doc_id, nll) frame saves a full second
    # execution of the LM scoring pipeline at no overlap cost
    # (optimization round 15, guide §2.4/§5)
    nll = doc_nll(docs).select("doc_id", "nll").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bucket = (
        F.when(F.col("nll").isNull(), F.lit(k - 1).cast("bigint"))
        .otherwise(
            F.greatest(
                F.lit(0).cast("bigint"),
                F.least(
                    F.lit(k - 1).cast("bigint"),
                    F.floor(
                        (F.col("nll") - F.lit(CURRICULUM_Q_LO))
                        / F.lit(CURRICULUM_Q_STEP)
                    ).cast("bigint"),
                ),
            )
        )
    )
    bdocs = docs.join(nll, "doc_id", "left").withColumn("bucket", bucket)
    base = SHD.shard_base(
        bdocs,
        order_col=SHD.curriculum_okey(F.col("bucket"), F.col("doc_id")),
    )
    lay = SHD.shard_layout_from_lengths(base)
    return (
        lay.join(bdocs.select("doc_id", "bucket"), "doc_id")
        .groupBy("shard", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("start_offset").alias("min_start"),
            F.max(F.col("start_offset") + F.col("n_tokens")).alias(
                "max_end"
            ),
        )
    )


def _curriculum_card_sql() -> str:
    from vcf_pg_loader_spark.operators.lm import sql_doc_nll
    from vcf_pg_loader_spark.operators.shards import (
        sql_curriculum_okey,
        sql_shard_layout,
    )

    k = CURRICULUM_Q_K
    nll = sql_doc_nll("documents")

    def bucket_expr(nll_ref: str) -> str:
        # doubles on both sides: DuckDB decimal literals must be cast
        return (
            f"CASE WHEN {nll_ref} IS NULL THEN {k - 1} ELSE "
            f"GREATEST(0, LEAST({k - 1}, CAST(FLOOR(({nll_ref} - "
            f"CAST({CURRICULUM_Q_LO} AS DOUBLE)) / "
            f"CAST({CURRICULUM_Q_STEP} AS DOUBLE)) AS BIGINT))) END"
        )

    corr = (
        f"COALESCE((SELECT {bucket_expr('n.nll')} FROM ({nll}) n "
        f"WHERE n.doc_id = _t.doc_id), {k - 1})"
    )
    lay = sql_shard_layout(
        order_sql=sql_curriculum_okey(corr, "_t.doc_id")
    )
    return f"""
WITH lay AS ({lay}),
nb AS (
  SELECT d.doc_id, COALESCE({bucket_expr('n.nll')}, {k - 1}) AS bucket
  FROM documents d LEFT JOIN ({nll}) n ON n.doc_id = d.doc_id
)
SELECT lay.shard, CAST(nb.bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MIN(start_offset) AS BIGINT) AS min_start,
       CAST(MAX(start_offset + n_tokens) AS BIGINT) AS max_end
FROM lay JOIN nb USING (doc_id) GROUP BY 1, 2
"""



EPOCH_ORDER_EPOCH = 3


def q_epoch_seq_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-epoch sequence shuffle WITHOUT repacking
    (operators/shards.py epoch_sequence_order): the schedule a trainer
    reads the packed shard files in at epoch 3 — a fresh deterministic
    permutation per epoch derived from (shard, seq_id, epoch) alone,
    while the layout bytes stay untouched (the complement of
    q_epoch_shuffle, which reshuffles DOCUMENTS and therefore implies
    a repack).  Narrow sequence-id generation off the 16-row manifest,
    one bounded window."""
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    man = SHD.shard_manifest(SHD.shard_layout(docs))
    return SHD.epoch_sequence_order(man, EPOCH_ORDER_EPOCH)


def _epoch_seq_order_sql() -> str:
    from vcf_pg_loader_spark.operators.shards import (
        sql_epoch_sequence_order,
        sql_shard_manifest,
    )

    return sql_epoch_sequence_order(
        sql_shard_manifest(), EPOCH_ORDER_EPOCH
    )


Q_EPOCH_SEQ_ORDER_SQL = _epoch_seq_order_sql()


def q_seq_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at the SEQUENCE level — the check only packing
    makes necessary: concat-and-cut glues adjacent documents into one
    token stream, so an eval n-gram can materialize ACROSS a document
    boundary inside a training sequence even when no single train
    document contains it (doc-level q_decontaminate is blind to these
    by construction).  Pack the train split, slide NGRAM windows over
    each sequence's assembled tokens, join against the eval split's
    shingle vocabulary, and report per contaminated sequence the hit
    count and how many hits cross a boundary.  Plan shape: the
    sequence assembly is the standard one-shuffle stream, the shingle
    explode is ~seq_len rows per sequence (bounded), and the eval
    vocabulary join is broadcast-sized at any corpus scale where the
    eval split is benchmark-sized."""
    from vcf_pg_loader_spark.operators import sampling as SP
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = SP.assign_split(
        load_table(spark, sf_dir, "documents"), "doc_id", SPLIT_WEIGHTS
    )
    train = docs.filter(F.col("split") == "train").select("doc_id", "text")
    evals = docs.filter(F.col("split") != "train")
    ev_sh = (
        D.shingles(evals, "doc_id", "text", NGRAM)
        .select("shingle")
        .distinct()
    )
    layout = SHD.shard_layout(train)
    spans = SHD.shard_sequences(layout)
    pieces = train.select(
        "doc_id", F.split(F.col("text"), " ").alias("pieces")
    )
    seqs = SHD.sequence_stream(spans, pieces)
    # boundaries INSIDE a sequence: a document starting there
    # (tok_start == 0) at a nonzero offset — continuations from the
    # previous sequence (seq_off == 0, tok_start > 0) are not starts
    bounds = (
        spans.filter((F.col("tok_start") == 0) & (F.col("seq_off") > 0))
        .groupBy("shard", "seq_id")
        .agg(F.collect_list("seq_off").alias("bnds"))
    )
    seqs = seqs.join(bounds, ["shard", "seq_id"], "left").select(
        "shard",
        "seq_id",
        "tokens",
        F.coalesce(F.col("bnds"), F.array().cast("array<bigint>")).alias(
            "bnds"
        ),
    )
    windows = seqs.filter(F.size("tokens") >= NGRAM).select(
        "shard",
        "seq_id",
        "tokens",
        "bnds",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                (F.size("tokens") - NGRAM).cast("bigint"),
            )
        ).alias("p"),
    )
    sh = windows.select(
        "shard",
        "seq_id",
        F.concat_ws(
            " ",
            F.slice(
                F.col("tokens"), (F.col("p") + 1).cast("int"), NGRAM
            ),
        ).alias("shingle"),
        F.exists(
            "bnds",
            lambda b: (b > F.col("p")) & (b <= F.col("p") + (NGRAM - 1)),
        ).alias("crosses"),
    )
    hits = sh.join(F.broadcast(ev_sh), "shingle")
    return hits.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum(F.col("crosses").cast("bigint")).alias("n_cross_boundary"),
    )


def _seq_decontam_sql() -> str:
    from vcf_pg_loader_spark.operators import sampling as SP
    from vcf_pg_loader_spark.operators.shards import sql_shard_sequences

    case = SP.sql_assign_split("doc_id", SPLIT_WEIGHTS)
    case_d = SP.sql_assign_split("d.doc_id", SPLIT_WEIGHTS)
    train = (
        "(SELECT d.doc_id, d.text FROM documents d "
        f"WHERE ({case_d}) = 'train')"
    )
    spans = sql_shard_sequences(table=train)
    ev_shingles = D.sql_shingles(NGRAM, table="documents")
    return f"""
WITH sp AS (SELECT doc_id, {case} AS split FROM documents),
ev_sh AS (
  SELECT DISTINCT shingle
  FROM ({ev_shingles}) s JOIN sp USING (doc_id)
  WHERE sp.split <> 'train'
),
spans AS ({spans}),
ds AS (
  SELECT d.doc_id, string_split(d.text, ' ') AS toks
  FROM documents d JOIN sp ON sp.doc_id = d.doc_id
  WHERE sp.split = 'train'
),
parts AS (
  SELECT s.shard, s.seq_id, s.seq_off, s.tok_start,
         list_slice(ds.toks, CAST(s.tok_start + 1 AS INT),
                    CAST(s.tok_start + s.tok_len AS INT)) AS part
  FROM spans s JOIN ds USING (doc_id)
),
seqs AS (
  SELECT shard, seq_id,
         flatten(list(part ORDER BY seq_off)) AS toks,
         list_filter(
           list(CASE WHEN tok_start = 0 AND seq_off > 0
                     THEN seq_off END ORDER BY seq_off),
           b -> b IS NOT NULL) AS bnds
  FROM parts GROUP BY 1, 2
),
sh AS (
  SELECT shard, seq_id,
         array_to_string(list_slice(toks, CAST(i + 1 AS INT),
                                    CAST(i + {NGRAM} AS INT)), ' ')
           AS shingle,
         len(list_filter(bnds,
                         b -> b > i AND b <= i + {NGRAM - 1})) > 0
           AS crosses
  FROM seqs, UNNEST(range(0, len(toks) - {NGRAM} + 1)) AS t(i)
)
SELECT CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN crosses THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_boundary
FROM sh JOIN ev_sh USING (shingle)
GROUP BY 1, 2
"""


Q_SEQ_DECONTAM_SQL = _seq_decontam_sql()


def q_seq_decontam_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_seq_decontam's answer served from the MAINTAINED
    sequence-shingle index (streaming/seqdecontam.py
    SeqShingleIndexSink, round-13 verdict item 7): the shard layout is
    built INCREMENTALLY through the maintained sink (a bootstrap batch
    of ~4/5 of the train split, then a delta batch with the rest), the
    index syncs after each — bootstrap builds every shard's postings,
    the delta recomputes ONLY the touched shards and hard-links the
    rest — and serving is one broadcast join of the eval shingle
    vocabulary against the persisted postings, no sequence
    re-assembly, no corpus read.  Same oracle as q_seq_decontam: the
    maintained index over the incrementally-built layout must equal
    the from-scratch pack + shingle + join, value-exactly."""
    from vcf_pg_loader_spark.operators import sampling as SP
    from vcf_pg_loader_spark.operators.ivm import MULT
    from vcf_pg_loader_spark.operators.shards import shard_of
    from vcf_pg_loader_spark.streaming.seqdecontam import (
        SeqShingleIndexSink,
    )
    from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

    docs = SP.assign_split(
        load_table(spark, sf_dir, "documents"), "doc_id", SPLIT_WEIGHTS
    )
    train = docs.filter(F.col("split") == "train").select("doc_id", "text")
    evals = docs.filter(F.col("split") != "train")
    ev_sh = (
        D.shingles(evals, "doc_id", "text", NGRAM)
        .select("shingle")
        .distinct()
    )
    root = _served_root(sf_dir, "seq_shingle_index", "documents.parquet")
    lay_root = _served_root(
        sf_dir, "seq_shingle_layout", "documents.parquet"
    )
    shard_sink = TrainingShardSink(lay_root)
    idx = SeqShingleIndexSink(root, ngram=NGRAM)
    first = train.filter(F.col("doc_id") % 5 != 0)
    rest = train.filter(F.col("doc_id") % 5 == 0)
    if not shard_sink.applied(0):
        shard_sink.apply_batch(
            first.withColumn(MULT, F.lit(1).cast("bigint")), 0
        )
    if not idx.applied(0):
        idx.sync(spark, shard_sink, first, 0, None)
    if not shard_sink.applied(1):
        shard_sink.apply_batch(
            rest.withColumn(MULT, F.lit(1).cast("bigint")), 1
        )
    if not idx.applied(1):
        touched = {
            r[0]
            for r in rest.select(
                shard_of(F.col("doc_id"), shard_sink.n_shards)
            ).distinct().collect()
        }
        idx.sync(spark, shard_sink, train, 1, touched)
    return idx.serve(spark, ev_sh)


def q_seq_decontam_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-level decontamination in TOKEN space (the round-13
    `seq-decontam --merges` path): a BPE-packed layout's streams are
    PIECES, so eval n-grams must be encoded with the SAME tokenizer
    and slid over the packed piece sequences — a piece-trigram can
    materialize across a document boundary exactly like a word
    trigram, and a whitespace scan of a BPE layout would window the
    wrong offsets entirely (the refusal this path replaces).  Learn
    the corpus tokenizer, pack the train split in token space, window
    the assembled piece streams (unit-separator-joined: pieces may
    contain spaces in chars mode), and join against the eval split's
    piece-shingle vocabulary; same per-sequence hit/crossing report
    as q_seq_decontam."""
    from vcf_pg_loader_spark.operators import bpe as B
    from vcf_pg_loader_spark.operators import sampling as SP
    from vcf_pg_loader_spark.operators import shards as SHD

    from pyspark.storagelevel import StorageLevel

    docs_all = load_table(spark, sf_dir, "documents")
    merges, _ = B.bpe_train(B.word_counts(docs_all), SHARD_BPE_MERGES)
    split = SP.assign_split(docs_all, "doc_id", SPLIT_WEIGHTS)
    train = split.filter(F.col("split") == "train").select(
        "doc_id", "text"
    )
    evals = split.filter(F.col("split") != "train").select(
        "doc_id", "text"
    )
    # persist: the train-side Arrow encode feeds the lengths->layout->
    # spans chain, the stream-assembly join, AND (via spans) the
    # boundary frame — all sequential, so the cache barrier costs no
    # overlap and saves two Python encode passes (optimization round
    # 15, guide §4.1/§5)
    enc_train = B.bpe_encode_doc_arrow(train, merges).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    lengths = enc_train.select(
        "doc_id", F.size("pieces").cast("bigint").alias("n_tokens")
    )
    layout = SHD.shard_layout_from_lengths(
        SHD.shard_base(train, lengths=lengths)
    )
    spans = SHD.shard_sequences(layout)
    seqs = SHD.sequence_stream(spans, enc_train)
    ev_enc = B.bpe_encode_doc_arrow(evals, merges)
    ev_sh = (
        ev_enc.filter(F.size("pieces") >= NGRAM)
        .select(
            "pieces",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    (F.size("pieces") - NGRAM).cast("bigint"),
                )
            ).alias("p"),
        )
        .select(
            F.concat_ws(
                "\x1f",
                F.slice(
                    F.col("pieces"), (F.col("p") + 1).cast("int"), NGRAM
                ),
            ).alias("shingle")
        )
        .distinct()
    )
    bounds = (
        spans.filter((F.col("tok_start") == 0) & (F.col("seq_off") > 0))
        .groupBy("shard", "seq_id")
        .agg(F.collect_list("seq_off").alias("bnds"))
    )
    seqs = seqs.join(bounds, ["shard", "seq_id"], "left").select(
        "shard",
        "seq_id",
        "tokens",
        F.coalesce(F.col("bnds"), F.array().cast("array<bigint>")).alias(
            "bnds"
        ),
    )
    windows = seqs.filter(F.size("tokens") >= NGRAM).select(
        "shard",
        "seq_id",
        "tokens",
        "bnds",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                (F.size("tokens") - NGRAM).cast("bigint"),
            )
        ).alias("p"),
    )
    sh = windows.select(
        "shard",
        "seq_id",
        F.concat_ws(
            "\x1f",
            F.slice(F.col("tokens"), (F.col("p") + 1).cast("int"), NGRAM),
        ).alias("shingle"),
        F.exists(
            "bnds",
            lambda b: (b > F.col("p")) & (b <= F.col("p") + (NGRAM - 1)),
        ).alias("crosses"),
    )
    hits = sh.join(F.broadcast(ev_sh), "shingle")
    return hits.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum(F.col("crosses").cast("bigint")).alias("n_cross_boundary"),
    )


def _seq_decontam_bpe_sql() -> str:
    from vcf_pg_loader_spark.operators import sampling as SP
    from vcf_pg_loader_spark.operators.shards import sql_shard_sequences

    k = SHARD_BPE_MERGES
    enc = _bpe_encode_sql()
    # everything up to `flat` (doc_id -> chr(31)-joined piece stream
    # for EVERY document — train windows and eval shingles both read
    # from it) plus the `dl` lengths CTE the same head carries
    head = enc[: enc.rindex("SELECT d.doc_id")].rstrip()
    case = SP.sql_assign_split("doc_id", SPLIT_WEIGHTS)
    case_d = SP.sql_assign_split("d.doc_id", SPLIT_WEIGHTS)
    train = (
        "(SELECT d.doc_id, d.text FROM documents d "
        f"WHERE ({case_d}) = 'train')"
    )
    spans = sql_shard_sequences(
        table=train,
        lengths_sql="SELECT doc_id, n_tokens FROM bpe_lens",
    )
    return (
        head
        + f""",
bpe_lens AS (
  SELECT d.doc_id, CAST(COALESCE(dl.n_tokens, 0) AS BIGINT) AS n_tokens
  FROM documents d LEFT JOIN dl ON dl.doc_id = d.doc_id
),
sp AS (SELECT doc_id, {case} AS split FROM documents),
doc_stream AS (
  SELECT d.doc_id,
         string_split(COALESCE(flat.stream, ''), chr(31)) AS toks
  FROM documents d LEFT JOIN flat ON flat.doc_id = d.doc_id
),
ev_sh AS (
  SELECT DISTINCT
         array_to_string(list_slice(ds.toks, CAST(i + 1 AS INT),
                                    CAST(i + {NGRAM} AS INT)), chr(31))
           AS shingle
  FROM doc_stream ds JOIN sp USING (doc_id),
       UNNEST(range(0, len(ds.toks) - {NGRAM} + 1)) AS t(i)
  WHERE sp.split <> 'train'
),
spans AS ({spans}),
parts AS (
  SELECT s.shard, s.seq_id, s.seq_off, s.tok_start,
         CASE WHEN s.tok_len > 0
              THEN list_slice(ds.toks, CAST(s.tok_start + 1 AS INT),
                              CAST(s.tok_start + s.tok_len AS INT))
              ELSE [] END AS part
  FROM spans s JOIN doc_stream ds ON ds.doc_id = s.doc_id
),
seqs AS (
  SELECT shard, seq_id,
         flatten(list(part ORDER BY seq_off)) AS toks,
         list_filter(
           list(CASE WHEN tok_start = 0 AND seq_off > 0
                     THEN seq_off END ORDER BY seq_off),
           b -> b IS NOT NULL) AS bnds
  FROM parts GROUP BY 1, 2
),
sh AS (
  SELECT shard, seq_id,
         array_to_string(list_slice(toks, CAST(i + 1 AS INT),
                                    CAST(i + {NGRAM} AS INT)), chr(31))
           AS shingle,
         len(list_filter(bnds,
                         b -> b > i AND b <= i + {NGRAM - 1})) > 0
           AS crosses
  FROM seqs, UNNEST(range(0, len(toks) - {NGRAM} + 1)) AS t(i)
)
SELECT CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN crosses THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_boundary
FROM sh JOIN ev_sh USING (shingle)
GROUP BY 1, 2
"""
    )



# deterministic span-corruption schedule (T5/UL2-style masking): span
# starts where a position hash lands in 1/MASK_RATE of its range, each
# span MASK_SPAN tokens; expected masked fraction = MASK_SPAN/MASK_RATE.
# Canonical home: operators/masking.py — the export path
# (export-sequences --mask-schedule) and these pins share one
# definition so trainer bytes and the CORRECTNESS gate cannot drift.
from vcf_pg_loader_spark.operators.masking import (  # noqa: E402
    MASK_RATE,
    MASK_SALT,
    MASK_SPAN,
)


def q_mask_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption schedule over the packed sequences, derived
    purely from (shard, seq_id, position) — the trainer-side masking
    plan as DATA, reproducible on any worker without coordination
    (the property that matters when 1000 dataloader shards must agree
    on the noise without sharing RNG state).  Per sequence: token
    count, masked-position count, and an md5 over the sorted masked
    positions so the oracle pins the exact schedule, not just its
    size.  No text is touched: sequence lengths come from the span
    recipe (sum of tok_len per sequence), positions generate JVM-side
    (F.sequence/explode), overlapping spans merge via array_distinct."""
    from vcf_pg_loader_spark.functions.hashing import h60
    from vcf_pg_loader_spark.operators import shards as SHD

    docs = load_table(spark, sf_dir, "documents")
    spans = SHD.shard_sequences(SHD.shard_layout(docs))
    seq_lens = spans.groupBy("shard", "seq_id").agg(
        F.sum("tok_len").cast("bigint").alias("n")
    )
    pos = seq_lens.select(
        "shard",
        "seq_id",
        "n",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("n") - 1)
        ).alias("p"),
    )
    is_start = (
        F.pmod(
            h60(
                F.concat_ws(
                    ":",
                    F.col("shard").cast("string"),
                    F.col("seq_id").cast("string"),
                    F.col("p").cast("string"),
                ),
                MASK_SALT,
            ),
            F.lit(MASK_RATE),
        )
        == 0
    )
    starts = pos.filter(is_start)
    masked = starts.select(
        "shard",
        "seq_id",
        "n",
        F.explode(
            F.sequence(
                F.col("p"),
                F.least(F.col("p") + (MASK_SPAN - 1), F.col("n") - 1),
            )
        ).alias("m"),
    ).distinct()
    agg = masked.groupBy("shard", "seq_id").agg(
        F.first("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_masked"),
        F.md5(
            F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col("m")))
            )
        ).alias("mask_fp"),
    )
    # sequences whose schedule masks nothing still appear (n_masked 0)
    return (
        seq_lens.join(agg, ["shard", "seq_id"], "left")
        .select(
            "shard",
            "seq_id",
            F.col("n").alias("n_tokens"),
            F.coalesce(F.col("n_masked"), F.lit(0).cast("bigint")).alias(
                "n_masked"
            ),
            F.coalesce(F.col("mask_fp"), F.md5(F.lit(""))).alias(
                "mask_fp"
            ),
        )
    )


def _mask_schedule_sql() -> str:
    from vcf_pg_loader_spark.functions.hashing import sql_h60
    from vcf_pg_loader_spark.operators.shards import sql_shard_sequences

    h = sql_h60(
        "CAST(shard AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)"
        " || ':' || CAST(p AS VARCHAR)",
        MASK_SALT,
    )
    return f"""
WITH spans AS ({sql_shard_sequences()}),
seq_lens AS (
  SELECT shard, seq_id, CAST(SUM(tok_len) AS BIGINT) AS n
  FROM spans GROUP BY 1, 2
),
pos AS (
  SELECT shard, seq_id, n, CAST(p AS BIGINT) AS p
  FROM seq_lens, UNNEST(range(0, n)) AS t(p)
),
starts AS (
  SELECT * FROM pos WHERE (({h}) % {MASK_RATE} + {MASK_RATE})
                          % {MASK_RATE} = 0
),
masked AS (
  SELECT DISTINCT shard, seq_id, n, CAST(m AS BIGINT) AS m
  FROM starts,
       UNNEST(range(p, LEAST(p + {MASK_SPAN}, n))) AS t(m)
),
agg AS (
  SELECT shard, seq_id, ANY_VALUE(n) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_masked,
         md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY m))
           AS mask_fp
  FROM masked GROUP BY 1, 2
)
SELECT s.shard, s.seq_id, s.n AS n_tokens,
       COALESCE(a.n_masked, 0) AS n_masked,
       COALESCE(a.mask_fp, md5('')) AS mask_fp
FROM seq_lens s LEFT JOIN agg a USING (shard, seq_id)
"""


Q_MASK_SCHEDULE_SQL = _mask_schedule_sql()


def q_train_sequences_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE trainer record, value-pinned (round-12 verdict
    item 4): one row per training sequence carrying everything a
    dataloader consumes together — the token stream, the document
    boundaries for a block-diagonal attention mask, and the
    deterministic span-corruption schedule — where q_train_sequences
    and q_mask_schedule pinned the pieces separately.  The schedule
    attaches as the operators/masking.py ARRAY expression (the same
    code export-sequences --mask-schedule ships; zero extra shuffles
    on top of the one packing shuffle), so this query pins exactly
    the production composition: tokens_fp, bounds_fp, and mask_fp
    must all agree with the twin at once."""
    from vcf_pg_loader_spark.operators import shards as SHD
    from vcf_pg_loader_spark.operators.masking import mask_positions_col

    docs = load_table(spark, sf_dir, "documents")
    spans = SHD.shard_sequences(SHD.shard_layout(docs))
    enc = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("pieces")
    )
    seqs = SHD.sequence_stream(spans, enc)
    mp = mask_positions_col(
        F.col("shard"), F.col("seq_id"), F.size("tokens")
    )
    as_str = lambda col: F.transform(  # noqa: E731
        col, lambda x: x.cast("string")
    )
    return seqs.select(
        "shard",
        "seq_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws("\x1f", F.col("tokens"))).alias("tokens_fp"),
        F.md5(F.concat_ws(",", as_str(F.col("doc_bounds")))).alias(
            "bounds_fp"
        ),
        F.size(mp).cast("bigint").alias("n_masked"),
        F.when(F.size(mp) == 0, F.md5(F.lit("")))
        .otherwise(F.md5(F.concat_ws(",", as_str(mp))))
        .alias("mask_fp"),
    )


def _train_sequences_masked_sql() -> str:
    from vcf_pg_loader_spark.functions.hashing import sql_h60
    from vcf_pg_loader_spark.operators.shards import sql_shard_sequences

    h = sql_h60(
        "CAST(shard AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)"
        " || ':' || CAST(p AS VARCHAR)",
        MASK_SALT,
    )
    return f"""
WITH ds AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), spans AS ({sql_shard_sequences()}),
parts AS (
  SELECT s.shard, s.seq_id, s.seq_off,
         list_slice(ds.toks, CAST(s.tok_start + 1 AS INT),
                    CAST(s.tok_start + s.tok_len AS INT)) AS part
  FROM spans s JOIN ds USING (doc_id)
), seq AS (
  SELECT CAST(shard AS BIGINT) AS shard,
         CAST(seq_id AS BIGINT) AS seq_id,
         CAST(SUM(len(part)) AS BIGINT) AS n_tokens,
         md5(string_agg(array_to_string(part, chr(31)), chr(31)
                        ORDER BY seq_off)) AS tokens_fp,
         md5(string_agg(CAST(seq_off AS VARCHAR), ','
                        ORDER BY seq_off)) AS bounds_fp
  FROM parts GROUP BY 1, 2
), pos AS (
  SELECT shard, seq_id, n_tokens AS n, CAST(t.p AS BIGINT) AS p
  FROM seq, UNNEST(range(0, n_tokens)) AS t(p)
), starts AS (
  SELECT * FROM pos WHERE (({h}) % {MASK_RATE} + {MASK_RATE})
                          % {MASK_RATE} = 0
), masked AS (
  SELECT DISTINCT shard, seq_id, CAST(m AS BIGINT) AS m
  FROM starts,
       UNNEST(range(p, LEAST(p + {MASK_SPAN}, n))) AS t(m)
), agg AS (
  SELECT shard, seq_id, CAST(COUNT(*) AS BIGINT) AS n_masked,
         md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY m)) AS mask_fp
  FROM masked GROUP BY 1, 2
)
SELECT s.shard, s.seq_id, s.n_tokens, s.tokens_fp, s.bounds_fp,
       COALESCE(a.n_masked, 0) AS n_masked,
       COALESCE(a.mask_fp, md5('')) AS mask_fp
FROM seq s LEFT JOIN agg a USING (shard, seq_id)
"""



# "train on exactly N tokens": the minimal hash-ordered prefix of the
# corpus whose token sum reaches the budget — deterministic, stable
# under corpus growth everywhere except at the moving boundary
TOKEN_BUDGET = 10_000
TB_SALT = "tb:"
TB_BUCKETS = 64
_TB_BUCKET_WIDTH = (1 << 60) // TB_BUCKETS  # h60 < 2^60, range buckets


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subcorpus: keep documents in h60-key order until
    the running token total reaches TOKEN_BUDGET (minimal prefix —
    the crossing document is kept), reported per source.

    100 TB shape: the naive version is one GLOBAL ordered window — a
    single-partition sort of the corpus.  Instead: (1) key-RANGE
    buckets (ordered, unlike hash-mod) aggregate to TB_BUCKETS partial
    sums, map-side combinable; (2) the driver cumsums that
    control-plane frame to find the boundary bucket; (3) buckets below
    the boundary are kept whole — no window touches them — and ONLY
    the boundary bucket (1/TB_BUCKETS of the corpus, and TB_BUCKETS
    scales freely) runs the exact ordered cumsum.  Same two-stage
    shape as the maintenance family's touched-partition pruning."""
    from vcf_pg_loader_spark.functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("nt"),
        h60(F.col("doc_id").cast("string"), TB_SALT).alias("key"),
    )
    keyed = docs.withColumn(
        "bkt", F.floor(F.col("key") / F.lit(_TB_BUCKET_WIDTH))
    )
    parts = (
        keyed.groupBy("bkt")
        .agg(F.sum("nt").alias("bt"))
        .orderBy("bkt")
        .collect()
    )  # TB_BUCKETS rows — control-plane
    cum = 0
    boundary, before = None, 0
    for r in parts:
        if cum + r.bt >= TOKEN_BUDGET:
            boundary, before = r.bkt, cum
            break
        cum += r.bt
    if boundary is None:
        sel = keyed  # budget exceeds the corpus: keep everything
    else:
        whole = keyed.filter(F.col("bkt") < boundary)
        w = (
            Window.partitionBy("bkt")
            .orderBy("key", "doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        edge = (
            keyed.filter(F.col("bkt") == boundary)
            .withColumn("cum", F.sum("nt").over(w))
            # minimal prefix: keep while the PREVIOUS cumsum is short
            .filter(F.col("cum") - F.col("nt") < TOKEN_BUDGET - before)
            .drop("cum")
        )
        sel = whole.unionByName(edge)
    return sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
    )


def _token_budget_sql() -> str:
    from vcf_pg_loader_spark.functions.hashing import sql_h60

    key = sql_h60("CAST(doc_id AS VARCHAR)", TB_SALT)
    return f"""
WITH k AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
         {key} AS key
  FROM documents
), c AS (
  SELECT *, SUM(nt) OVER (ORDER BY key, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM k
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens
FROM c WHERE cum - nt < {TOKEN_BUDGET}
GROUP BY source
"""


Q_TOKEN_BUDGET_SQL = _token_budget_sql()


# n_shards sizing: one repack task must hold a shard comfortably, so
# pick the shard count from corpus totals, not by feel — the number
# reshard migrates to when the corpus outgrows the layout
TARGET_SHARD_TOKENS = 4096


def q_shard_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n_shards advisor: corpus token total, the resulting shard count
    for a target tokens-per-shard (ceil), and the next power of two
    (hash assignment has no pow2 requirement, but pow2 growth keeps
    reshard factors uniform).  One map-side-combinable aggregate; at
    100 TB this is the same arithmetic with target ≈ a repack task's
    comfortable working set."""
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("total_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    rec = F.ceil(F.col("total_tokens") / F.lit(TARGET_SHARD_TOKENS)).cast(
        "bigint"
    )
    pow2 = F.pow(
        F.lit(2.0), F.ceil(F.log2(rec.cast("double")))
    ).cast("bigint")
    return tot.select(
        "n_docs",
        "total_tokens",
        F.lit(TARGET_SHARD_TOKENS).cast("bigint").alias("target_tokens"),
        rec.alias("recommended_shards"),
        pow2.alias("recommended_shards_pow2"),
    )


Q_SHARD_ADVISOR_SQL = f"""
WITH t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           AS total_tokens
  FROM documents
)
SELECT n_docs, total_tokens,
       CAST({TARGET_SHARD_TOKENS} AS BIGINT) AS target_tokens,
       CAST(CEIL(total_tokens / {TARGET_SHARD_TOKENS}.0) AS BIGINT)
         AS recommended_shards,
       CAST(POWER(2, CEIL(LOG2(CEIL(total_tokens
                                    / {TARGET_SHARD_TOKENS}.0))))
            AS BIGINT) AS recommended_shards_pow2
FROM t
"""


def q_vocab_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer compression monitor: per source, characters per BPE
    token under the learned merges — the number a vocab-size decision
    trades against q_vocab_coverage (bigger vocab → fewer tokens per
    char → cheaper training, diminishing).  Whitespace chars excluded
    on both engines (tokens never contain them).  One Arrow encode
    pass for lengths, then a map-side-combinable per-source rollup."""
    from vcf_pg_loader_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = B.bpe_train(B.word_counts(docs), SHARD_BPE_MERGES)
    lengths = B.bpe_token_lengths(docs, merges)
    chars = docs.select(
        "doc_id",
        "source",
        F.length(F.regexp_replace(F.col("text"), " ", ""))
        .cast("bigint")
        .alias("n_chars"),
    )
    j = chars.join(lengths, "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.sum("n_chars") / F.sum("n_tokens"), 6
            ).alias("chars_per_token"),
        )
    )


def _vocab_compression_sql() -> str:
    lengths = _sql_bpe_doc_lengths(SHARD_BPE_MERGES)
    return f"""
WITH lens AS ({lengths}),
ch AS (
  SELECT doc_id, source,
         CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_chars
  FROM documents
)
SELECT ch.source, CAST(SUM(ch.n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(lens.n_tokens) AS BIGINT) AS n_tokens,
       ROUND(SUM(ch.n_chars) / CAST(SUM(lens.n_tokens) AS DOUBLE), 6)
         AS chars_per_token
FROM ch JOIN lens USING (doc_id)
GROUP BY ch.source
"""


# --------------------------------------------------------------------------
# tokenizer-vocabulary induction (operators/bpe.py, round 6): the
# trainer's iterated argmax is pytest-pinned against a pure-Python BPE
# (tests/test_bpe.py) — the documented weaker check.  Round 11 adds the
# oracled surface AROUND the trainer: the pair statistics the first
# merge consumes (end-of-word marker included, exactly the trainer's
# iteration-0 frame) and the coverage curve a vocab-size decision reads.
# --------------------------------------------------------------------------
BPE_PAIRS_TOP = 20


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer's iteration-0 pair counts: adjacent symbol pairs over
    (chars + '</w>') weighted by word frequency — the exact frame whose
    argmax becomes the first merge.  Alphabet²-sized; the orderBy/limit
    compiles to TakeOrderedAndProject."""
    from vcf_pg_loader_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    wc = B.word_counts(docs)
    state = wc.select(
        B._initial_symbols(F.col("w")).alias("sym"), F.col("n")
    )
    pairs = (
        state.select(
            F.explode(B._adjacent_pairs(F.col("sym"))).alias("p"), "n"
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("n").alias("cnt"))
    )
    return pairs.select(
        F.col("l").alias("a"), F.col("r").alias("b"), "cnt"
    ).orderBy(F.desc("cnt"), F.col("a"), F.col("b")).limit(BPE_PAIRS_TOP)


# the END marker pair rides as i == len(word): b = '</w>'
Q_BPE_PAIRS_SQL = f"""
WITH wc AS (
  SELECT w AS word, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) > 0 GROUP BY w
), pairs AS (
  SELECT substr(word, CAST(i AS INT), 1) AS a,
         CASE WHEN i < len(word) THEN substr(word, CAST(i AS INT) + 1, 1)
              ELSE '</w>' END AS b,
         SUM(cnt) AS cnt
  FROM wc, UNNEST(range(1, len(word) + 1)) AS t(i)
  GROUP BY 1, 2
)
SELECT a, b, CAST(cnt AS BIGINT) AS cnt
FROM pairs ORDER BY cnt DESC, a, b LIMIT {BPE_PAIRS_TOP}
"""

BPE_ROUNDK = 2  # merges applied before the pinned mid-training recount


def q_bpe_pairs_roundk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer's pair counts AFTER the first BPE_ROUNDK merges — the
    mid-training pin (round-11 verdict item 2): it validates the whole
    loop invariant end-to-end (argmax selection incl. tie-breaks,
    greedy left-to-right application, recount) where q_bpe_pairs only
    pins round 0.  The merges come from bpe_train; the DuckDB twin
    re-derives the same merges with chained argmax CTEs and list_reduce
    folds."""
    from vcf_pg_loader_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    wc = B.word_counts(docs)
    merges, _ = B.bpe_train(wc, BPE_ROUNDK)
    sym = B._initial_symbols(F.col("w"))
    for left, right in merges:
        sym = B._apply_merge(sym, left, right)
    state = wc.select(sym.alias("sym"), F.col("n"))
    pairs = (
        state.select(
            F.explode(B._adjacent_pairs(F.col("sym"))).alias("p"), "n"
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("n").alias("cnt"))
    )
    return pairs.select(
        F.col("l").alias("a"), F.col("r").alias("b"), "cnt"
    ).orderBy(F.desc("cnt"), F.col("a"), F.col("b")).limit(BPE_PAIRS_TOP)


# One fold per merge round: symbols ride as a chr(31)-joined string
# because DuckDB's list_reduce accumulator must share the element type;
# the greedy step mirrors operators/bpe.py _apply_merge exactly.
_BPE_FOLD = """
  list_reduce(string_split({src}, chr(31)),
    (acc, x) -> CASE
      WHEN (acc = {m}.l OR ends_with(acc, chr(31) || {m}.l)) AND x = {m}.r
      THEN left(acc, len(acc) - len({m}.l)) || {m}.l || {m}.r
      ELSE acc || chr(31) || x END)
"""

Q_BPE_PAIRS_ROUNDK_SQL = f"""
WITH wc AS (
  SELECT w AS word, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) > 0 GROUP BY w
), s0 AS (
  SELECT list_aggregate(list_append(string_split(word, ''), '</w>'),
                        'string_agg', chr(31)) AS s, n
  FROM wc
), p0 AS (
  SELECT ss[CAST(i AS INT)] AS l, ss[CAST(i AS INT) + 1] AS r,
         SUM(n) AS c
  FROM (SELECT string_split(s, chr(31)) AS ss, n FROM s0),
       UNNEST(range(1, len(ss))) AS t(i)
  GROUP BY 1, 2
), m1 AS (
  SELECT l, r FROM p0 WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1
), s1 AS (
  SELECT {_BPE_FOLD.format(src='s0.s', m='m1')} AS s, n FROM s0, m1
), p1 AS (
  SELECT ss[CAST(i AS INT)] AS l, ss[CAST(i AS INT) + 1] AS r,
         SUM(n) AS c
  FROM (SELECT string_split(s, chr(31)) AS ss, n FROM s1),
       UNNEST(range(1, len(ss))) AS t(i)
  GROUP BY 1, 2
), m2 AS (
  SELECT l, r FROM p1 WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1
), s2 AS (
  SELECT {_BPE_FOLD.format(src='s1.s', m='m2')} AS s, n FROM s1, m2
), p2 AS (
  SELECT ss[CAST(i AS INT)] AS a, ss[CAST(i AS INT) + 1] AS b,
         SUM(n) AS cnt
  FROM (SELECT string_split(s, chr(31)) AS ss, n FROM s2),
       UNNEST(range(1, len(ss))) AS t(i)
  GROUP BY 1, 2
)
SELECT a, b, CAST(cnt AS BIGINT) AS cnt
FROM p2 ORDER BY cnt DESC, a, b LIMIT {{BPE_PAIRS_TOP}}
""".replace("{BPE_PAIRS_TOP}", str(BPE_PAIRS_TOP))


# coverage checkpoints a vocab-size decision actually reads (the
# synthetic corpus holds ~31 word types; real corpora would use
# 10/100/1000-style checkpoints — the plan shape is identical)
VOCAB_COVERAGE_KS = (5, 10, 20, 30)


def _coverage_from_wc(wc: DataFrame) -> DataFrame:
    """Coverage curve over any (w, n) word-count frame — shared by the
    from-scratch query and the VocabSink-served twin."""
    total = wc.agg(F.sum("n").alias("total"))
    kmax = max(VOCAB_COVERAGE_KS)
    top = wc.orderBy(F.desc("n"), "w").limit(kmax)
    w = (
        Window.orderBy(F.desc("n"), "w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("n"), "w"))
        .alias("k"),
        F.sum("n").over(w).alias("cum_cnt"),
    ).filter(F.col("k").isin(list(VOCAB_COVERAGE_KS)))
    return ranked.crossJoin(F.broadcast(total)).select(
        "k",
        "cum_cnt",
        F.round(F.col("cum_cnt") * 1.0 / F.col("total"), 6).alias(
            "coverage"
        ),
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative corpus-token share of the top-K word types — the
    curve that sizes a vocabulary.  The top-K cut is
    TakeOrderedAndProject; the running sum windows over the K surviving
    rows only, never the full type table."""
    from vcf_pg_loader_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    return _coverage_from_wc(B.word_counts(docs))


def _vocab_sink(spark, sf_dir: str, name: str, batches) -> "VocabSink":
    """Bootstrap a VocabSink state under the served-root registry and
    replay the given frames exactly once (:func:`_replay`)."""
    from vcf_pg_loader_spark.streaming.vocab import VocabSink

    root = _served_root(sf_dir, name, "documents.parquet")
    sink = VocabSink(f"{root}/state")
    _replay(sink, batches)
    return sink


def q_vocab_coverage_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q_vocab_coverage off the MAINTAINED vocabulary (streaming/
    vocab.py VocabSink): word counts are the one corpus-global
    statistic train-vocab recomputed from scratch each run; the sink
    keeps them current under the Z-set contract so a vocab refresh
    after a snapshot sync is O(|delta|).  Same oracle as
    q_vocab_coverage."""
    from vcf_pg_loader_spark.operators.ivm import MULT

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sink = _vocab_sink(
        spark,
        sf_dir,
        "vocab_store",
        [docs.withColumn(MULT, F.lit(1).cast("bigint"))],
    )
    return _coverage_from_wc(sink.counts(spark))


def q_cdc_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage after a snapshot sync: VocabSink bootstraps
    on the OLD snapshot, then ONE zset_snapshot_delta batch moves the
    counts to the NEW snapshot — a changed document's old text rides
    as -1 and its new text as +1, so per-word counts stay exact while
    only the touched word-hash buckets rewrite.  Oracle: the coverage
    curve recomputed over exactly the new snapshot."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old, new = _cdc_snapshots(docs)
    sink = _vocab_sink(
        spark, sf_dir, "cdc_vocab", _cdc_batches(old, new, "doc_id")
    )
    return _coverage_from_wc(sink.counts(spark))


def _vocab_coverage_sql(table: str = "documents") -> str:
    return f"""
WITH wc AS (
  SELECT w AS word, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM {table})
  WHERE len(w) > 0 GROUP BY w
), ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS k,
         SUM(cnt) OVER (ORDER BY cnt DESC, word
                        ROWS UNBOUNDED PRECEDING) AS cum_cnt
  FROM wc
)
SELECT CAST(k AS INT) AS k, CAST(cum_cnt AS BIGINT) AS cum_cnt,
       ROUND(cum_cnt * 1.0 / (SELECT SUM(cnt) FROM wc), 6) AS coverage
FROM ranked WHERE k IN {VOCAB_COVERAGE_KS}
"""


Q_VOCAB_COVERAGE_SQL = _vocab_coverage_sql()
Q_CDC_VOCAB_SQL = _vocab_coverage_sql(
    "(SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 1)"
)

# the held-out generalization check for a frozen vocabulary: train the
# top-K type vocab on the train split, measure OOV on the val split —
# composed from the REAL operators (assign_split's hash-range split,
# the same word counting), per source so a domain with drifting
# vocabulary stands out.  Broadcast of the K-row vocab against the
# exploded val tokens; no shuffle bigger than the per-source rollup.
VOCAB_OOV_K = 20


def _oov_from_vocab(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-source OOV of the val split against a (w) vocab frame —
    shared by the from-scratch query and the VocabSink-served twin."""
    from vcf_pg_loader_spark.operators.text import tokens

    val_tok = (
        docs.filter(F.col("split") == "val")
        .select(
            "source", F.explode(tokens(F.col("text"))).alias("w")
        )
        .filter(F.length("w") > 0)
    )
    hit = val_tok.join(F.broadcast(vocab), "w", "left_semi")
    per_src = val_tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    hit_src = hit.groupBy("source").agg(F.count(F.lit(1)).alias("n_in"))
    return (
        per_src.join(hit_src, "source", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce(F.col("n_in"), F.lit(0)).alias("n_in_vocab"),
            F.round(
                (F.col("n_tokens") - F.coalesce(F.col("n_in"), F.lit(0)))
                * 1.0
                / F.col("n_tokens"),
                6,
            ).alias("oov_rate"),
        )
    )


def q_vocab_oov_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_vocab_oov with the train-split vocabulary served from a
    maintained VocabSink built over exactly the train split — the
    held-out generalization check without recounting the train corpus.
    Same oracle as q_vocab_oov."""
    from vcf_pg_loader_spark.operators import sampling as SP
    from vcf_pg_loader_spark.operators.ivm import MULT

    docs = SP.assign_split(load_table(spark, sf_dir, "documents"))
    train = docs.filter(F.col("split") == "train").select(
        "doc_id", "text"
    )
    sink = _vocab_sink(
        spark,
        sf_dir,
        "vocab_train_store",
        [train.withColumn(MULT, F.lit(1).cast("bigint"))],
    )
    vocab = (
        sink.counts(spark)
        .orderBy(F.desc("n"), "w")
        .limit(VOCAB_OOV_K)
        .select("w")
    )
    return _oov_from_vocab(docs, vocab)


def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators import bpe as B
    from vcf_pg_loader_spark.operators import sampling as SP
    from vcf_pg_loader_spark.operators.text import tokens

    docs = SP.assign_split(load_table(spark, sf_dir, "documents"))
    train = docs.filter(F.col("split") == "train")
    vocab = (
        B.word_counts(train)
        .orderBy(F.desc("n"), "w")
        .limit(VOCAB_OOV_K)
        .select("w")
    )
    val_tok = (
        docs.filter(F.col("split") == "val")
        .select(
            "source", F.explode(tokens(F.col("text"))).alias("w")
        )
        .filter(F.length("w") > 0)
    )
    hit = val_tok.join(F.broadcast(vocab), "w", "left_semi")
    per_src = val_tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    hit_src = hit.groupBy("source").agg(F.count(F.lit(1)).alias("n_in"))
    return (
        per_src.join(hit_src, "source", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce(F.col("n_in"), F.lit(0)).alias("n_in_vocab"),
            F.round(
                (F.col("n_tokens") - F.coalesce(F.col("n_in"), F.lit(0)))
                * 1.0
                / F.col("n_tokens"),
                6,
            ).alias("oov_rate"),
        )
    )


def _vocab_oov_sql() -> str:
    from vcf_pg_loader_spark.operators.sampling import sql_assign_split

    split = sql_assign_split()
    return f"""
WITH d AS (
  SELECT doc_id, source, text, {split} AS split FROM documents
), wc AS (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w
        FROM d WHERE split = 'train')
  WHERE len(w) > 0 GROUP BY w
), vocab AS (
  SELECT w FROM wc ORDER BY cnt DESC, w LIMIT {VOCAB_OOV_K}
), val_tok AS (
  SELECT source, w
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        FROM d WHERE split = 'val')
  WHERE len(w) > 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 END)
            AS BIGINT) AS n_in_vocab,
       ROUND((COUNT(*) - COUNT(CASE WHEN w IN (SELECT w FROM vocab)
                                    THEN 1 END)) * 1.0 / COUNT(*), 6)
         AS oov_rate
FROM val_tok GROUP BY source
"""


Q_VOCAB_OOV_SQL = _vocab_oov_sql()


# --------------------------------------------------------------------------
# KMV distinct sketch (operators/sketch.py): estimated distinct users
# per event type — the deterministic, mergeable alternative to HLL whose
# estimate the DuckDB oracle reproduces bit-for-bit (HLL register
# layouts are engine-private; md5-derived KMV order statistics are not).
# --------------------------------------------------------------------------
KMV_K = 64


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.sketch import kmv_estimate, kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    return kmv_estimate(
        kmv_sketch(ev, ["event_type"], "user_id", KMV_K), KMV_K
    )


def _kmv_sql() -> str:
    from vcf_pg_loader_spark.operators.sketch import sql_kmv_estimate

    return sql_kmv_estimate("events", ["event_type"], "user_id", KMV_K)


Q_KMV_DISTINCT_SQL = _kmv_sql()


# --------------------------------------------------------------------------
# KMV set operations (Beyer et al. 2007): distinct-user OVERLAP between
# every pair of event types estimated from the sketches alone — union,
# intersection, and Jaccard per pair, never rescanning events.  The
# audience-overlap primitive; deterministic h60 hashes make the
# estimates (not just the bounds) oracle-exact.
# --------------------------------------------------------------------------
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.sketch import kmv_overlap, kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    return kmv_overlap(
        kmv_sketch(ev, ["event_type"], "user_id", KMV_K), "event_type", KMV_K
    )


def _kmv_overlap_sql() -> str:
    from vcf_pg_loader_spark.operators.sketch import sql_kmv_overlap

    return sql_kmv_overlap("events", "event_type", "user_id", KMV_K)


Q_KMV_OVERLAP_SQL = _kmv_overlap_sql()


# --------------------------------------------------------------------------
# incremental distinct-count rollup: KMV partials per (hour, event_type)
# folded across two arrival batches must estimate exactly what a
# from-scratch sketch of everything estimates — COUNT(DISTINCT) is not
# mergeable, the KMV sketch is; this is how per-bucket distinct-user
# rollups stay incremental at 100 TB.  The DuckDB twin computes the
# single-pass sketch estimate directly (the merged sketch is IDENTICAL
# to the from-scratch sketch, so one oracle covers both).
# --------------------------------------------------------------------------
def q_kmv_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vcf_pg_loader_spark.operators.sketch import (
        kmv_estimate,
        kmv_merge,
        kmv_rollup_partial,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "bucket", F.date_trunc("hour", F.col("ts"))
    )
    keys = ["bucket", "event_type"]
    # Measured and REJECTED (optimization round 16): building both
    # partials from ONE events scan with the split flag as a leading
    # group key (bit-identical slices, pinned in
    # tests/test_opt_r16.py::TestKmvSingleScanPartials) lost its
    # interleaved A/B here — old 2.34 vs flagged 3.10 s median — the
    # same pattern as the r15 persist rejections: the two independent
    # partial subtrees overlap on idle cores at bench scale, while the
    # single-scan shape serializes behind a persist barrier.  At a
    # saturated cluster the one-scan form halves the events passes;
    # revisit there.
    a = kmv_rollup_partial(
        ev.filter(F.col("event_id") % 3 != 0), keys, "user_id", KMV_K
    )
    b = kmv_rollup_partial(
        ev.filter(F.col("event_id") % 3 == 0), keys, "user_id", KMV_K
    )
    return kmv_estimate(kmv_merge(a, b, keys, KMV_K), KMV_K)


def _kmv_rollup_sql() -> str:
    from vcf_pg_loader_spark.operators.sketch import sql_kmv_estimate

    src = (
        "(SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,"
        " event_type, user_id FROM events)"
    )
    return sql_kmv_estimate(src, ["bucket", "event_type"], "user_id", KMV_K)


Q_KMV_ROLLUP_SQL = _kmv_rollup_sql()


# --------------------------------------------------------------------------
# corpus snapshot diff: what changed between two dataset versions — the
# release-gating report every training-data pipeline runs before
# swapping corpora.  v1/v2 are deterministic slices of the fixture;
# per source: doc deltas (anti-join semantics via FULL OUTER on
# content fingerprint) and token-volume shift.  Anti-joins shuffle
# 32-char fingerprints, never text.
# --------------------------------------------------------------------------
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T.fingerprint(load_table(spark, sf_dir, "documents"))
    v1 = docs.filter(F.col("doc_id") % 5 != 0)
    v2 = docs.filter(F.col("doc_id") % 7 != 0)
    n_tok = F.size(T.tokens(F.col("text")))
    a = v1.select("source", F.col("doc_fp").alias("fp"), n_tok.alias("t1"))
    b = v2.select("source", F.col("doc_fp").alias("fp"), n_tok.alias("t2"))
    j = a.join(b, ["source", "fp"], "full_outer")
    return j.groupBy("source").agg(
        F.count("t1").alias("n_v1"),
        F.count("t2").alias("n_v2"),
        F.count(F.when(F.col("t1").isNull(), 1)).alias("n_added"),
        F.count(F.when(F.col("t2").isNull(), 1)).alias("n_removed"),
        (F.coalesce(F.sum("t2"), F.lit(0)) - F.coalesce(F.sum("t1"), F.lit(0))
         ).alias("token_delta"),
    )


Q_CORPUS_DIFF_SQL = """
WITH d AS (
  SELECT doc_id, source,
         md5(regexp_replace(trim(text), ' +', ' ', 'g')) AS fp,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
),
a AS (SELECT source, fp, n_tok AS t1 FROM d WHERE doc_id % 5 <> 0),
b AS (SELECT source, fp, n_tok AS t2 FROM d WHERE doc_id % 7 <> 0),
j AS (SELECT COALESCE(a.source, b.source) AS source, t1, t2
      FROM a FULL OUTER JOIN b ON a.source = b.source AND a.fp = b.fp)
SELECT source,
       COUNT(t1) AS n_v1,
       COUNT(t2) AS n_v2,
       COUNT(CASE WHEN t1 IS NULL THEN 1 END) AS n_added,
       COUNT(CASE WHEN t2 IS NULL THEN 1 END) AS n_removed,
       CAST(COALESCE(SUM(t2), 0) - COALESCE(SUM(t1), 0) AS BIGINT)
         AS token_delta
FROM j GROUP BY source
"""


# --------------------------------------------------------------------------
# sequence-length distribution: the histogram every pretraining dataset
# card reports (and packing/chunking parameters are tuned by).  Bucketed
# per source; one narrow projection + hash agg.
# --------------------------------------------------------------------------
LEN_BUCKET = 10


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(T.tokens(F.col("text")))
    bucket = (F.floor(n_tok / LEN_BUCKET) * LEN_BUCKET).cast("bigint")
    return docs.groupBy(
        "source", bucket.alias("len_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok.cast("bigint")).alias("n_tokens"),
    )


Q_LENGTH_HISTOGRAM_SQL = f"""
SELECT source,
       CAST(FLOOR(len(string_split(text, ' ')) / {LEN_BUCKET})
            * {LEN_BUCKET} AS BIGINT) AS len_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
FROM documents
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# dataset-card summary pair: corpus duplication rate (one row) and
# per-source keep rate through the REAL quality filter — the two
# headline numbers of any corpus release note.
# --------------------------------------------------------------------------
def q_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T.fingerprint(load_table(spark, sf_dir, "documents"))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("doc_fp").alias("n_unique"),
        F.round(
            F.lit(1.0) - F.countDistinct("doc_fp") / F.count(F.lit(1)), 6
        ).alias("dup_ratio"),
    )


Q_DUP_RATE_SQL = """
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(regexp_replace(trim(text), ' +', ' ', 'g')))
         AS n_unique,
       ROUND(1.0 - COUNT(DISTINCT
                md5(regexp_replace(trim(text), ' +', ' ', 'g')))
              * 1.0 / COUNT(*), 6) AS dup_ratio
FROM documents
"""


def q_source_keep_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    qual = q_quality_filter(spark, sf_dir).select("doc_id", "keep")
    return (
        docs.join(qual, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
            F.round(
                F.count(F.when(F.col("keep"), 1)) / F.count(F.lit(1)), 6
            ).alias("keep_rate"),
        )
    )


Q_SOURCE_KEEP_RATE_SQL = f"""
WITH q AS ({Q_QUALITY_FILTER_SQL})
SELECT d.source, COUNT(*) AS n_docs,
       COUNT(CASE WHEN q.keep THEN 1 END) AS n_kept,
       ROUND(COUNT(CASE WHEN q.keep THEN 1 END) * 1.0 / COUNT(*), 6)
         AS keep_rate
FROM documents d JOIN q USING (doc_id)
GROUP BY d.source
"""


QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_clusters": q_dedup_clusters,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_minhash_lsh": q_minhash_lsh,
    "q_minhash_lsh_capped": q_minhash_lsh_capped,
    "q_lsh_bucket_stats": q_lsh_bucket_stats,
    "q_lsh_recall_sample": q_lsh_recall_sample,
    "q_simhash": q_simhash,
    "q_token_topk": q_token_topk,
    "q_bpe_token_stats": q_bpe_token_stats,
    "q_lang_id": q_lang_id,
    "q_text_quality": q_text_quality,
    "q_text_repetition": q_text_repetition,
    "q_cosine_topk": q_cosine_topk,
    "q_ann_bucketed": q_ann_bucketed,
    "q_ann_multiprobe": q_ann_multiprobe,
    "q_ann_ivf": q_ann_ivf,
    "q_split_mix": q_split_mix,
    "q_stratified_sample": q_stratified_sample,
    "q_pii_scrub": q_pii_scrub,
    "q_decontaminate": q_decontaminate,
    "q_embed_neardup": q_embed_neardup,
    "q_semdedup_keep": q_semdedup_keep,
    "q_semdedup_served": q_semdedup_served,
    "q_trigram_sim": q_trigram_sim,
    "q_winnow_overlap": q_winnow_overlap,
    "q_merge_upsert": q_merge_upsert,
    "q_chunk_windows": q_chunk_windows,
    "q_pack_sequences": q_pack_sequences,
    "q_quality_filter": q_quality_filter,
    "q_ann_recall": q_ann_recall,
    "q_multimodal_dedup": q_multimodal_dedup,
    "q_image_neardup": q_image_neardup,
    "q_audio_neardup": q_audio_neardup,
    "q_dataset_card": q_dataset_card,
    "q_token_rarity": q_token_rarity,
    "q_mix_temperature": q_mix_temperature,
    "q_ngram_novelty": q_ngram_novelty,
    "q_dedup_keep": q_dedup_keep,
    "q_dedup_keep_served": q_dedup_keep_served,
    "q_ann_ivf_served": q_ann_ivf_served,
    "q_bm25_topk": q_bm25_topk,
    "q_bm25_served": q_bm25_served,
    "q_tfidf_terms": q_tfidf_terms,
    "q_pmi_bigrams": q_pmi_bigrams,
    "q_substring_dedup": q_substring_dedup,
    "q_strip_dup_spans": q_strip_dup_spans,
    "q_hdr_quantiles": q_hdr_quantiles,
    "q_cms_tokens": q_cms_tokens,
    "q_cms_join_size": q_cms_join_size,
    "q_dsir_weights": q_dsir_weights,
    "q_profile_events": q_profile_events,
    "q_grouped_topk": q_grouped_topk,
    "q_drop_reasons": q_drop_reasons,
    "q_drop_reasons_served": q_drop_reasons_served,
    "q_dedup_keep_retract": q_dedup_keep_retract,
    "q_bm25_retract": q_bm25_retract,
    "q_drop_reasons_retract": q_drop_reasons_retract,
    "q_semdedup_retract": q_semdedup_retract,
    "q_ann_retract": q_ann_retract,
    "q_winnow_retract": q_winnow_retract,
    "q_cdc_snapshot": q_cdc_snapshot,
    "q_cdc_funnel": q_cdc_funnel,
    "q_cdc_ann": q_cdc_ann,
    "q_cdc_bm25": q_cdc_bm25,
    "q_cdc_winnow": q_cdc_winnow,
    "q_cdc_rollup": q_cdc_rollup,
    "q_cdc_semdedup": q_cdc_semdedup,
    "q_decontam_retract": q_decontam_retract,
    "q_cdc_decontam": q_cdc_decontam,
    "q_cdc_decontam_eval": q_cdc_decontam_eval,
    "q_cdc_card": q_cdc_card,
    "q_cdc_card_source_move": q_cdc_card_source_move,
    "q_training_shards": q_training_shards,
    "q_shard_layout": q_shard_layout,
    "q_shard_sequences": q_shard_sequences,
    "q_training_shards_served": q_training_shards_served,
    "q_shard_balance": q_shard_balance,
    "q_mixture_shards": q_mixture_shards,
    "q_cdc_shards": q_cdc_shards,
    "q_bpe_pairs": q_bpe_pairs,
    "q_bpe_pairs_roundk": q_bpe_pairs_roundk,
    "q_training_shards_bpe": q_training_shards_bpe,
    "q_vocab_coverage_served": q_vocab_coverage_served,
    "q_vocab_oov_served": q_vocab_oov_served,
    "q_cdc_vocab": q_cdc_vocab,
    "q_bpe_encode": q_bpe_encode,
    "q_bpe_encode_chars": q_bpe_encode_chars,
    "q_train_sequence_ids": q_train_sequence_ids,
    "q_train_sequences_masked": q_train_sequences_masked,
    "q_curriculum_card": q_curriculum_card,
    "q_training_shards_chars": q_training_shards_chars,
    "q_vocab_ids": q_vocab_ids,
    "q_seq_decontam_bpe": q_seq_decontam_bpe,
    "q_train_sequences": q_train_sequences,
    "q_train_sequences_eos": q_train_sequences_eos,
    "q_train_sequences_trunc": q_train_sequences_trunc,
    "q_seq_unique": q_seq_unique,
    "q_pack_efficiency": q_pack_efficiency,
    "q_curriculum_shards": q_curriculum_shards,
    "q_epoch_seq_order": q_epoch_seq_order,
    "q_seq_decontam": q_seq_decontam,
    "q_seq_decontam_served": q_seq_decontam_served,
    "q_token_budget": q_token_budget,
    "q_mask_schedule": q_mask_schedule,
    "q_shard_advisor": q_shard_advisor,
    "q_vocab_compression": q_vocab_compression,
    "q_vocab_coverage": q_vocab_coverage,
    "q_vocab_oov": q_vocab_oov,
    "q_ann_cell_stats": q_ann_cell_stats,
    "q_ann_reindex": q_ann_reindex,
    "q_dataset_card_retract": q_dataset_card_retract,
    "q_cms_retract": q_cms_retract,
    "q_hdr_retract": q_hdr_retract,
    "q_length_batches": q_length_batches,
    "q_lm_perplexity": q_lm_perplexity,
    "q_chunk_dedup": q_chunk_dedup,
    "q_epoch_shuffle": q_epoch_shuffle,
    "q_pipeline_funnel": q_pipeline_funnel,
    "q_kmv_distinct": q_kmv_distinct,
    "q_kmv_overlap": q_kmv_overlap,
    "q_kmv_rollup_incremental": q_kmv_rollup_incremental,
    "q_corpus_diff": q_corpus_diff,
    "q_length_histogram": q_length_histogram,
    "q_dup_rate": q_dup_rate,
    "q_source_keep_rate": q_source_keep_rate,
}

ORACLE = {
    "q_dedup_exact": Q_DEDUP_EXACT_SQL,
    "q_dedup_clusters": Q_DEDUP_CLUSTERS_SQL,
    "q_ngram_jaccard": Q_NGRAM_JACCARD_SQL,
    "q_minhash_lsh": Q_MINHASH_LSH_SQL,
    "q_minhash_lsh_capped": Q_MINHASH_LSH_CAPPED_SQL,
    "q_lsh_bucket_stats": Q_LSH_BUCKET_STATS_SQL,
    "q_lsh_recall_sample": Q_LSH_RECALL_SAMPLE_SQL,
    "q_simhash": Q_SIMHASH_SQL,
    "q_token_topk": Q_TOKEN_TOPK_SQL,
    "q_bpe_token_stats": Q_BPE_TOKEN_STATS_SQL,
    "q_lang_id": Q_LANG_ID_SQL,
    "q_text_quality": Q_TEXT_QUALITY_SQL,
    "q_text_repetition": Q_TEXT_REPETITION_SQL,
    "q_cosine_topk": Q_COSINE_TOPK_SQL,
    "q_ann_bucketed": Q_ANN_BUCKETED_SQL,
    "q_ann_multiprobe": Q_ANN_MULTIPROBE_SQL,
    "q_ann_ivf": Q_ANN_IVF_SQL,
    "q_split_mix": Q_SPLIT_MIX_SQL,
    "q_stratified_sample": Q_STRATIFIED_SAMPLE_SQL,
    "q_pii_scrub": Q_PII_SCRUB_SQL,
    "q_decontaminate": Q_DECONTAMINATE_SQL,
    "q_embed_neardup": Q_EMBED_NEARDUP_SQL,
    "q_semdedup_keep": Q_SEMDEDUP_SQL,
    "q_semdedup_served": Q_SEMDEDUP_SQL,
    "q_trigram_sim": Q_TRIGRAM_SQL,
    "q_winnow_overlap": Q_WINNOW_SQL,
    "q_merge_upsert": Q_MERGE_UPSERT_SQL,
    "q_chunk_windows": Q_CHUNK_WINDOWS_SQL,
    "q_pack_sequences": Q_PACK_SEQUENCES_SQL,
    "q_quality_filter": Q_QUALITY_FILTER_SQL,
    "q_ann_recall": Q_ANN_RECALL_SQL,
    "q_multimodal_dedup": Q_MULTIMODAL_DEDUP_SQL,
    "q_token_rarity": Q_TOKEN_RARITY_SQL,
    "q_mix_temperature": Q_MIX_TEMPERATURE_SQL,
    "q_ngram_novelty": Q_NGRAM_NOVELTY_SQL,
    "q_dedup_keep": Q_DEDUP_KEEP_SQL,
    "q_dedup_keep_served": Q_DEDUP_KEEP_SQL,
    "q_ann_ivf_served": Q_ANN_IVF_SQL,
    "q_bm25_topk": Q_BM25_SQL,
    "q_bm25_served": Q_BM25_SQL,
    "q_tfidf_terms": Q_TFIDF_SQL,
    "q_pmi_bigrams": Q_PMI_SQL,
    "q_substring_dedup": Q_SUBSTRING_DEDUP_SQL,
    "q_strip_dup_spans": Q_STRIP_SPANS_SQL,
    "q_hdr_quantiles": Q_HDR_QUANTILES_SQL,
    "q_cms_tokens": Q_CMS_TOKENS_SQL,
    "q_cms_join_size": Q_CMS_JOIN_SIZE_SQL,
    "q_dsir_weights": Q_DSIR_SQL,
    "q_profile_events": Q_PROFILE_EVENTS_SQL,
    "q_grouped_topk": Q_GROUPED_TOPK_SQL,
    "q_drop_reasons": Q_DROP_REASONS_SQL,
    "q_drop_reasons_served": Q_DROP_REASONS_SQL,
    "q_dedup_keep_retract": Q_DEDUP_KEEP_RETRACT_SQL,
    "q_bm25_retract": Q_BM25_RETRACT_SQL,
    "q_drop_reasons_retract": Q_DROP_REASONS_RETRACT_SQL,
    "q_semdedup_retract": Q_SEMDEDUP_RETRACT_SQL,
    "q_ann_retract": Q_ANN_RETRACT_SQL,
    "q_winnow_retract": Q_WINNOW_RETRACT_SQL,
    "q_cdc_snapshot": Q_CDC_SNAPSHOT_SQL,
    "q_cdc_funnel": Q_CDC_FUNNEL_SQL,
    "q_cdc_ann": Q_CDC_ANN_SQL,
    "q_cdc_bm25": Q_CDC_BM25_SQL,
    "q_cdc_winnow": Q_CDC_WINNOW_SQL,
    "q_cdc_rollup": Q_CDC_ROLLUP_SQL,
    "q_cdc_semdedup": Q_CDC_SEMDEDUP_SQL,
    "q_decontam_retract": Q_DECONTAM_RETRACT_SQL,
    "q_cdc_decontam": Q_CDC_DECONTAM_SQL,
    "q_cdc_decontam_eval": Q_CDC_DECONTAM_EVAL_SQL,
    "q_cdc_card": Q_CDC_CARD_SQL,
    "q_cdc_card_source_move": Q_CDC_CARD_SOURCE_MOVE_SQL,
    "q_training_shards": Q_TRAINING_SHARDS_SQL,
    "q_shard_layout": Q_SHARD_LAYOUT_SQL,
    "q_shard_sequences": Q_SHARD_SEQUENCES_SQL,
    "q_training_shards_served": Q_TRAINING_SHARDS_SQL,
    "q_shard_balance": Q_SHARD_BALANCE_SQL,
    "q_mixture_shards": Q_MIXTURE_SHARDS_SQL,
    "q_cdc_shards": Q_CDC_SHARDS_SQL,
    "q_bpe_pairs": Q_BPE_PAIRS_SQL,
    "q_bpe_pairs_roundk": Q_BPE_PAIRS_ROUNDK_SQL,
    "q_training_shards_bpe": _training_shards_bpe_sql(),
    "q_vocab_coverage_served": Q_VOCAB_COVERAGE_SQL,
    "q_vocab_oov_served": Q_VOCAB_OOV_SQL,
    "q_cdc_vocab": Q_CDC_VOCAB_SQL,
    "q_bpe_encode": _bpe_encode_sql(),
    "q_bpe_encode_chars": _bpe_encode_chars_sql(),
    "q_train_sequence_ids": _train_sequence_ids_sql(),
    "q_train_sequences_masked": _train_sequences_masked_sql(),
    "q_curriculum_card": _curriculum_card_sql(),
    "q_training_shards_chars": _training_shards_chars_sql(),
    "q_vocab_ids": _vocab_ids_sql(),
    "q_seq_decontam_bpe": _seq_decontam_bpe_sql(),
    "q_train_sequences": _train_sequences_sql(),
    "q_train_sequences_eos": _train_sequences_eos_sql(),
    "q_train_sequences_trunc": _train_sequences_trunc_sql(),
    "q_seq_unique": _seq_unique_sql(),
    "q_pack_efficiency": Q_PACK_EFFICIENCY_SQL,
    "q_curriculum_shards": Q_CURRICULUM_SHARDS_SQL,
    "q_epoch_seq_order": Q_EPOCH_SEQ_ORDER_SQL,
    "q_seq_decontam": Q_SEQ_DECONTAM_SQL,
    "q_seq_decontam_served": Q_SEQ_DECONTAM_SQL,
    "q_token_budget": Q_TOKEN_BUDGET_SQL,
    "q_mask_schedule": Q_MASK_SCHEDULE_SQL,
    "q_shard_advisor": Q_SHARD_ADVISOR_SQL,
    "q_vocab_compression": _vocab_compression_sql(),
    "q_vocab_coverage": Q_VOCAB_COVERAGE_SQL,
    "q_vocab_oov": Q_VOCAB_OOV_SQL,
    "q_ann_cell_stats": Q_ANN_CELL_STATS_SQL,
    "q_ann_reindex": Q_ANN_REINDEX_SQL,
    "q_dataset_card_retract": Q_DATASET_CARD_RETRACT_SQL,
    "q_cms_retract": Q_CMS_RETRACT_SQL,
    "q_hdr_retract": Q_HDR_RETRACT_SQL,
    "q_image_neardup": Q_IMAGE_NEARDUP_SQL,
    "q_audio_neardup": Q_AUDIO_NEARDUP_SQL,
    "q_dataset_card": Q_DATASET_CARD_SQL,
    "q_length_batches": Q_LENGTH_BATCHES_SQL,
    "q_lm_perplexity": Q_LM_PERPLEXITY_SQL,
    "q_chunk_dedup": Q_CHUNK_DEDUP_SQL,
    "q_epoch_shuffle": Q_EPOCH_SHUFFLE_SQL,
    "q_pipeline_funnel": Q_PIPELINE_FUNNEL_SQL,
    "q_kmv_distinct": Q_KMV_DISTINCT_SQL,
    "q_kmv_overlap": Q_KMV_OVERLAP_SQL,
    "q_kmv_rollup_incremental": Q_KMV_ROLLUP_SQL,
    "q_corpus_diff": Q_CORPUS_DIFF_SQL,
    "q_length_histogram": Q_LENGTH_HISTOGRAM_SQL,
    "q_dup_rate": Q_DUP_RATE_SQL,
    "q_source_keep_rate": Q_SOURCE_KEEP_RATE_SQL,
}
