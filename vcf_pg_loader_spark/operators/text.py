"""Text-analysis operators for large-scale training-data pipelines.

All of these are pure JVM-side column expressions (no Python UDFs): at
100 TB the tokenizer and quality metrics run inside whole-stage codegen
with zero Python round-trips.  Everything is a narrow (per-row) transform
— no shuffle — so they compose with any downstream dedup/agg for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Stopword lists used by the n-gram/stopword language-ID heuristic.
# Deliberately tiny + deterministic so the DuckDB oracle can mirror them.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "de", "que", "y", "un"),
    "fr": ("le", "la", "de", "et", "un", "une"),
    "de": ("der", "die", "das", "und", "ein", "zu"),
}
# Tie-break precedence when stopword counts are equal.
LANG_PRECEDENCE = ("en", "es", "fr", "de")


def tokens(text: Column) -> Column:
    """Whitespace tokenizer (the fixtures are single-space separated)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_ratio(text: Column) -> Column:
    """Vocabulary richness: |distinct tokens| / |tokens| (double)."""
    t = tokens(text)
    return F.size(F.array_distinct(t)).cast("double") / F.size(t)


def avg_token_len(text: Column) -> Column:
    """Mean token length = (chars - separators) / tokens, in doubles."""
    n = token_count(text)
    return (F.length(text) - (n - F.lit(1))).cast("double") / n


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of tokens (with multiplicity) in the language's stopword set.

    Higher-order `filter` keeps this JVM-side (no UDF, no explode/shuffle).
    """
    words = list(STOPWORDS[lang])
    return F.size(F.filter(tokens(text), lambda t: t.isin(words)))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit counts
    with fixed precedence tie-break; 'und' when no stopwords at all.

    Reference analogue: none (pipeline extension); semantics chosen to be
    SQL-expressible for the oracle.
    """
    text = F.col(text_col)
    hit_cols = {lang: stopword_hits(text, lang) for lang in LANG_PRECEDENCE}
    best = F.greatest(*hit_cols.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_PRECEDENCE:
        pred = pred.when(hit_cols[lang] == best, F.lit(lang))
    out = df.withColumn("pred_lang", pred)
    for lang in LANG_PRECEDENCE:
        out = out.withColumn(f"hits_{lang}", hit_cols[lang])
    return out


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals (length, richness, stopword ratio).

    The `quality_score` weighting mirrors common pretraining-data filters:
    prefer mid-length docs with healthy stopword density and vocabulary.
    """
    text = F.col(text_col)
    n = token_count(text)
    sw = sum((stopword_hits(text, lang) for lang in LANG_PRECEDENCE), F.lit(0))
    return (
        df.withColumn("n_tokens", n)
        .withColumn("distinct_ratio", distinct_token_ratio(text))
        .withColumn("avg_token_len", avg_token_len(text))
        .withColumn("stopword_ratio", sw.cast("double") / n)
        .withColumn(
            "quality_score",
            (
                F.when((n >= 20) & (n <= 1000), F.lit(0.5)).otherwise(F.lit(0.0))
                + F.col("distinct_ratio") * 0.25
                + F.col("stopword_ratio") * 0.25
            ),
        )
    )


def char_trigrams(text: Column) -> Column:
    """Distinct character 3-grams of ' '-padded lowercased text — the
    pg_trgm tokenization (reference schema.py:294-297 uses a trigram
    index on hgvs_p; this is the computable equivalent)."""
    padded = F.concat(F.lit("  "), F.lower(F.trim(text)), F.lit(" "))
    n = F.length(padded)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
        lambda i: padded.substr(i, F.lit(3)),
    )
    return F.array_distinct(grams)


def trigram_similarity(a: Column, b: Column) -> Column:
    """pg_trgm-style similarity: |trigrams(a) ∩ trigrams(b)| / |union|."""
    ta, tb = char_trigrams(a), char_trigrams(b)
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(0.0)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of whitespace-normalized
    text (the reference's file-hash dedupe, loader.py:73-83, applied at
    document granularity)."""
    norm = F.regexp_replace(F.trim(F.col(text_col)), " +", " ")
    return df.withColumn("doc_fp", F.md5(norm))


# --------------------------------------------------------------------------
# winnowing (rolling-hash fingerprints; Schleimer/Wilkerson/Aiken's MOSS
# algorithm): per-doc SET of selected k-gram hashes such that any shared
# substring of length >= k + w - 1 is GUARANTEED to share a fingerprint —
# partial-overlap / passage-reuse detection, which whole-doc hashing and
# Jaccard-style dedup cannot do.
# --------------------------------------------------------------------------
WINNOW_K = 8  # k-gram length (chars)
WINNOW_W = 4  # window size (hashes)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """(doc_id, fp) rows: the minimum hash of every w-hash window over
    the doc's rolling char k-grams, deduplicated.

    Pure column expressions (transform/slice/array_min) — no UDF, stays
    in codegen; work is O(len * w) per document, the inherent winnowing
    cost.  Docs shorter than k chars yield no fingerprints; docs with
    fewer than w k-grams yield their single global minimum (one-window
    degenerate case).
    """
    from vcf_pg_loader_spark.functions.hashing import h60
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    txt = F.lower(F.col(text_col))
    n = F.length(txt)
    grams = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: txt.substr(i, F.lit(k)),
    )
    hashes = F.when(
        n >= k, F.transform(grams, lambda g: h60(g, salt="wn:"))
    ).otherwise(F.array().cast("array<bigint>"))
    # MATERIALIZE the hash array before windowing: expression trees have
    # no common-subexpression store, so slicing the raw transform chain
    # would recompute every md5 once per window (O(m^2) hashing).
    hashed = ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc_id"), hashes.alias("_hs")
    )
    hs = F.col("_hs")
    m = F.size(hs)
    sel = (
        F.when(
            m >= w,
            F.transform(
                F.sequence(F.lit(1), m - w + 1),
                lambda j: F.array_min(F.slice(hs, j, w)),
            ),
        )
        .when(m >= 1, F.array(F.array_min(hs)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return hashed.select(
        "doc_id", F.explode(F.array_distinct(sel)).alias("fp")
    )


def winnow_overlap_pairs(
    fps: DataFrame, max_df: int = 10, min_shared: int = 3
) -> DataFrame:
    """Doc pairs sharing >= min_shared winnowing fingerprints.

    Scale guards: fingerprints appearing in more than `max_df` docs
    (boilerplate) are dropped BEFORE the self-join, so no hot key can
    explode the equi-join; pair aggregation is one shuffle on (d1, d2).

    The fingerprint table feeds three plan branches (document-frequency
    count + both self-join sides); persist it so the O(len·w) winnowing
    expression runs once per document, not three times.

    Cache lifetime: the persisted blocks back the RETURNED (lazy) plan,
    so this function cannot unpersist them itself — the caller owns the
    lifetime (the query runner, vcf_pg_loader_spark/runner.py, releases
    it after each run; otherwise the ContextCleaner drops it once the
    frame is unreachable).
    """
    from pyspark.storagelevel import StorageLevel

    fps = fps.persist(StorageLevel.MEMORY_AND_DISK)
    dfc = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
    rare = fps.join(dfc.filter(F.col("_df") <= max_df), "fp")
    a, b = rare.alias("a"), rare.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# n-gram repetition (Gopher-style quality signals)
# --------------------------------------------------------------------------
def ngram_repetition(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Per-doc n-gram repetition signals (Rae et al. 2021, "Gopher",
    App. A1.1: duplicate/top n-gram fractions flag machine-generated and
    boilerplate text that length/stopword filters miss).

    Returns (doc_id, n_grams, n_distinct, top_count, dup_frac, top_frac)
    for every doc with at least one n-gram, where
      dup_frac = 1 - n_distinct / n_grams   (fraction of repeated grams)
      top_frac = top_count / n_grams        (mass of the single hottest gram)

    Plan shape: one explode (rows ∝ tokens) feeding two hash aggregations
    — (doc, gram) counts, then per-doc rollup.  Both partial-aggregate
    map-side; no joins, nothing quadratic, fractions are exact int/int
    divisions so the DuckDB twin matches bit-for-bit.
    """
    from vcf_pg_loader_spark.operators._parallel import ensure_min_parallelism

    # materialize the token array first — no CSE across expression trees,
    # so element_at over a raw split() chain would re-split per element
    tokenized = ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.col(text_col)), " ").alias("_toks"),
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
    per_gram = (
        tokenized.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return per_gram.groupBy("doc_id").agg(
        F.sum("_c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("_c").alias("top_count"),
    ).select(
        "doc_id",
        "n_grams",
        "n_distinct",
        "top_count",
        (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams")).alias(
            "dup_frac"
        ),
        (F.col("top_count").cast("double") / F.col("n_grams")).alias("top_frac"),
    )


def sql_ngram_repetition(n: int = 2, table: str = "documents") -> str:
    """DuckDB twin of :func:`ngram_repetition` (1-based list indexing)."""
    concat = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    return f"""
      SELECT doc_id, n_grams, n_distinct, top_count,
             1 - CAST(n_distinct AS DOUBLE) / n_grams AS dup_frac,
             CAST(top_count AS DOUBLE) / n_grams AS top_frac
      FROM (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
               COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_count
        FROM (
          SELECT doc_id, gram, COUNT(*) AS c
          FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(tk) - {n - 1}, 0) + 1),
                                         i -> {concat})) AS gram
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM {table})
          ) GROUP BY doc_id, gram
        ) GROUP BY doc_id
      )
    """


# --------------------------------------------------------------------------
# BPE-ish regex tokenization
# --------------------------------------------------------------------------
# GPT-2-style pre-tokenizer, constrained to constructs Java regex and
# DuckDB's RE2 interpret identically (leftmost-first alternation, no
# lookahead, explicit ASCII classes): contractions, letter runs, digit
# runs, punctuation runs.  This is the unit a BPE vocabulary would merge
# over — counting it estimates LM token cost far better than whitespace.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


def bpe_ish_tokens(text: Column) -> Column:
    """Array of BPE-ish pre-tokens (JVM regex, no Python)."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text))


def sql_bpe_ish_count(text: str = "text") -> str:
    """DuckDB twin of :func:`bpe_ish_token_count` (RE2 engine)."""
    quoted = BPE_ISH_PATTERN.replace("'", "''")
    return f"len(regexp_extract_all({text}, '{quoted}'))"


# --------------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------------
# Patterns constrained to constructs Java regex and RE2 share (no
# lookaround, explicit ASCII classes).  Ordered: emails first so the
# phone pattern never eats digits out of an address.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+",
    "ipv4": r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+",
    "phone": r"\+[0-9][0-9 ()-]{6,}[0-9]",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (JVM regexp, no Python)."""
    return {
        kind: F.regexp_count(text, F.lit(pat)) for kind, pat in PII_PATTERNS.items()
    }


def scrub_pii(text: Column) -> Column:
    """Replace every PII match with a <KIND> tag, in pattern order."""
    out = text
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def sql_pii_count(kind: str, text: str = "text") -> str:
    pat = PII_PATTERNS[kind].replace("'", "''")
    return f"len(regexp_extract_all({text}, '{pat}'))"


def sql_scrub_pii(text: str = "text") -> str:
    out = text
    for kind, pat in PII_PATTERNS.items():
        quoted = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{quoted}', '<{kind.upper()}>', 'g')"
    return out
