"""BPE merge learning (Sennrich et al. 2016): learn the top-k byte-pair
merges from a corpus — the tokenizer-training primitive.

One trainer, :func:`bpe_train`, over a (w, n) unit-counts frame — the
corpus collapsed ONCE to word statistics (:func:`word_counts`), or a
maintained vocabulary (streaming/vocab.py).  All further work runs on
that vocabulary-sized table, never the corpus, along one of two paths
picked by one bounded probe:

  - in memory (:func:`bpe_learn_from_counts`): the table is collected
    and a lazy-deletion heap learns the merges exactly;
  - batched Spark rounds, for a table past LOCAL_MAX_TYPES: each round
    counts adjacent pairs (one explode, one keyed sum), takes the top
    candidates, merges a provably-safe disjoint batch of them as one
    per-word array fold (F.aggregate, no Python in any plan), and
    localCheckpoints the state to truncate lineage.

Both learn the identical merge sequence.  The learned merge TABLE is
the model; applying it to new text is the same fold replayed in merge
order.  Correctness is pinned against a plain-Python reference
implementation (tests/test_bpe.py) rather than the SQL oracle: the
per-round argmax routes through the driver (it IS the model parameter
being learned), which makes the whole loop driver-mediated — the
documented weaker check, like PQ.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators.dedup import release_checkpoint

END = "</w>"  # end-of-word marker, per the original formulation

# chars mode: bound on the atomic BPE unit (round-12 verdict item 1).
# In "words" mode the unit is a whitespace-split word; on CJK or other
# no-space corpora each line becomes ONE giant type — the word cache
# stops paying, encode goes O(len^2) per type, and the local trainer's
# driver collect holds line-sized strings.  "chars" mode instead chunks
# the RAW text (spaces included as ordinary symbols, no END marker)
# into fixed MAX_CHARS-character units, so every unit is bounded no
# matter the script: encode is O(MAX_CHARS^2) per unique chunk and the
# concatenated pieces reconstruct the text exactly.  Merges cannot
# cross chunk boundaries — the standard bounded-window concession every
# pre-tokenizer makes (GPT-2's regex, SentencePiece's max sentence
# piece length).  Spark strings are UTF-8 text, so the unit is a
# CHARACTER, not a byte: same economics as byte-level BPE without
# invalid-UTF-8 intermediate pieces.
MAX_CHARS = 16


def tokenizer_fingerprint(
    merges: list[tuple[str, str]],
    mode: str = "words",
    max_chars: int | None = None,
) -> int:
    """60-bit identity of the token-LENGTH function — the thing a
    packed shard layout actually depends on: the merge table in
    application order plus the pre-segmentation (mode, and in chars
    mode the chunk bound).  Two artifacts trained on the SAME corpus
    with different --n-merges (same corpus_fp) tokenize differently
    and must not share this fingerprint; conversely max_chars is
    irrelevant in words mode and deliberately excluded there, so a
    spelling-only knob never splits identities (round-13 advice
    item 2: corpus_fp is corpus identity, not tokenizer identity)."""
    import hashlib
    import json as _json

    payload = _json.dumps(
        {
            "merges": [list(m) for m in merges],
            "mode": mode,
            "max_chars": (
                int(max_chars if max_chars is not None else MAX_CHARS)
                if mode != "words"
                else None
            ),
        },
        sort_keys=True,
        ensure_ascii=False,
    )
    return int(hashlib.md5(payload.encode("utf-8")).hexdigest()[:15], 16)


def _chunks(text: Column, max_chars: int) -> Column:
    """Raw text chunked into max_chars-character units (chars mode)."""
    n = F.ceil(F.length(text) / F.lit(max_chars)).cast("int")
    return F.when(
        F.length(text) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.substring(
                text, (i - F.lit(1)) * max_chars + 1, F.lit(max_chars)
            ),
        )
    )


def _units(
    text: Column, mode: str, max_chars: int
) -> Column:
    """The atomic BPE units of a document: whitespace words ("words")
    or bounded raw-text chunks ("chars").  Empty units only arise in
    words mode (consecutive spaces) and are filtered by callers."""
    if mode == "words":
        return F.split(text, " ")
    if mode == "chars":
        return _chunks(text, max_chars)
    raise ValueError(f"unknown BPE mode {mode!r}")


def _py_units(text: str, mode: str, max_chars: int) -> list[str]:
    """Python-side twin of :func:`_units` for the Arrow encoders."""
    if mode == "words":
        return [w for w in text.split(" ") if w]
    return [text[i : i + max_chars] for i in range(0, len(text), max_chars)]


def word_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "words",
    max_chars: int = MAX_CHARS,
) -> DataFrame:
    """(word, n): the corpus collapsed to unit statistics (whitespace
    words, or bounded chunks in chars mode).
    Deliberately not widened (optimization round 15): the
    ensure_min_parallelism A/B lost at bench scale — see
    operators/lm.py _doc_bigrams."""
    return (
        docs.select(
            F.explode(_units(F.col(text_col), mode, max_chars)).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_symbols(w: Column, mode: str = "words") -> Column:
    """Character symbols; words mode appends the end-of-word marker
    (chars mode units are arbitrary slices — an END sentinel would
    mark nothing and cost a token per chunk, and omitting it keeps
    concat(pieces) == text exactly)."""
    chars = F.filter(F.split(w, ""), lambda c: c != "")
    if mode == "chars":
        return chars
    return F.concat(chars, F.array(F.lit(END)))


def _adjacent_pairs(sym: Column) -> Column:
    n = F.size(sym)
    return F.zip_with(
        F.slice(sym, 1, n - 1),
        F.slice(sym, 2, n - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )


def _apply_merge(sym: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) into one
    symbol, as a pure array fold."""
    merged = left + right

    def step(acc: Column, x: Column) -> Column:
        # try_element_at: ANSI-safe on the empty accumulator (plain
        # element_at throws; `&` does not short-circuit — the shingles
        # lesson applied to folds)
        prev = F.try_element_at(acc, F.lit(-1))
        can = (F.size(acc) > 0) & (prev == F.lit(left)) & (x == F.lit(right))
        return F.when(
            can,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(sym, F.array().cast("array<string>"), step)


def bpe_encode_doc_arrow(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_all: bool = False,
    mode: str = "words",
    max_chars: int = MAX_CHARS,
) -> DataFrame:
    """Whole-document encode: ONE row per document with a `pieces`
    column holding the BPE pieces of its words concatenated in
    document order — the form a trainer's dataloader consumes
    (export-shard --emit-pieces) and the only encode shape that
    preserves word order without a positional explode/groupBy
    round-trip.  Same rank-priority encoder and per-task word cache as
    :func:`bpe_encode_arrow` (pinned equal in tests); one Arrow pass,
    no shuffle, and — being a narrow map — the input's per-partition
    row order (e.g. a materialized shard's packed order) carries
    through.  ``keep_all`` keeps every input column; default output is
    (id, pieces)."""
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    rank = {pair: i for i, pair in enumerate(merges)}
    no_rank = len(rank)

    base = docs if keep_all else docs.select(id_col, text_col)
    out_cols = [f.name for f in base.schema.fields]
    if not keep_all:
        out_cols.remove(text_col)
    out_schema = StructType(
        [base.schema[c] for c in out_cols]
        + [StructField("pieces", ArrayType(StringType()))]
    )

    tail = [] if mode == "chars" else [END]

    def encode_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word) + tail
        while len(syms) > 1:
            best_i, best_r = -1, no_rank
            for i in range(len(syms) - 1):
                r = rank.get((syms[i], syms[i + 1]), no_rank)
                if r < best_r:
                    best_i, best_r = i, r
            if best_i < 0 or best_r >= no_rank:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        cache[word] = syms
        return syms

    def batches(it):
        cache: dict = {}
        for pdf in it:
            if len(cache) > 1_000_000:
                cache = {}
            pieces = []
            for text in pdf[text_col]:
                doc: list[str] = []
                for w in _py_units(text, mode, max_chars):
                    doc.extend(encode_word(w, cache))
                pieces.append(doc)
            out = pdf[out_cols].copy()
            out["pieces"] = pieces
            yield out

    return base.mapInPandas(batches, schema=out_schema)


def bpe_token_lengths(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "words",
    max_chars: int = MAX_CHARS,
) -> DataFrame:
    """Per-document BPE token counts (id, n_tokens) under a learned
    merge table — the lengths frame the training-shard layout packs in
    TOKENIZER space (round-11 verdict item 3: the layout's seq_len cuts
    must speak the same tokens the trainer consumes).  One Arrow encode
    pass (bpe_encode_arrow), then a map-side-combinable sum; documents
    with no words keep an explicit 0 so the layout stays total."""
    enc = bpe_encode_arrow(docs, merges, id_col, text_col, mode, max_chars)
    lens = enc.groupBy(id_col).agg(
        F.sum(F.size("pieces")).cast("bigint").alias("n_tokens")
    )
    return (
        docs.select(id_col)
        .join(lens, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("bigint")).alias(
                "n_tokens"
            ),
        )
    )


def _select_batch(
    rows: list, max_batch: int, truncated: bool
) -> list[tuple[str, str]]:
    """Pick the largest count-sorted prefix of candidate pairs that is
    provably safe to merge in ONE round with results identical to
    sequential BPE.  `rows` are (l, r, c) sorted by (-c, l, r);
    `truncated` says the candidate list was cut by LIMIT (pairs beyond
    it exist with count <= the last row's).

    Exactness argument (the round-11 verdict item 2 design):
      - Accept pairs in sorted order while they are pairwise
        symbol-disjoint and no member equals another accepted pair's
        concatenation; STOP at the first conflicting pair (never skip)
        — so no pair ranked between two accepted pairs is deferred
        with a count that could still beat the later one.
      - Disjointness means earlier accepted merges cannot change a
        later accepted pair's count, so each accepted pair is still
        the argmax at its sequential turn UNLESS a *new* pair (one
        containing a just-created symbol `l+r`) outranks it.  Any new
        pair's count is bounded by an ORIGINAL pair overlapping an
        accepted merge ((prev, l+r) occurrences embed (prev, l) ones),
        and every such pair either ranks below the accepted prefix or
        is the conflict we stopped at — so new pairs can only TIE the
        boundary count, never exceed it.
      - Therefore: drop accepted pairs whose count equals the boundary
        count (the first conflict's count; the last row's count when
        the list was LIMIT-truncated or the batch was size-cut).  The
        survivors beat every unseen/conflicting/new pair strictly.
      - Progress guarantee: the first pair alone IS the sequential
        argmax, so if tie-truncation empties the batch, keep it.
    """
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()
    concats: set[str] = set()
    cut_count: int | None = None
    for i, (left, right, c) in enumerate(rows):
        if c < 2:
            break
        merged = left + right
        if (
            left in used
            or right in used
            or left in concats
            or right in concats
            or merged in used
            or merged in concats
        ):
            cut_count = c
            break
        accepted.append((left, right, c))
        used.update((left, right))
        concats.add(merged)
        if len(accepted) >= max_batch:
            if i + 1 < len(rows):
                cut_count = rows[i + 1][2]
            elif truncated:
                cut_count = c
            break
    else:
        if truncated and rows:
            cut_count = rows[-1][2]
    if cut_count is not None:
        kept = [(l, r) for (l, r, c) in accepted if c > cut_count]
    else:
        kept = [(l, r) for (l, r, _) in accepted]
    if not kept and accepted:
        kept = [accepted[0][:2]]  # argmax alone is always exact
    return kept


def _apply_merge_batch(
    sym: Column, pairs: list[tuple[str, str]]
) -> Column:
    """Apply a symbol-disjoint batch of merges in ONE fold pass.  A
    map literal (l\\x00r -> l+r) keys the step; disjointness (enforced
    by _select_batch) guarantees a merged symbol can never be a member
    of another batch pair, so one greedy left-to-right pass realizes
    every merge exactly as k sequential passes would."""
    if len(pairs) == 1:
        return _apply_merge(sym, *pairs[0])
    kv: list[Column] = []
    for left, right in pairs:
        kv.append(F.lit(left + "\x00" + right))
        kv.append(F.lit(left + right))
    merge_map = F.create_map(*kv)

    def step(acc: Column, x: Column) -> Column:
        prev = F.try_element_at(acc, F.lit(-1))
        # concat_ws drops the NULL prev on the empty accumulator,
        # yielding a bare symbol that cannot collide with any
        # \x00-joined key (split(' ') text never contains \x00)
        merged = F.try_element_at(merge_map, F.concat_ws("\x00", prev, x))
        return F.when(
            (F.size(acc) > 0) & merged.isNotNull(),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(sym, F.array().cast("array<string>"), step)


def _learn_batched(
    counts: DataFrame,
    n_merges: int,
    mode: str = "words",
    candidates: int = 256,
    max_batch: int = 64,
) -> list[tuple[str, str]]:
    """Sequential-exact BPE learning in BATCHED Spark rounds (round-11
    verdict item 2) — :func:`bpe_train`'s path for a type table past
    LOCAL_MAX_TYPES: each round runs one pair-count job, collects the
    top `candidates` pairs (a model-parameter-scale collect), accepts
    the provably-safe disjoint prefix (see _select_batch), and applies
    the whole batch in one fold — so a large vocabulary costs
    O(n_merges / batch) Spark rounds instead of one round per merge.
    In chars mode the state table is chunk-typed (each row <=
    max_chars symbols), never line-sized.  Each round's checkpoint is
    released once the next one supersedes it, the last one on return,
    so the trainer leaves no blocks behind."""
    state = counts.select(
        _initial_symbols(F.col("w"), mode).alias("sym"), F.col("n")
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        rows = [
            (r["l"], r["r"], r["c"])
            for r in (
                state.select(
                    F.explode(_adjacent_pairs(F.col("sym"))).alias("p"), "n"
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("n").alias("c"))
                .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
                .limit(candidates)
                .collect()
            )
        ]
        batch = _select_batch(
            rows,
            min(max_batch, n_merges - len(merges)),
            truncated=len(rows) >= candidates,
        )
        if not batch:
            break
        merges.extend(batch)
        done = state
        state = state.select(
            _apply_merge_batch(F.col("sym"), batch).alias("sym"), "n"
        ).localCheckpoint(eager=True)
        release_checkpoint(done)
    release_checkpoint(state)
    return merges


def bpe_learn_from_counts(
    counts: list[tuple[str, int]], n_merges: int, mode: str = "words"
) -> list[tuple[str, str]]:
    """Exact sequential BPE over an in-memory (word, count) table —
    :func:`bpe_train`'s path within LOCAL_MAX_TYPES: the corpus-scale
    step is the distributed word-count collapse (one pass over 100 TB);
    the surviving table is vocabulary-sized (10^5-10^6 rows), i.e.
    model-parameter scale, the same driver-side contract as PQ codebook
    training.  A lazy-deletion heap keyed (-count, l, r) keeps the
    max-count, lexicographic tie-break, so 32k merges cost
    O(updates log P), not O(merges * pairs) — pinned against the
    Python reference in tests/test_bpe.py."""
    import heapq
    from collections import defaultdict

    words: list[list[str]] = []
    wn: list[int] = []
    tail = [] if mode == "chars" else [END]
    for w, n in counts:
        words.append(list(w) + tail)
        wn.append(n)
    # Hot-loop notes (optimization round 16, guide §1.2 per-task work —
    # this IS the per-task work of the driver-side trainer, ~40% faster
    # on a chars-mode table): iterate the zip tuples directly instead
    # of unpacking and rebuilding (a, b) per dict op, and keep the
    # inverted index as LISTS with possible duplicate/stale entries —
    # the apply loop already tolerates staleness (the len(out) ==
    # len(syms) check), and append is far cheaper than set.add.
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: defaultdict[tuple[str, str], list[int]] = defaultdict(list)
    pc_get = pair_counts.get
    for i, syms in enumerate(words):
        n = wn[i]
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pc_get(p, 0) + n
            pair_words[p].append(i)
    heap = [(-c, p[0], p[1]) for p, c in pair_counts.items()]
    heapq.heapify(heap)
    heappush = heapq.heappush

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, left, right = heapq.heappop(heap)
        top = (left, right)
        cur = pc_get(top, 0)
        if -negc != cur:
            continue  # stale heap entry
        if cur < 2:
            break
        merges.append(top)
        merged = left + right
        touched: set[tuple[str, str]] = set()
        t_add = touched.add
        for i in pair_words.pop(top, ()):
            syms = words[i]
            n = wn[i]
            out: list[str] = []
            ap = out.append
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    ap(x)
            if len(out) == len(syms):
                continue  # stale membership (duplicate or already merged)
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= n
                t_add(p)
            for p in zip(out, out[1:]):
                pair_counts[p] = pc_get(p, 0) + n
                pair_words[p].append(i)
                t_add(p)
            words[i] = out
        for p in touched:
            if pc_get(p, 0) <= 0:
                pair_counts.pop(p, None)
                pair_words.pop(p, None)
            else:
                heappush(heap, (-pair_counts[p], p[0], p[1]))
    return merges


# The in-memory trainer's driver bound, in (w, n) rows (~100 bytes
# each, so ~100 MB): a type table up to this size is collected and
# trained on the driver; a larger one — a words-mode table at 100 TB has
# a billions-deep singleton tail — trains in batched Spark rounds, whose
# per-round collects are model-parameter sized.
LOCAL_MAX_TYPES = 1_000_000


def bpe_train(
    counts: DataFrame, n_merges: int, mode: str = "words"
) -> tuple[list[tuple[str, str]], str]:
    """Learn `n_merges` merges from a (w, n) unit-counts frame —
    :func:`word_counts` of a corpus, or a maintained
    streaming/vocab.py VocabSink.counts table.  Returns (merges, path).

    One probe, ``limit(LOCAL_MAX_TYPES + 1)``, both picks the path and
    fetches the table, so at most LOCAL_MAX_TYPES + 1 rows ever reach
    the driver: within the bound the merges are learned in memory
    (:func:`bpe_learn_from_counts`, path "local"), past it in batched
    rounds over the same frame (path "batched").  Both paths learn the
    identical merge sequence (pinned in tests/test_bpe.py), so the path
    changes where training happens, never what it learns.

    A word-frequency floor is the caller's: filtering ``n >= min_count``
    before the call bounds the table on heavy singleton tails — the
    standard approximation, not exactly merge-preserving at ties."""
    rows = counts.limit(LOCAL_MAX_TYPES + 1).collect()
    if len(rows) <= LOCAL_MAX_TYPES:
        merges = bpe_learn_from_counts(
            [(r["w"], r["n"]) for r in rows], n_merges, mode
        )
        return merges, "local"
    return _learn_batched(counts, n_merges, mode), "batched"


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "words",
    max_chars: int = MAX_CHARS,
) -> DataFrame:
    """Apply a learned merge table to a corpus: (id, tokens) where each
    word is segmented by replaying the merges in order — one fold per
    merge, all JVM-side."""
    words = docs.select(
        F.col(id_col),
        F.explode(_units(F.col(text_col), mode, max_chars)).alias("w"),
    ).filter(F.col("w") != "")
    sym = _initial_symbols(F.col("w"), mode)
    for left, right in merges:
        sym = _apply_merge(sym, left, right)
    return words.select(id_col, F.col("w"), sym.alias("pieces"))


def bpe_encode_arrow(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "words",
    max_chars: int = MAX_CHARS,
) -> DataFrame:
    """The production encode for LONG merge lists (round 11): the
    expression path stacks one fold into the plan PER merge — fine to
    ~64 merges, pathological for a production tokenizer's thousands —
    so this runs ONE Arrow-batched mapInPandas pass with a
    rank-priority encoder: repeatedly merge the lowest-rank pair
    present (leftmost on ties).  That is provably equal to replaying
    the merges in order — a merge's operands can only be produced by
    lower-rank merges, so while any lower-rank pair exists it is
    always merged first — and tests/test_bpe.py pins the two paths
    token-for-token.  A per-task word cache makes encode cost
    O(unique words), not O(tokens).  The merge list is a driver-side
    constant captured in the closure (like the frozen-LM arrays in
    operators/lm.py): learned distributed, shipped with the task.

    Output schema matches :func:`bpe_encode`: (id, w, pieces), one row
    per word occurrence."""
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    rank = {pair: i for i, pair in enumerate(merges)}
    no_rank = len(rank)

    words = docs.select(
        F.col(id_col),
        F.explode(_units(F.col(text_col), mode, max_chars)).alias("w"),
    ).filter(F.col("w") != "")
    out_schema = StructType(
        list(words.schema.fields)
        + [StructField("pieces", ArrayType(StringType()))]
    )
    tail = [] if mode == "chars" else [END]

    def encode_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word) + tail
        while len(syms) > 1:
            best_i, best_r = -1, no_rank
            for i in range(len(syms) - 1):
                r = rank.get((syms[i], syms[i + 1]), no_rank)
                if r < best_r:
                    best_i, best_r = i, r
            if best_i < 0 or best_r >= no_rank:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        cache[word] = syms
        return syms

    def batches(it):
        # the cache lives for the task; a 100 TB task streams enough
        # batches that an unbounded word->pieces map would grow with
        # the task's unique-type count — reset past a bound instead
        # (hit rate barely moves: word frequency is Zipfian, the head
        # re-caches in the first batch after a reset)
        cache: dict = {}
        for pdf in it:
            if len(cache) > 1_000_000:
                cache = {}
            pdf["pieces"] = [encode_word(w, cache) for w in pdf["w"]]
            yield pdf

    return words.mapInPandas(batches, schema=out_schema)
