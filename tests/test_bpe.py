"""BPE merge learning (operators/bpe.py) against a plain-Python
reference implementation of Sennrich-style BPE: identical merge
sequences on planted corpora from both trainer paths (in memory, and
the batched rounds forced by lowering LOCAL_MAX_TYPES), greedy
left-to-right application, and determinism across partitionings.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators import bpe as B


# -- plain-Python reference -------------------------------------------------
def _ref_word_syms(word: str) -> tuple[str, ...]:
    return tuple(list(word) + [B.END])


def _ref_pair_counts(vocab: dict[tuple[str, ...], int]) -> Counter:
    pc: Counter = Counter()
    for syms, n in vocab.items():
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += n
    return pc


def _ref_apply(syms: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    for x in syms:
        if out and out[-1] == pair[0] and x == pair[1]:
            out[-1] = pair[0] + pair[1]
        else:
            out.append(x)
    return tuple(out)


def _ref_learn_units(
    units: Counter, tail: list[str], n_merges: int, min_count: int
) -> list[tuple[str, str]]:
    vocab = {
        tuple(list(u) + tail): n for u, n in units.items() if n >= min_count
    }
    merges = []
    for _ in range(n_merges):
        pc = _ref_pair_counts(vocab)
        if not pc:
            break
        # max count, lexicographic tie-break — the operator's contract
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        merges.append(best[0])
        merged: dict = {}
        for s, n in vocab.items():
            k = _ref_apply(s, best[0])
            merged[k] = merged.get(k, 0) + n
        vocab = merged
    return merges


def _ref_learn(
    texts: list[str], n_merges: int, min_count: int = 1
) -> list[tuple[str, str]]:
    words = Counter(w for t in texts for w in t.split(" ") if w)
    return _ref_learn_units(words, [B.END], n_merges, min_count)


def _train(docs, n_merges, mode="words", max_chars=B.MAX_CHARS):
    """The corpus source: bpe_train over word_counts(docs)."""
    merges, _path = B.bpe_train(
        B.word_counts(docs, mode=mode, max_chars=max_chars), n_merges, mode
    )
    return merges


def _docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )


TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest low newer",
    "slow slower slowest wide wide",
]


class TestBPELearn:
    def test_merges_match_reference(self, spark):
        got, path = B.bpe_train(B.word_counts(_docs(spark, TEXTS)), 10)
        want = _ref_learn(TEXTS, 10)
        assert path == "local"
        assert got == want and len(got) == 10

    def test_deterministic_across_partitionings(self, spark, monkeypatch):
        docs = _docs(spark, TEXTS)
        monkeypatch.setattr(B, "LOCAL_MAX_TYPES", 0)  # batched rounds
        a = _train(docs.repartition(16), 6)
        b = _train(docs.coalesce(1), 6)
        assert a == b == _ref_learn(TEXTS, 6)

    def test_stops_when_no_repeating_pair(self, spark, monkeypatch):
        counts = B.word_counts(_docs(spark, ["ab cd ef"]))
        # every pair occurs once -> below the min-count-2 cutoff, on
        # either path
        assert B.bpe_train(counts, 10) == ([], "local")
        monkeypatch.setattr(B, "LOCAL_MAX_TYPES", 0)
        assert B.bpe_train(counts, 10) == ([], "batched")


class TestBPEEncode:
    def test_encoding_matches_reference_segmentation(self, spark):
        docs = spark.createDataFrame(
            list(enumerate(TEXTS)), "doc_id bigint, text string"
        )
        merges = _ref_learn(TEXTS, 8)
        enc = {
            (r.doc_id, r.w): tuple(r.pieces)
            for r in B.bpe_encode(docs, merges).collect()
        }
        for (doc_id, w), pieces in enc.items():
            syms = _ref_word_syms(w)
            for m in merges:
                syms = _ref_apply(syms, m)
            assert pieces == syms, (w, pieces, syms)

    def test_greedy_left_to_right_on_runs(self, spark):
        """aaa under merge (a,a): left-to-right gives [aa, a], never
        [a, aa] — the property that distinguishes greedy BPE."""
        docs = spark.createDataFrame(
            [(0, "aaa aaa")], "doc_id bigint, text string"
        )
        out = B.bpe_encode(docs, [("a", "a")]).first()
        assert list(out.pieces) == ["aa", "a", B.END]


class TestBPEEncodeArrow:
    def test_arrow_encoder_equals_expression_path(self, spark, sf_dir):
        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .limit(200)
        )
        merges = _train(docs, 20)
        assert len(merges) >= 10
        expr = {
            (r.doc_id, r.w, i): tuple(r.pieces)
            for i, r in enumerate(B.bpe_encode(docs, merges).collect())
        }
        # compare as multisets keyed by (doc, word): occurrence order
        # differs between explode outputs, segmentation must not
        from collections import Counter

        def keyed(rows):
            c = Counter()
            for r in rows:
                c[(r.doc_id, r.w, tuple(r.pieces))] += 1
            return c

        assert keyed(B.bpe_encode(docs, merges).collect()) == keyed(
            B.bpe_encode_arrow(docs, merges).collect()
        )

    def test_arrow_rank_priority_equals_sequential_on_runs(self, spark):
        docs = spark.createDataFrame(
            [(0, "aaaa aaa ab abab")], "doc_id bigint, text string"
        )
        merges = [("a", "a"), ("a", "b"), ("ab", "ab")]
        def keyed(rows):
            return sorted((r.w, tuple(r.pieces)) for r in rows)
        assert keyed(B.bpe_encode(docs, merges).collect()) == keyed(
            B.bpe_encode_arrow(docs, merges).collect()
        )


class TestTrainVocabCLI:
    def test_end_to_end(self, spark, sf_dir, tmp_path, capsys):
        import json as _json

        from vcf_pg_loader_spark.cli import main

        corpus = str(tmp_path / "corpus")
        (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .limit(200)
            .write.parquet(corpus)
        )
        out = str(tmp_path / "merges.json")
        enc = str(tmp_path / "encoded")
        assert main(
            ["train-vocab", "--corpus", corpus, "--out", out,
             "--n-merges", "12", "--encode-out", enc]
        ) == 0
        rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        art = _json.load(open(out))
        assert rep["merges_learned"] == len(art["merges"]) > 5
        assert art["corpus_fp"] == rep["corpus_fp"]
        # the artifact replays: encode with the stored merges equals
        # the materialized output
        merges = [tuple(m) for m in art["merges"]]
        docs = spark.read.parquet(corpus)
        want = sorted(
            (r.doc_id, r.w, tuple(r.pieces))
            for r in B.bpe_encode_arrow(docs, merges).collect()
        )
        got = sorted(
            (r.doc_id, r.w, tuple(r.pieces))
            for r in spark.read.parquet(enc).collect()
        )
        assert got == want


    def test_batched_strategy_honours_min_count(
        self, spark, tmp_path, monkeypatch
    ):
        """--min-count floors the type table on the batched path as on
        the in-memory one, and the artifact records the path taken."""
        import json as _json

        from vcf_pg_loader_spark.cli import main

        corpus = str(tmp_path / "corpus")
        _docs(spark, ["low low lower", "rare"]).write.parquet(corpus)
        out = str(tmp_path / "merges.json")
        args = ["train-vocab", "--corpus", corpus, "--out", out,
                "--n-merges", "6", "--min-count", "2"]
        for bound, path in ((10_000, "local"), (0, "batched")):
            monkeypatch.setattr(B, "LOCAL_MAX_TYPES", bound)
            assert main(args) == 0
            art = _json.load(open(out))
            assert art["strategy"] == path
            merges = [tuple(m) for m in art["merges"]]
            assert merges == _ref_learn(["low low"], 6)


def _pin_checkpoints(spark, monkeypatch) -> list:
    """Keep every frame localCheckpointed from here on referenced, so
    a JVM GC cannot drop an unreleased checkpoint and hide a leak."""
    frame_cls = type(spark.range(1))
    pinned: list = []
    orig = frame_cls.localCheckpoint

    def pin(self, *a, **k):
        df = orig(self, *a, **k)
        pinned.append(df)
        return df

    monkeypatch.setattr(frame_cls, "localCheckpoint", pin)
    return pinned


class TestBPELearnBatched:
    """Round-12: batched rounds must produce the IDENTICAL merge
    sequence as one-merge-per-round learning (the verdict item-2 pin)."""

    def test_batched_equals_sequential_on_fixture(self, spark):
        counts = B.word_counts(_docs(spark, TEXTS))
        want = _ref_learn(TEXTS, 10)
        for cand, mb in ((256, 64), (8, 4), (4, 2)):
            got = B._learn_batched(
                counts, 10, candidates=cand, max_batch=mb
            )
            assert got == want, (cand, mb)

    def test_tie_adversarial_new_pair_outranks(self, spark):
        """cab*100 + xy*99: after merging (a,b), the NEW pairs (ab,</w>)
        and (c,ab) count 100 and outrank (x,y) at 99 — a naive
        top-K-disjoint batcher would accept (x,y) in round 1 and
        diverge.  The safe batcher must match sequential exactly."""
        texts = ["cab"] * 100 + ["xy"] * 99
        counts = B.word_counts(_docs(spark, texts))
        want = _ref_learn(texts, 6)
        got = B._learn_batched(counts, 6, candidates=8, max_batch=8)
        assert got == want

    def test_tie_truncation_at_equal_counts(self, spark):
        """Disjoint pairs with EQUAL counts: a new pair created by the
        first merge can tie the second's count and win the lexicographic
        tie-break, so ties at the batch boundary must be truncated."""
        texts = ["ab"] * 50 + ["cd"] * 50 + ["ce"] * 50
        counts = B.word_counts(_docs(spark, texts))
        want = _ref_learn(texts, 8)
        got = B._learn_batched(counts, 8, candidates=6, max_batch=6)
        assert got == want

    def test_randomized_corpora_pin(self, spark):
        """Deterministic pseudo-random corpora over a tiny alphabet (the
        worst case for batching: everything overlaps) — batched, local,
        and the plain-Python reference must agree merge-for-merge."""
        import random

        rng = random.Random(0xBEEF)
        for trial in range(6):
            texts = [
                " ".join(
                    "".join(
                        rng.choice("abcde")
                        for _ in range(rng.randint(1, 6))
                    )
                    for _ in range(rng.randint(3, 12))
                )
                for _ in range(12)
            ]
            counts = B.word_counts(_docs(spark, texts))
            want = _ref_learn(texts, 12)
            got_b = B._learn_batched(counts, 12, candidates=8, max_batch=4)
            wc = [(r["w"], r["n"]) for r in counts.collect()]
            got_l = B.bpe_learn_from_counts(wc, 12)
            assert got_b == want, (trial, texts)
            assert got_l == want, (trial, texts)

    def test_runs_merge_greedily_in_batch(self, spark):
        counts = B.word_counts(_docs(spark, ["aaa aaa aaa"]))
        got = B._learn_batched(counts, 2, max_batch=4)
        assert got == _ref_learn(["aaa aaa aaa"], 2)

    def test_releases_superseded_checkpoints(self, spark, monkeypatch):
        """Each round's checkpoint is released once the next supersedes
        it: over a ten-round run the persistent RDDs grow by at most
        one, not one per round."""
        counts = B.word_counts(_docs(spark, TEXTS))
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        pinned = _pin_checkpoints(spark, monkeypatch)
        got = B._learn_batched(counts, 10, max_batch=1)
        assert got == _ref_learn(TEXTS, 10)
        assert len(pinned) == 11  # the initial state + one per round
        grown = set(jsc.getPersistentRDDs().keySet()) - before
        assert len(grown) <= 1, grown


class TestBPELearnLocal:
    def test_local_equals_sequential_on_fixture(self, spark):
        got, path = B.bpe_train(B.word_counts(_docs(spark, TEXTS)), 10)
        assert (got, path) == (_ref_learn(TEXTS, 10), "local")

    def test_production_vocab_size_32k_merges_bounded_time(self):
        """The round-11 gap: a real tokenizer is ~32k merges.  The
        in-memory trainer (over the distributed word-count collapse)
        must learn 32k merges from a production-shaped vocabulary in
        bounded wall time — no Spark round per merge.  Pure-Python
        trainer, so no session needed; the vocabulary is synthesized
        deterministically (the testdata corpus holds only 31 word
        types, which exhausts after ~200 merges)."""
        import itertools
        import time

        words = [
            "".join(t)
            for t in itertools.product("abcdefghij", repeat=5)
        ][:60_000]
        counts = [(w, (i % 97) + 2) for i, w in enumerate(words)]
        t0 = time.monotonic()
        merges = B.bpe_learn_from_counts(counts, 32_000)
        wall = time.monotonic() - t0
        assert len(merges) == 32_000
        assert wall < 120, f"32k merges took {wall:.1f}s"
        # spot-check the prefix against the O(merges*pairs) reference
        texts = [f"{w} {w}" for w, _ in counts[:400]]
        assert (
            B.bpe_learn_from_counts(
                [(w, 2) for w, _ in counts[:400]], 24
            )
            == _ref_learn(texts, 24)
        )


def _collect_sizes(monkeypatch) -> list:
    """Record the row count of every DataFrame.collect from here on."""
    # Spark 4: the concrete class (with its own collect override)
    # lives in pyspark.sql.classic; patching the abstract base
    # would not intercept anything.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - older Spark
        from pyspark.sql import DataFrame

    real_collect = DataFrame.collect
    sizes: list = []

    def spy(self):
        rows = real_collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    return sizes


class TestLocalMaxTypesGuard:
    """Optimization round 16, verdict item 1: the trainer must never
    collect an unbounded type table to the driver — its probe is
    limit(LOCAL_MAX_TYPES + 1)-bounded, and a table past the bound
    trains in batched rounds with IDENTICAL merges."""

    def test_fallback_engages_and_merges_identical(self, spark, monkeypatch):
        counts = B.word_counts(_docs(spark, TEXTS))
        # the fixture corpus has ~17 word types; a bound of 3 overflows
        monkeypatch.setattr(B, "LOCAL_MAX_TYPES", 3)
        merges, path = B.bpe_train(counts, 10)
        assert path == "batched", "fallback did not engage"
        assert merges == _ref_learn(TEXTS, 10)

    def test_under_bound_stays_local(self, spark, monkeypatch):
        def boom(*a, **kw):  # pragma: no cover - must not run
            raise AssertionError("batched fallback ran below the bound")

        monkeypatch.setattr(B, "_learn_batched", boom)
        monkeypatch.setattr(B, "LOCAL_MAX_TYPES", 10_000)
        merges, path = B.bpe_train(B.word_counts(_docs(spark, TEXTS)), 10)
        assert (merges, path) == (_ref_learn(TEXTS, 10), "local")

    def test_fallback_preserves_min_count_floor(self, spark, monkeypatch):
        texts = ["low low lower", "rare"]
        floored = B.word_counts(_docs(spark, texts)).filter(F.col("n") >= 2)
        local = B.bpe_train(floored, 6)
        monkeypatch.setattr(B, "LOCAL_MAX_TYPES", 0)
        fallback = B.bpe_train(floored, 6)
        assert local == (_ref_learn(texts, 6, min_count=2), "local")
        assert fallback == (local[0], "batched")

    def test_driver_collect_is_bounded(self, spark, monkeypatch):
        """The probe itself must be limit-bounded: record every collect
        and assert the first — the probe on the word-count frame — is
        exactly LOCAL_MAX_TYPES + 1 rows."""
        counts = B.word_counts(_docs(spark, TEXTS))
        monkeypatch.setattr(B, "LOCAL_MAX_TYPES", 3)
        sizes = _collect_sizes(monkeypatch)
        B.bpe_train(counts, 4)
        assert sizes[0] == 4


# Both trainer sources, both modes, with and without a floor, on both
# paths: the corpus's word_counts and a maintained VocabSink's counts
# (the train-vocab --counts-state source), each floored the way
# train-vocab floors it.  TEXTS twice makes every word and every chunk
# of those lines repeat; the two extra lines are the singleton tail a
# floor of 2 drops.
PATH_TEXTS = TEXTS * 2 + ["zebra quartz", "jumpy fox"]


@pytest.fixture(scope="module")
def vocab_counts(spark, tmp_path_factory):
    """mode -> a VocabSink state maintained over PATH_TEXTS."""
    from vcf_pg_loader_spark.operators.ivm import MULT
    from vcf_pg_loader_spark.streaming.vocab import VocabSink

    batch = _docs(spark, PATH_TEXTS).withColumn(
        MULT, F.lit(1).cast("bigint")
    )
    sinks = {}
    for mode in ("words", "chars"):
        root = tmp_path_factory.mktemp(f"vocab_{mode}") / "state"
        sink = VocabSink(str(root), mode=mode, max_chars=4)
        sink.apply_batch(batch, 0)
        sinks[mode] = sink
    return sinks


class TestTrainerPaths:
    @pytest.mark.parametrize("min_count", [1, 2])
    @pytest.mark.parametrize("mode", ["words", "chars"])
    @pytest.mark.parametrize("source", ["corpus", "counts_state"])
    def test_paths_match_reference(
        self, spark, monkeypatch, vocab_counts, source, mode, min_count
    ):
        if source == "corpus":
            counts = B.word_counts(
                _docs(spark, PATH_TEXTS), mode=mode, max_chars=4
            )
        else:
            counts = vocab_counts[mode].counts(spark)
        if min_count > 1:
            counts = counts.filter(F.col("n") >= min_count)
        if mode == "words":
            want = _ref_learn(PATH_TEXTS, 12, min_count)
        else:
            want = _ref_learn_chars(PATH_TEXTS, 12, 4, min_count)
        assert len(want) == 12
        sizes = _collect_sizes(monkeypatch)
        for bound, path in ((10_000, "local"), (3, "batched")):
            monkeypatch.setattr(B, "LOCAL_MAX_TYPES", bound)
            probe = len(sizes)  # the probe is the call's first collect
            assert B.bpe_train(counts, 12, mode) == (want, path)
            assert sizes[probe] <= bound + 1


class TestMinCountFloor:
    def test_floor_drops_singletons_before_collect(self, spark):
        texts = ["low low lower", "rare"]  # 'rare' is a singleton type
        counts = B.word_counts(_docs(spark, texts))
        with_floor, _ = B.bpe_train(counts.filter(F.col("n") >= 2), 6)
        # only 'low' (count 2) survives the floor; 'lower' and 'rare'
        # are singleton types and drop distributed-side
        want = _ref_learn(["low low"], 6)
        assert with_floor == want
        # no floor keeps training exact over everything
        assert B.bpe_train(counts, 6)[0] == _ref_learn(texts, 6)


# -- chars mode (round-12 verdict item 1) -----------------------------------
def _ref_chunks(text: str, c: int) -> list[str]:
    return [text[i : i + c] for i in range(0, len(text), c)]


def _ref_learn_chars(
    texts: list[str], n_merges: int, c: int, min_count: int = 1
) -> list[tuple[str, str]]:
    """Plain-Python chars-mode reference: bounded raw-text chunks, no
    END marker, otherwise identical count/tie-break/apply semantics."""
    units = Counter(u for t in texts for u in _ref_chunks(t, c))
    return _ref_learn_units(units, [], n_merges, min_count)


# a no-space "CJK-like" corpus: real CJK codepoints so character (not
# byte) semantics are pinned on both the JVM and Arrow paths
CJK = "的一是不了人我在有他这中大来上国"


def _nospace_texts() -> list[str]:
    import random

    rng = random.Random(13)
    return [
        "".join(rng.choice(CJK) for _ in range(rng.randint(0, 120)))
        for _ in range(40)
    ]


class TestCharsMode:
    def test_three_strategies_pin_identical_on_nospace(
        self, spark, monkeypatch
    ):
        """The in-memory path, the batched path and the reference."""
        texts = _nospace_texts()
        counts = B.word_counts(_docs(spark, texts), mode="chars", max_chars=8)
        want = _ref_learn_chars(texts, 12, 8)
        assert want, "fixture must actually produce merges"
        assert B.bpe_train(counts, 12, "chars") == (want, "local")
        monkeypatch.setattr(B, "LOCAL_MAX_TYPES", 0)
        assert B.bpe_train(counts, 12, "chars") == (want, "batched")

    def test_merged_pieces_bounded_by_chunk(self, spark):
        # merges cannot cross chunk boundaries, so no learned piece can
        # exceed max_chars characters — the bound that keeps encode
        # O(max_chars^2) per unique chunk on any script
        texts = _nospace_texts()
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        merges = _train(docs, 20, mode="chars", max_chars=8)
        assert merges
        assert all(len(l) + len(r) <= 8 for l, r in merges)

    def test_encode_invertible_and_paths_agree(self, spark):
        texts = _nospace_texts()
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        merges = _train(docs, 12, mode="chars", max_chars=8)
        enc = B.bpe_encode_doc_arrow(
            docs, merges, mode="chars", max_chars=8
        )
        got = {r["doc_id"]: list(r["pieces"]) for r in enc.collect()}
        # chars mode has no END sentinel: concat(pieces) == text exactly
        for i, t in enumerate(texts):
            assert "".join(got[i]) == t
        e1 = B.bpe_encode(docs, merges, mode="chars", max_chars=8)
        e2 = B.bpe_encode_arrow(docs, merges, mode="chars", max_chars=8)
        a = sorted(
            (r["doc_id"], r["w"], tuple(r["pieces"])) for r in e1.collect()
        )
        b = sorted(
            (r["doc_id"], r["w"], tuple(r["pieces"])) for r in e2.collect()
        )
        assert a == b
        lens = {
            r["doc_id"]: r["n_tokens"]
            for r in B.bpe_token_lengths(
                docs, merges, mode="chars", max_chars=8
            ).collect()
        }
        for i, t in enumerate(texts):
            assert lens[i] == len(got.get(i, []))

    def test_spacey_text_chunks_keep_spaces(self, spark):
        # chars mode never splits on whitespace: the space is an
        # ordinary symbol and reconstruction keeps it
        docs = spark.createDataFrame(
            [(0, "ab ab ab ab")], "doc_id bigint, text string"
        )
        merges = _train(docs, 4, mode="chars", max_chars=4)
        enc = B.bpe_encode_doc_arrow(docs, merges, mode="chars", max_chars=4)
        pieces = enc.collect()[0]["pieces"]
        assert "".join(pieces) == "ab ab ab ab"
        assert merges == _ref_learn_chars(["ab ab ab ab"], 4, 4)

    def test_nospace_line_bounded_local_collect(self, spark):
        # the failure mode chars mode exists for: ONE long no-space
        # line.  In words mode this is a single giant type; in chars
        # mode every collected type is <= max_chars characters.
        line = "".join(CJK[i % len(CJK)] for i in range(5000))
        docs = spark.createDataFrame(
            [(0, line)], "doc_id bigint, text string"
        )
        wc = B.word_counts(docs, mode="chars", max_chars=16)
        rows = wc.collect()
        assert rows and all(len(r["w"]) <= 16 for r in rows)
        merges = _train(docs, 8, mode="chars", max_chars=16)
        assert merges == _ref_learn_chars([line], 8, 16)
