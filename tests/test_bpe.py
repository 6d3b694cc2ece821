"""BPE merge learning (operators/bpe.py) against a plain-Python
reference implementation of Sennrich-style BPE: identical merge
sequences on planted corpora, greedy left-to-right application, and
determinism across partitionings.
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


def _ref_learn(texts: list[str], n_merges: int) -> list[tuple[str, str]]:
    words = Counter(w for t in texts for w in t.split(" ") if w)
    vocab = {_ref_word_syms(w): n for w, n in words.items()}
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
        vocab = {_ref_apply(s, best[0]): n for s, n in vocab.items()}
    return merges


TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest low newer",
    "slow slower slowest wide wide",
]


class TestBPELearn:
    def test_merges_match_reference(self, spark):
        docs = spark.createDataFrame(
            list(enumerate(TEXTS)), "doc_id bigint, text string"
        )
        got = B.bpe_learn(docs, n_merges=10)
        want = _ref_learn(TEXTS, 10)
        assert got == want and len(got) == 10

    def test_deterministic_across_partitionings(self, spark):
        docs = spark.createDataFrame(
            list(enumerate(TEXTS)), "doc_id bigint, text string"
        )
        a = B.bpe_learn(docs.repartition(16), n_merges=6)
        b = B.bpe_learn(docs.coalesce(1), n_merges=6)
        assert a == b

    def test_stops_when_no_repeating_pair(self, spark):
        docs = spark.createDataFrame(
            [(0, "ab cd ef")], "doc_id bigint, text string"
        )
        got = B.bpe_learn(docs, n_merges=10)
        # every pair occurs once -> below the min-count-2 cutoff
        assert got == []


class TestBPEEncode:
    def test_encoding_matches_reference_segmentation(self, spark):
        docs = spark.createDataFrame(
            list(enumerate(TEXTS)), "doc_id bigint, text string"
        )
        merges = B.bpe_learn(docs, n_merges=8)
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
        merges = B.bpe_learn(docs, n_merges=20)
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


    def test_batched_strategy_honours_min_count(self, spark, tmp_path):
        """An explicit --strategy batched applies --min-count like the
        local path; sequential, which has no floor, refuses one."""
        import json as _json

        from vcf_pg_loader_spark.cli import main

        corpus = str(tmp_path / "corpus")
        spark.createDataFrame(
            list(enumerate(["low low lower", "rare"])),
            "doc_id bigint, text string",
        ).write.parquet(corpus)
        out = str(tmp_path / "merges.json")
        args = ["train-vocab", "--corpus", corpus, "--out", out,
                "--n-merges", "6", "--min-count", "2", "--strategy"]
        assert main([*args, "batched"]) == 0
        merges = [tuple(m) for m in _json.load(open(out))["merges"]]
        assert merges == _ref_learn(["low low"], 6)
        assert main([*args, "sequential"]) == 2


class TestBPELearnBatched:
    """Round-12: batched rounds must produce the IDENTICAL merge
    sequence as one-merge-per-round learning (the verdict item-2 pin)."""

    def test_batched_equals_sequential_on_fixture(self, spark):
        docs = spark.createDataFrame(
            list(enumerate(TEXTS)), "doc_id bigint, text string"
        )
        want = _ref_learn(TEXTS, 10)
        for cand, mb in ((256, 64), (8, 4), (4, 2)):
            got = B.bpe_learn_batched(
                docs, n_merges=10, candidates=cand, max_batch=mb
            )
            assert got == want, (cand, mb)

    def test_tie_adversarial_new_pair_outranks(self, spark):
        """cab*100 + xy*99: after merging (a,b), the NEW pairs (ab,</w>)
        and (c,ab) count 100 and outrank (x,y) at 99 — a naive
        top-K-disjoint batcher would accept (x,y) in round 1 and
        diverge.  The safe batcher must match sequential exactly."""
        texts = ["cab"] * 100 + ["xy"] * 99
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        want = _ref_learn(texts, 6)
        got = B.bpe_learn_batched(docs, n_merges=6, candidates=8, max_batch=8)
        assert got == want

    def test_tie_truncation_at_equal_counts(self, spark):
        """Disjoint pairs with EQUAL counts: a new pair created by the
        first merge can tie the second's count and win the lexicographic
        tie-break, so ties at the batch boundary must be truncated."""
        texts = ["ab"] * 50 + ["cd"] * 50 + ["ce"] * 50
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        want = _ref_learn(texts, 8)
        got = B.bpe_learn_batched(docs, n_merges=8, candidates=6, max_batch=6)
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
            docs = spark.createDataFrame(
                list(enumerate(texts)), "doc_id bigint, text string"
            )
            want = _ref_learn(texts, 12)
            got_b = B.bpe_learn_batched(
                docs, n_merges=12, candidates=8, max_batch=4
            )
            wc = [
                (r["w"], r["n"])
                for r in B.word_counts(docs).collect()
            ]
            got_l = B.bpe_learn_from_counts(wc, 12)
            assert got_b == want, (trial, texts)
            assert got_l == want, (trial, texts)

    def test_runs_merge_greedily_in_batch(self, spark):
        docs = spark.createDataFrame(
            [(0, "aaa aaa aaa")], "doc_id bigint, text string"
        )
        got = B.bpe_learn_batched(docs, n_merges=2, max_batch=4)
        assert got == _ref_learn(["aaa aaa aaa"], 2)


class TestBPELearnLocal:
    def test_local_equals_sequential_on_fixture(self, spark):
        docs = spark.createDataFrame(
            list(enumerate(TEXTS)), "doc_id bigint, text string"
        )
        assert B.bpe_learn_local(docs, n_merges=10) == _ref_learn(TEXTS, 10)

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


class TestLocalMaxTypesGuard:
    """Optimization round 16, verdict item 1: bpe_learn_local must never
    collect an unbounded type table to the driver — the collect is
    limit(max_types + 1)-bounded, and overflowing the bound falls back
    to the distributed batched trainer with IDENTICAL merges."""

    def _docs(self, spark):
        return spark.createDataFrame(
            list(enumerate(TEXTS)), "doc_id bigint, text string"
        )

    def test_fallback_engages_and_merges_identical(self, spark, monkeypatch):
        docs = self._docs(spark)
        unguarded = B.bpe_learn_local(docs, n_merges=10, max_types=0)
        called = {}
        real_batched = B.bpe_learn_batched

        def spy(*a, **kw):
            called["yes"] = True
            return real_batched(*a, **kw)

        monkeypatch.setattr(B, "bpe_learn_batched", spy)
        # the fixture corpus has ~17 word types; max_types=3 must overflow
        guarded = B.bpe_learn_local(docs, n_merges=10, max_types=3)
        assert called.get("yes"), "fallback did not engage"
        assert guarded == unguarded

    def test_under_bound_stays_local(self, spark, monkeypatch):
        docs = self._docs(spark)

        def boom(*a, **kw):  # pragma: no cover - must not run
            raise AssertionError("batched fallback ran below the bound")

        monkeypatch.setattr(B, "bpe_learn_batched", boom)
        merges = B.bpe_learn_local(docs, n_merges=10, max_types=10_000)
        assert merges == _ref_learn(TEXTS, 10)

    def test_env_knob_bounds_default(self, spark, monkeypatch):
        docs = self._docs(spark)
        monkeypatch.setenv("SPARK_GRAFT_BPE_LOCAL_MAX_TYPES", "2")
        called = {}
        real_batched = B.bpe_learn_batched

        def spy(*a, **kw):
            called["yes"] = True
            return real_batched(*a, **kw)

        monkeypatch.setattr(B, "bpe_learn_batched", spy)
        merges = B.bpe_learn_local(docs, n_merges=10)  # max_types=None -> env
        assert called.get("yes")
        assert merges == _ref_learn(TEXTS, 10)

    def test_fallback_preserves_min_count_floor(self, spark):
        texts = ["low low lower", "rare"]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        floored_local = B.bpe_learn_local(
            docs, n_merges=6, min_count=2, max_types=0
        )
        floored_fallback = B.bpe_learn_local(
            docs, n_merges=6, min_count=2, max_types=1
        )
        assert floored_fallback == floored_local

    def test_driver_collect_is_bounded(self, spark, monkeypatch):
        """The overflow probe itself must be limit-bounded: patch
        DataFrame.collect to record the plan's limit and assert no
        unbounded collect happens on the word-count frame."""
        # Spark 4: the concrete class (with its own collect override)
        # lives in pyspark.sql.classic; patching the abstract base
        # would not intercept anything.
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # pragma: no cover - older Spark
            from pyspark.sql import DataFrame

        docs = self._docs(spark)
        real_collect = DataFrame.collect
        sizes = []

        def spy(self):
            rows = real_collect(self)
            sizes.append(len(rows))
            return rows

        monkeypatch.setattr(DataFrame, "collect", spy)
        B.bpe_learn_local(docs, n_merges=4, max_types=3)
        # first collect is the guarded probe: exactly max_types+1 rows
        assert sizes[0] == 4


class TestMinCountFloor:
    def test_floor_drops_singletons_before_collect(self, spark):
        texts = ["low low lower", "rare"]  # 'rare' is a singleton type
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        with_floor = B.bpe_learn_local(docs, n_merges=6, min_count=2)
        # only 'low' (count 2) survives the floor; 'lower' and 'rare'
        # are singleton types and drop distributed-side
        want = _ref_learn(["low low"], 6)
        assert with_floor == want
        # default floor of 1 keeps training exact over everything
        assert B.bpe_learn_local(docs, n_merges=6) == _ref_learn(texts, 6)


# -- chars mode (round-12 verdict item 1) -----------------------------------
def _ref_chunks(text: str, c: int) -> list[str]:
    return [text[i : i + c] for i in range(0, len(text), c)]


def _ref_learn_chars(
    texts: list[str], n_merges: int, c: int
) -> list[tuple[str, str]]:
    """Plain-Python chars-mode reference: bounded raw-text chunks, no
    END marker, otherwise identical count/tie-break/apply semantics."""
    units = Counter(u for t in texts for u in _ref_chunks(t, c))
    vocab = {tuple(u): n for u, n in units.items()}
    merges = []
    for _ in range(n_merges):
        pc = _ref_pair_counts(vocab)
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        merges.append(best[0])
        vocab_new: dict = {}
        for s, n in vocab.items():
            k = _ref_apply(s, best[0])
            vocab_new[k] = vocab_new.get(k, 0) + n
        vocab = vocab_new
    return merges


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
    def test_three_strategies_pin_identical_on_nospace(self, spark):
        texts = _nospace_texts()
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        want = _ref_learn_chars(texts, 12, 8)
        assert want, "fixture must actually produce merges"
        got_seq = B.bpe_learn(docs, n_merges=12, mode="chars", max_chars=8)
        got_bat = B.bpe_learn_batched(
            docs, n_merges=12, mode="chars", max_chars=8
        )
        got_loc = B.bpe_learn_local(
            docs, n_merges=12, mode="chars", max_chars=8
        )
        assert got_seq == want
        assert got_bat == want
        assert got_loc == want

    def test_merged_pieces_bounded_by_chunk(self, spark):
        # merges cannot cross chunk boundaries, so no learned piece can
        # exceed max_chars characters — the bound that keeps encode
        # O(max_chars^2) per unique chunk on any script
        texts = _nospace_texts()
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        merges = B.bpe_learn_local(
            docs, n_merges=20, mode="chars", max_chars=8
        )
        assert merges
        assert all(len(l) + len(r) <= 8 for l, r in merges)

    def test_encode_invertible_and_paths_agree(self, spark):
        texts = _nospace_texts()
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        merges = B.bpe_learn_local(
            docs, n_merges=12, mode="chars", max_chars=8
        )
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
        merges = B.bpe_learn_local(
            docs, n_merges=4, mode="chars", max_chars=4
        )
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
        merges = B.bpe_learn_local(
            docs, n_merges=8, mode="chars", max_chars=16
        )
        assert merges == _ref_learn_chars([line], 8, 16)
