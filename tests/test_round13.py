"""Round-13 additions: chars-mode tokenizer plumbing through the
maintained sinks and CLI, token-id assignment + the binary wire
format, and the round-12 ADVICE fixes (emit-pieces truncation slice,
seq-decontam legacy-state refusal)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators.ivm import MULT


class TestEmitPiecesMaxDocTokens:
    def test_capped_layout_exports_sliced_stream(
        self, spark, tmp_path, capsys
    ):
        """round-12 ADVICE (medium): --emit-pieces on a max_doc_tokens
        state must slice pieces to the cap before the separator append
        — without the slice the attached stream overruns the budgeted
        n_tokens and the integrity check exits 1 with a misleading
        wrong-corpus error."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        merges = [("a", "l")]
        rows = [
            (i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(20)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)
        vocab = str(tmp_path / "vocab.json")
        json.dump(
            {"merges": [list(m) for m in merges], "corpus_fp": 9,
             "n_docs": 20},
            open(vocab, "w"),
        )
        from vcf_pg_loader_spark.operators.bpe import (
            tokenizer_fingerprint,
        )

        t = str(tmp_path / "state")
        sink = TrainingShardSink(
            t, merges=merges, vocab_fp=tokenizer_fingerprint(merges),
            doc_sep=1, max_doc_tokens=5,
        )
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        out = str(tmp_path / "export")
        assert main(
            ["export-shard", "--state", t, "--corpus", corpus,
             "--out", out, "--merges", vocab, "--emit-pieces"]
        ) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert (
            rep["written_piece_tokens"]
            == rep["written_tokens"]
            == rep["tokens"]
        )
        # every doc's attached stream is cap + separator long
        got = spark.read.parquet(out).select(F.size("pieces")).collect()
        assert all(r[0] == 6 for r in got)


class TestSeqDecontamLegacyState:
    def test_state_without_params_refused(self, spark, tmp_path, capsys):
        """round-12 ADVICE: a pre-fingerprint state (no _params.json)
        has an unknowable token space — refuse instead of silently
        scanning a possibly-BPE-packed layout in whitespace space."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows = [(i, f"a b c d{i}") for i in range(10)]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)
        evals = str(tmp_path / "evals")
        docs.limit(2).write.parquet(evals)
        t = str(tmp_path / "state")
        sink = TrainingShardSink(t)
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        os.remove(os.path.join(t, "_params.json"))  # legacy shape
        rc = main(
            ["seq-decontam", "--state", t, "--corpus", corpus,
             "--eval", evals, "--out", str(tmp_path / "rep"),
             "--ngram", "2"]
        )
        assert rc == 2


class TestTokenIdAssignment:
    def test_dense_ids_specials_alphabet_then_merges(self):
        from vcf_pg_loader_spark.operators import tokenids as T

        alphabet = ["a", "b", "</w>"]
        merges = [("a", "b"), ("ab", "</w>")]
        pieces = T.vocab_pieces(alphabet, merges)
        assert pieces == ["<pad>", "<unk>", "a", "b", "</w>", "ab", "ab</w>"]
        ids = T.piece_ids(alphabet, merges)
        assert ids["<pad>"] == 0 and ids["<unk>"] == 1
        assert ids["a"] == 2 and ids["ab</w>"] == 6

    def test_collision_keeps_first_id(self):
        from vcf_pg_loader_spark.operators import tokenids as T

        # a merge product recreating an alphabet piece keeps the
        # earlier id; encode stays a plain dict lookup
        ids = T.piece_ids(["<", "/", "w", ">", "</w>"], [("<", "/"), ("</", "w>")])
        assert ids["</w>"] == 6  # the alphabet occurrence, not the merge

    def test_ids_col_arrow_maps_and_unks(self, spark):
        from vcf_pg_loader_spark.operators import tokenids as T

        alphabet = ["a", "b", "</w>"]
        merges = [("a", "b")]
        df = spark.createDataFrame(
            [(0, ["ab", "</w>", "zzz"])],
            "seq_id bigint, tokens array<string>",
        )
        out = T.ids_col_arrow(df, alphabet, merges).collect()[0]
        assert list(out["ids"]) == [5, 4, T.UNK_ID]

    def test_write_id_shards_roundtrip_and_padding(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators import tokenids as T

        seq_len = 4
        rows = [
            (0, 0, [2, 3, 4, 5]),
            (0, 1, [6, 7]),  # tail -> padded
            (3, 0, [9, 9, 9, 9]),
        ]
        df = spark.createDataFrame(
            rows, "shard bigint, seq_id bigint, ids array<int>"
        )
        out = str(tmp_path / "bin")
        man = T.write_id_shards(df, out, seq_len)
        assert set(man["shards"]) == {"0", "3"}
        s0 = man["shards"]["0"]
        assert s0["n_seqs"] == 2 and s0["n_tokens"] == 6 and s0["n_pad"] == 2
        assert s0["bytes"] == 2 * seq_len * 4
        mat = T.read_id_shard(os.path.join(out, s0["file"]), seq_len)
        assert mat.tolist() == [[2, 3, 4, 5], [6, 7, T.PAD_ID, T.PAD_ID]]
        assert os.path.getsize(os.path.join(out, s0["file"])) == s0["bytes"]
        # stream md5 matches the bytes on disk
        import hashlib

        raw = open(os.path.join(out, s0["file"]), "rb").read()
        assert hashlib.md5(raw).hexdigest() == s0["ids_fp"]


class TestExportSequencesIds:
    def test_cli_bin_export_round_trips(self, spark, tmp_path, capsys):
        """export-sequences --emit-ids --bin-out: parquet ids, binary
        shards, and the string path all agree; the bin manifest
        cross-checks against the layout manifest."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators import tokenids as T
        from vcf_pg_loader_spark.operators.bpe import (
            bpe_train,
            word_counts,
        )
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows = [
            (i, " ".join(f"w{j % 5}" for j in range(6 + i % 7)))
            for i in range(40)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)
        merges = bpe_train(word_counts(docs), 6)[0]
        alphabet = T.alphabet_from_counts(word_counts(docs), "words")
        vocab = str(tmp_path / "vocab.json")
        json.dump(
            {"merges": [list(m) for m in merges], "corpus_fp": 11,
             "n_docs": 40, "alphabet": alphabet},
            open(vocab, "w"),
        )
        from vcf_pg_loader_spark.operators.bpe import (
            tokenizer_fingerprint,
        )

        t = str(tmp_path / "state")
        sink = TrainingShardSink(
            t, merges=merges, vocab_fp=tokenizer_fingerprint(merges),
            n_shards=4, seq_len=16,
        )
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        out = str(tmp_path / "seqs")
        bin_out = str(tmp_path / "bin")
        assert main(
            ["export-sequences", "--state", t, "--corpus", corpus,
             "--merges", vocab, "--out", out,
             "--emit-ids", "--bin-out", bin_out]
        ) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert "error" not in rep
        assert rep["bin_shards"] >= 1

        vp = T.vocab_pieces(alphabet, merges)
        man = json.load(open(os.path.join(bin_out, "manifest.json")))
        assert man["seq_len"] == 16
        pq = {
            (r["shard"], r["seq_id"]): (list(r["tokens"]), list(r["ids"]))
            for r in spark.read.parquet(out).collect()
        }
        for key, (toks, ids) in pq.items():
            # parquet ids are the piece mapping exactly
            assert [vp[i] for i in ids] == toks
        for k, info in man["shards"].items():
            mat = T.read_id_shard(
                os.path.join(bin_out, info["file"]), man["seq_len"]
            )
            shard_rows = sorted(
                (sk for sk in pq if sk[0] == int(k)), key=lambda x: x[1]
            )
            assert mat.shape[0] == len(shard_rows) == info["n_seqs"]
            for row, sk in zip(mat, shard_rows):
                ids = pq[sk][1]
                assert list(row[: len(ids)]) == ids
                assert all(x == T.PAD_ID for x in row[len(ids):])

    def test_emit_ids_needs_alphabet_artifact(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows = [(i, "a b c") for i in range(5)]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)
        vocab = str(tmp_path / "vocab.json")
        json.dump(
            {"merges": [["a", "b"]], "corpus_fp": 3, "n_docs": 5},
            open(vocab, "w"),
        )  # pre-round-13 artifact: no alphabet
        from vcf_pg_loader_spark.operators.bpe import (
            tokenizer_fingerprint,
        )

        t = str(tmp_path / "state")
        sink = TrainingShardSink(
            t, merges=[("a", "b")],
            vocab_fp=tokenizer_fingerprint([("a", "b")]),
        )
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        rc = main(
            ["export-sequences", "--state", t, "--corpus", corpus,
             "--merges", vocab, "--out", str(tmp_path / "o"),
             "--emit-ids"]
        )
        assert rc == 2


class TestVocabSinkCharsMode:
    def test_maintained_counts_match_chars_word_counts(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.bpe import word_counts
        from vcf_pg_loader_spark.streaming.vocab import VocabSink

        rows = [(i, "abcdefg" * (1 + i % 3)) for i in range(20)]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        t = str(tmp_path / "vstate")
        sink = VocabSink(t, mode="chars", max_chars=4)
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        got = {
            (r["w"], r["n"]) for r in sink.counts(spark).collect()
        }
        want = {
            (r["w"], r["n"])
            for r in word_counts(docs, mode="chars", max_chars=4).collect()
        }
        assert got == want

    def test_mode_mismatch_refuses(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.vocab import VocabSink

        rows = [(0, "some words here")]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        t = str(tmp_path / "vstate")
        VocabSink(t, mode="chars", max_chars=4).apply_batch(
            docs.withColumn(MULT, F.lit(1).cast("bigint")), 0
        )
        with pytest.raises(ValueError, match="parameters"):
            VocabSink(t).apply_batch(
                docs.withColumn(MULT, F.lit(1).cast("bigint")), 1
            )


class TestShardSinkCharsMode:
    def test_chars_layout_packs_and_serves(self, spark, tmp_path):
        """chars-mode packed layout: lengths equal the chars-mode
        encoder, materialize_sequences reconstructs the corpus text
        exactly (no END sentinel), and a words-mode sink refuses the
        chars-packed state."""
        from vcf_pg_loader_spark.operators.bpe import (
            bpe_train,
            word_counts,
            bpe_token_lengths,
        )
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows = [(i, "xyzw" * (2 + i % 5)) for i in range(30)]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        merges, _ = bpe_train(
            word_counts(docs, mode="chars", max_chars=4), 6, "chars"
        )
        t = str(tmp_path / "state")
        sink = TrainingShardSink(
            t, merges=merges, vocab_fp=7, n_shards=4, seq_len=8,
            token_mode="chars", max_chars=4,
        )
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        lay = {r["doc_id"]: r["n_tokens"] for r in sink.layout(spark).collect()}
        want = {
            r["doc_id"]: r["n_tokens"]
            for r in bpe_token_lengths(
                docs, merges, mode="chars", max_chars=4
            ).collect()
        }
        assert lay == want
        seqs = sink.materialize_sequences(spark, docs)
        total = seqs.agg(F.sum(F.size("tokens"))).collect()[0][0]
        assert total == sum(want.values())
        # wrong-mode construction refuses the persisted fingerprint
        with pytest.raises(ValueError, match="parameters"):
            TrainingShardSink(
                t, merges=merges, vocab_fp=7, n_shards=4, seq_len=8
            ).apply_batch(
                docs.withColumn(MULT, F.lit(1).cast("bigint")), 1
            )


class TestRepackMerges:
    def _docs(self, spark, n=40, extra=0):
        rows = [
            (i, " ".join(f"w{j % 7}" for j in range(4 + (i + extra) % 9)))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_repack_equals_scratch_build(self, spark, tmp_path, capsys):
        """repack --merges: migrated state's layout AND manifest are
        tuple-equal to a from-scratch build under the new vocab; the
        old artifact refuses afterwards; delta maintenance resumes
        under the new fingerprint and stays equal to scratch."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators.bpe import bpe_train, word_counts
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        from vcf_pg_loader_spark.operators.bpe import tokenizer_fingerprint

        docs = self._docs(spark)
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)
        # the round-13-advice canonical migration: SAME corpus, more
        # merges — corpus_fp is identical, only the tokenizer changes.
        # The no-op refusal must key on tokenizer identity, so this
        # repack proceeds (under corpus_fp keying it falsely refused).
        m1 = bpe_train(word_counts(docs), 4)[0]
        m2 = bpe_train(word_counts(docs), 12)[0]
        assert m1 != m2
        tfp1 = tokenizer_fingerprint(m1)
        tfp2 = tokenizer_fingerprint(m2)
        v2 = str(tmp_path / "vocab2.json")
        json.dump(
            {"merges": [list(m) for m in m2], "corpus_fp": 222,
             "n_docs": 40},
            open(v2, "w"),
        )
        t = str(tmp_path / "state")
        sink1 = TrainingShardSink(
            t, merges=m1, vocab_fp=tfp1, n_shards=4, seq_len=16, doc_sep=1
        )
        sink1.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)

        assert main(
            ["repack", "--state", t, "--merges", v2, "--corpus", corpus]
        ) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # the artifact above predates tokenizer_fp stamping; the loader
        # recomputes it from the merges themselves
        assert rep["vocab_fp_old"] == tfp1 and rep["vocab_fp_new"] == tfp2

        # tuple-equal to a from-scratch build under the new vocab
        t2 = str(tmp_path / "scratch")
        sink2 = TrainingShardSink(
            t2, merges=m2, vocab_fp=tfp2, n_shards=4, seq_len=16, doc_sep=1
        )
        sink2.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        migrated = TrainingShardSink(
            t, merges=m2, vocab_fp=tfp2, n_shards=4, seq_len=16, doc_sep=1
        )
        for table in ("layout", "manifest"):
            got = sorted(
                tuple(r) for r in getattr(migrated, table)(spark).collect()
            )
            want = sorted(
                tuple(r) for r in getattr(sink2, table)(spark).collect()
            )
            assert got == want, table

        # the old artifact refuses the migrated state — even though it
        # was trained on the SAME corpus (identical corpus_fp): the
        # tokenizer fingerprint is what separates them
        with pytest.raises(ValueError, match="parameters"):
            TrainingShardSink(
                t, merges=m1, vocab_fp=tfp1, n_shards=4, seq_len=16,
                doc_sep=1,
            ).apply_batch(
                docs.withColumn(MULT, F.lit(1).cast("bigint")), 1
            )

        # and a repack under the tokenizer the state already has is a
        # refused no-op (the round-13-advice check: keyed on tokenizer
        # identity, not corpus identity)
        from vcf_pg_loader_spark.streaming.shards import repack_merges

        with pytest.raises(ValueError, match="already packed"):
            repack_merges(spark, t, docs, m2, tfp2)

        # delta maintenance resumes under the new fingerprint
        docs2 = self._docs(spark, n=46, extra=3)
        changed = docs2.join(docs, ["doc_id", "text"], "left_anti")
        retract = (
            docs.join(docs2, ["doc_id", "text"], "left_semi")
            .join(changed.select("doc_id"), "doc_id", "left_semi")
        )
        delta = changed.withColumn(
            MULT, F.lit(1).cast("bigint")
        ).unionByName(
            docs.join(docs2, ["doc_id", "text"], "left_anti").withColumn(
                MULT, F.lit(-1).cast("bigint")
            )
        )
        migrated.apply_batch(delta, 1)
        sink2.apply_batch(delta, 1)
        got = sorted(tuple(r) for r in migrated.manifest(spark).collect())
        want = sorted(tuple(r) for r in sink2.manifest(spark).collect())
        assert got == want

    def test_repack_refuses_drifted_corpus(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.bpe import bpe_train, word_counts
        from vcf_pg_loader_spark.streaming.shards import (
            TrainingShardSink,
            repack_merges,
        )

        docs = self._docs(spark, n=10)
        m1 = bpe_train(word_counts(docs), 4)[0]
        t = str(tmp_path / "state")
        TrainingShardSink(
            t, merges=m1, vocab_fp=1, n_shards=2, seq_len=8
        ).apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        drifted = docs.withColumn(
            "text", F.concat(F.col("text"), F.lit(" tampered"))
        )
        with pytest.raises(ValueError, match="differ in content"):
            repack_merges(spark, t, drifted, m1, vocab_fp=2)

    def test_repack_whitespace_state_into_bpe_space(self, spark, tmp_path):
        """A whitespace-packed state migrates INTO tokenizer space:
        same verb, params gain token_space/vocab_fp."""
        from vcf_pg_loader_spark.operators.bpe import bpe_train, word_counts
        from vcf_pg_loader_spark.streaming.shards import (
            TrainingShardSink,
            repack_merges,
        )

        docs = self._docs(spark, n=12)
        m = bpe_train(word_counts(docs), 6)[0]
        t = str(tmp_path / "state")
        TrainingShardSink(t, n_shards=2, seq_len=8).apply_batch(
            docs.withColumn(MULT, F.lit(1).cast("bigint")), 0
        )
        repack_merges(spark, t, docs, m, vocab_fp=5)
        params = json.load(open(os.path.join(t, "_params.json")))
        assert params["token_space"] == "bpe" and params["vocab_fp"] == 5
        t2 = str(tmp_path / "scratch")
        s2 = TrainingShardSink(
            t2, merges=m, vocab_fp=5, n_shards=2, seq_len=8
        )
        s2.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        mig = TrainingShardSink(
            t, merges=m, vocab_fp=5, n_shards=2, seq_len=8
        )
        assert sorted(tuple(r) for r in mig.manifest(spark).collect()) == \
            sorted(tuple(r) for r in s2.manifest(spark).collect())


class TestMaskScheduleExport:
    def test_export_attaches_pinned_schedule(self, spark, tmp_path, capsys):
        """export-sequences --mask-schedule: one record per sequence
        (tokens, doc_bounds, masked_positions) with the schedule equal
        to the pure-hash arithmetic, verified against the text-free
        span recipe; a complete trainer record in one file."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.functions.hashing import h60
        from vcf_pg_loader_spark.operators.masking import (
            MASK_RATE,
            MASK_SALT,
            MASK_SPAN,
        )
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows = [
            (i, " ".join(f"t{j % 4}" for j in range(5 + i % 6)))
            for i in range(30)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)
        t = str(tmp_path / "state")
        sink = TrainingShardSink(t, n_shards=4, seq_len=12)
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        out = str(tmp_path / "seqs")
        assert main(
            ["export-sequences", "--state", t, "--corpus", corpus,
             "--out", out, "--mask-schedule"]
        ) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert "error" not in rep
        assert rep["masked_seqs_checked"] == rep["written_seqs"] > 0
        got = spark.read.parquet(out).collect()

        # python reference of the same arithmetic
        import hashlib

        def h60_py(s, salt):
            return int(
                hashlib.md5((salt + s).encode()).hexdigest()[:15], 16
            )

        for r in got:
            n = len(r["tokens"])
            starts = [
                p for p in range(n)
                if h60_py(f"{r['shard']}:{r['seq_id']}:{p}", MASK_SALT)
                % MASK_RATE == 0
            ]
            want = sorted({
                m for p in starts
                for m in range(p, min(p + MASK_SPAN, n))
            })
            assert list(r["masked_positions"]) == want
            assert list(r["doc_bounds"]) == sorted(r["doc_bounds"])

    def test_wrong_corpus_fails_mask_integrity(self, spark, tmp_path, capsys):
        """A corpus whose token counts drift from the layout produces
        sequences whose schedule disagrees with the span recipe —
        export exits 1 instead of shipping silently-wrong masks."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows = [(i, " ".join(f"t{j}" for j in range(8))) for i in range(20)]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        t = str(tmp_path / "state")
        sink = TrainingShardSink(t, n_shards=2, seq_len=12)
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        # SHORTER texts: longer ones are immaterial (the span slice
        # truncates to the layout's budget), but shorter ones shrink
        # every sequence and the schedule stops matching the recipe
        drifted = docs.withColumn("text", F.lit("t0 t1"))
        corpus = str(tmp_path / "drifted")
        drifted.write.parquet(corpus)
        rc = main(
            ["export-sequences", "--state", t, "--corpus", corpus,
             "--out", str(tmp_path / "seqs"), "--mask-schedule"]
        )
        assert rc == 1


class TestQualityCurriculum:
    def test_quality_buckets_order_packing(self, spark, tmp_path):
        """curriculum='quality:4:1.0': within every shard, documents
        pack bucket-by-bucket (ascending score bucket), scoreless docs
        last; okey realizes curriculum_okey exactly."""
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows = [(i, f"d{i} " * (1 + i % 3)) for i in range(30)]
        docs = spark.createDataFrame(
            [(i, t.strip()) for i, t in rows], "doc_id bigint, text string"
        )
        scores = spark.createDataFrame(
            [(i, float(i % 4) + 0.25) for i in range(25)],  # 25 scored
            "doc_id bigint, score double",
        )
        t = str(tmp_path / "state")
        sink = TrainingShardSink(
            t, n_shards=2, seq_len=8, curriculum="quality:4:1.0"
        )
        sink.quality_frame = scores
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        lay = sink.layout(spark)
        score_map = {r["doc_id"]: r["score"] for r in scores.collect()}
        want_bucket = {
            i: min(3, int(score_map[i])) if i in score_map else 3
            for i, _ in rows
        }
        got = lay.select(
            "doc_id", "okey", "shard", "start_offset"
        ).collect()
        from vcf_pg_loader_spark.operators.shards import order_key

        hk = {
            r["doc_id"]: r["h"]
            for r in docs.select(
                "doc_id", order_key(F.col("doc_id")).alias("h")
            ).collect()
        }
        SHIFT = 1 << 60
        for r in got:
            assert r["okey"] == want_bucket[r["doc_id"]] * SHIFT + hk[
                r["doc_id"]
            ]
        # realized order: start offsets ascend with bucket within shard
        by_shard = {}
        for r in got:
            by_shard.setdefault(r["shard"], []).append(
                (r["start_offset"], want_bucket[r["doc_id"]])
            )
        for shard, entries in by_shard.items():
            entries.sort()
            buckets = [b for _, b in entries]
            assert buckets == sorted(buckets), f"shard {shard}"

    def test_spec_fingerprinted_and_delta_touched_shards_only(
        self, spark, tmp_path
    ):
        """The spec joins the fingerprint (a different curriculum
        refuses); a delta under the same curriculum repacks ONLY the
        touched shards — untouched shard directories hard-link through
        the swap (inode-pinned), and the result equals scratch."""
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        docs = spark.createDataFrame(
            [(i, f"w{i} " * (2 + i % 4)) for i in range(40)],
            "doc_id bigint, text string",
        )
        scores = spark.createDataFrame(
            [(i, float(i % 3)) for i in range(40)],
            "doc_id bigint, score double",
        )
        t = str(tmp_path / "state")
        sink = TrainingShardSink(
            t, n_shards=8, seq_len=8, curriculum="quality:3:1.0"
        )
        sink.quality_frame = scores
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)

        with pytest.raises(ValueError, match="parameters"):
            TrainingShardSink(
                t, n_shards=8, seq_len=8, curriculum="length:3:1.0"
            ).apply_batch(
                docs.withColumn(MULT, F.lit(1).cast("bigint")), 1
            )

        # one changed doc -> only its shard repacks
        from vcf_pg_loader_spark.operators.shards import shard_of

        changed_id = 7
        tb = spark.range(1).select(
            shard_of(F.lit(changed_id).cast("bigint"), 8).alias("b")
        ).collect()[0]["b"]
        def shard_file_inodes():
            out = {}
            root = os.path.join(t, "layout")
            for d in os.listdir(root):
                if not d.startswith("shard="):
                    continue
                out[d] = sorted(
                    os.stat(os.path.join(root, d, f)).st_ino
                    for f in os.listdir(os.path.join(root, d))
                    if f.endswith(".parquet")
                )
            return out

        inode_before = shard_file_inodes()
        delta = spark.createDataFrame(
            [(changed_id, "completely new text", 1),
             (changed_id, None, -1)],
            "doc_id bigint, text string, MULT int",
        ).withColumn(MULT, F.col("MULT").cast("bigint"))
        sink2 = TrainingShardSink(
            t, n_shards=8, seq_len=8, curriculum="quality:3:1.0"
        )
        sink2.quality_frame = scores
        sink2.apply_batch(delta, 1)
        inode_after = shard_file_inodes()
        for d, ino in inode_before.items():
            if d == f"shard={tb}":
                continue
            assert inode_after[d] == ino, f"{d} was rewritten"

        # equals scratch under the updated corpus
        updated = docs.filter(F.col("doc_id") != changed_id).unionByName(
            spark.createDataFrame(
                [(changed_id, "completely new text")],
                "doc_id bigint, text string",
            )
        )
        t2 = str(tmp_path / "scratch")
        s2 = TrainingShardSink(
            t2, n_shards=8, seq_len=8, curriculum="quality:3:1.0"
        )
        s2.quality_frame = scores
        s2.apply_batch(updated.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        assert sorted(
            tuple(r) for r in sink2.manifest(spark).collect()
        ) == sorted(tuple(r) for r in s2.manifest(spark).collect())


class TestTrainVocabAutoStrategy:
    def test_fallback_forces_batched_and_pins_merges(
        self, spark, tmp_path, capsys, monkeypatch
    ):
        """round-12 verdict item 6: a type table past the trainer's
        driver bound (operators/bpe.py LOCAL_MAX_TYPES) trains in
        batched rounds; the artifact records the path and the merge
        sequences pin identical across the boundary."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators import bpe as B

        rows = [
            (i, " ".join(f"w{j % 9}" for j in range(5 + i % 4)))
            for i in range(30)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)

        v_local = str(tmp_path / "local.json")
        assert main(
            ["train-vocab", "--corpus", corpus, "--out", v_local,
             "--n-merges", "8"]
        ) == 0
        capsys.readouterr()
        a_local = json.load(open(v_local))
        assert a_local["strategy"] == "local"  # under the bound

        monkeypatch.setattr(B, "LOCAL_MAX_TYPES", 2)  # 9 word types
        v_fb = str(tmp_path / "fallback.json")
        assert main(
            ["train-vocab", "--corpus", corpus, "--out", v_fb,
             "--n-merges", "8"]
        ) == 0
        capsys.readouterr()
        a_fb = json.load(open(v_fb))
        assert a_fb["strategy"] == "batched"  # the forced fallback
        assert a_fb["merges"] == a_local["merges"]
        assert a_fb["corpus_fp"] == a_local["corpus_fp"]


class TestExportVocab:
    def test_vocab_table_matches_id_assignment(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators import tokenids as T

        alphabet = ["a", "b", "c", "</w>"]
        merges = [["a", "b"], ["ab", "c"]]
        vocab = str(tmp_path / "vocab.json")
        json.dump(
            {"merges": merges, "corpus_fp": 77, "n_docs": 1,
             "alphabet": alphabet},
            open(vocab, "w"),
        )
        out = str(tmp_path / "vocab_table")
        assert main(["export-vocab", "--merges", vocab, "--out", out]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["vocab_size"] == 2 + 4 + 2 and rep["n_collisions"] == 0
        rows = {
            r["id"]: r["piece"]
            for r in spark.read.parquet(out).collect()
        }
        want = T.vocab_pieces(alphabet, [tuple(m) for m in merges])
        assert [rows[i] for i in range(len(want))] == want

    def test_artifact_without_alphabet_refused(self, tmp_path):
        from vcf_pg_loader_spark.cli import main

        vocab = str(tmp_path / "vocab.json")
        json.dump({"merges": [["a", "b"]], "corpus_fp": 1}, open(vocab, "w"))
        assert main(
            ["export-vocab", "--merges", vocab,
             "--out", str(tmp_path / "o")]
        ) == 2


class TestIdsAndMaskTogether:
    def test_one_record_export(self, spark, tmp_path, capsys):
        """--emit-ids --mask-schedule in ONE invocation: the complete
        trainer record (tokens, ids, doc_bounds, masked_positions) in
        one file, both integrity gates green."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators import tokenids as T
        from vcf_pg_loader_spark.operators.bpe import (
            bpe_train,
            word_counts,
        )
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows = [
            (i, " ".join(f"x{j % 3}" for j in range(4 + i % 5)))
            for i in range(24)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)
        merges = bpe_train(word_counts(docs), 4)[0]
        alphabet = T.alphabet_from_counts(word_counts(docs), "words")
        vocab = str(tmp_path / "vocab.json")
        json.dump(
            {"merges": [list(m) for m in merges], "corpus_fp": 21,
             "n_docs": 24, "alphabet": alphabet},
            open(vocab, "w"),
        )
        from vcf_pg_loader_spark.operators.bpe import (
            tokenizer_fingerprint,
        )

        t = str(tmp_path / "state")
        sink = TrainingShardSink(
            t, merges=merges, vocab_fp=tokenizer_fingerprint(merges),
            n_shards=2, seq_len=8,
        )
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        out = str(tmp_path / "seqs")
        assert main(
            ["export-sequences", "--state", t, "--corpus", corpus,
             "--merges", vocab, "--out", out,
             "--emit-ids", "--mask-schedule"]
        ) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert "error" not in rep
        cols = set(spark.read.parquet(out).columns)
        assert {"tokens", "ids", "doc_bounds", "masked_positions"} <= cols


class TestSeqDecontamTokenSpace:
    def test_bpe_state_scans_in_piece_space(self, spark, tmp_path, capsys):
        """seq-decontam --merges on a BPE-packed state: eval n-grams
        encode with the state's tokenizer and hit the packed piece
        streams; a planted eval doc that shares a piece trigram with
        the train corpus is found."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators.bpe import bpe_train, word_counts

        rows = [
            (i, " ".join(f"tok{j % 6}" for j in range(8)))
            for i in range(20)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)
        merges = bpe_train(word_counts(docs), 6)[0]
        vocab = str(tmp_path / "vocab.json")
        json.dump(
            {"merges": [list(m) for m in merges], "corpus_fp": 42,
             "n_docs": 20},
            open(vocab, "w"),
        )
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        from vcf_pg_loader_spark.operators.bpe import (
            tokenizer_fingerprint,
        )

        t = str(tmp_path / "state")
        sink = TrainingShardSink(
            t, merges=merges, vocab_fp=tokenizer_fingerprint(merges),
            n_shards=2, seq_len=16,
        )
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        # eval shares text with train -> guaranteed piece-trigram hits
        evals = str(tmp_path / "evals")
        docs.limit(3).write.parquet(evals)
        out = str(tmp_path / "rep")
        assert main(
            ["seq-decontam", "--state", t, "--corpus", corpus,
             "--eval", evals, "--merges", vocab, "--out", out,
             "--ngram", "3"]
        ) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["token_space"] == "bpe"
        assert rep["contaminated_seqs"] > 0 and rep["hits"] > 0

        # disjoint eval: zero hits (piece vocabulary disjoint)
        spark.createDataFrame(
            [(900, "zz yy xx ww vv uu")], "doc_id bigint, text string"
        ).write.parquet(str(tmp_path / "evals2"))
        assert main(
            ["seq-decontam", "--state", t, "--corpus", corpus,
             "--eval", str(tmp_path / "evals2"), "--merges", vocab,
             "--out", str(tmp_path / "rep2"), "--ngram", "3",
             "--fail-on-hit"]
        ) == 0
        rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep2["contaminated_seqs"] == 0

    def test_bpe_state_without_merges_refused(self, spark, tmp_path):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        docs = spark.createDataFrame(
            [(0, "a b c d e f")], "doc_id bigint, text string"
        )
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)
        t = str(tmp_path / "state")
        TrainingShardSink(
            t, merges=[("a", "b")], vocab_fp=1
        ).apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        rc = main(
            ["seq-decontam", "--state", t, "--corpus", corpus,
             "--eval", corpus, "--out", str(tmp_path / "o"),
             "--ngram", "2"]
        )
        assert rc == 2
