"""Round-14 additions: the round-13 ADVICE fixes — tokenizer identity
(tokenizer_fp) separated from corpus identity (corpus_fp), train-vocab
--counts-state read-path parameter validation, length-curriculum okey
recompute in repack --merges, and the binary-shard tmp-file sweep —
plus the pre-diffed CDC delta ingest path (sync-corpus --delta)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators.ivm import MULT


def _docs(spark, n=40, extra=0):
    rows = [
        (i, " ".join(f"w{j % 7}" for j in range(4 + (i + extra) % 9)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestTokenizerFingerprint:
    def test_identity_is_merges_mode_max_chars(self):
        """Distinct n_merges on the same corpus MUST split identities;
        words mode ignores max_chars (a non-semantic knob there); chars
        mode distinguishes max_chars (it moves every token length)."""
        from vcf_pg_loader_spark.operators.bpe import (
            MAX_CHARS,
            tokenizer_fingerprint,
        )

        m1 = [("a", "b")]
        m2 = [("a", "b"), ("ab", "c")]
        assert tokenizer_fingerprint(m1) != tokenizer_fingerprint(m2)
        # merge ORDER is application order — part of the identity
        m3 = [("ab", "c"), ("a", "b")]
        assert tokenizer_fingerprint(m2) != tokenizer_fingerprint(m3)
        # words mode: max_chars is irrelevant and excluded
        assert tokenizer_fingerprint(m1, "words", 8) == (
            tokenizer_fingerprint(m1, "words", None)
        )
        # chars mode: max_chars is semantic; None means MAX_CHARS
        assert tokenizer_fingerprint(m1, "chars", 8) != (
            tokenizer_fingerprint(m1, "chars", 16)
        )
        assert tokenizer_fingerprint(m1, "chars", None) == (
            tokenizer_fingerprint(m1, "chars", MAX_CHARS)
        )
        assert tokenizer_fingerprint(m1, "chars", MAX_CHARS) != (
            tokenizer_fingerprint(m1, "words")
        )

    def test_train_vocab_stamps_and_loader_prefers_stamp(
        self, spark, tmp_path, capsys
    ):
        """train-vocab writes tokenizer_fp; _load_merges_artifact maps
        it to the sink's vocab_fp; an old artifact without the field
        loads with the fingerprint recomputed from its own contents."""
        from vcf_pg_loader_spark.cli import _load_merges_artifact, main
        from vcf_pg_loader_spark.operators.bpe import tokenizer_fingerprint

        corpus = str(tmp_path / "corpus")
        _docs(spark, 12).write.parquet(corpus)
        out = str(tmp_path / "vocab.json")
        assert main(
            ["train-vocab", "--corpus", corpus, "--out", out,
             "--n-merges", "4"]
        ) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        art = json.load(open(out))
        want = tokenizer_fingerprint([tuple(m) for m in art["merges"]])
        assert art["tokenizer_fp"] == want
        assert rep["tokenizer_fp"] == want
        kw, _ = _load_merges_artifact(out)
        assert kw["vocab_fp"] == want
        # corpus identity stays recorded, but is NOT the refusal key
        assert art["corpus_fp"] != want

        # pre-round-14 artifact: no tokenizer_fp field
        legacy = str(tmp_path / "legacy.json")
        json.dump(
            {"merges": art["merges"], "corpus_fp": 999, "n_docs": 12},
            open(legacy, "w"),
        )
        kw2, _ = _load_merges_artifact(legacy)
        assert kw2["vocab_fp"] == want

    def test_same_corpus_retrain_refuses_stale_layout(
        self, spark, tmp_path
    ):
        """The correctness hole corpus_fp keying left open: two vocabs
        off the SAME corpus (identical corpus_fp) with different merge
        counts tokenize differently — a layout packed under one must
        refuse maintenance under the other."""
        from vcf_pg_loader_spark.operators.bpe import (
            bpe_train,
            word_counts,
            tokenizer_fingerprint,
        )
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        docs = _docs(spark, 20)
        m1 = bpe_train(word_counts(docs), 4)[0]
        m2 = bpe_train(word_counts(docs), 10)[0]
        t = str(tmp_path / "state")
        TrainingShardSink(
            t, merges=m1, vocab_fp=tokenizer_fingerprint(m1),
            n_shards=2, seq_len=8,
        ).apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        with pytest.raises(ValueError, match="parameters"):
            TrainingShardSink(
                t, merges=m2, vocab_fp=tokenizer_fingerprint(m2),
                n_shards=2, seq_len=8,
            ).apply_batch(
                docs.withColumn(MULT, F.lit(1).cast("bigint")), 1
            )


class TestCountsStateValidation:
    def test_mode_mismatch_refused_on_read(self, spark, tmp_path):
        """round-13 ADVICE (medium): train-vocab --counts-state must
        validate --mode/--max-chars against the state's persisted
        fingerprint BEFORE reading counts — words-mode training over a
        chars-mode state's chunk counts silently learns the wrong unit
        statistics and stamps the wrong mode into the artifact."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.vocab import VocabSink

        docs = _docs(spark, 8)
        t = str(tmp_path / "vstate")
        VocabSink(t, mode="chars", max_chars=4).apply_batch(
            docs.withColumn(MULT, F.lit(1).cast("bigint")), 0
        )
        out = str(tmp_path / "vocab.json")
        with pytest.raises(ValueError, match="parameters"):
            main(
                ["train-vocab", "--counts-state", t, "--out", out,
                 "--n-merges", "2"]
            )
        assert not os.path.exists(out)
        # the matching mode trains fine
        assert main(
            ["train-vocab", "--counts-state", t, "--out", out,
             "--n-merges", "2", "--mode", "chars", "--max-chars", "4"]
        ) == 0
        assert json.load(open(out))["mode"] == "chars"

    def test_max_chars_mismatch_refused_on_read(self, spark, tmp_path):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.vocab import VocabSink

        docs = _docs(spark, 8)
        t = str(tmp_path / "vstate")
        VocabSink(t, mode="chars", max_chars=4).apply_batch(
            docs.withColumn(MULT, F.lit(1).cast("bigint")), 0
        )
        with pytest.raises(ValueError, match="parameters"):
            main(
                ["train-vocab", "--counts-state", t,
                 "--out", str(tmp_path / "v.json"), "--n-merges", "2",
                 "--mode", "chars", "--max-chars", "8"]
            )


class TestRepackLengthCurriculum:
    def test_repack_rebuckets_length_okeys(self, spark, tmp_path):
        """round-13 ADVICE (low): a length-curriculum state's okeys
        embed OLD-vocab length buckets; repack --merges must recompute
        them from the NEW lengths so the migrated state tuple-equals a
        scratch build under the identical fingerprint."""
        from vcf_pg_loader_spark.operators.bpe import (
            bpe_train,
            word_counts,
            tokenizer_fingerprint,
        )
        from vcf_pg_loader_spark.streaming.shards import (
            TrainingShardSink,
            repack_merges,
        )

        docs = _docs(spark, 30)
        m1 = bpe_train(word_counts(docs), 2)[0]
        m2 = bpe_train(word_counts(docs), 12)[0]
        assert m1 != m2
        kw = dict(
            n_shards=2, seq_len=16, curriculum="length:4:8",
        )
        t = str(tmp_path / "state")
        TrainingShardSink(
            t, merges=m1, vocab_fp=tokenizer_fingerprint(m1), **kw
        ).apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        repack_merges(spark, t, docs, m2, tokenizer_fingerprint(m2))

        t2 = str(tmp_path / "scratch")
        scratch = TrainingShardSink(
            t2, merges=m2, vocab_fp=tokenizer_fingerprint(m2), **kw
        )
        scratch.apply_batch(
            docs.withColumn(MULT, F.lit(1).cast("bigint")), 0
        )
        migrated = TrainingShardSink(
            t, merges=m2, vocab_fp=tokenizer_fingerprint(m2), **kw
        )
        for table in ("layout", "manifest"):
            got = sorted(
                tuple(r) for r in getattr(migrated, table)(spark).collect()
            )
            want = sorted(
                tuple(r) for r in getattr(scratch, table)(spark).collect()
            )
            assert got == want, table

    def test_quality_okeys_carry_verbatim(self, spark, tmp_path):
        """Quality curricula are text-pure (frozen-LM nll): repack
        carries their okeys verbatim and the migrated state still
        equals a scratch build given the same quality frame."""
        from vcf_pg_loader_spark.operators.bpe import (
            bpe_train,
            word_counts,
            tokenizer_fingerprint,
        )
        from vcf_pg_loader_spark.streaming.shards import (
            TrainingShardSink,
            repack_merges,
        )

        docs = _docs(spark, 20)
        quality = docs.select(
            "doc_id", (F.col("doc_id") % 3).cast("double").alias("score")
        )
        m1 = bpe_train(word_counts(docs), 2)[0]
        m2 = bpe_train(word_counts(docs), 8)[0]
        kw = dict(n_shards=2, seq_len=16, curriculum="quality:3:1.0")
        t = str(tmp_path / "state")
        s1 = TrainingShardSink(
            t, merges=m1, vocab_fp=tokenizer_fingerprint(m1), **kw
        )
        s1.quality_frame = quality
        s1.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        repack_merges(spark, t, docs, m2, tokenizer_fingerprint(m2))

        t2 = str(tmp_path / "scratch")
        s2 = TrainingShardSink(
            t2, merges=m2, vocab_fp=tokenizer_fingerprint(m2), **kw
        )
        s2.quality_frame = quality
        s2.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        migrated = TrainingShardSink(
            t, merges=m2, vocab_fp=tokenizer_fingerprint(m2), **kw
        )
        got = sorted(
            tuple(r) for r in migrated.manifest(spark).collect()
        )
        want = sorted(tuple(r) for r in s2.manifest(spark).collect())
        assert got == want


class TestIdShardTmpSweep:
    def test_stale_tmp_files_swept(self, spark, tmp_path):
        """round-13 ADVICE (low): orphaned .shard_*.bin.tmp{pid} files
        from failed/speculative tasks must not accumulate invisibly
        beside the manifest — write_id_shards sweeps them after the
        job completes."""
        from vcf_pg_loader_spark.operators.tokenids import (
            read_id_shard,
            write_id_shards,
        )

        out = str(tmp_path / "bin")
        os.makedirs(out)
        # simulate a prior failed task's leftover staging file
        stale = os.path.join(out, ".shard_00000.bin.tmp99999")
        with open(stale, "wb") as fh:
            fh.write(b"\x01\x02\x03\x04")
        seqs = spark.createDataFrame(
            [(0, 0, [1, 2, 3]), (0, 1, [4, 5])],
            "shard bigint, seq_id bigint, ids array<int>",
        )
        man = write_id_shards(seqs, out, seq_len=4)
        assert not os.path.exists(stale)
        leftovers = [n for n in os.listdir(out) if ".tmp" in n]
        assert leftovers == []
        mat = read_id_shard(os.path.join(out, "shard_00000.bin"), 4)
        assert mat.shape == (2, 4)
        assert man["shards"]["0"]["n_seqs"] == 2


def _corpus(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )


class TestSyncCorpusDelta:
    """sync-corpus --delta: the pre-diffed CDC input path (round-13
    verdict item 2) — O(|delta|) end to end, equal to the snapshot
    self-diff path in every table AND in the folded epoch stamp."""

    ROWS0 = [
        (0, "alpha beta gamma delta epsilon zeta", "a"),
        (1, "alpha beta gamma delta epsilon zeta", "a"),  # exact dup
        (2, "one two three four five six seven", "b"),
        (3, "red green blue yellow purple orange", "b"),
        (4, "cats dogs birds fish mice snakes", "a"),
    ]

    def _sync(self, main, capsys, *argv):
        assert main(["sync-corpus", *argv]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def test_delta_equals_snapshot_path(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink
        from vcf_pg_loader_spark.streaming.vocab import VocabSink

        snap0 = str(tmp_path / "snap0")
        _corpus(spark, self.ROWS0).write.parquet(snap0)

        # changes: delete doc 3, change doc 2, insert docs 5 and 6
        rows1 = [
            (0, "alpha beta gamma delta epsilon zeta", "a"),
            (1, "alpha beta gamma delta epsilon zeta", "a"),
            (2, "one two three four five six CHANGED", "b"),
            (4, "cats dogs birds fish mice snakes", "a"),
            (5, "brand new document text arrives here", "c"),
            (6, "another brand new document arrives too", "c"),
        ]
        snap1 = str(tmp_path / "snap1")
        _corpus(spark, rows1).write.parquet(snap1)

        def states(tag):
            return {
                k: str(tmp_path / f"{tag}_{k}")
                for k in ("state", "shards", "vstate", "card")
            }

        a, b = states("a"), states("b")
        for s in (a, b):
            self._sync(
                main, capsys, "--state", s["state"], "--snapshot", snap0,
                "--batch-id", "0", "--shards-state", s["shards"],
                "--vocab-state", s["vstate"], "--card-state", s["card"],
            )

        # path A: full snapshot self-diff
        rep_a = self._sync(
            main, capsys, "--state", a["state"], "--snapshot", snap1,
            "--batch-id", "1", "--shards-state", a["shards"],
            "--vocab-state", a["vstate"], "--card-state", a["card"],
        )
        # path B: the pre-diffed Z-set feed (old tuples at -1 with
        # their current text+source, new tuples at +1)
        old = {r[0]: r for r in self.ROWS0}
        new = {r[0]: r for r in rows1}
        feed = [
            (*old[i], -1)
            for i in old
            if i not in new or new[i] != old[i]
        ] + [
            (*new[i], 1)
            for i in new
            if i not in old or new[i] != old[i]
        ]
        delta_pq = str(tmp_path / "delta")
        spark.createDataFrame(
            feed, "doc_id bigint, text string, source string, _mult bigint"
        ).write.parquet(delta_pq)
        rep_b = self._sync(
            main, capsys, "--state", b["state"], "--delta", delta_pq,
            "--batch-id", "1", "--shards-state", b["shards"],
            "--vocab-state", b["vstate"], "--card-state", b["card"],
        )

        assert rep_a["epoch_fp"] == rep_b["epoch_fp"]
        assert rep_a["docs_kept"] == rep_b["docs_kept"]
        assert rep_a["docs_in_state"] == rep_b["docs_in_state"]
        assert rep_b["rows_retracted"] == 2 and rep_b["rows_upserted"] == 3

        sink_a = DedupClusterMaintSink(a["state"])
        sink_b = DedupClusterMaintSink(b["state"])
        for tbl in ("corpus", "bands", "pairs", "clusters"):
            ta = sorted(tuple(r) for r in sink_a._table(spark, tbl).collect())
            tb = sorted(tuple(r) for r in sink_b._table(spark, tbl).collect())
            assert ta == tb, tbl
        # folded stamp equals recomputed stamp, key for key
        assert sink_a.read_epoch() == sink_b.read_epoch()
        # sibling sinks converged too (vocab counts, shard layout incl.
        # the lockstep dfp carry, card stats)
        va = sorted(tuple(r) for r in VocabSink(a["vstate"]).counts(spark).collect())
        vb = sorted(tuple(r) for r in VocabSink(b["vstate"]).counts(spark).collect())
        assert va == vb
        sha = TrainingShardSink(a["shards"])
        shb = TrainingShardSink(b["shards"])
        for tbl in ("layout", "manifest"):
            ta = sorted(tuple(r) for r in getattr(sha, tbl)(spark).collect())
            tb = sorted(tuple(r) for r in getattr(shb, tbl)(spark).collect())
            assert ta == tb, tbl
        from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

        ca = sorted(
            tuple(r)
            for r in DatasetCardSink(a["card"])._table(spark, "stats").collect()
        )
        cb = sorted(
            tuple(r)
            for r in DatasetCardSink(b["card"])._table(spark, "stats").collect()
        )
        assert ca == cb

    def test_delta_refusals(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main

        snap0 = str(tmp_path / "snap0")
        _corpus(spark, self.ROWS0).write.parquet(snap0)
        state = str(tmp_path / "state")

        ok_feed = str(tmp_path / "ok_feed")
        spark.createDataFrame(
            [(7, "totally new doc", "a", 1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(ok_feed)

        # no state yet: --delta cannot bootstrap
        assert main(
            ["sync-corpus", "--state", state, "--delta", ok_feed,
             "--batch-id", "0"]
        ) == 2
        capsys.readouterr()
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap0,
             "--batch-id", "0"]
        ) == 0
        capsys.readouterr()

        # exactly one of --snapshot/--delta
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap0,
             "--delta", ok_feed, "--batch-id", "1"]
        ) == 2
        assert main(
            ["sync-corpus", "--state", state, "--batch-id", "1"]
        ) == 2
        # --mix-budget needs the full source map
        assert main(
            ["sync-corpus", "--state", state, "--delta", ok_feed,
             "--batch-id", "1", "--shards-state",
             str(tmp_path / "sh"), "--mix-budget", "3"]
        ) == 2
        capsys.readouterr()

        # fp-column mismatch: state stamped WITH source, sourceless feed
        nosrc = str(tmp_path / "nosrc_feed")
        spark.createDataFrame(
            [(7, "totally new doc", 1)],
            "doc_id bigint, text string, _mult bigint",
        ).write.parquet(nosrc)
        assert main(
            ["sync-corpus", "--state", state, "--delta", nosrc,
             "--batch-id", "1"]
        ) == 2
        err = capsys.readouterr().err
        assert "fingerprint column mismatch" in err

        # -1 tuple with drifted text refuses
        bad_del = str(tmp_path / "bad_del")
        spark.createDataFrame(
            [(2, "not the state's text", "b", -1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(bad_del)
        assert main(
            ["sync-corpus", "--state", state, "--delta", bad_del,
             "--batch-id", "1"]
        ) == 2
        assert "differ in content" in capsys.readouterr().err

        # +1 for an existing doc without its paired -1 refuses
        unpaired = str(tmp_path / "unpaired")
        spark.createDataFrame(
            [(2, "one two three four five six CHANGED", "b", 1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(unpaired)
        assert main(
            ["sync-corpus", "--state", state, "--delta", unpaired,
             "--batch-id", "1"]
        ) == 2
        assert "paired -1" in capsys.readouterr().err

        # pre-round-14 stamp (no fp_cols) refuses with the upgrade hint
        ep_path = f"{state}_epoch.json"
        ep = json.load(open(ep_path))
        ep.pop("fp_cols")
        json.dump(ep, open(ep_path, "w"))
        assert main(
            ["sync-corpus", "--state", state, "--delta", ok_feed,
             "--batch-id", "1"]
        ) == 2
        assert "upgrade the stamp" in capsys.readouterr().err

    def test_delta_replay_and_batchid_reuse(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )

        snap0 = str(tmp_path / "snap0")
        _corpus(spark, self.ROWS0).write.parquet(snap0)
        state = str(tmp_path / "state")
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap0,
             "--batch-id", "0"]
        ) == 0
        capsys.readouterr()
        feed = str(tmp_path / "feed")
        spark.createDataFrame(
            [(9, "fresh document nine", "c", 1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(feed)
        assert main(
            ["sync-corpus", "--state", state, "--delta", feed,
             "--batch-id", "1"]
        ) == 0
        rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # replay of the same batch id + same feed: clean no-op
        assert main(
            ["sync-corpus", "--state", state, "--delta", feed,
             "--batch-id", "1"]
        ) == 0
        rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep2["epoch_fp"] == rep1["epoch_fp"]
        assert rep2["docs_in_state"] == rep1["docs_in_state"]
        # reused batch id under a DIFFERENT feed refuses
        feed2 = str(tmp_path / "feed2")
        spark.createDataFrame(
            [(10, "different document ten", "c", 1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(feed2)
        with pytest.raises(ValueError, match="fresh batch id"):
            main(
                ["sync-corpus", "--state", state, "--delta", feed2,
                 "--batch-id", "1"]
            )
        # and a fresh id applies it
        assert main(
            ["sync-corpus", "--state", state, "--delta", feed2,
             "--batch-id", "2"]
        ) == 0
        rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep3["docs_in_state"] == rep1["docs_in_state"] + 1
        assert DedupClusterMaintSink(state).read_epoch()["n_docs"] == 7


class TestShardSelfDiffLockstepCarry:
    def test_heals_lagging_state_then_carries_dfp(
        self, spark, tmp_path, capsys
    ):
        """The round-14 dfp carry must not break healing: a shards
        state that FELL BEHIND its lockstep siblings (stamp mismatch)
        takes the full-recompute self-diff and converges; once back in
        lockstep, later syncs carry untouched docs' fingerprints from
        the layout and still equal a scratch build."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators.ivm import MULT as _M
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows0 = TestSyncCorpusDelta.ROWS0
        rows1 = [
            (0, "alpha beta gamma delta epsilon zeta", "a"),
            (1, "alpha beta gamma delta epsilon zeta", "a"),
            (2, "one two three four five six CHANGED", "b"),
            (4, "cats dogs birds fish mice snakes", "a"),
            (5, "brand new document text arrives here", "c"),
        ]
        snap0, snap1 = str(tmp_path / "s0"), str(tmp_path / "s1")
        _corpus(spark, rows0).write.parquet(snap0)
        _corpus(spark, rows1).write.parquet(snap1)
        state = str(tmp_path / "state")
        shards = str(tmp_path / "shards")

        def sync(bid, snap, with_shards=True):
            argv = ["sync-corpus", "--state", state, "--snapshot", snap,
                    "--batch-id", str(bid)]
            if with_shards:
                argv += ["--shards-state", shards]
            assert main(argv) == 0
            capsys.readouterr()

        sync(0, snap0)
        # the cluster moves ahead WITHOUT the shards state: it lags
        sync(1, snap1, with_shards=False)
        # next shards-bearing sync is NOT in lockstep -> full
        # recompute heals the layout to the current kept corpus
        sync(2, snap1)
        kept_ids = {
            r.doc_id
            for r in TrainingShardSink(shards).layout(spark).collect()
        }
        assert 5 in kept_ids and 3 not in kept_ids
        lay = {
            r.doc_id: r.dfp
            for r in TrainingShardSink(shards).layout(spark).collect()
        }
        # now IN lockstep: a further change must carry untouched dfps
        rows2 = rows1 + [(6, "yet another new arrival lands", "c")]
        snap2 = str(tmp_path / "s2")
        _corpus(spark, rows2).write.parquet(snap2)
        sync(3, snap2)
        lay2 = {
            r.doc_id: r.dfp
            for r in TrainingShardSink(shards).layout(spark).collect()
        }
        for d, fp in lay.items():
            if d in lay2:
                assert lay2[d] == fp, d
        # and the final layout equals a scratch build over the same
        # kept corpus under the same params
        from vcf_pg_loader_spark.operators.shards import doc_fp as _dfp
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )

        sink = DedupClusterMaintSink(state)
        kept = sink.keep(spark)
        kept_docs = (
            sink._table(spark, "corpus")
            .join(kept.select("doc_id"), "doc_id", "left_semi")
            .select("doc_id", "text")
        )
        scratch = TrainingShardSink(str(tmp_path / "scratch"))
        scratch.apply_batch(
            kept_docs.withColumn(_M, F.lit(1).cast("bigint")), 0
        )
        got = sorted(
            tuple(r)
            for r in TrainingShardSink(shards).layout(spark).collect()
        )
        want = sorted(tuple(r) for r in scratch.layout(spark).collect())
        assert got == want


class TestLshKnobRefusal:
    def test_sync_corpus_lsh_params_fingerprinted(
        self, spark, tmp_path, capsys
    ):
        """The collision-density knobs (--minhash-k/--bands/
        --threshold) are SEMANTIC: a state bootstrapped under one
        parameterization must refuse a sync under another (mixed band
        tables would corrupt candidate generation), and the tuned
        setting must be accepted end-to-end on a fresh state."""
        from vcf_pg_loader_spark.cli import main

        snap = str(tmp_path / "snap")
        _corpus(spark, TestSyncCorpusDelta.ROWS0).write.parquet(snap)
        state = str(tmp_path / "state")
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap,
             "--batch-id", "0", "--minhash-k", "32"]
        ) == 0
        capsys.readouterr()
        # default-k sync against the k=32 state refuses
        with pytest.raises(ValueError, match="parameters"):
            main(
                ["sync-corpus", "--state", state, "--snapshot", snap,
                 "--batch-id", "1"]
            )
        # and so does a different band count
        with pytest.raises(ValueError, match="parameters"):
            main(
                ["sync-corpus", "--state", state, "--snapshot", snap,
                 "--batch-id", "1", "--minhash-k", "32", "--bands", "8"]
            )
        # matching knobs keep maintaining
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap,
             "--batch-id", "1", "--minhash-k", "32"]
        ) == 0


class TestDeltaKeepFlipCompMates:
    def test_deleting_canonical_flips_mate_into_layout(
        self, spark, tmp_path, capsys
    ):
        """The comp-mates-restricted shard self-diff (--delta) must
        catch a keep flip of an UNTOUCHED doc: docs 0 and 1 are exact
        near-dups (0 canonical, 1 dropped); deleting 0 through the CDC
        feed makes 1 the survivor, and the layout must gain doc 1 even
        though no delta row mentions it — in both sync paths, equally."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows0 = TestSyncCorpusDelta.ROWS0
        snap0 = str(tmp_path / "snap0")
        _corpus(spark, rows0).write.parquet(snap0)

        def states(tag):
            return {
                k: str(tmp_path / f"{tag}_{k}")
                for k in ("state", "shards")
            }

        a, b = states("a"), states("b")
        for s in (a, b):
            assert main(
                ["sync-corpus", "--state", s["state"], "--snapshot",
                 snap0, "--batch-id", "0", "--shards-state", s["shards"]]
            ) == 0
            capsys.readouterr()
        lay0 = {
            r.doc_id
            for r in TrainingShardSink(a["shards"]).layout(spark).collect()
        }
        assert 0 in lay0 and 1 not in lay0  # 1 lost the dup election

        # path A: snapshot without doc 0
        rows1 = [r for r in rows0 if r[0] != 0]
        snap1 = str(tmp_path / "snap1")
        _corpus(spark, rows1).write.parquet(snap1)
        assert main(
            ["sync-corpus", "--state", a["state"], "--snapshot", snap1,
             "--batch-id", "1", "--shards-state", a["shards"]]
        ) == 0
        capsys.readouterr()
        # path B: the -1 CDC tuple for doc 0
        feed = str(tmp_path / "feed")
        spark.createDataFrame(
            [(*rows0[0], -1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(feed)
        assert main(
            ["sync-corpus", "--state", b["state"], "--delta", feed,
             "--batch-id", "1", "--shards-state", b["shards"]]
        ) == 0
        capsys.readouterr()

        for s in (a, b):
            lay = {
                r.doc_id: r.dfp
                for r in TrainingShardSink(s["shards"])
                .layout(spark)
                .collect()
            }
            assert 0 not in lay and 1 in lay, s
        ga = sorted(
            tuple(r)
            for r in TrainingShardSink(a["shards"]).layout(spark).collect()
        )
        gb = sorted(
            tuple(r)
            for r in TrainingShardSink(b["shards"]).layout(spark).collect()
        )
        assert ga == gb


class TestSeqShingleIndex:
    """Round-13 verdict stretch item 7: the maintained sequence-shingle
    index — touched-shards-only maintenance, lockstep-stamped serving,
    and equality with the assembly-path scan."""

    def _train(self, spark, n=60, extra=0):
        rows = [
            (i, " ".join(f"t{(i + j + extra) % 9}" for j in range(5 + i % 6)))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_incremental_equals_full_and_prunes_untouched(
        self, spark, tmp_path
    ):
        from vcf_pg_loader_spark.operators.shards import shard_of
        from vcf_pg_loader_spark.streaming.seqdecontam import (
            SeqShingleIndexSink,
        )
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        docs = self._train(spark)
        first = docs.filter(F.col("doc_id") % 4 != 0)
        rest = docs.filter(F.col("doc_id") % 4 == 0)
        lay = str(tmp_path / "lay")
        ssink = TrainingShardSink(lay, n_shards=4, seq_len=16)
        ssink.apply_batch(first.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        idx = SeqShingleIndexSink(str(tmp_path / "idx"), ngram=3)
        idx.sync(spark, ssink, first, 0, None)

        ssink.apply_batch(rest.withColumn(MULT, F.lit(1).cast("bigint")), 1)
        touched = {
            r[0]
            for r in rest.select(shard_of(F.col("doc_id"), 4)).distinct()
            .collect()
        }
        # inode pin: untouched shard partitions must hard-link through
        untouched = set(range(4)) - touched
        post_dir = os.path.join(str(tmp_path / "idx"), "post")

        def inodes(shard):
            d = os.path.join(post_dir, f"shard={shard}")
            if not os.path.isdir(d):
                return None
            return sorted(
                os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )

        before = {s: inodes(s) for s in untouched}
        idx.sync(spark, ssink, docs, 1, touched)
        for s in untouched:
            assert inodes(s) == before[s], s

        # equality with a from-scratch index over the same layout
        scratch = SeqShingleIndexSink(str(tmp_path / "scratch"), ngram=3)
        scratch.sync(spark, ssink, docs, 0, None)
        got = sorted(tuple(r) for r in idx.postings(spark).collect())
        want = sorted(tuple(r) for r in scratch.postings(spark).collect())
        assert got == want

        # parameter refusal: a different window width refuses the state
        with pytest.raises(ValueError, match="parameters"):
            SeqShingleIndexSink(str(tmp_path / "idx"), ngram=2).sync(
                spark, ssink, docs, 2, None
            )

    def test_cli_lockstep_serve_and_refusal(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main

        docs = self._train(spark, 40)
        snap0 = str(tmp_path / "snap0")
        docs.write.parquet(snap0)
        state = str(tmp_path / "state")
        shards = str(tmp_path / "shards")
        seqidx = str(tmp_path / "seqidx")
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap0,
             "--batch-id", "0", "--shards-state", shards,
             "--seq-index-state", seqidx, "--out",
             str(tmp_path / "kept0")]
        ) == 0
        capsys.readouterr()
        evals = str(tmp_path / "evals")
        docs.limit(3).write.parquet(evals)

        # served report == assembly report, row for row
        out_a = str(tmp_path / "rep_assembly")
        assert main(
            ["seq-decontam", "--state", shards, "--corpus",
             str(tmp_path / "kept0"), "--eval", evals, "--out", out_a,
             "--ngram", "3"]
        ) == 0
        rep_a = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        out_s = str(tmp_path / "rep_served")
        assert main(
            ["seq-decontam", "--state", shards, "--corpus",
             str(tmp_path / "kept0"), "--eval", evals, "--out", out_s,
             "--ngram", "3", "--index-state", seqidx]
        ) == 0
        rep_s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep_s["hits"] == rep_a["hits"] > 0
        ga = sorted(tuple(r) for r in spark.read.parquet(out_a).collect())
        gs = sorted(tuple(r) for r in spark.read.parquet(out_s).collect())
        assert ga == gs

        # a delta sync WITHOUT --seq-index-state moves the shard state
        # ahead; the stale index must refuse to serve
        snap1 = str(tmp_path / "snap1")
        docs.unionByName(
            self._train(spark, 5, extra=3).withColumn(
                "doc_id", F.col("doc_id") + 1000
            )
        ).write.parquet(snap1)
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap1,
             "--batch-id", "1", "--shards-state", shards]
        ) == 0
        capsys.readouterr()
        rc = main(
            ["seq-decontam", "--state", shards, "--corpus",
             str(tmp_path / "kept0"), "--eval", evals,
             "--out", str(tmp_path / "rep2"), "--ngram", "3",
             "--index-state", seqidx]
        )
        assert rc == 2
        assert "not in lockstep" in capsys.readouterr().err

        # re-syncing WITH the index heals it (full rebuild) and serves
        snap2 = str(tmp_path / "snap2")
        spark.read.parquet(snap1).write.parquet(snap2)
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap2,
             "--batch-id", "2", "--shards-state", shards,
             "--seq-index-state", seqidx,
             "--out", str(tmp_path / "kept2")]
        ) == 0
        capsys.readouterr()
        assert main(
            ["seq-decontam", "--state", shards, "--corpus",
             str(tmp_path / "kept2"), "--eval", evals,
             "--out", str(tmp_path / "rep3"), "--ngram", "3",
             "--index-state", seqidx]
        ) == 0


class TestConnectivityUnchangedFastPath:
    def test_no_dup_delta_hardlinks_pairs_and_clusters(
        self, spark, tmp_path
    ):
        """A batch with no new near-dup edges and no touched edge must
        hard-link pairs/ and clusters/ through the swap (inode pin) —
        and a batch that DOES create an edge must rewrite them."""
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )

        rows = [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),  # dup of 0
            (2, "one two three four five six seven"),
            (3, "red green blue yellow purple orange"),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        t = str(tmp_path / "state")
        sink = DedupClusterMaintSink(t)
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)

        def inodes(table):
            d = os.path.join(t, table)
            return sorted(
                os.stat(os.path.join(root, f)).st_ino
                for root, _dirs, files in os.walk(d)
                for f in files
                if f.endswith(".parquet")
            )

        before_p, before_c = inodes("pairs"), inodes("clusters")
        assert before_p and before_c  # the dup pair (0,1) exists

        # non-duplicate arrival: connectivity unchanged -> hard-link
        fresh = spark.createDataFrame(
            [(9, "totally different words entirely here now")],
            "doc_id bigint, text string",
        )
        sink.apply_batch(fresh.withColumn(MULT, F.lit(1).cast("bigint")), 1)
        assert inodes("pairs") == before_p
        assert inodes("clusters") == before_c
        # and the corpus did grow
        assert sink._table(spark, "corpus").count() == 5

        # deleting a clustered doc touches an edge -> tables rewrite
        dels = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")],
            "doc_id bigint, text string",
        )
        sink.apply_batch(dels.withColumn(MULT, F.lit(-1).cast("bigint")), 2)
        assert inodes("pairs") != before_p
        assert sink._table(spark, "pairs").count() == 0
        # keep-decision now keeps everything (no losers)
        assert sink.keep(spark).count() == 4
