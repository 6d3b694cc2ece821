"""Round-12 additions: bench drifter re-measures (verdict item 6) and
the sync-corpus tokenizer-space wiring (--shards-merges)."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(REPO, "bench.py")
)
bench = importlib.util.module_from_spec(spec)
sys.modules["bench"] = bench
spec.loader.exec_module(bench)


class TestDrifterRemeasures:
    def test_spike_is_remeasured_and_flagged_transient(self, spark, sf_dir):
        import time

        from vcf_pg_loader_spark.queries import all_queries

        # measure a REAL warm wall for the query so `prev` is what a
        # previous round would have recorded on this box
        fn = all_queries()["q_chrom_counts"]
        fn(spark, sf_dir).count()
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            reps.append(time.perf_counter() - t0)
        # median-of-3, like the re-measure itself, so the two medians
        # sit well inside the 1.5x band on any box
        real_warm = sorted(reps)[1]

        timings = {"q_chrom_counts": {"warm_sec": 50.0, "cold_sec": 51.0}}
        prev = {"queries": {"q_chrom_counts": {"warm_sec": real_warm}}}
        out = bench.drifter_remeasures(spark, sf_dir, timings, prev)
        assert list(out) == ["q_chrom_counts"]
        d = out["q_chrom_counts"]
        assert d["prev_warm_sec"] == real_warm
        assert d["sweep_warm_sec"] == 50.0
        assert len(d["remeasure_secs"]) == bench.DRIFT_REPS
        # the warmed re-measure lands back in the previous round's band:
        # the spike reads as transient, exactly the hand protocol
        assert d["remeasure_median_sec"] < 50.0
        assert d["transient"] is True

    def test_no_previous_detail_is_noop(self, spark, sf_dir):
        assert bench.drifter_remeasures(
            spark, sf_dir, {"q_chrom_counts": {"warm_sec": 9.0}}, None
        ) == {}

    def test_below_floor_and_in_band_skipped(self, spark, sf_dir):
        timings = {
            "q_chrom_counts": {"warm_sec": 0.4},  # below floor
            "q_setops": {"warm_sec": 1.0},  # ratio 1.0: in band
        }
        prev = {
            "queries": {
                "q_chrom_counts": {"warm_sec": 0.01},
                "q_setops": {"warm_sec": 1.0},
            }
        }
        assert bench.drifter_remeasures(spark, sf_dir, timings, prev) == {}

    def test_top_n_bounded(self, spark, sf_dir):
        names = [
            "q_chrom_counts", "q_setops", "q_distinct_agg",
            "q_rollup", "q_having_dups", "q_conditional_counts",
            "q_percentile",
        ]
        timings = {n: {"warm_sec": 40.0} for n in names}
        prev = {"queries": {n: {"warm_sec": 0.2} for n in names}}
        out = bench.drifter_remeasures(spark, sf_dir, timings, prev)
        assert len(out) == bench.DRIFT_TOP_N


class TestSyncCorpusShardsMerges:
    def test_sync_packs_in_tokenizer_space(self, spark, tmp_path, capsys):
        """sync-corpus --shards-state --shards-merges maintains the
        layout in BPE space; a second sync with a different vocab
        refuses (fingerprint), and with the same vocab succeeds."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators.bpe import bpe_token_lengths
        from vcf_pg_loader_spark.operators import shards as SH
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows = [
            (i, f"alpha beta gamma delta doc{i} alpha beta")
            for i in range(40)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        snap = str(tmp_path / "snap")
        docs.write.parquet(snap)
        vocab = str(tmp_path / "vocab.json")
        merges = [["a", "l"], ["be", "ta"]]
        with open(vocab, "w") as fh:
            json.dump({"merges": merges, "corpus_fp": 99, "n_docs": 40}, fh)

        state = str(tmp_path / "state")
        shards = str(tmp_path / "shards")
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap,
             "--batch-id", "0", "--shards-state", shards,
             "--shards-merges", vocab]
        ) == 0
        capsys.readouterr()

        from vcf_pg_loader_spark.operators.bpe import tokenizer_fingerprint

        tfp = tokenizer_fingerprint([tuple(m) for m in merges])
        sink = TrainingShardSink(
            shards, merges=[tuple(m) for m in merges], vocab_fp=tfp
        )
        got = {
            r.doc_id: r.n_tokens for r in sink.layout(spark).collect()
        }
        want = {
            r.doc_id: r.n_tokens
            for r in bpe_token_lengths(
                docs, [tuple(m) for m in merges]
            ).collect()
        }
        assert got == want  # packed in BPE tokens, not whitespace
        ws = {r.doc_id: r.n_tokens for r in SH.shard_base(docs).collect()}
        assert got != ws

        # a different TOKENIZER must refuse the state (round-14: the
        # fingerprint is tokenizer identity, so the refusing artifact
        # needs different merges, not a different corpus_fp)
        vocab2 = str(tmp_path / "vocab2.json")
        with open(vocab2, "w") as fh:
            json.dump(
                {"merges": [["a", "l"]], "corpus_fp": 7, "n_docs": 40}, fh
            )
        with pytest.raises(ValueError, match="parameters"):
            main(
                ["sync-corpus", "--state", state, "--snapshot", snap,
                 "--batch-id", "1", "--shards-state", shards,
                 "--shards-merges", vocab2]
            )


class TestVocabSink:
    """Round-12 stretch: maintained (word, n) vocabulary under the
    Z-set contract — incremental == scratch, pruned bucket writes, and
    the trainer consuming served counts unchanged."""

    def _docs(self, spark, ids):
        # mostly doc-local word types (so a 1-doc delta touches few
        # hash buckets) plus a shared head word (so counts aggregate
        # across docs too)
        rows = [
            (
                i,
                "common "
                + " ".join(f"w{i}x{j}" for j in range((i % 5) + 2)),
            )
            for i in ids
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def _scratch(self, docs):
        from vcf_pg_loader_spark.operators.bpe import word_counts

        return sorted(
            (r.w, r.n) for r in word_counts(docs).collect()
        )

    def test_incremental_equals_scratch(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.ivm import (
            MULT,
            zset_snapshot_delta,
        )
        from vcf_pg_loader_spark.streaming.vocab import VocabSink

        t = str(tmp_path / "state")
        sink = VocabSink(t)
        d0 = self._docs(spark, range(60))
        sink.apply_batch(d0.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        assert sorted(
            (r.w, r.n) for r in sink.counts(spark).collect()
        ) == self._scratch(d0)
        # docs leave, arrive, and CHANGE text
        d1 = self._docs(spark, range(20, 90)).withColumn(
            "text",
            F.when(
                F.col("doc_id") == 25,
                F.lit("zulu zulu yankee"),
            ).otherwise(F.col("text")),
        )
        sink.apply_batch(zset_snapshot_delta(d0, d1, "doc_id"), 1)
        assert sorted(
            (r.w, r.n) for r in sink.counts(spark).collect()
        ) == self._scratch(d1)
        # replay is a no-op
        sink.apply_batch(zset_snapshot_delta(d0, d1, "doc_id"), 1)
        assert sorted(
            (r.w, r.n) for r in sink.counts(spark).collect()
        ) == self._scratch(d1)

    def test_untouched_buckets_hard_link(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.ivm import (
            MULT,
            zset_snapshot_delta,
        )
        from vcf_pg_loader_spark.streaming.vocab import VocabSink

        t = str(tmp_path / "state")
        sink = VocabSink(t)
        d0 = self._docs(spark, range(200))
        sink.apply_batch(d0.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        vdir = os.path.join(t, "vocab")

        def inodes():
            out = {}
            for entry in os.listdir(vdir):
                p = os.path.join(vdir, entry)
                if "=" in entry and os.path.isdir(p):
                    out[entry] = {
                        f: os.stat(os.path.join(p, f)).st_ino
                        for f in os.listdir(p)
                        if not f.startswith(("_", "."))
                    }
            return out

        before = inodes()
        assert len(before) > 4  # words spread over several buckets
        # one changed doc -> only the buckets of ITS words rewrite
        d1 = d0.withColumn(
            "text",
            F.when(
                F.col("doc_id") == 7, F.lit("alpha alpha")
            ).otherwise(F.col("text")),
        )
        sink.apply_batch(zset_snapshot_delta(d0, d1, "doc_id"), 1)
        after = inodes()
        linked = [
            p for p in after if p in before and after[p] == before[p]
        ]
        rewritten = [p for p in after if p not in linked]
        assert rewritten and linked  # some pruned, some rewritten
        # the doc's words span few buckets; most of the state hard-links
        assert len(linked) >= len(after) // 2

    def test_trainer_consumes_served_counts(self, spark, tmp_path):
        """The trainer over the MAINTAINED vocab equals learning from
        the corpus — vocab refresh is O(|delta|), train reads the
        state."""
        from vcf_pg_loader_spark.operators import bpe as B
        from vcf_pg_loader_spark.operators.ivm import MULT
        from vcf_pg_loader_spark.streaming.vocab import VocabSink

        docs = self._docs(spark, range(40))
        t = str(tmp_path / "state")
        sink = VocabSink(t)
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        assert B.bpe_train(sink.counts(spark), 12) == B.bpe_train(
            B.word_counts(docs), 12
        )


class TestVocabStateCLI:
    def test_sync_then_train_from_counts_state(
        self, spark, tmp_path, capsys
    ):
        """The full no-corpus-pass retrain loop: sync-corpus maintains
        the VocabSink; train-vocab --counts-state learns the IDENTICAL
        merges a corpus pass would, and the artifact carries the
        state's corpus-epoch identity."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators.bpe import bpe_train, word_counts

        rows = [
            (i, "shared head " + " ".join(f"w{i}x{j}" for j in range(3)))
            for i in range(30)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        snap = str(tmp_path / "snap")
        docs.write.parquet(snap)
        state = str(tmp_path / "state")
        vstate = str(tmp_path / "vocab_state")
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap,
             "--batch-id", "0", "--vocab-state", vstate]
        ) == 0
        sync_rep = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )

        out = str(tmp_path / "merges.json")
        assert main(
            ["train-vocab", "--counts-state", vstate, "--out", out,
             "--n-merges", "10"]
        ) == 0
        capsys.readouterr()
        art = json.load(open(out))
        assert art["strategy"] == "counts-state"
        # identical merges to a corpus pass
        want = bpe_train(word_counts(docs), 10)[0]
        assert [tuple(m) for m in art["merges"]] == want
        # artifact identity == the state's corpus-epoch stamp
        assert art["corpus_fp"] == sync_rep["epoch_fp"]

    def test_train_vocab_arg_validation(self, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main

        assert main(
            ["train-vocab", "--out", str(tmp_path / "m.json")]
        ) == 2
        assert main(
            ["train-vocab", "--counts-state", "x",
             "--out", str(tmp_path / "m.json"),
             "--encode-out", str(tmp_path / "enc")]
        ) == 2


class TestRound12PlanShapes:
    """Plan-shape pins for the round-12 queries: the ONLY Python node
    anywhere is the Arrow BPE-encode seam in the tokenizer-space
    packing query; everything else is whole-stage JVM."""

    def _plan(self, spark, sf_dir, name):
        from vcf_pg_loader_spark.queries import all_queries

        df = all_queries()[name](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    def test_vocab_served_is_jvm_only(self, spark, sf_dir):
        for name in ("q_vocab_coverage_served", "q_cdc_vocab"):
            plan = self._plan(spark, sf_dir, name)
            assert "EvalPython" not in plan and "InPandas" not in plan
            assert "CartesianProduct" not in plan

    def test_shards_bpe_has_exactly_one_arrow_seam(self, spark, sf_dir):
        plan = self._plan(spark, sf_dir, "q_training_shards_bpe")
        assert plan.count("MapInPandas") == 1  # the BPE encoder
        assert "CartesianProduct" not in plan
        # the lengths join broadcasts (doc-count-sized, never shuffles
        # the corpus for it)
        assert "BroadcastHashJoin" in plan


class TestRound12EndToEnd:
    def test_full_tokenizer_loop(self, spark, tmp_path, capsys):
        """The whole round-12 story in one run: train a vocab from the
        corpus, sync-corpus maintains vocab+shard states in lockstep
        (shards packed in the vocab's token space), export epoch-pinned
        shards, reshard the layout from its own facts, re-export, and
        retrain from the maintained counts — every handoff checked."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators.bpe import bpe_train, word_counts

        rows = [
            (
                i,
                "shared head words "
                + " ".join(f"tok{i % 7}x{j}" for j in range((i % 6) + 3)),
            )
            for i in range(80)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        snap = str(tmp_path / "snap")
        docs.write.parquet(snap)

        # 1. train a vocab artifact from the corpus
        vocab = str(tmp_path / "vocab.json")
        assert main(
            ["train-vocab", "--corpus", snap, "--out", vocab,
             "--n-merges", "16"]
        ) == 0

        # 2. one sync maintains cluster + vocab + BPE-packed shards
        state = str(tmp_path / "state")
        vstate = str(tmp_path / "vocab_state")
        sstate = str(tmp_path / "shards")
        kept = str(tmp_path / "kept")
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap,
             "--batch-id", "0", "--vocab-state", vstate,
             "--shards-state", sstate, "--shards-merges", vocab,
             "--out", kept]
        ) == 0
        sync_rep = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )
        epoch = str(sync_rep["epoch_fp"])

        # 3. epoch-pinned export with the SAME vocab
        out1 = str(tmp_path / "export1")
        assert main(
            ["export-shard", "--state", sstate, "--corpus", kept,
             "--out", out1, "--merges", vocab, "--epoch", epoch]
        ) == 0
        rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep1["written_docs"] == rep1["docs"] > 0

        # 4. reshard 16 -> 4 from persisted facts, then re-export: the
        #    doc/token totals are invariant, only the grouping moved
        assert main(
            ["reshard", "--state", sstate, "--n-shards", "4"]
        ) == 0
        capsys.readouterr()
        out2 = str(tmp_path / "export2")
        assert main(
            ["export-shard", "--state", sstate, "--corpus", kept,
             "--out", out2, "--merges", vocab]
        ) == 0
        rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep2["shards"] == 4
        assert rep2["written_docs"] == rep1["written_docs"]
        assert rep2["written_tokens"] == rep1["written_tokens"]

        # 5. retrain from the maintained counts: same merges, identity
        #    inherited from the sync's epoch
        vocab2 = str(tmp_path / "vocab2.json")
        assert main(
            ["train-vocab", "--counts-state", vstate, "--out", vocab2,
             "--n-merges", "16"]
        ) == 0
        art2 = json.load(open(vocab2))
        assert [tuple(m) for m in art2["merges"]] == bpe_train(
            word_counts(docs), 16
        )[0]
        assert art2["corpus_fp"] == sync_rep["epoch_fp"]


class TestEmitPieces:
    def test_export_emits_token_stream_in_packed_order(
        self, spark, tmp_path, capsys
    ):
        """export-shard --emit-pieces attaches each doc's BPE pieces;
        the emitted stream sums to the manifest exactly and per-row
        pieces match the standalone encoder."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators.bpe import bpe_encode_doc_arrow
        from vcf_pg_loader_spark.operators.ivm import MULT
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        merges = [("a", "l"), ("al", "p")]
        rows = [
            (i, "alp ha " + " ".join(f"q{i}x{j}" for j in range(3)))
            for i in range(30)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)
        vocab = str(tmp_path / "vocab.json")
        json.dump(
            {"merges": [list(m) for m in merges], "corpus_fp": 5,
             "n_docs": 30},
            open(vocab, "w"),
        )
        from vcf_pg_loader_spark.operators.bpe import tokenizer_fingerprint

        t = str(tmp_path / "state")
        sink = TrainingShardSink(
            t, merges=merges, vocab_fp=tokenizer_fingerprint(merges)
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
        got = {
            r.doc_id: list(r.pieces)
            for r in spark.read.parquet(out).collect()
        }
        want = {
            r.doc_id: list(r.pieces)
            for r in bpe_encode_doc_arrow(docs, merges).collect()
        }
        assert got == want

    def test_emit_pieces_without_merges_refused(self, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main

        rc = main(
            ["export-shard", "--state", str(tmp_path / "s"),
             "--corpus", str(tmp_path / "c"),
             "--out", str(tmp_path / "o"), "--emit-pieces"]
        )
        assert rc == 2


class TestBpeEncodeDocArrow:
    def test_doc_stream_equals_per_word_encoder(self, spark):
        from vcf_pg_loader_spark.operators import bpe as B

        texts = ["low lower lowest", "aaa ab  abab", ""]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        merges = [("l", "o"), ("a", "a"), ("a", "b")]
        per_word = {}
        for r in B.bpe_encode_arrow(docs, merges).collect():
            per_word.setdefault(r.doc_id, {}).setdefault(
                r.w, list(r.pieces)
            )
        got = {
            r.doc_id: list(r.pieces)
            for r in B.bpe_encode_doc_arrow(docs, merges).collect()
        }
        for i, text in enumerate(texts):
            want = []
            for w in text.split(" "):
                if w:
                    want.extend(per_word[i][w])
            assert got[i] == want, (i, text)
        # empty doc -> empty stream, row kept
        assert got[2] == []


class TestExportSequences:
    def _setup(self, spark, tmp_path, merges=None, vocab_fp=None):
        from vcf_pg_loader_spark.operators.ivm import MULT
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows = [
            (i, " ".join(f"t{i % 9}v{j}" for j in range((i % 7) + 4)))
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        corpus = str(tmp_path / "corpus")
        docs.write.parquet(corpus)
        t = str(tmp_path / "state")
        sink = TrainingShardSink(
            t, seq_len=16, merges=merges, vocab_fp=vocab_fp
        )
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        return docs, corpus, t, sink

    def test_sequences_tile_the_corpus_exactly(
        self, spark, tmp_path, capsys
    ):
        """Whitespace space: every sequence is seq_len tokens except
        each shard's last; concatenating a shard's sequences in seq_id
        order reproduces the shard's packed token stream."""
        from vcf_pg_loader_spark.cli import main

        docs, corpus, t, sink = self._setup(spark, tmp_path)
        out = str(tmp_path / "seqs")
        assert main(
            ["export-sequences", "--state", t, "--corpus", corpus,
             "--out", out]
        ) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["written_seqs"] == rep["seqs"] > 0
        assert rep["written_tokens"] == rep["tokens"]

        seqs = spark.read.parquet(out).collect()
        man = {r.shard: r for r in sink.manifest(spark).collect()}
        by_shard = {}
        for r in seqs:
            by_shard.setdefault(r.shard, []).append(r)
        for shard, rows in by_shard.items():
            rows.sort(key=lambda r: r.seq_id)
            # contiguous seq ids from 0
            assert [r.seq_id for r in rows] == list(range(len(rows)))
            # full sequences except the last
            for r in rows[:-1]:
                assert len(r.tokens) == 16
            total = sum(len(r.tokens) for r in rows)
            assert total == man[shard].n_tokens
            assert len(rows) == man[shard].n_seqs
        # stream equality: concatenated sequences == packed doc stream
        lay = {r.doc_id: r for r in sink.layout(spark).collect()}
        text = {r.doc_id: r.text for r in docs.collect()}
        for shard, rows in by_shard.items():
            stream = [tok for r in rows for tok in r.tokens]
            docs_in = sorted(
                (v for v in lay.values() if v.shard == shard),
                key=lambda v: (v.okey, v.doc_id),
            )
            want = [w for v in docs_in for w in text[v.doc_id].split(" ")]
            assert stream == want, shard

    def test_bpe_space_sequences_match_query_semantics(
        self, spark, tmp_path, capsys
    ):
        """BPE space: the exported sequences equal the oracled
        q_train_sequences assembly run on the same inputs."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators import shards as SH
        from vcf_pg_loader_spark.operators.bpe import bpe_encode_doc_arrow

        from vcf_pg_loader_spark.operators.bpe import tokenizer_fingerprint

        merges = [("t", "1"), ("t", "2")]
        docs, corpus, t, sink = self._setup(
            spark, tmp_path, merges=merges,
            vocab_fp=tokenizer_fingerprint(merges),
        )
        vocab = str(tmp_path / "vocab.json")
        json.dump(
            {"merges": [list(m) for m in merges], "corpus_fp": 11,
             "n_docs": 60},
            open(vocab, "w"),
        )
        out = str(tmp_path / "seqs")
        assert main(
            ["export-sequences", "--state", t, "--corpus", corpus,
             "--out", out, "--merges", vocab]
        ) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["written_tokens"] == rep["tokens"] > 0

        enc = bpe_encode_doc_arrow(docs, merges)
        lengths = enc.select(
            "doc_id", F.size("pieces").cast("bigint").alias("n_tokens")
        )
        layout = SH.shard_layout_from_lengths(
            SH.shard_base(docs, lengths=lengths), 16
        )
        want = {
            (r.shard, r.seq_id): list(r.tokens)
            for r in SH.sequence_stream(
                SH.shard_sequences(layout, 16), enc
            ).collect()
        }
        got = {
            (r.shard, r.seq_id): list(r.tokens)
            for r in spark.read.parquet(out).collect()
        }
        assert got == want

    def test_stale_corpus_fails_integrity(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main

        docs, corpus, t, sink = self._setup(spark, tmp_path)
        stale = str(tmp_path / "stale")
        docs.filter(F.col("doc_id") < 40).write.parquet(stale)
        rc = main(
            ["export-sequences", "--state", t, "--corpus", stale,
             "--out", str(tmp_path / "seqs")]
        )
        assert rc == 1
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert "must not be trained on" in rep["error"]


class TestVocabRebucket:
    def test_vocab_state_rebuckets_with_word_id_col(self, spark, tmp_path):
        """The vocab table shares the id-bucket layout, so the existing
        rebucket verb migrates it: --key n_id_buckets --id-col word."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators.ivm import MULT
        from vcf_pg_loader_spark.streaming.vocab import VocabSink

        rows = [
            (i, "common " + " ".join(f"w{i}x{j}" for j in range(3)))
            for i in range(50)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        t = str(tmp_path / "state")
        sink = VocabSink(t)
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        before = sorted(
            (r.w, r.n) for r in sink.counts(spark).collect()
        )

        assert main(
            ["rebucket", "--state", t, "--key", "n_id_buckets",
             "--n", "8", "--id-col", "word"]
        ) == 0
        # contents identical, layout moved, fingerprint restamped
        after = sorted(
            (r.w, r.n) for r in VocabSink(t).counts(spark).collect()
        )
        assert after == before
        import os as _os

        buckets = {
            e for e in _os.listdir(_os.path.join(t, "vocab"))
            if e.startswith("ib=")
        }
        assert buckets and all(int(b[3:]) < 8 for b in buckets)
        fp = json.load(open(_os.path.join(t, "_params.json")))
        assert fp["n_id_buckets"] == 8


class TestDocBounds:
    def test_doc_bounds_mark_document_starts(self, spark):
        from vcf_pg_loader_spark.operators import shards as SH

        docs = spark.createDataFrame(
            [(i, " ".join(f"d{i}w{j}" for j in range(5)))
             for i in range(20)],
            "doc_id bigint, text string",
        )
        layout = SH.shard_layout(docs, seq_len=8)
        spans = SH.shard_sequences(layout, seq_len=8)
        pieces = docs.select(
            "doc_id", F.split("text", " ").alias("pieces")
        )
        seqs = SH.sequence_stream(spans, pieces).collect()
        span_rows = spans.collect()
        for r in seqs:
            want = sorted(
                s.seq_off
                for s in span_rows
                if s.shard == r.shard and s.seq_id == r.seq_id
            )
            assert list(r.doc_bounds) == want
            # bounds start where parts start and never exceed the
            # sequence length
            assert r.doc_bounds[0] == 0 or r.doc_bounds[0] > 0
            assert all(0 <= b < 8 for b in r.doc_bounds)
            assert len(r.tokens) <= 8


class TestRetentionKnob:
    def test_constructor_retention(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.ivm import MULT
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        t = str(tmp_path / "state")
        sink = TrainingShardSink(t, retain_epochs=3)
        docs = spark.createDataFrame(
            [(i, "a b c") for i in range(10)],
            "doc_id bigint, text string",
        )
        sink.apply_batch(docs.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        import time

        for i, fp in enumerate(("A", "B", "C", "D")):
            sink.stamp_epoch({"epoch_fp": fp, "batch_id": i})
            time.sleep(0.05)
        # 3 retained: A evicted, B/C/D live
        with pytest.raises(FileNotFoundError):
            sink.layout(spark, epoch="A")
        for fp in ("B", "C", "D"):
            assert sink.layout(spark, epoch=fp).count() == 10


class TestSyncCorpusShardsDocSep:
    def test_sync_packs_eos_aware(self, spark, tmp_path, capsys):
        """sync-corpus --shards-state --shards-doc-sep maintains an
        EOS-budgeted layout: every doc's packed n_tokens includes the
        separator, a separator-free sync refuses the state
        (fingerprint), and export-sequences emits the separators so
        integrity holds end to end from the synced state."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.operators import shards as SH
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        rows = [(i, f"one two three doc{i}") for i in range(30)]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        snap = str(tmp_path / "snap")
        docs.write.parquet(snap)
        state = str(tmp_path / "state")
        shards = str(tmp_path / "shards")
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", snap,
             "--batch-id", "0", "--shards-state", shards,
             "--shards-doc-sep", "1"]
        ) == 0
        capsys.readouterr()

        sink = TrainingShardSink(shards, doc_sep=1)
        got = {
            r.doc_id: r.n_tokens for r in sink.layout(spark).collect()
        }
        ws = {r.doc_id: r.n_tokens for r in SH.shard_base(docs).collect()}
        assert got == {d: n + 1 for d, n in ws.items()}

        # a separator-free sync must refuse the state
        with pytest.raises(ValueError, match="parameters"):
            main(
                ["sync-corpus", "--state", state, "--snapshot", snap,
                 "--batch-id", "1", "--shards-state", shards]
            )

        # export from the synced state: integrity incl. separators
        out = str(tmp_path / "seqs")
        kept = str(tmp_path / "kept")
        docs.write.parquet(kept)
        assert main(
            ["export-sequences", "--state", shards, "--corpus", kept,
             "--out", out]
        ) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["written_tokens"] == rep["tokens"]
        toks = [
            t
            for r in spark.read.parquet(out).collect()
            for t in r.tokens
        ]
        assert toks.count("</s>") == 30
