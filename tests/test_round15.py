"""Round-15 additions: the round-14 ADVICE fixes — crash-window epoch
stamp healing (the ledger records a batch before the stamp file is
written; a crash between leaves the stamp one batch behind), the
comp-mates restriction skipped on replay/recovery entry, -1 source
verification against the card state, --delta refusal over a
--mix-budget-stamped layout, and the legacy corpus_fp vocab stamp
accepted + restamped in place."""

from __future__ import annotations

import json
import os

import pytest

from vcf_pg_loader_spark.operators.ivm import MULT


def _corpus(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )


def _sync(main, capsys, *argv):
    assert main(["sync-corpus", *argv]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


ROWS0 = [
    (0, "alpha beta gamma delta epsilon zeta", "a"),
    (1, "alpha beta gamma delta epsilon zeta", "a"),  # exact dup of 0
    (2, "one two three four five six seven", "b"),
    (3, "red green blue yellow purple orange", "b"),
    (4, "cats dogs birds fish mice snakes", "a"),
]


class TestCrashWindowStampHeal:
    """Round-14 advice item 1: stamp_epoch writes a separate file AFTER
    apply_batch's swap.  A crash in that window leaves the cluster
    state one batch ahead of its stamp; on re-run the stale pre-batch
    fingerprint must NOT propagate — the stamp's recorded batch_id
    makes the window detectable and the fold heals it forward."""

    def test_delta_rerun_heals_stale_stamp(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )

        snap0 = str(tmp_path / "snap0")
        _corpus(spark, ROWS0).write.parquet(snap0)
        state_a = str(tmp_path / "state_a")  # crashes mid-window
        state_b = str(tmp_path / "state_b")  # clean twin
        for st in (state_a, state_b):
            _sync(main, capsys, "--state", st, "--snapshot", snap0,
                  "--batch-id", "0")
        sink_a = DedupClusterMaintSink(state_a)
        e0 = sink_a.read_epoch()

        feed1 = str(tmp_path / "feed1")
        spark.createDataFrame(
            [(9, "fresh document nine arrives", "c", 1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(feed1)
        rep_a1 = _sync(main, capsys, "--state", state_a, "--delta", feed1,
                       "--batch-id", "1")
        _sync(main, capsys, "--state", state_b, "--delta", feed1,
              "--batch-id", "1")
        # simulate the crash window: batch 1 is applied (ledger + data)
        # but the stamp file never landed — roll it back to e0
        sink_a.stamp_epoch(e0)
        assert sink_a.read_epoch()["batch_id"] == 0

        # re-run the SAME delta + batch id: the drift check proves the
        # feed is the applied batch, and the stale stamp heals forward
        rep_a2 = _sync(main, capsys, "--state", state_a, "--delta", feed1,
                       "--batch-id", "1")
        healed = sink_a.read_epoch()
        assert healed["batch_id"] == 1
        assert healed["epoch_fp"] == rep_a1["epoch_fp"]
        assert rep_a2["epoch_fp"] == rep_a1["epoch_fp"]

        # and a later fold does NOT inherit a missing XOR term: batch 2
        # lands both states on the same fingerprint
        feed2 = str(tmp_path / "feed2")
        spark.createDataFrame(
            [(10, "fresh document ten arrives", "c", 1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(feed2)
        rep_a3 = _sync(main, capsys, "--state", state_a, "--delta", feed2,
                       "--batch-id", "2")
        rep_b3 = _sync(main, capsys, "--state", state_b, "--delta", feed2,
                       "--batch-id", "2")
        assert rep_a3["epoch_fp"] == rep_b3["epoch_fp"]
        assert (
            DedupClusterMaintSink(state_a).read_epoch()
            == DedupClusterMaintSink(state_b).read_epoch()
        )

    def test_snapshot_rerun_heals_and_wrong_snapshot_refuses(
        self, spark, tmp_path, capsys
    ):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )

        snap0 = str(tmp_path / "snap0")
        _corpus(spark, ROWS0).write.parquet(snap0)
        state = str(tmp_path / "state")
        _sync(main, capsys, "--state", state, "--snapshot", snap0,
              "--batch-id", "0")
        sink = DedupClusterMaintSink(state)
        e0 = sink.read_epoch()

        rows1 = ROWS0 + [(9, "fresh document nine arrives", "c")]
        snap1 = str(tmp_path / "snap1")
        _corpus(spark, rows1).write.parquet(snap1)
        rep1 = _sync(main, capsys, "--state", state, "--snapshot", snap1,
                     "--batch-id", "1")
        sink.stamp_epoch(e0)  # the crash window

        # same snapshot + batch id: the recomputed delta is empty (the
        # state already equals the snapshot) — heal the stamp
        _sync(main, capsys, "--state", state, "--snapshot", snap1,
              "--batch-id", "1")
        healed = sink.read_epoch()
        assert healed["batch_id"] == 1
        assert healed["epoch_fp"] == rep1["epoch_fp"]

        # roll back again, then reuse batch 1 under a DIFFERENT
        # snapshot: non-empty delta + unverifiable stamp target — the
        # heal must refuse, never vouch
        sink.stamp_epoch(e0)
        snap2 = str(tmp_path / "snap2")
        _corpus(
            spark, rows1 + [(10, "yet another document ten", "c")]
        ).write.parquet(snap2)
        with pytest.raises(ValueError, match="fresh batch id"):
            main(["sync-corpus", "--state", state, "--snapshot", snap2,
                  "--batch-id", "1"])

    def test_seq_index_rerun_heals_stale_stamp(self, spark, tmp_path, capsys):
        """The sequence index stamps after its own swap too: a crash
        between them leaves its stamp one batch behind the shard layout
        it was built from.  A rerun of the same snapshot and batch id
        heals it (the layout already carries this batch's stamp), and
        the healed index serves."""
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.seqdecontam import (
            SeqShingleIndexSink,
        )

        state = str(tmp_path / "state")
        shards = str(tmp_path / "shards")
        seqidx = str(tmp_path / "seqidx")
        kept = str(tmp_path / "kept")
        lockstep = ["--state", state, "--shards-state", shards,
                    "--seq-index-state", seqidx]
        snap0 = str(tmp_path / "snap0")
        _corpus(spark, ROWS0).write.parquet(snap0)
        _sync(main, capsys, *lockstep, "--snapshot", snap0, "--batch-id", "0")
        idx = SeqShingleIndexSink(seqidx)
        e0 = idx.read_epoch()

        snap1 = str(tmp_path / "snap1")
        _corpus(
            spark, ROWS0 + [(9, "fresh document nine arrives today", "c")]
        ).write.parquet(snap1)
        rep1 = _sync(main, capsys, *lockstep, "--snapshot", snap1,
                     "--batch-id", "1")
        idx.stamp_epoch(e0)  # the crash window

        _sync(main, capsys, *lockstep, "--snapshot", snap1, "--batch-id",
              "1", "--out", kept)
        healed = idx.read_epoch()
        assert healed["batch_id"] == 1
        assert healed["epoch_fp"] == rep1["epoch_fp"]

        evals = str(tmp_path / "evals")
        _corpus(spark, ROWS0[2:4]).write.parquet(evals)
        assert main(
            ["seq-decontam", "--state", shards, "--corpus", kept,
             "--eval", evals, "--out", str(tmp_path / "rep"), "--ngram", "3",
             "--index-state", seqidx]
        ) == 0
        assert json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )["hits"] > 0


class TestRecoveryFullSelfDiff:
    """Round-14 advice item 2: when the batch is already in the cluster
    state at entry (crash after the cluster apply, before the sibling
    syncs), the 'pre-apply' component capture is really post-apply —
    deleted docs are gone from the clusters table and their former
    comp-mates would be missed.  Recovery must run the FULL shard
    self-diff instead of the comp-mates-restricted one."""

    def test_deleted_canonicals_mate_flips_in_during_recovery(
        self, spark, tmp_path, capsys
    ):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        snap0 = str(tmp_path / "snap0")
        _corpus(spark, ROWS0).write.parquet(snap0)
        state = str(tmp_path / "state")
        shards = str(tmp_path / "shards")
        _sync(main, capsys, "--state", state, "--snapshot", snap0,
              "--batch-id", "0", "--shards-state", shards)
        layout0 = {
            r["doc_id"]
            for r in TrainingShardSink(shards).layout(spark).collect()
        }
        assert 0 in layout0 and 1 not in layout0  # 1 is 0's dup, dropped

        # the delta deletes doc 0 — the component minimum — so doc 1
        # must flip INTO the layout
        feed = str(tmp_path / "feed")
        spark.createDataFrame(
            [(0, ROWS0[0][1], "a", -1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(feed)
        delta_df = spark.read.parquet(feed).selectExpr(
            "doc_id", "text", f"cast(_mult as bigint) as {MULT}"
        )
        # simulate the crash: the CLUSTER sink applied batch 1, then
        # the process died before the stamp write and the shard sync
        sink = DedupClusterMaintSink(state)
        sink.apply_batch(delta_df, 1)
        assert sink.applied(1)
        assert sink.read_epoch()["batch_id"] == 0  # stamp is stale

        # recovery run: replay on the cluster, full self-diff on the
        # shards — doc 1 (whose only comp-mate was the deleted doc 0,
        # absent from the post-apply clusters table) flips in
        _sync(main, capsys, "--state", state, "--delta", feed,
              "--batch-id", "1", "--shards-state", shards)
        layout1 = {
            r["doc_id"]
            for r in TrainingShardSink(shards).layout(spark).collect()
        }
        assert 0 not in layout1 and 1 in layout1
        # both stamps healed to the post-batch epoch, in lockstep
        e_cluster = sink.read_epoch()
        e_shards = TrainingShardSink(shards).read_epoch()
        assert e_cluster["batch_id"] == 1
        assert e_cluster["epoch_fp"] == e_shards["epoch_fp"]


class TestDeltaSourceVerification:
    """Round-14 advice item 3: when the epoch folds source (fp_cols
    id:md5:source), a -1 tuple's source value enters the fingerprint
    but the cluster corpus stores no source to check it against — the
    card state does."""

    def test_wrong_retraction_source_refused_with_card_state(
        self, spark, tmp_path, capsys
    ):
        from vcf_pg_loader_spark.cli import main

        snap0 = str(tmp_path / "snap0")
        _corpus(spark, ROWS0).write.parquet(snap0)
        state = str(tmp_path / "state")
        card = str(tmp_path / "card")
        _sync(main, capsys, "--state", state, "--snapshot", snap0,
              "--batch-id", "0", "--card-state", card)

        # retract doc 2 with the WRONG source ("a"; the card knows "b")
        bad_feed = str(tmp_path / "bad_feed")
        spark.createDataFrame(
            [(2, ROWS0[2][1], "a", -1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(bad_feed)
        assert main(
            ["sync-corpus", "--state", state, "--delta", bad_feed,
             "--batch-id", "1", "--card-state", card]
        ) == 2
        err = capsys.readouterr().err
        assert "source that differs" in err

        # the correct source applies cleanly
        good_feed = str(tmp_path / "good_feed")
        spark.createDataFrame(
            [(2, ROWS0[2][1], "b", -1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(good_feed)
        rep = _sync(main, capsys, "--state", state, "--delta", good_feed,
                    "--batch-id", "1", "--card-state", card)
        assert rep["rows_retracted"] == 1


class TestMixBudgetDeltaRefusal:
    """Round-14 advice item 4: a layout last synced under --snapshot
    --mix-budget carries the marker in its epoch stamp; a later --delta
    would freeze a stale quota selection — refuse up front."""

    def test_delta_refused_then_snapshot_clears(
        self, spark, tmp_path, capsys
    ):
        from vcf_pg_loader_spark.cli import main

        snap0 = str(tmp_path / "snap0")
        _corpus(spark, ROWS0).write.parquet(snap0)
        state = str(tmp_path / "state")
        shards = str(tmp_path / "shards")
        _sync(main, capsys, "--state", state, "--snapshot", snap0,
              "--batch-id", "0", "--shards-state", shards,
              "--mix-budget", "3")

        feed = str(tmp_path / "feed")
        spark.createDataFrame(
            [(9, "fresh document nine arrives", "c", 1)],
            "doc_id bigint, text string, source string, _mult bigint",
        ).write.parquet(feed)
        assert main(
            ["sync-corpus", "--state", state, "--delta", feed,
             "--batch-id", "1", "--shards-state", shards]
        ) == 2
        assert "--mix-budget" in capsys.readouterr().err

        # a --snapshot sync without the quota drops the marker, after
        # which --delta resumes
        _sync(main, capsys, "--state", state, "--snapshot", snap0,
              "--batch-id", "1", "--shards-state", shards)
        rep = _sync(main, capsys, "--state", state, "--delta", feed,
                    "--batch-id", "2", "--shards-state", shards)
        assert rep["rows_upserted"] == 1


class TestLshRecallSample:
    """Round-14 verdict item 2: the rows-per-band knob buys candidate
    collapse by spending recall; this estimator is the per-sync counter
    watching that trade."""

    ROWS = [
        # docs 0/1 and 2/3: high-Jaccard near-dup pairs the bands
        # should catch; the rest unrelated
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta iota"),
        (2, "one two three four five six seven eight nine"),
        (3, "one two three four five six seven eight ten"),
        (4, "totally unrelated words appear in this document"),
        (5, "more unrelated text with different content here"),
        (6, "cats dogs birds fish mice snakes horses cows"),
        (7, "red green blue yellow purple orange pink brown"),
    ]

    def test_counters_are_consistent_and_full_sample_finds_pairs(
        self, spark
    ):
        from vcf_pg_loader_spark.operators.dedup import lsh_recall_sample

        docs = spark.createDataFrame(
            self.ROWS, "doc_id bigint, text string"
        )
        # sample_mod=1: every doc is in the sample — the estimator
        # degenerates to exact truth vs the full band table
        r = lsh_recall_sample(
            docs, "doc_id", "text", n=3, k=8, bands=4,
            threshold=0.5, sample_mod=1,
        ).collect()[0]
        assert r["n_sample_docs"] == len(self.ROWS)
        assert r["n_true_pairs"] >= 2  # both planted near-dup pairs
        assert 0 <= r["n_banded_pairs"] <= r["n_true_pairs"]
        assert 0.0 <= r["recall"] <= 1.0

    def test_empty_sample_recall_is_one(self, spark):
        from vcf_pg_loader_spark.operators.dedup import lsh_recall_sample

        docs = spark.createDataFrame(
            [(0, "just one single document")], "doc_id bigint, text string"
        )
        # a modulus no 60-bit hash of "0" satisfies in practice would be
        # flaky; instead: one doc has no pairs, so recall must be 1.0
        r = lsh_recall_sample(
            docs, "doc_id", "text", sample_mod=1
        ).collect()[0]
        assert r["n_true_pairs"] == 0
        assert r["recall"] == 1.0

    def test_sync_corpus_logs_recall_sample(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main

        snap0 = str(tmp_path / "snap0")
        _corpus(spark, ROWS0).write.parquet(snap0)
        state = str(tmp_path / "state")
        rep = _sync(main, capsys, "--state", state, "--snapshot", snap0,
                    "--batch-id", "0", "--recall-sample", "1")
        rs = rep["recall_sample"]
        assert rs["sample_mod"] == 1
        assert rs["n_sample_docs"] == len(ROWS0)
        assert 0.0 <= rs["recall"] <= 1.0
        assert rs["n_banded_pairs"] <= rs["n_true_pairs"] or (
            rs["n_true_pairs"] == 0 and rs["recall"] == 1.0
        )


class TestSeqIndexHashedPostings:
    """Round-14 verdict item 4: the posting table stores h60(shingle)
    (8 bytes/window), never the raw joined string (O(ngram x token)
    bytes — several times the corpus at 100 TB)."""

    def test_post_table_schema_is_hashed(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.ivm import MULT
        from vcf_pg_loader_spark.streaming.seqdecontam import (
            SeqShingleIndexSink,
        )
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        shards = str(tmp_path / "shards")
        idx = str(tmp_path / "idx")
        shard_sink = TrainingShardSink(shards, n_shards=2, seq_len=8)
        docs = spark.createDataFrame(
            [(i, " ".join(f"w{j}" for j in range(10))) for i in range(6)],
            "doc_id bigint, text string",
        )
        shard_sink.apply_batch(
            docs.selectExpr("doc_id", "text",
                            f"cast(1 as bigint) as {MULT}"), 0
        )
        sink = SeqShingleIndexSink(idx, ngram=3)
        sink.sync(spark, shard_sink, docs, 0, None)
        post = sink.postings(spark)
        assert "sh60" in post.columns and "shingle" not in post.columns
        assert dict(post.dtypes)["sh60"] == "bigint"
        assert post.count() > 0
        # a raw-shingle-era state must refuse (representation is in the
        # parameter fingerprint)
        p = os.path.join(idx, "_params.json")
        with open(p) as fh:
            stamped = json.load(fh)
        legacy = {k: v for k, v in stamped.items()
                  if k != "shingle_repr"}
        with open(p, "w") as fh:
            json.dump(legacy, fh, sort_keys=True)
        with pytest.raises(ValueError, match="rebuild"):
            SeqShingleIndexSink(idx, ngram=3)._validate_params()


class TestLegacyVocabFpRestamp:
    """Round-14 advice item 5: pre-round-14 BPE layouts were stamped
    vocab_fp=corpus_fp; the sink now fingerprints the TOKENIZER.  A
    layout recognizably stamped with this artifact's corpus_fp (and
    matching on every other key) must be accepted and restamped in
    place — its packed bytes are already correct."""

    def _artifact(self, tmp_path):
        art = {
            "merges": [["w1", "w2"], ["w1w2", "w3"]],
            "corpus_fp": 123456789,
            "mode": "words",
        }
        p = str(tmp_path / "merges.json")
        with open(p, "w") as fh:
            json.dump(art, fh)
        return p, art

    def test_legacy_stamp_accepted_and_restamped(self, spark, tmp_path):
        from vcf_pg_loader_spark.cli import _load_merges_artifact
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        art_path, art = self._artifact(tmp_path)
        tok_kw, _ = _load_merges_artifact(art_path)
        assert tok_kw["legacy_vocab_fp"] == art["corpus_fp"]
        state = str(tmp_path / "shards")
        sink = TrainingShardSink(state, **tok_kw)
        batch = spark.createDataFrame(
            [(0, "w1 w2 w3 w4", 1), (1, "w2 w3 w4 w5", 1)],
            f"doc_id bigint, text string, {MULT} bigint",
        )
        sink.apply_batch(batch, 0)
        p = os.path.join(state, "_params.json")
        with open(p) as fh:
            stamped = json.load(fh)
        assert stamped["vocab_fp"] == tok_kw["vocab_fp"]

        # forge the pre-round-14 stamp: vocab_fp = the corpus_fp
        legacy = dict(stamped, vocab_fp=art["corpus_fp"])
        with open(p, "w") as fh:
            json.dump(legacy, fh, sort_keys=True)
        sink2 = TrainingShardSink(state, **tok_kw)
        with pytest.warns(UserWarning, match="legacy corpus_fp"):
            sink2._validate_params()
        with open(p) as fh:
            healed = json.load(fh)
        assert healed == stamped  # restamped in place, tokenizer fp
        sink2._validate_params()  # now clean — no warning, no raise

    def test_unrecognized_stamp_still_refuses(self, spark, tmp_path):
        from vcf_pg_loader_spark.cli import _load_merges_artifact
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        art_path, art = self._artifact(tmp_path)
        tok_kw, _ = _load_merges_artifact(art_path)
        state = str(tmp_path / "shards")
        sink = TrainingShardSink(state, **tok_kw)
        batch = spark.createDataFrame(
            [(0, "w1 w2 w3 w4", 1)],
            f"doc_id bigint, text string, {MULT} bigint",
        )
        sink.apply_batch(batch, 0)
        p = os.path.join(state, "_params.json")
        with open(p) as fh:
            stamped = json.load(fh)
        # a vocab_fp that is neither the tokenizer fp nor this
        # artifact's corpus_fp is a genuinely different tokenizer
        with open(p, "w") as fh:
            json.dump(dict(stamped, vocab_fp=999), fh, sort_keys=True)
        with pytest.raises(ValueError, match="rebuild"):
            TrainingShardSink(state, **tok_kw)._validate_params()
