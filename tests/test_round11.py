"""Round-11 hardening: single-writer lease on maintained state, ledger
auto-compaction, race-free compaction, and legacy (pre-layout-key)
fingerprint acceptance — VERDICT r10 items 3/4 and both ADVICE mediums.
"""

from __future__ import annotations

import json
import os
import subprocess
import time

import pytest

from vcf_pg_loader_spark import durable
from vcf_pg_loader_spark.durable import writer_lease
from vcf_pg_loader_spark.streaming import sink as sink_mod
from vcf_pg_loader_spark.streaming.sink import (
    LEDGER_COMPACT_THRESHOLD,
    ParquetUpsertSink,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "event_id long, v string")


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


class TestWriterLease:
    def test_live_concurrent_applier_refused(self, spark, tmp_path):
        target = str(tmp_path / "t")
        sink = ParquetUpsertSink(target, key=["event_id"])
        with writer_lease(target):
            with pytest.raises(RuntimeError, match="locked by a live"):
                sink.apply_batch(_df(spark, [(1, "a")]), 0)
        # lease released by the refused holder's exit: apply now works
        sink.apply_batch(_df(spark, [(1, "a")]), 0)
        assert sink.read(spark).count() == 1

    def test_lease_released_after_apply(self, spark, tmp_path):
        target = str(tmp_path / "t")
        sink = ParquetUpsertSink(target, key=["event_id"])
        sink.apply_batch(_df(spark, [(1, "a")]), 0)
        assert not os.path.exists(f"{target}_lease.json")

    def test_dead_pid_lease_taken_over(self, spark, tmp_path):
        target = str(tmp_path / "t")
        sink = ParquetUpsertSink(target, key=["event_id"])
        with open(f"{target}_lease.json", "w") as fh:
            json.dump(
                {
                    "pid": _dead_pid(),
                    "host": __import__("socket").gethostname(),
                    "ts": time.time(),
                },
                fh,
            )
        sink.apply_batch(_df(spark, [(1, "a")]), 0)  # takeover, no raise
        assert sink.read(spark).count() == 1
        assert not os.path.exists(f"{target}_lease.json")

    def test_cross_host_stale_taken_over_fresh_refused(self, spark, tmp_path):
        target = str(tmp_path / "t")
        sink = ParquetUpsertSink(target, key=["event_id"])
        lease = f"{target}_lease.json"
        # fresh lease from another host: pid-liveness unknowable -> refuse
        with open(lease, "w") as fh:
            json.dump({"pid": 1, "host": "other-host", "ts": time.time()}, fh)
        with pytest.raises(RuntimeError, match="locked by a live"):
            sink.apply_batch(_df(spark, [(1, "a")]), 0)
        # expired heartbeat from another host: taken over
        with open(lease, "w") as fh:
            json.dump(
                {
                    "pid": 1,
                    "host": "other-host",
                    "ts": time.time() - durable.LEASE_STALE_SEC - 10,
                },
                fh,
            )
        sink.apply_batch(_df(spark, [(1, "a")]), 0)
        assert sink.read(spark).count() == 1

    def test_vector_index_lease_refuses_second_writer(self, spark, tmp_path):
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        root = str(tmp_path / "idx")
        corpus = spark.createDataFrame(
            [(i, [float(i), float(i % 3)]) for i in range(12)],
            "vec_id long, embedding array<double>",
        )
        idx = VectorIndex(spark, root)
        idx.build(corpus, k_centroids=2, pq=False, kernel="fast")
        with writer_lease(idx.root):
            with pytest.raises(RuntimeError, match="locked by a live"):
                idx.apply_delta(
                    inserts=spark.createDataFrame(
                        [(99, [9.0, 9.0])],
                        "vec_id long, embedding array<double>",
                    )
                )
        # released: the same delta applies
        idx.apply_delta(
            inserts=spark.createDataFrame(
                [(99, [9.0, 9.0])], "vec_id long, embedding array<double>"
            )
        )
        vids = {
            r[0]
            for r in spark.read.parquet(f"{idx.root}/vectors")
            .select("vid")
            .collect()
        }
        assert 99 in vids


class TestLedgerCompaction:
    def test_autocompact_bounds_file_count(self, spark, tmp_path, monkeypatch):
        monkeypatch.setattr(sink_mod, "LEDGER_COMPACT_THRESHOLD", 5)
        target = str(tmp_path / "t")
        sink = ParquetUpsertSink(target, key=["event_id"])
        n_batches = 18
        for b in range(n_batches):
            sink.apply_batch(_df(spark, [(b, f"v{b}")]), b)
        per_batch = [
            f
            for f in os.listdir(sink.ledger_dir)
            if f.endswith(".json") and not f.startswith("_")
        ]
        assert len(per_batch) <= 5
        # every batch id still applied, through either ledger form
        assert sink.applied_ids() == set(range(n_batches))
        # replay of a compacted-away batch id is still refused
        before = sink.read(spark).count()
        sink.apply_batch(_df(spark, [(0, "DUP")]), 0)
        assert sink.read(spark).count() == before
        assert (
            sink.read(spark).filter("event_id = 0").first()["v"] == "v0"
        )

    def test_threshold_is_sane(self):
        assert LEDGER_COMPACT_THRESHOLD >= 64

    def test_compact_spares_files_recorded_after_snapshot(
        self, spark, tmp_path
    ):
        """ADVICE r10: compaction must unlink only the filenames it
        captured when snapshotting ids — a ledger file recorded after
        the snapshot (lease-contract violation) must survive in
        per-batch form, not vanish from both forms."""
        target = str(tmp_path / "t")
        sink = ParquetUpsertSink(target, key=["event_id"])
        for b in range(3):
            sink._record(b, 1)

        class LateWriter(ParquetUpsertSink):
            # _compacted_ids is called AFTER the filename snapshot in
            # _compact_ledger_locked — writing here simulates a rogue
            # concurrent applier landing a batch mid-compaction
            def _compacted_ids(self):
                self._record(99, 1)
                return super()._compacted_ids()

        late = LateWriter(target, key=["event_id"])
        out = late._compact_ledger_locked()
        assert out["files_removed"] == 3
        # the late batch survives as a per-batch file and stays applied
        assert os.path.exists(sink._ledger_path(99))
        assert sink.applied(99)
        assert sink.applied_ids() == {0, 1, 2, 99}
        # next compaction absorbs it
        sink.compact_ledger()
        assert sink.applied_ids() == {0, 1, 2, 99}
        assert not os.path.exists(sink._ledger_path(99))


BASE = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 3
OTHER = "one two three four five six seven eight nine ten " * 3


def _inodes(root):
    out = {}
    for r, _d, files in os.walk(root):
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(r, f)
                out[os.path.relpath(p, root)] = os.stat(p).st_ino
    return out


class TestRebucket:
    """VERDICT r10 item 6: grow a fingerprinted bucket-count layout in
    place — tuple-equal state, inode-verified full rewrite exactly once
    for the layout's tables, hard-links for everything else, fingerprint
    restamped so applies resume under the new constant."""

    def _state(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )

        target = str(tmp_path / "st")
        sink = DedupClusterMaintSink(target)
        docs = spark.createDataFrame(
            [(i, f"{BASE} doc {i}") for i in range(8)]
            + [(100, OTHER), (101, OTHER + " zulu")],
            "doc_id long, text string",
        )
        sink.apply_batch(docs, 0)
        return sink, target

    def test_rebucket_64_to_256(self, spark, tmp_path, monkeypatch):
        from vcf_pg_loader_spark.streaming import sink as sink_mod
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )
        from vcf_pg_loader_spark.streaming.sink import rebucket_state

        sink, target = self._state(spark, tmp_path)
        before = {
            name: {
                tuple(r)
                for r in sink._table(spark, name).collect()
            }
            for name in ("corpus", "bands", "pairs", "clusters")
        }
        ino_pairs = _inodes(os.path.join(target, "pairs"))
        ino_corpus = _inodes(os.path.join(target, "corpus"))

        out = rebucket_state(spark, target, "n_id_buckets", 256)
        assert out["n_old"] == 64 and out["n_new"] == 256
        assert sorted(out["rewritten"]) == ["bands", "corpus"]
        assert sorted(out["linked"]) == ["clusters", "pairs"]

        # tuple-equal state (layout column excluded by _table)
        after = {
            name: {
                tuple(r)
                for r in sink._table(spark, name).collect()
            }
            for name in ("corpus", "bands", "pairs", "clusters")
        }
        assert after == before
        # untouched tables hard-linked (same inodes); layout tables
        # fully rewritten (no shared inodes with the old layout)
        assert _inodes(os.path.join(target, "pairs")) == ino_pairs
        assert not (
            set(_inodes(os.path.join(target, "corpus")).values())
            & set(ino_corpus.values())
        )
        # the new layout is real: ib == pmod(xxhash64(doc_id), 256)
        from pyspark.sql import functions as F

        raw = sink._table_raw(spark, "corpus")
        bad = raw.filter(
            F.col("ib")
            != F.pmod(F.xxhash64(F.col("doc_id")), F.lit(256)).cast("int")
        ).count()
        assert bad == 0

        # under the OLD constant the fingerprint refuses, pointing at
        # the rebucket verb; under the new constant applies resume
        docs2 = spark.createDataFrame(
            [(200, "fresh arrival after the migration")],
            "doc_id long, text string",
        )
        with pytest.raises(ValueError, match="rebucket"):
            DedupClusterMaintSink(target).apply_batch(docs2, 1)
        monkeypatch.setattr(sink_mod, "N_ID_BUCKETS", 256)
        DedupClusterMaintSink(target).apply_batch(docs2, 1)
        assert sink._table(spark, "corpus").count() == 11

    def test_rebucket_noop_and_unknown_key_refused(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.sink import rebucket_state

        _sink, target = self._state(spark, tmp_path)
        with pytest.raises(ValueError, match="already at"):
            rebucket_state(spark, target, "n_id_buckets", 64)
        with pytest.raises(ValueError, match="unknown bucket layout"):
            rebucket_state(spark, target, "n_bogus", 8)

    def test_rebucket_cli_verb(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main

        _sink, target = self._state(spark, tmp_path)
        assert main(
            ["rebucket", "--state", target, "--key", "n_id_buckets",
             "--n", "128"]
        ) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["n_new"] == 128 and "corpus" in out["rewritten"]


class TestCardSourceAttribution:
    """VERDICT r10 item 2 / ADVICE low: a snapshot row whose source
    moved but whose text did not must re-sync the card's per-source
    tallies, while the text-keyed cluster state correctly sees no
    delta."""

    def _snap(self, spark, rows, path):
        spark.createDataFrame(
            rows, "doc_id bigint, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    def _card_counts(self, spark, card_state):
        from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

        return {
            r["source"]: r["n_docs"]
            for r in DatasetCardSink(card_state).card(spark).collect()
        }

    def test_source_only_move_resyncs_card_not_cluster(
        self, spark, tmp_path, capsys
    ):
        from vcf_pg_loader_spark.cli import main

        v1, v2 = str(tmp_path / "v1"), str(tmp_path / "v2")
        self._snap(
            spark, [(1, BASE, "web"), (2, OTHER, "web")], v1
        )
        # v2: identical texts; doc 2's source moved web -> books
        self._snap(
            spark, [(1, BASE, "web"), (2, OTHER, "books")], v2
        )
        state, card = str(tmp_path / "state"), str(tmp_path / "card")
        for bid, snap in ((0, v1), (1, v2)):
            assert main(
                ["sync-corpus", "--state", state, "--snapshot", snap,
                 "--batch-id", str(bid), "--card-state", card]
            ) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # text-keyed cluster delta is empty...
        assert out["rows_retracted"] == 0 and out["rows_upserted"] == 0
        # ...but the card followed the moved source
        assert self._card_counts(spark, card) == {"web": 1, "books": 1}

    def test_lagging_card_heals_on_next_sync(self, spark, tmp_path, capsys):
        """The card diffs its OWN state, so a card that missed a sync
        (partial failure, or --card-state added later) converges on the
        next run instead of drifting forever."""
        from vcf_pg_loader_spark.cli import main

        v1, v2 = str(tmp_path / "v1"), str(tmp_path / "v2")
        self._snap(spark, [(1, BASE, "web")], v1)
        self._snap(
            spark, [(1, BASE, "web"), (2, OTHER, "books")], v2
        )
        state, card = str(tmp_path / "state"), str(tmp_path / "card")
        # sync 0 WITHOUT the card (it lags behind its siblings)
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", v1,
             "--batch-id", "0"]
        ) == 0
        # sync 1 with the card: cluster delta is just doc 2, but the
        # card bootstraps on its own (empty) state and picks up BOTH
        assert main(
            ["sync-corpus", "--state", state, "--snapshot", v2,
             "--batch-id", "1", "--card-state", card]
        ) == 0
        capsys.readouterr()
        assert self._card_counts(spark, card) == {"web": 1, "books": 1}


class TestLegacyFingerprint:
    def _mk_state(self, spark, target):
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )

        sink = DedupClusterMaintSink(target)
        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        sink.apply_batch(docs, 0)
        return sink

    def test_missing_layout_key_accepted_and_restamped(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )

        target = str(tmp_path / "st")
        self._mk_state(spark, target)
        p = os.path.join(target, "_params.json")
        with open(p) as fh:
            fp = json.load(fh)
        assert "n_id_buckets" in fp
        legacy = {k: v for k, v in fp.items() if k != "n_id_buckets"}
        with open(p, "w") as fh:
            json.dump(legacy, fh)

        sink2 = DedupClusterMaintSink(target)
        docs2 = spark.createDataFrame(
            [(2, "another document entirely unrelated to the first")],
            "doc_id long, text string",
        )
        with pytest.warns(UserWarning, match="legacy layout"):
            sink2.apply_batch(docs2, 1)
        assert sink2._table(spark, "corpus").count() == 2
        # the apply restamped the FULL fingerprint
        with open(p) as fh:
            assert json.load(fh) == fp

    def test_semantic_mismatch_still_refused(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )

        target = str(tmp_path / "st")
        self._mk_state(spark, target)
        p = os.path.join(target, "_params.json")
        with open(p) as fh:
            fp = json.load(fh)
        bad = {k: v for k, v in fp.items() if k != "n_id_buckets"}
        bad["ngram"] = fp["ngram"] + 1
        with open(p, "w") as fh:
            json.dump(bad, fh)
        sink2 = DedupClusterMaintSink(target)
        docs2 = spark.createDataFrame(
            [(2, "x y z")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="was built with"):
            sink2.apply_batch(docs2, 1)
