"""Partition-pruned maintenance writes (round 10).

The bucketed state tables (BM25 postings by term bucket, winnowing
fingerprints by fp bucket, decontamination shingles by shingle bucket,
SemDeDup vectors by cell) previously rewrote EVERY partition on every
apply_batch — O(|state|) write amplification per sync, which at 100 TB
means a small delta rewrites a multi-terabyte posting table to update
two buckets.  `_swap_in_frames(prune=...)` now recomputes only the
touched partitions and hard-links every untouched partition directory
from the live state into staging (durable.link_tree), and
frozen tables (`keep_tables`: the funnel LM, the semdedup centroids)
link instead of copying.

These tests pin the claim at the INODE level: after a small delta, the
untouched partition directories in the new state are literally the same
files (st_ino equality), not re-written copies — while the maintained
tables stay tuple-equal to a fresh bootstrap over the retained docs
(the content-equality half is also covered by the existing sink suites,
which now run through the pruned path).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators.ivm import MULT

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
).split()


STOP = (
    "the cat and the dog ran to the big house of the old king with a "
    "very small bird near the open door"
)


def _doc_text(i: int) -> str:
    # distinct, long-enough, digit-free text per doc so every doc
    # yields shingles, winnow fingerprints, and BM25 postings AND
    # passes the quality gate (the funnel's corpus holds quality
    # survivors only — stopword-rich filler + concatenated-pair body
    # for token diversity)
    # the two moduli (20-word list and 19) are coprime, so texts do
    # not repeat until i = 380 — every test id stays distinct
    body = " ".join(
        WORDS[(i * 7 + j) % len(WORDS)] + WORDS[(i + j * 5) % 19]
        for j in range(15)
    )
    return STOP + " " + body


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, _doc_text(i)) for i in ids], "doc_id bigint, text string"
    )


def _inodes(table_dir: str) -> dict[str, dict[str, int]]:
    """{partition_dir: {file: inode}} for every hive-style partition."""
    out = {}
    for entry in os.listdir(table_dir):
        p = os.path.join(table_dir, entry)
        if "=" in entry and os.path.isdir(p):
            out[entry] = {
                f: os.stat(os.path.join(p, f)).st_ino
                for f in os.listdir(p)
                if not f.startswith(("_", "."))
            }
    return out


def _flat_inodes(table_dir: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if not f.startswith(("_", ".")):
                rel = os.path.relpath(os.path.join(root, f), table_dir)
                out[rel] = os.stat(os.path.join(root, f)).st_ino
    return out


def _assert_pruned(before: dict, after: dict, touched: set[str]) -> None:
    """Every partition dir present before and NOT touched must carry the
    exact same files by inode; and the delta must have left at least one
    such linked dir (otherwise the test lost its teeth)."""
    untouched = [d for d in before if d not in touched and d in after]
    assert untouched, "fixture must leave some partitions untouched"
    for d in untouched:
        assert after[d] == before[d], f"partition {d} was rewritten"


class TestWinnowPrunedSwap:
    def test_untouched_fp_buckets_hardlink_through_delta(
        self, spark, tmp_path
    ):
        from vcf_pg_loader_spark.operators.text import winnow_fingerprints
        from vcf_pg_loader_spark.streaming.retract import WinnowIndexSink

        sink = WinnowIndexSink(str(tmp_path / "w"))
        sink.apply_batch(_docs(spark, range(1, 9)), 0)
        before = _inodes(os.path.join(sink.target, "fps"))

        # delta: doc 2 deleted, doc 9 inserted
        delta = _docs(spark, [9]).withColumn(
            MULT, F.lit(1).cast("bigint")
        ).unionByName(
            _docs(spark, [2]).withColumn(MULT, F.lit(-1).cast("bigint"))
        )
        # expected touched buckets, computed independently of the sink
        nb = sink.N_FP_BUCKETS
        tb = {
            f"bucket={r[0]}"
            for r in winnow_fingerprints(_docs(spark, [2, 9]))
            .select(F.pmod(F.col("fp"), F.lit(nb)).alias("b"))
            .distinct()
            .collect()
        }
        sink.apply_batch(delta, 1)
        after = _inodes(os.path.join(sink.target, "fps"))
        _assert_pruned(before, after, tb)

        # and the maintained table equals a fresh build on the retained docs
        fresh = WinnowIndexSink(str(tmp_path / "f"))
        fresh.apply_batch(_docs(spark, [1, 3, 4, 5, 6, 7, 8, 9]), 0)
        got = {tuple(r) for r in sink._table(spark, "fps").collect()}
        want = {tuple(r) for r in fresh._table(spark, "fps").collect()}
        assert got == want

    def test_insert_only_batch_prunes_too(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import WinnowIndexSink

        sink = WinnowIndexSink(str(tmp_path / "w"))
        sink.apply_batch(_docs(spark, range(1, 9)), 0)
        before = _inodes(os.path.join(sink.target, "fps"))
        sink.apply_batch(_docs(spark, [10]), 1)
        after = _inodes(os.path.join(sink.target, "fps"))
        linked = sum(
            1 for d in before if d in after and after[d] == before[d]
        )
        assert linked > 0, "an insert-only batch must not rewrite all buckets"


class TestBM25PrunedSwap:
    def test_untouched_term_buckets_hardlink_through_delta(
        self, spark, tmp_path
    ):
        from vcf_pg_loader_spark.sources.bm25_index import _term_bucket
        from vcf_pg_loader_spark.streaming.dedup_ingest import BM25IndexSink

        sink = BM25IndexSink(str(tmp_path / "b"))
        sink.apply_batch(_docs(spark, range(1, 9)), 0)
        before = _inodes(os.path.join(sink.target, "postings"))

        delta = _docs(spark, [9]).withColumn(
            MULT, F.lit(1).cast("bigint")
        ).unionByName(
            _docs(spark, [3]).withColumn(MULT, F.lit(-1).cast("bigint"))
        )
        tb = {
            f"bucket={r[0]}"
            for r in _docs(spark, [3, 9])
            .select(F.explode(F.split("text", " ")).alias("term"))
            .filter(F.col("term") != "")
            .select(_term_bucket(F.col("term")).alias("b"))
            .distinct()
            .collect()
        }
        sink.apply_batch(delta, 1)
        after = _inodes(os.path.join(sink.target, "postings"))
        _assert_pruned(before, after, tb)

        fresh = BM25IndexSink(str(tmp_path / "f"))
        fresh.apply_batch(_docs(spark, [1, 2, 4, 5, 6, 7, 8, 9]), 0)
        for table in ("postings", "doclens"):
            got = {tuple(r) for r in sink._table(spark, table).collect()}
            want = {tuple(r) for r in fresh._table(spark, table).collect()}
            assert got == want, table
        g = sink._table(spark, "stats").collect()[0]
        w = fresh._table(spark, "stats").collect()[0]
        assert g.n_docs == w.n_docs
        assert abs(g.avgdl - w.avgdl) < 1e-12


class TestDecontamPrunedSwap:
    def test_untouched_shingle_buckets_hardlink_through_delta(
        self, spark, tmp_path
    ):
        from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

        sink = DecontamIndexSink(str(tmp_path / "d"))
        sink.apply_batch(_docs(spark, range(1, 13)), 0)
        before = _inodes(os.path.join(sink.target, "sh"))
        old_sh = sink._table(spark, "sh")
        tb_del = {
            f"bucket={r[0]}"
            for r in old_sh.filter(F.col("doc_id") == 5)
            .select("bucket")
            .distinct()
            .collect()
        }

        delta = _docs(spark, [13]).withColumn(
            MULT, F.lit(1).cast("bigint")
        ).unionByName(
            _docs(spark, [5]).withColumn(MULT, F.lit(-1).cast("bigint"))
        )
        nb = sink.N_SH_BUCKETS
        from vcf_pg_loader_spark.operators import dedup as D

        tb_ins = {
            f"bucket={r[0]}"
            for r in D.shingles(_docs(spark, [13]), "doc_id", "text", sink.ngram)
            .select(
                F.pmod(F.xxhash64("shingle"), F.lit(nb)).alias("b")
            )
            .distinct()
            .collect()
        }
        sink.apply_batch(delta, 1)
        after = _inodes(os.path.join(sink.target, "sh"))
        _assert_pruned(before, after, tb_del | tb_ins)

        fresh = DecontamIndexSink(str(tmp_path / "f"))
        fresh.apply_batch(
            _docs(spark, [i for i in range(1, 14) if i != 5]), 0
        )
        for table in ("sh", "pairs"):
            got = {tuple(r) for r in sink._table(spark, table).collect()}
            want = {tuple(r) for r in fresh._table(spark, table).collect()}
            assert got == want, table


class TestSemDeDupPrunedSwap:
    def _vecs(self, spark, ids):
        return spark.createDataFrame(
            [
                (
                    i,
                    [
                        float(x)
                        for x in np.random.default_rng(100 + i).normal(size=8)
                    ],
                )
                for i in ids
            ],
            "vec_id int, embedding array<double>",
        )

    def test_untouched_cells_and_centroids_hardlink(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.dedup_ingest import (
            SemDeDupIngestSink,
        )

        sink = SemDeDupIngestSink(str(tmp_path / "s"), k_centroids=8)
        sink.apply_batch(self._vecs(spark, range(1, 33)), 0)
        before = _inodes(os.path.join(sink.target, "vectors"))
        cents_before = _flat_inodes(os.path.join(sink.target, "centroids"))

        delta = self._vecs(spark, [40, 41]).withColumn(
            MULT, F.lit(1).cast("bigint")
        )
        from vcf_pg_loader_spark.operators import similarity as S

        cents = sink.centroids(spark)
        tc = {
            f"cid={r[0]}"
            for r in S.ivf_assign(
                self._vecs(spark, [40, 41]),
                cents,
                "vec_id",
                "embedding",
                kernel="exact",
            )
            .select("cid")
            .distinct()
            .collect()
        }
        sink.apply_batch(delta, 1)
        after = _inodes(os.path.join(sink.target, "vectors"))
        _assert_pruned(before, after, tc)
        # the frozen routing table hard-links, never rewrites
        cents_after = _flat_inodes(os.path.join(sink.target, "centroids"))
        assert cents_after == cents_before

        # and the maintained vectors equal a routing of all retained
        # vectors under the frozen centroids
        want = {
            (r.vid, r.cid)
            for r in S.ivf_assign(
                self._vecs(spark, list(range(1, 33)) + [40, 41]),
                cents,
                "vec_id",
                "embedding",
                kernel="exact",
            ).collect()
        }
        got = {
            (r.vid, r.cid)
            for r in sink._table(spark, "vectors").collect()
        }
        assert got == want


class TestIdBucketedPrunedSwap:
    """The id-keyed state tables (cluster/ingest corpus + bands, funnel
    per-doc tables, card stats/fp, BM25 doclens) partition by
    ib = id_bucket(doc_id) — a pure function of the key, so touched
    partitions come from the batch alone and untouched ones hard-link
    through the swap.  `_table()` drops the layout column, so every
    reader sees the original schema."""

    def test_cluster_sink_corpus_and_bands_prune(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )
        from vcf_pg_loader_spark.streaming.sink import id_bucket

        sink = DedupClusterMaintSink(str(tmp_path / "c"))
        sink.apply_batch(_docs(spark, range(1, 17)), 0)
        before = {
            t: _inodes(os.path.join(sink.target, t))
            for t in ("corpus", "bands")
        }
        delta = _docs(spark, [20]).withColumn(
            MULT, F.lit(1).cast("bigint")
        ).unionByName(
            _docs(spark, [3]).withColumn(MULT, F.lit(-1).cast("bigint"))
        )
        # expected touched buckets, straight from the pure function
        tb = {
            f"ib={r[0]}"
            for r in _docs(spark, [3, 20])
            .select(id_bucket(F.col("doc_id")).alias("b"))
            .collect()
        }
        sink.apply_batch(delta, 1)
        for t in ("corpus", "bands"):
            _assert_pruned(
                before[t], _inodes(os.path.join(sink.target, t)), tb
            )
        # reader-facing schema is unchanged (layout column dropped)
        corpus = sink._table(spark, "corpus")
        assert corpus.columns == ["doc_id", "text"]
        assert {r.doc_id for r in corpus.collect()} == (
            set(range(1, 17)) - {3}
        ) | {20}

    def test_funnel_per_doc_tables_prune(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import FunnelReportSink

        sink = FunnelReportSink(str(tmp_path / "f"), nll_max=1e9)
        sink.apply_batch(_docs(spark, range(1, 17)), 0)
        before = {
            t: _inodes(os.path.join(sink.target, t))
            for t in ("qual", "corpus", "fp", "bands")
        }
        sink.apply_batch(
            _docs(spark, [20]).withColumn(
                MULT, F.lit(1).cast("bigint")
            ).unionByName(
                _docs(spark, [3]).withColumn(MULT, F.lit(-1).cast("bigint"))
            ),
            1,
        )
        for t in ("qual", "corpus", "fp", "bands"):
            assert before[t], f"{t}: fixture docs must pass the gates"
            after = _inodes(os.path.join(sink.target, t))
            linked = [
                d for d in before[t] if d in after and after[d] == before[t][d]
            ]
            assert linked, f"{t}: no partition survived by hard-link"
        # and the served report reflects the delta
        stages = {r.doc_id: r.stage for r in sink.report(spark).collect()}
        assert 3 not in stages and stages[20] == "kept"

    def test_neardup_ingest_insert_only_prunes(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.dedup_ingest import (
            NearDupIngestSink,
        )

        sink = NearDupIngestSink(str(tmp_path / "n"))
        sink.apply_batch(_docs(spark, range(1, 17)), 0)
        before = _inodes(os.path.join(sink.target, "corpus"))
        sink.apply_batch(_docs(spark, [20, 21]), 1)
        after = _inodes(os.path.join(sink.target, "corpus"))
        linked = [d for d in before if d in after and after[d] == before[d]]
        assert linked, "insert-only batch must hard-link untouched buckets"
        assert {r.doc_id for r in sink.read_corpus(spark).collect()} == set(
            range(1, 17)
        ) | {20, 21}


class TestVectorIndexPrunedDelta:
    def test_untouched_cells_hardlink_through_apply_zset(
        self, spark, tmp_path
    ):
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        vecs = spark.createDataFrame(
            [
                (
                    i,
                    [
                        float(x)
                        for x in np.random.default_rng(7 + i).normal(size=8)
                    ],
                )
                for i in range(1, 65)
            ],
            "vec_id long, embedding array<double>",
        )
        idx = VectorIndex(spark, str(tmp_path / "idx"))
        idx.build(vecs, k_centroids=16, m=4)
        before = {
            t: _inodes(os.path.join(idx.root, t))
            for t in ("vectors", "codes")
        }
        cents_before = _flat_inodes(os.path.join(idx.root, "centroids"))

        victims = vecs.filter(F.col("vec_id").isin([3, 5]))
        delta = victims.withColumn(
            "embedding", F.reverse(F.col("embedding"))
        ).withColumn(MULT, F.lit(1).cast("bigint")).unionByName(
            vecs.filter(F.col("vec_id") == 9).withColumn(
                MULT, F.lit(-1).cast("bigint")
            )
        )
        idx.apply_zset(delta)
        for t in ("vectors", "codes"):
            after = _inodes(os.path.join(idx.root, t))
            linked = [
                d for d in before[t] if d in after and after[d] == before[t][d]
            ]
            assert linked, f"{t}: no cell survived by hard-link"
        # frozen routing/codebook artifacts hard-link, never rewrite
        assert _flat_inodes(
            os.path.join(idx.root, "centroids")
        ) == cents_before
        # state is correct: 9 gone, 3/5 updated in place
        got = {r.vid for r in spark.read.parquet(idx._p("vectors")).collect()}
        assert got == set(range(1, 65)) - {9}


class TestStagingCleanup:
    """Staging lives beside the target (same-device hard-links); a
    crashed writer leaves it there with its lease.  Only the next
    writer, under the lease, sweeps it — scoped by the target's own
    name, so a sibling sink's staging is never touched."""

    @staticmethod
    def _other_writer(target: str, live: bool):
        """Another process takes the writer lease of `target` and stages
        its next version, then dies without releasing either (not
        `live`) or keeps holding both.  Returns it and its staging."""
        import pathlib
        import subprocess
        import sys

        code = (
            "import os, sys, time\n"
            "from vcf_pg_loader_spark import durable\n"
            "lease = durable.writer_lease(sys.argv[1])\n"
            "lease.__enter__()\n"
            "print(durable.stage_dir(sys.argv[1]), flush=True)\n"
            "time.sleep(600) if sys.argv[2] == 'live' else os._exit(1)\n"
        )
        repo = str(pathlib.Path(__file__).resolve().parents[1])
        proc = subprocess.Popen(
            [sys.executable, "-c", code, target, "live" if live else "die"],
            stdout=subprocess.PIPE,
            text=True,
            env={**os.environ, "PYTHONPATH": repo},
        )
        staging = pathlib.Path(proc.stdout.readline().strip())
        assert staging.is_dir()
        assert staging.parent == pathlib.Path(target).parent
        if not live:
            proc.wait()  # reaped: its pid is dead
        return proc, staging

    def test_crashed_staging_leftovers_are_swept(self, spark, tmp_path):
        import pathlib

        from vcf_pg_loader_spark import durable
        from vcf_pg_loader_spark.streaming.retract import WinnowIndexSink

        sink = WinnowIndexSink(str(tmp_path / "w"))
        _proc, leftover = self._other_writer(sink.target, live=False)
        (leftover / "part-0.parquet").write_bytes(b"junk")
        assert os.path.exists(f"{sink.target}_lease.json")
        sibling = pathlib.Path(durable.stage_dir(str(tmp_path / "w2")))
        sink.apply_batch(_docs(spark, [1, 2]), 0)  # takes the lease over
        assert not leftover.exists()
        assert sibling.exists()  # not ours — untouched

    def test_live_writers_staging_is_never_swept(self, spark, tmp_path):
        import pytest

        from vcf_pg_loader_spark import durable
        from vcf_pg_loader_spark.streaming.retract import WinnowIndexSink

        sink = WinnowIndexSink(str(tmp_path / "w"))
        proc, staging = self._other_writer(sink.target, live=True)
        try:
            durable.heal_dir(sink.target)  # a reader's heal
            with pytest.raises(RuntimeError, match="locked by a live"):
                sink.apply_batch(_docs(spark, [1, 2]), 0)
            assert staging.is_dir()
        finally:
            proc.kill()
            proc.wait()
        sink.apply_batch(_docs(spark, [1, 2]), 0)
        assert not staging.exists()


class TestLegacyStateMigration:
    def test_unbucketed_state_migrates_with_one_full_rewrite(
        self, spark, tmp_path, recwarn
    ):
        """A state built before the id-bucket layout (no ib partitions,
        no _params.json) must keep working: the first apply migrates the
        table with one full rewrite (pruning against dirs laid out under
        different rules would strand stale rows), warns about the
        unverifiable parameters, and subsequent applies prune."""
        import shutil
        import warnings

        from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

        sink = DatasetCardSink(str(tmp_path / "c"))
        src = _docs(spark, range(1, 9)).withColumn("source", F.lit("web"))
        sink.apply_batch(src, 0)

        # forge the legacy layout: unpartitioned tables, no fingerprint
        for t in ("stats", "fp"):
            p = os.path.join(sink.target, t)
            flat = sink._table(spark, t)  # ib dropped
            tmp = str(tmp_path / f"flat_{t}")
            flat.write.parquet(tmp)
            shutil.rmtree(p)
            shutil.move(tmp, p)
        os.remove(os.path.join(sink.target, "_params.json"))

        delta = _docs(spark, [9]).withColumn(
            "source", F.lit("web")
        ).withColumn(MULT, F.lit(1).cast("bigint")).unionByName(
            _docs(spark, [2]).withColumn("source", F.lit("web")).withColumn(
                MULT, F.lit(-1).cast("bigint")
            )
        )
        with warnings.catch_warnings(record=True) as ws:
            warnings.simplefilter("always")
            sink.apply_batch(delta, 1)
        assert any("predates parameter" in str(w.message) for w in ws)

        # migrated: bucketed layout on disk, correct retained rows
        stats_dir = os.path.join(sink.target, "stats")
        assert any("=" in d for d in os.listdir(stats_dir))
        got = {r.doc_id for r in sink._table(spark, "stats").collect()}
        assert got == (set(range(1, 9)) - {2}) | {9}

        # and the NEXT apply prunes (untouched dirs hard-link)
        before = _inodes(stats_dir)
        sink.apply_batch(
            _docs(spark, [10]).withColumn("source", F.lit("web")), 2
        )
        after = _inodes(stats_dir)
        linked = [d for d in before if d in after and after[d] == before[d]]
        assert linked


class TestLedgerCompaction:
    """compact-ledger rolls the per-batch exactly-once files into one
    _compacted.json without weakening replay guarantees: applied()
    consults the union of both forms, replays after compaction stay
    no-ops, and compaction is idempotent + crash-tolerant (duplicates
    left by a crash between replace and unlinks are absorbed)."""

    def test_compacted_ids_still_guard_replays(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import WinnowIndexSink

        sink = WinnowIndexSink(str(tmp_path / "w"))
        for i in range(3):
            sink.apply_batch(_docs(spark, [10 * i + 1, 10 * i + 2]), i)
        out = sink.compact_ledger()
        assert out == {"batch_ids": 3, "files_removed": 3}
        assert sorted(sink.applied_ids()) == [0, 1, 2]
        assert sink.applied(1) and not sink.applied(3)

        # a replayed pre-compaction batch is still a no-op
        before = {tuple(r) for r in sink._table(spark, "fps").collect()}
        sink.apply_batch(_docs(spark, [999]), 1)
        after = {tuple(r) for r in sink._table(spark, "fps").collect()}
        assert after == before

        # new batches append per-batch files again; re-compaction absorbs
        sink.apply_batch(_docs(spark, [31]), 3)
        assert sorted(sink.applied_ids()) == [0, 1, 2, 3]
        out2 = sink.compact_ledger()
        assert out2 == {"batch_ids": 4, "files_removed": 1}
        assert sink.applied(3)

    def test_compaction_is_idempotent(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import WinnowIndexSink

        sink = WinnowIndexSink(str(tmp_path / "w"))
        sink.apply_batch(_docs(spark, [1]), 0)
        sink.compact_ledger()
        out = sink.compact_ledger()
        assert out == {"batch_ids": 1, "files_removed": 0}
        assert sink.applied(0)

    def test_cli_verbs(self, spark, tmp_path, capsys):
        import json

        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.retract import WinnowIndexSink

        sink = WinnowIndexSink(str(tmp_path / "w"))
        sink.apply_batch(_docs(spark, [1, 2]), 0)
        sink.apply_batch(_docs(spark, [3]), 1)
        assert main(["compact-ledger", "--state", sink.target]) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["batch_ids"] == 2 and out["files_removed"] == 2
        # state-stats reports the compacted ids
        assert main(["state-stats", "--state", sink.target]) == 0
        st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert st["ledger_batches"] == [0, 1]


class TestFrozenLMHardlinks:
    def test_funnel_lm_tables_link_not_copy(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import FunnelReportSink

        sink = FunnelReportSink(str(tmp_path / "fr"), nll_max=1e9)
        sink.apply_batch(_docs(spark, range(1, 9)), 0)
        lm_before = {
            t: _flat_inodes(os.path.join(sink.target, t))
            for t in ("lm_c12", "lm_c1", "lm_v")
        }
        sink.apply_batch(_docs(spark, [9, 10]), 1)
        lm_after = {
            t: _flat_inodes(os.path.join(sink.target, t))
            for t in ("lm_c12", "lm_c1", "lm_v")
        }
        assert lm_after == lm_before
