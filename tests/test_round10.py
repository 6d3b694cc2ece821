"""Round-10 regressions: the judge + advisor items.

1. Per-structure state versions: bumping one structure's semantic
   version moves only THAT structure's served roots (round 9's global
   STATE_VERSION bump forced all seven persisted structures to rebuild
   for a one-structure fix).
2. zset_snapshot_delta is verified end-to-end: a changed row emits both
   ±1 tuples, a sink bootstrapped on the old snapshot plus the delta
   equals a fresh bootstrap on the new snapshot, replays are no-ops,
   and VectorIndex consumes the delta through apply_zset (UPDATE
   semantics — changed ids survive with their new vector, which
   apply_delta's id-level delete-wins rule would drop).
3. Fingerprint sweep: KMV k, BM25 column bindings, winnow bucket
   geometry, and rollup bucket granularity all refuse mismatched
   state; pre-fingerprint state warns instead of being silently
   blessed with the current parameters.
4. The sync-corpus CLI verb (snapshot CDC) end-to-end.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

BASE = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 3
NEAR = BASE.rsplit(" ", 1)[0] + " zulu"
OTHER = "one two three four five six seven eight nine ten " * 3
THIRD = "red orange yellow green blue indigo violet gray black white " * 3


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _vecs(spark, ids, seed_base=100):
    return spark.createDataFrame(
        [
            (
                i,
                [
                    float(x)
                    for x in np.random.default_rng(seed_base + i).normal(size=8)
                ],
            )
            for i in ids
        ],
        "vec_id int, embedding array<double>",
    )


class TestPerStructureStateVersions:
    def test_targeted_bump_moves_only_that_structure(self, monkeypatch, sf_dir):
        from vcf_pg_loader_spark.queries import pipeline as P

        names = {
            "dedup_clusters": "documents.parquet",
            "bm25_index": "documents.parquet",
            "zdel_funnel": "documents.parquet",
            "ivf_index": "embeddings.parquet",
            "zdel_ann": "embeddings.parquet",
        }
        before = {n: P._served_root(sf_dir, n, f) for n, f in names.items()}
        monkeypatch.setitem(P.STATE_VERSIONS, "ann", 99)
        after = {n: P._served_root(sf_dir, n, f) for n, f in names.items()}
        # only the ann-group roots move; every other structure keeps
        # serving its persisted state
        assert after["ivf_index"] != before["ivf_index"]
        assert after["zdel_ann"] != before["zdel_ann"]
        for name in ("dedup_clusters", "bm25_index", "zdel_funnel"):
            assert after[name] == before[name]

    def test_every_served_root_name_is_registered(self):
        import inspect
        import re

        from vcf_pg_loader_spark.queries import pipeline as P

        src = inspect.getsource(P)
        names = set(re.findall(r'_served_root\(\s*sf_dir,\s*"(\w+)"', src))
        assert names, "expected _served_root call sites in pipeline.py"
        unregistered = names - set(P._STRUCTURE_OF)
        assert not unregistered, (
            f"persisted structures without a STATE_VERSIONS group: "
            f"{unregistered}"
        )


class TestZsetSnapshotDelta:
    def test_delta_row_classes(self, spark):
        from vcf_pg_loader_spark.operators.ivm import MULT, zset_snapshot_delta

        old = _docs(spark, [(1, "a"), (2, "b"), (3, "c")])
        new = _docs(spark, [(2, "b"), (3, "c-changed"), (4, "d")])
        rows = {
            (r.doc_id, r.text, r[MULT])
            for r in zset_snapshot_delta(old, new, "doc_id").collect()
        }
        assert rows == {
            (1, "a", -1),           # removed: old tuple retracts
            (3, "c", -1),           # changed: BOTH tuples ride the batch
            (3, "c-changed", 1),
            (4, "d", 1),            # added
        }  # doc 2 unchanged: contributes nothing

    def test_sink_on_old_plus_delta_equals_fresh_on_new(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.ivm import MULT, zset_snapshot_delta
        from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink

        # old snapshot: 1=BASE, 2=NEAR (near-dups), 10=OTHER, 20=stale text
        old = _docs(
            spark,
            [(1, BASE), (2, NEAR), (10, OTHER), (20, THIRD + " stale-rev")],
        )
        # new snapshot: 1 removed (2 must be promoted to canonical),
        # 20 changed to a near-dup of 10 (its pairs must rebuild),
        # 30 added
        new = _docs(
            spark,
            [
                (2, NEAR),
                (10, OTHER),
                (20, OTHER.rsplit(" ", 1)[0] + " eleven"),
                (30, THIRD),
            ],
        )
        maintained = DedupClusterMaintSink(str(tmp_path / "maint"))
        maintained.apply_batch(
            old.withColumn(MULT, F.lit(1).cast("bigint")), 0
        )
        maintained.apply_batch(zset_snapshot_delta(old, new, "doc_id"), 1)

        fresh = DedupClusterMaintSink(str(tmp_path / "fresh"))
        fresh.apply_batch(new, 0)

        kept_m = {r.doc_id for r in maintained.keep(spark).collect()}
        kept_f = {r.doc_id for r in fresh.keep(spark).collect()}
        assert kept_m == kept_f
        # the changed doc's new text made it a near-dup of 10: exactly
        # one of them survives, and the state agrees tuple-for-tuple
        assert len(kept_m & {10, 20}) == 1
        corpus_m = {
            (r.doc_id, r.text)
            for r in maintained._table(spark, "corpus").collect()
        }
        corpus_f = {
            (r.doc_id, r.text)
            for r in fresh._table(spark, "corpus").collect()
        }
        assert corpus_m == corpus_f
        pairs_m = {
            (r.d1, r.d2) for r in maintained._table(spark, "pairs").collect()
        }
        pairs_f = {
            (r.d1, r.d2) for r in fresh._table(spark, "pairs").collect()
        }
        assert pairs_m == pairs_f

    def test_replayed_delta_batch_is_a_noop(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.ivm import MULT, zset_snapshot_delta
        from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink

        old = _docs(spark, [(1, BASE), (10, OTHER)])
        new = _docs(spark, [(10, OTHER), (30, THIRD)])
        sink = DedupClusterMaintSink(str(tmp_path / "st"))
        sink.apply_batch(old.withColumn(MULT, F.lit(1).cast("bigint")), 0)
        delta = zset_snapshot_delta(old, new, "doc_id")
        sink.apply_batch(delta, 1)
        before = {
            (r.doc_id, r.text) for r in sink._table(spark, "corpus").collect()
        }
        sink.apply_batch(delta, 1)  # replay after a crash: must not churn
        after = {
            (r.doc_id, r.text) for r in sink._table(spark, "corpus").collect()
        }
        assert before == after == {(10, OTHER), (30, THIRD)}


class TestSnapshotDeltaProperty:
    """Randomized snapshot pairs: for ANY (old, new) drawn from a doc
    pool — including random text revisions — a sink bootstrapped on old
    plus the snapshot delta equals a fresh bootstrap on new.  The
    randomized sibling of TestZsetSnapshotDelta's planted case, the way
    test_round8's interleaving property backs the planted retract
    tests."""

    POOL = {
        1: BASE,
        2: NEAR,
        10: OTHER,
        11: OTHER.replace("one", "wun", 1),
        20: THIRD,
        21: "completely different short filler text with no overlap",
    }

    def test_random_snapshot_pairs_match_fresh_bootstrap(
        self, spark, tmp_path
    ):
        import random

        from vcf_pg_loader_spark.operators.ivm import MULT, zset_snapshot_delta
        from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink

        rng = random.Random(42)
        ids = sorted(self.POOL)
        for trial in range(3):
            old_ids = rng.sample(ids, rng.randint(1, 5))
            new_ids = rng.sample(ids, rng.randint(1, 5))
            changed = {
                i for i in new_ids if i in old_ids and rng.random() < 0.5
            }
            old = _docs(
                spark,
                [
                    (i, self.POOL[i] + (" rev0" if i in changed else ""))
                    for i in old_ids
                ],
            )
            new = _docs(spark, [(i, self.POOL[i]) for i in new_ids])

            maintained = DedupClusterMaintSink(str(tmp_path / f"m{trial}"))
            maintained.apply_batch(
                old.withColumn(MULT, F.lit(1).cast("bigint")), 0
            )
            maintained.apply_batch(zset_snapshot_delta(old, new, "doc_id"), 1)
            fresh = DedupClusterMaintSink(str(tmp_path / f"f{trial}"))
            fresh.apply_batch(new, 0)

            for table in ("corpus", "pairs", "clusters"):
                got = {
                    tuple(r)
                    for r in maintained._table(spark, table).collect()
                }
                want = {
                    tuple(r) for r in fresh._table(spark, table).collect()
                }
                assert got == want, (trial, table, old_ids, new_ids, changed)


class TestVectorIndexApplyZset:
    def test_changed_id_survives_with_new_vector(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.ivm import MULT, zset_snapshot_delta
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        old = _vecs(spark, range(16))
        # new snapshot: 5 removed, 16 added, 3 CHANGED (new random vec)
        changed = _vecs(spark, [3], seed_base=900)
        new = (
            _vecs(spark, [i for i in range(16) if i not in (3, 5)])
            .unionByName(changed)
            .unionByName(_vecs(spark, [16]))
        )
        idx = VectorIndex(spark, str(tmp_path / "idx"))
        idx.build(old, k_centroids=4, m=2, k_sub=4)
        delta = zset_snapshot_delta(old, new, "vec_id")
        assert (
            delta.filter((F.col("vec_id") == 3)).count() == 2
        )  # both ±1 tuples for the changed id
        idx.apply_zset(delta)

        vecs = {
            r.vid: list(r.vec)
            for r in spark.read.parquet(f"{idx.root}/vectors").collect()
        }
        assert set(vecs) == (set(range(16)) - {3, 5}) | {3, 16}
        want = changed.first().embedding
        assert vecs[3] == pytest.approx(list(want))
        # and the codes table tracked the same id set
        code_ids = {
            r.vid for r in spark.read.parquet(f"{idx.root}/codes").collect()
        }
        assert code_ids == set(vecs)

    def test_apply_zset_consolidates_before_splitting(self, spark, tmp_path):
        """An insert and a retraction of the IDENTICAL tuple in one
        batch cancel to a no-op (the zset_delta rule), so the index is
        untouched."""
        from vcf_pg_loader_spark.operators.ivm import MULT
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        base = _vecs(spark, range(8))
        idx = VectorIndex(spark, str(tmp_path / "idx"))
        idx.build(base, k_centroids=2, m=2, k_sub=4, pq=False)
        tup = _vecs(spark, [2])
        batch = tup.withColumn(MULT, F.lit(1).cast("bigint")).unionByName(
            tup.withColumn(MULT, F.lit(-1).cast("bigint"))
        )
        idx.apply_zset(batch)
        ids = {
            r.vid for r in spark.read.parquet(f"{idx.root}/vectors").collect()
        }
        assert ids == set(range(8))


class TestFingerprintSweep:
    def _events(self, spark):
        return spark.createDataFrame(
            [
                ("2024-01-01 10:00:00", "click", 1.0, 7),
                ("2024-01-01 10:30:00", "view", 2.0, 8),
                ("2024-01-01 11:00:00", "click", 3.0, 7),
            ],
            "ts_s string, event_type string, value double, user_id bigint",
        ).select(
            F.to_timestamp("ts_s").alias("ts"), "event_type", "value",
            "user_id",
        )

    def test_kmv_sink_refuses_mismatched_k(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.sink import KMVDistinctSink

        target = str(tmp_path / "kmv")
        KMVDistinctSink(target, ["event_type"], "user_id", k=64).apply_batch(
            self._events(spark), 0
        )
        with pytest.raises(ValueError, match="parameters"):
            KMVDistinctSink(
                target, ["event_type"], "user_id", k=128
            ).apply_batch(self._events(spark), 1)

    def test_bm25_sink_refuses_mismatched_columns(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.dedup_ingest import BM25IndexSink

        target = str(tmp_path / "bm25")
        BM25IndexSink(target).apply_batch(
            _docs(spark, [(1, BASE), (2, OTHER)]), 0
        )
        with pytest.raises(ValueError, match="parameters"):
            BM25IndexSink(target, text_col="body").apply_batch(
                _docs(spark, [(3, THIRD)]), 1
            )

    def test_winnow_sink_refuses_mismatched_bucket_geometry(
        self, spark, tmp_path
    ):
        from vcf_pg_loader_spark.streaming.retract import WinnowIndexSink

        class Rebucketed(WinnowIndexSink):
            N_FP_BUCKETS = 32

        target = str(tmp_path / "wn")
        WinnowIndexSink(target).apply_batch(
            _docs(spark, [(1, BASE), (2, OTHER)]), 0
        )
        with pytest.raises(ValueError, match="parameters"):
            Rebucketed(target).apply_batch(_docs(spark, [(3, THIRD)]), 1)

    def test_rollup_sink_refuses_mismatched_granularity(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.sink import RollupMaintenanceSink

        target = str(tmp_path / "rollup")
        RollupMaintenanceSink(target, bucket="hour").apply_batch(
            self._events(spark), 0
        )
        with pytest.raises(ValueError, match="parameters"):
            RollupMaintenanceSink(target, bucket="day").apply_batch(
                self._events(spark), 1
            )

    def test_pre_fingerprint_state_warns_instead_of_silent_stamp(
        self, spark, tmp_path
    ):
        from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink

        target = str(tmp_path / "st")
        sink = DedupClusterMaintSink(target)
        sink.apply_batch(_docs(spark, [(1, BASE), (10, OTHER)]), 0)
        # simulate round-8-built state: data present, fingerprint absent
        os.remove(os.path.join(target, "_params.json"))
        with pytest.warns(UserWarning, match="predates parameter"):
            sink.apply_batch(_docs(spark, [(30, THIRD)]), 1)
        # the migrating apply re-stamped the fingerprint with the data
        with open(os.path.join(target, "_params.json")) as fh:
            assert json.load(fh) == sink._params_fingerprint()

    def test_default_constructed_sinks_match_pipeline_constants(self):
        from vcf_pg_loader_spark.queries.pipeline import (
            JACCARD_T,
            MINHASH_BANDS,
            MINHASH_K,
            NGRAM,
        )
        from vcf_pg_loader_spark.streaming.dedup_ingest import (
            NearDupIngestSink,
        )
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
            FunnelReportSink,
        )

        for sink in (
            NearDupIngestSink("unused_target"),
            DedupClusterMaintSink("unused_target"),
            FunnelReportSink("unused_target", nll_max=3.45),
        ):
            assert sink.ngram == NGRAM
            assert sink.k == MINHASH_K
            assert sink.bands == MINHASH_BANDS
            assert sink.threshold == JACCARD_T


class TestDatasetCardSink:
    def _batch(self, spark, rows, mult=None):
        from vcf_pg_loader_spark.operators.ivm import MULT

        df = spark.createDataFrame(
            rows, "doc_id bigint, text string, source string"
        )
        if mult is None:
            return df
        return df.withColumn(MULT, F.lit(mult).cast("bigint"))

    def test_deletion_reelects_canon_and_updates_card(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

        sink = DatasetCardSink(str(tmp_path / "card"))
        # 1 and 2 are exact dups (same fingerprint): 2 is the loser
        sink.apply_batch(
            self._batch(
                spark,
                [(1, BASE, "web"), (2, BASE, "web"), (10, OTHER, "books")],
            ),
            0,
        )
        card0 = {r.source: r.asDict() for r in sink.card(spark).collect()}
        assert card0["web"]["n_docs"] == 2
        assert card0["web"]["exact_dup_rate"] == pytest.approx(0.5)
        assert card0["books"]["exact_dup_rate"] == pytest.approx(0.0)

        # retract the canonical copy: 2 must be re-elected, dup rate 0
        sink.apply_batch(self._batch(spark, [(1, BASE, "web")], -1), 1)
        card1 = {r.source: r.asDict() for r in sink.card(spark).collect()}
        assert card1["web"]["n_docs"] == 1
        assert card1["web"]["exact_dup_rate"] == pytest.approx(0.0)
        # untouched source is untouched
        assert card1["books"] == card0["books"]

    def test_card_serve_is_state_scan_plus_aggregation(self, spark, tmp_path):
        """Serving the card reads the maintained per-doc state only —
        no quality regexes, no LM joins, no fingerprint md5, and no
        Python anywhere in the plan."""
        import io
        from contextlib import redirect_stdout

        from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

        sink = DatasetCardSink(str(tmp_path / "card"))
        sink.apply_batch(
            self._batch(spark, [(1, BASE, "web"), (10, OTHER, "books")]), 0
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            sink.card(spark).explain(mode="simple")
        plan = buf.getvalue()
        assert "EvalPython" not in plan and "MapInPandas" not in plan
        low = plan.lower()
        for rebuild_marker in ("regexp", "md5", "posexplode"):
            assert rebuild_marker not in low

    def test_lm_frozen_and_replay_noop(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        sink = DatasetCardSink(str(tmp_path / "card"))
        sink.apply_batch(self._batch(spark, [(1, BASE, "web")]), 0)
        lm_before = rows(sink._table(spark, "lm_c12"))
        batch1 = self._batch(spark, [(10, OTHER, "books")])
        sink.apply_batch(batch1, 1)
        # the gate model trained at bootstrap never retrains
        assert rows(sink._table(spark, "lm_c12")) == lm_before
        card = rows(sink.card(spark))
        sink.apply_batch(batch1, 1)  # replay: must not churn state
        assert rows(sink.card(spark)) == card


class TestSyncCorpusCLI:
    def test_snapshot_sync_end_to_end(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink

        v1 = str(tmp_path / "v1")
        v2 = str(tmp_path / "v2")
        src = F.when(F.col("doc_id") < 15, F.lit("web")).otherwise(
            F.lit("books")
        )
        _docs(
            spark, [(1, BASE), (2, NEAR), (10, OTHER), (20, THIRD + " old")]
        ).withColumn("source", src).coalesce(1).write.parquet(v1)
        # v2: 1 removed, 20 changed, 30 added, 2/10 unchanged
        _docs(
            spark, [(2, NEAR), (10, OTHER), (20, THIRD), (30, BASE)]
        ).withColumn("source", src).coalesce(1).write.parquet(v2)
        state = str(tmp_path / "state")
        funnel = str(tmp_path / "funnel")
        decontam = str(tmp_path / "decontam")
        card = str(tmp_path / "card")
        out = str(tmp_path / "kept")

        assert main(
            ["sync-corpus", "--state", state, "--snapshot", v1,
             "--batch-id", "0", "--funnel-state", funnel,
             "--decontam-state", decontam, "--card-state", card]
        ) == 0
        boot = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert boot["rows_upserted"] == 4 and boot["rows_retracted"] == 0

        assert main(
            ["sync-corpus", "--state", state, "--snapshot", v2,
             "--batch-id", "1", "--out", out, "--funnel-state", funnel,
             "--decontam-state", decontam, "--card-state", card]
        ) == 0
        sync = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # delta: -1 for removed 1, ±1 for changed 20, +1 for added 30
        assert sync["rows_retracted"] == 2
        assert sync["rows_upserted"] == 2
        assert sync["docs_in_state"] == 4

        got = {
            (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
        }
        fresh = DedupClusterMaintSink(str(tmp_path / "fresh"))
        fresh.apply_batch(spark.read.parquet(v2), 0)
        kept_f = fresh.keep(spark)
        want = {
            (r.doc_id, r.text)
            for r in fresh._table(spark, "corpus")
            .join(kept_f, "doc_id", "left_semi")
            .collect()
        }
        assert got == want
        # the lockstep-synced funnel covers exactly the new snapshot
        from vcf_pg_loader_spark.streaming.retract import FunnelReportSink
        from vcf_pg_loader_spark.queries.pipeline import NLL_MAX

        report = FunnelReportSink(funnel, NLL_MAX).report(spark)
        assert {r.doc_id for r in report.collect()} == {2, 10, 20, 30}
        # the lockstep-synced decontamination index equals a fresh
        # bootstrap on exactly the new snapshot
        from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

        dsink = DecontamIndexSink(decontam)
        dfresh = DecontamIndexSink(str(tmp_path / "dfresh"))
        dfresh.apply_batch(spark.read.parquet(v2).select("doc_id", "text"), 0)
        got_d = {tuple(r) for r in dsink._table(spark, "sh").collect()}
        want_d = {tuple(r) for r in dfresh._table(spark, "sh").collect()}
        assert got_d == want_d
        # the lockstep-synced release card covers exactly the new
        # snapshot, with the snapshot's source column carried; the
        # per-doc-pure card columns match a fresh bootstrap on v2
        # (mean_nll excluded — the synced card's LM froze on v1, which
        # is the q_cdc_card oracle's job to pin value-exactly)
        from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

        csink = DatasetCardSink(card)
        assert {
            r.doc_id for r in csink._table(spark, "stats").collect()
        } == {2, 10, 20, 30}
        cfresh = DatasetCardSink(str(tmp_path / "cfresh"))
        cfresh.apply_batch(
            spark.read.parquet(v2).select("doc_id", "text", "source"), 0
        )
        pure = ("source", "n_docs", "total_tokens", "quality_keep_rate",
                "exact_dup_rate")
        got_c = {
            tuple(getattr(r, c) for c in pure)
            for r in csink.card(spark).collect()
        }
        want_c = {
            tuple(getattr(r, c) for c in pure)
            for r in cfresh.card(spark).collect()
        }
        assert got_c == want_c


class TestDecontamIndexSink:
    """Maintained train/eval decontamination index: incremental
    maintenance equals a fresh bootstrap on the retained rows, deletes
    retract the pairs they induced on either side, replays are no-ops,
    and mismatched parameters are refused."""

    def _pool(self, spark, ids, rev=()):
        texts = [BASE, OTHER, THIRD, NEAR]
        return _docs(
            spark,
            [
                (
                    i,
                    texts[i % 4] + (" rev1" if i in rev else ""),
                )
                for i in ids
            ],
        )

    def test_incremental_equals_bootstrap(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.ivm import MULT, zset_snapshot_delta
        from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

        b0 = self._pool(spark, range(1, 13))
        b1 = self._pool(spark, range(13, 25))
        # batch 2 via snapshot diff: 3,4 removed; 5 revised
        old = self._pool(spark, range(1, 25))
        final = self._pool(
            spark, [i for i in range(1, 25) if i not in (3, 4)], rev={5}
        )
        maintained = DecontamIndexSink(str(tmp_path / "m"))
        maintained.apply_batch(b0, 0)
        maintained.apply_batch(b1, 1)
        maintained.apply_batch(zset_snapshot_delta(old, final, "doc_id"), 2)
        fresh = DecontamIndexSink(str(tmp_path / "f"))
        fresh.apply_batch(final, 0)

        for table in ("sh", "pairs"):
            got = {
                tuple(r) for r in maintained._table(spark, table).collect()
            }
            want = {tuple(r) for r in fresh._table(spark, table).collect()}
            assert got == want, table
        pairs = maintained.contamination(spark).collect()
        assert pairs, "pool must plant cross-split contamination"

    def test_delete_retracts_incident_pairs(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.ivm import MULT
        from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

        docs = self._pool(spark, range(1, 25))
        sink = DecontamIndexSink(str(tmp_path / "s"))
        sink.apply_batch(docs, 0)
        first = sink.contamination(spark).collect()
        assert first, "pool must plant cross-split contamination"
        victim = first[0].train_id
        sink.apply_batch(
            docs.filter(F.col("doc_id") == victim).withColumn(
                MULT, F.lit(-1).cast("bigint")
            ),
            1,
        )
        after = sink.contamination(spark).collect()
        assert all(r.train_id != victim for r in after)
        # and the posting table forgot the doc entirely
        sh_ids = {r.doc_id for r in sink._table(spark, "sh").collect()}
        assert victim not in sh_ids

        fresh = DecontamIndexSink(str(tmp_path / "fr"))
        fresh.apply_batch(docs.filter(F.col("doc_id") != victim), 0)
        got = {(r.eval_id, r.train_id, r.n_shared) for r in after}
        want = {
            (r.eval_id, r.train_id, r.n_shared)
            for r in fresh.contamination(spark).collect()
        }
        assert got == want

    def test_replayed_batch_is_a_noop(self, spark, tmp_path):
        from vcf_pg_loader_spark.operators.ivm import MULT
        from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

        docs = self._pool(spark, range(1, 13))
        sink = DecontamIndexSink(str(tmp_path / "s"))
        sink.apply_batch(docs, 0)
        batch = self._pool(spark, range(13, 19)).withColumn(
            MULT, F.lit(1).cast("bigint")
        )
        sink.apply_batch(batch, 1)
        before = {tuple(r) for r in sink._table(spark, "pairs").collect()}
        sink.apply_batch(batch, 1)  # replay after a crash: must not churn
        after = {tuple(r) for r in sink._table(spark, "pairs").collect()}
        assert before == after

    def test_mismatched_params_refused(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

        docs = self._pool(spark, range(1, 13))
        DecontamIndexSink(str(tmp_path / "s")).apply_batch(docs, 0)
        other = DecontamIndexSink(str(tmp_path / "s"), min_shared=1)
        with pytest.raises(ValueError, match="parameters"):
            other.apply_batch(self._pool(spark, range(13, 15)), 1)

    def test_default_params_match_pipeline_constants(self, tmp_path):
        from vcf_pg_loader_spark.queries.pipeline import (
            DECON_MIN_SHARED,
            NGRAM,
            SPLIT_WEIGHTS,
        )
        from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

        sink = DecontamIndexSink(str(tmp_path / "s"))
        fp = sink._params_fingerprint()
        assert fp["ngram"] == NGRAM
        assert fp["min_shared"] == DECON_MIN_SHARED
        assert fp["weights"] == {
            k: SPLIT_WEIGHTS[k] for k in sorted(SPLIT_WEIGHTS)
        }


class TestVectorIndexReindex:
    def test_reindex_equals_fresh_build_on_current_corpus(
        self, spark, tmp_path
    ):
        from vcf_pg_loader_spark.operators.ivm import MULT, zset_snapshot_delta
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        old = _vecs(spark, range(24))
        # new snapshot: 0-7 removed, 24-31 added, 9 re-embedded
        new = _vecs(spark, range(8, 32)).withColumn(
            "embedding",
            F.when(
                F.col("vec_id") == 9, F.reverse(F.col("embedding"))
            ).otherwise(F.col("embedding")),
        )
        drifted = VectorIndex(spark, str(tmp_path / "drift"))
        drifted.build(old, k_centroids=4, kernel="exact", pq=False)
        drifted.apply_zset(zset_snapshot_delta(old, new, "vec_id"))
        drifted.reindex()

        fresh = VectorIndex(spark, str(tmp_path / "fresh"))
        fresh.build(new, k_centroids=4, kernel="exact", pq=False)

        for table in ("centroids", "vectors"):
            got = {
                tuple(map(str, r))
                for r in spark.read.parquet(f"{drifted.root}/{table}").collect()
            }
            want = {
                tuple(map(str, r))
                for r in spark.read.parquet(f"{fresh.root}/{table}").collect()
            }
            assert got == want, table

    def test_cell_stats_reflects_persisted_assignment(self, spark, tmp_path):
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        idx = VectorIndex(spark, str(tmp_path / "i"))
        idx.build(_vecs(spark, range(20)), k_centroids=4, kernel="exact",
                  pq=False)
        stats = {r.cid: r.n_vecs for r in idx.cell_stats().collect()}
        vecs = spark.read.parquet(f"{idx.root}/vectors")
        want = {
            r.cid: r.n
            for r in vecs.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert stats == want
        assert sum(stats.values()) == 20

    def test_reindex_preserves_pq_artifacts(self, spark, tmp_path):
        import os

        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        idx = VectorIndex(spark, str(tmp_path / "i"))
        idx.build(_vecs(spark, range(32)), k_centroids=4, m=2, k_sub=4)
        idx.reindex()
        # a PQ-bearing index reindexes its codebooks and codes too
        assert os.path.isdir(f"{idx.root}/codebooks")
        assert os.path.isdir(f"{idx.root}/codes")
        n = spark.read.parquet(f"{idx.root}/codes").count()
        assert n == 32


class TestDecontamStreamingWiring:
    def test_streaming_equals_direct(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

        src = str(tmp_path / "in")
        rows0 = [(i, [BASE, OTHER, THIRD, NEAR][i % 4]) for i in range(1, 13)]
        rows1 = [(i, [BASE, OTHER, THIRD, NEAR][i % 4]) for i in range(13, 19)]
        _docs(spark, rows0).coalesce(1).write.mode("append").parquet(src)
        _docs(spark, rows1).coalesce(1).write.mode("append").parquet(src)

        stream = spark.readStream.schema(
            "doc_id bigint, text string"
        ).parquet(src)
        sink = DecontamIndexSink(str(tmp_path / "stream_state"))
        (
            stream.writeStream.foreachBatch(sink.apply_batch)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .option("maxFilesPerTrigger", 1)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        direct = DecontamIndexSink(str(tmp_path / "direct_state"))
        direct.apply_batch(_docs(spark, rows0 + rows1), 0)
        got = {tuple(r) for r in sink.contamination(spark).collect()}
        want = {tuple(r) for r in direct.contamination(spark).collect()}
        assert got == want and got


class TestStateStatsCLI:
    def test_audit_report(self, spark, tmp_path, capsys):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

        state = str(tmp_path / "state")
        sink = DecontamIndexSink(state)
        rows = [(i, [BASE, OTHER, THIRD, NEAR][i % 4]) for i in range(1, 13)]
        sink.apply_batch(_docs(spark, rows), 0)
        sink.apply_batch(
            _docs(spark, [(13, BASE), (14, OTHER)]), 1
        )

        assert main(["state-stats", "--state", state]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert set(rep["tables"]) == {"sh", "pairs"}
        assert rep["tables"]["sh"]["rows"] > 0
        assert rep["tables"]["sh"]["bytes"] > 0
        assert rep["applied_batch"]["batch_id"] == 1
        assert rep["params"] == sink._params_fingerprint()
        assert rep["ledger_batches"] == [0, 1]


class TestDecontamSnapshotProperty:
    """Randomized snapshot pairs through the decontamination index:
    for ANY (old, new) drawn from a doc pool — including random text
    revisions — bootstrapped-on-old + snapshot delta equals a fresh
    bootstrap on new, tuple-for-tuple on both state tables."""

    def test_random_snapshot_pairs_match_fresh_bootstrap(
        self, spark, tmp_path
    ):
        import random

        from vcf_pg_loader_spark.operators.ivm import MULT, zset_snapshot_delta
        from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

        texts = [BASE, OTHER, THIRD, NEAR]
        pool = {i: texts[i % 4] for i in range(1, 25)}
        rng = random.Random(7)
        ids = sorted(pool)
        for trial in range(3):
            old_ids = rng.sample(ids, rng.randint(6, 18))
            new_ids = rng.sample(ids, rng.randint(6, 18))
            changed = {
                i for i in new_ids if i in old_ids and rng.random() < 0.4
            }
            old = _docs(
                spark,
                [
                    (i, pool[i] + (" rev0" if i in changed else ""))
                    for i in old_ids
                ],
            )
            new = _docs(spark, [(i, pool[i]) for i in new_ids])

            maintained = DecontamIndexSink(str(tmp_path / f"dm{trial}"))
            maintained.apply_batch(
                old.withColumn(MULT, F.lit(1).cast("bigint")), 0
            )
            maintained.apply_batch(
                zset_snapshot_delta(old, new, "doc_id"), 1
            )
            fresh = DecontamIndexSink(str(tmp_path / f"df{trial}"))
            fresh.apply_batch(new, 0)

            for table in ("sh", "pairs"):
                got = {
                    tuple(r)
                    for r in maintained._table(spark, table).collect()
                }
                want = {
                    tuple(r) for r in fresh._table(spark, table).collect()
                }
                assert got == want, (trial, table, old_ids, new_ids, changed)
