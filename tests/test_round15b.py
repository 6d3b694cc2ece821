"""Round-15 additions, part 2: the per-band bucket-size safety valve
on the maintained path (capped behavior fingerprinted and routing
counters logged per sync; the operator's own tests are in
tests/test_dedup_similarity.py) and the session-reuse sync-serve loop
(verdict item 5 — N delta feeds applied in ONE Spark session,
amortizing the measured 36-43 s per-sync JVM/session floor)."""

from __future__ import annotations

import json

import pytest

from tests.test_dedup_similarity import _hyperdup_rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestBucketCapSink:
    def test_fingerprint_refuses_cap_mismatch(self, spark, tmp_path,
                                              capsys):
        from vcf_pg_loader_spark.cli import main

        snap = str(tmp_path / "snap")
        _df(spark, _hyperdup_rows(8)).write.parquet(snap)
        state = str(tmp_path / "state")
        assert main(["sync-corpus", "--state", state, "--snapshot", snap,
                     "--batch-id", "0", "--bucket-cap", "5"]) == 0
        capsys.readouterr()
        # a capped state refuses an uncapped sink (and vice versa): the
        # maintained pair table is a function of the routing rule
        feed = str(tmp_path / "feed")
        spark.createDataFrame(
            [(900, "a genuinely new document arrives here", 1)],
            "doc_id bigint, text string, _mult bigint",
        ).write.parquet(feed)
        with pytest.raises(ValueError, match="parameters"):
            main(["sync-corpus", "--state", state, "--delta", feed,
                  "--batch-id", "1"])
        state2 = str(tmp_path / "state2")
        assert main(["sync-corpus", "--state", state2, "--snapshot", snap,
                     "--batch-id", "0"]) == 0
        capsys.readouterr()
        with pytest.raises(ValueError, match="parameters"):
            main(["sync-corpus", "--state", state2, "--delta", feed,
                  "--batch-id", "1", "--bucket-cap", "5"])

    def test_sync_report_logs_routing_and_keep_is_sane(
        self, spark, tmp_path, capsys
    ):
        from vcf_pg_loader_spark.cli import main

        n_dup = 30
        snap = str(tmp_path / "snap")
        _df(spark, _hyperdup_rows(n_dup)).write.parquet(snap)
        state = str(tmp_path / "state")
        assert main(["sync-corpus", "--state", state, "--snapshot", snap,
                     "--batch-id", "0", "--bucket-cap", "4"]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        routing = rep["bucket_cap_routing"]
        assert routing["bucket_cap"] == 4
        assert routing["routed_buckets"] >= 1
        assert routing["routed_rows"] >= n_dup
        # the hyper-dup class collapses to one canonical + 5 distinct
        assert rep["docs_kept"] == 1 + 5
        assert rep["docs_in_state"] == n_dup + 5


class TestSyncServe:
    def _bootstrap(self, spark, tmp_path, main, capsys):
        snap = str(tmp_path / "snap")
        _df(spark, [
            (0, "alpha beta gamma delta epsilon zeta eta"),
            (1, "one two three four five six seven eight"),
            (2, "red orange yellow green blue indigo violet"),
        ]).write.parquet(snap)
        state = str(tmp_path / "state")
        assert main(["sync-corpus", "--state", state, "--snapshot", snap,
                     "--batch-id", "0"]) == 0
        capsys.readouterr()
        return state

    def _feeds(self, spark, tmp_path, specs):
        feeds = tmp_path / "feeds"
        feeds.mkdir(exist_ok=True)
        for bid, rows in specs.items():
            spark.createDataFrame(
                rows, "doc_id bigint, text string, _mult bigint"
            ).write.mode("overwrite").parquet(str(feeds / str(bid)))
        return str(feeds)

    def test_serve_applies_feeds_in_one_session(
        self, spark, tmp_path, capsys
    ):
        from vcf_pg_loader_spark.cli import main
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
        )

        state = self._bootstrap(spark, tmp_path, main, capsys)
        feeds = self._feeds(spark, tmp_path, {
            1: [(10, "ten fresh documents arriving now today", 1)],
            2: [(11, "eleven more words arriving in this batch", 1)],
            3: [(12, "twelve is the final arriving document", 1)],
        })
        assert main(["sync-serve", "--feeds", feeds, "--",
                     "--state", state]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["n_syncs"] == 3 and rep["n_ok"] == 3
        assert [s["batch_id"] for s in rep["syncs"]] == [1, 2, 3]
        assert rep["warm_marginal_median_sec"] is not None
        assert all(s["rc"] == 0 for s in rep["syncs"])
        sink = DedupClusterMaintSink(state)
        e1 = sink.read_epoch()
        assert e1["batch_id"] == 3 and e1["n_docs"] == 6

        # the whole loop replays as no-ops: same epoch, rc 0 throughout
        assert main(["sync-serve", "--feeds", feeds, "--",
                     "--state", state]) == 0
        rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep2["n_ok"] == 3
        assert DedupClusterMaintSink(state).read_epoch() == e1

    def test_syncs_release_every_checkpoint(
        self, spark, tmp_path, capsys, monkeypatch
    ):
        """A snapshot sync, then a sync-serve loop of delta syncs, with
        the shard layout and the card state in lockstep: none of them
        leaves a persisted frame or a cached plan behind, so a
        long-running serve loop holds no blocks across syncs.  Each
        sync's report entry carries its jobs and stages."""
        from tests.test_dedup_maint import _cache_state, _pin_cached_frames
        from vcf_pg_loader_spark.cli import main

        snap = str(tmp_path / "snap")
        _df(spark, [
            (0, "alpha beta gamma delta epsilon zeta eta"),
            (1, "alpha beta gamma delta epsilon zeta eta"),
            (2, "red orange yellow green blue indigo violet"),
        ]).write.parquet(snap)
        feeds = self._feeds(spark, tmp_path, {
            1: [(10, "ten fresh documents arriving now today", 1)],
            2: [(2, "red orange yellow green blue indigo violet", -1),
                (11, "eleven more words arriving in this batch", 1)],
        })
        lockstep = ["--state", str(tmp_path / "state"),
                    "--shards-state", str(tmp_path / "shards"),
                    "--card-state", str(tmp_path / "card")]
        spark.catalog.clearCache()
        _empty, rdds = _cache_state(spark)
        _pin_cached_frames(spark, monkeypatch)

        assert main(["sync-corpus", *lockstep, "--snapshot", snap,
                     "--batch-id", "0"]) == 0
        empty, after = _cache_state(spark)
        assert empty and after <= rdds, after - rdds

        assert main(["sync-serve", "--feeds", feeds, "--", *lockstep]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert [s["rc"] for s in rep["syncs"]] == [0, 0]
        assert all(s["jobs"] > 0 and s["stages"] >= s["jobs"]
                   for s in rep["syncs"])
        empty, after = _cache_state(spark)
        assert empty and after <= rdds, after - rdds

    def test_serve_refuses_banned_flags_and_bad_dirs(
        self, spark, tmp_path, capsys
    ):
        from vcf_pg_loader_spark.cli import main

        state = self._bootstrap(spark, tmp_path, main, capsys)
        feeds = self._feeds(spark, tmp_path, {
            1: [(10, "ten fresh documents arriving now today", 1)],
        })
        assert main(["sync-serve", "--feeds", feeds, "--",
                     "--state", state, "--batch-id", "7"]) == 2
        assert main(["sync-serve", "--feeds", feeds, "--",
                     "--state", state, "--snapshot", "/tmp/x"]) == 2
        bad = tmp_path / "feeds_bad" / "not-a-number"
        bad.mkdir(parents=True)
        assert main(["sync-serve", "--feeds",
                     str(tmp_path / "feeds_bad"), "--",
                     "--state", state]) == 2
        capsys.readouterr()

    def test_serve_stops_on_refusal(self, spark, tmp_path, capsys):
        """A mid-loop refusal (here: a -1 tuple whose text contradicts
        the maintained corpus) stops the loop and is recorded — the
        inherited sync-corpus semantics, not a serve re-implementation."""
        from vcf_pg_loader_spark.cli import main

        state = self._bootstrap(spark, tmp_path, main, capsys)
        feeds = self._feeds(spark, tmp_path, {
            1: [(10, "ten fresh documents arriving now today", 1)],
            2: [(0, "this is not doc zero's maintained text", -1)],
            3: [(12, "twelve never gets applied at all", 1)],
        })
        assert main(["sync-serve", "--feeds", feeds, "--",
                     "--state", state]) == 2
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["n_syncs"] == 2
        assert [s["rc"] for s in rep["syncs"]] == [0, 2]
