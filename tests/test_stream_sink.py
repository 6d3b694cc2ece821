"""foreachBatch sinks: streaming upsert + incremental rollup maintenance.

Covers the exactly-once contract (streaming/sink.py): replayed batches
are no-ops, updates win over existing rows, and a rollup maintained
incrementally across micro-batches equals the from-scratch batch
aggregate (the q_rollup_incremental property, exercised here through the
REAL streaming machinery instead of a hand split).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators.rollup import (
    event_rollup_partial,
    rollup_final,
)
from vcf_pg_loader_spark.sources.tables import load_table
from vcf_pg_loader_spark.streaming.events import read_events_stream
from vcf_pg_loader_spark.streaming.sink import (
    ParquetUpsertSink,
    RollupMaintenanceSink,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events")


def _drop(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


class TestParquetUpsertSink:
    def test_stream_upsert_updates_win(self, spark, events, tmp_path):
        src = str(tmp_path / "in")
        target = str(tmp_path / "target")
        sink = ParquetUpsertSink(target, key=["event_id"])

        # ONE checkpoint across restarts — the batch-id sequence (and so
        # the sink ledger) is scoped to the checkpoint
        ck = str(tmp_path / "ck")
        first = events.filter(F.col("event_id") % 3 != 0)
        _drop(first, src)
        sink.start(read_events_stream(spark, src), ck).awaitTermination()
        assert sink.read(spark).count() == first.count()

        # second drop overlaps: some replays of existing keys with a new
        # value, some brand-new keys — incoming must win per key
        second = events.filter(F.col("event_id") % 2 == 0).withColumn(
            "value", F.lit(-1.0)
        )
        _drop(second, src)
        sink.start(read_events_stream(spark, src), ck).awaitTermination()

        got = sink.read(spark)
        want_keys = first.select("event_id").union(
            second.select("event_id")
        ).distinct()
        assert got.count() == want_keys.count()
        # every key from the second drop carries the updated value
        n_stale = (
            got.join(second.select("event_id"), "event_id")
            .filter(F.col("value") != -1.0)
            .count()
        )
        assert n_stale == 0

    def test_replayed_batch_is_noop(self, spark, events, tmp_path):
        target = str(tmp_path / "target")
        sink = ParquetUpsertSink(target, key=["event_id"])
        batch = events.limit(100)
        sink.apply_batch(batch, batch_id=0)
        n1 = sink.read(spark).count()
        # crash-recovery replay of the same micro-batch id
        sink.apply_batch(batch.withColumn("value", F.lit(9.9)), batch_id=0)
        got = sink.read(spark)
        assert got.count() == n1
        assert got.filter(F.col("value") == 9.9).count() == 0


class TestRollupMaintenanceSink:
    def test_incremental_equals_batch(self, spark, events, tmp_path):
        src = str(tmp_path / "in")
        target = str(tmp_path / "rollup")
        sink = RollupMaintenanceSink(target, bucket="hour")

        # two arrival waves through the real streaming machinery — one
        # file per trigger forces at least two distinct micro-batches
        _drop(events.filter(F.col("event_id") % 4 != 0), src)
        _drop(events.filter(F.col("event_id") % 4 == 0), src)
        sink.start(
            read_events_stream(spark, src, max_files_per_trigger=1),
            str(tmp_path / "ck"),
        ).awaitTermination()

        got = rollup_final(sink.read(spark))
        want = rollup_final(event_rollup_partial(events, "hour"))
        g = {
            (r.bucket, r.event_type): (r.n_events, r.total_value)
            for r in got.collect()
        }
        w = {
            (r.bucket, r.event_type): (r.n_events, r.total_value)
            for r in want.collect()
        }
        assert g == w  # bit-exact: decimal accumulators merge exactly

    def test_replayed_batch_does_not_double_count(self, spark, events, tmp_path):
        target = str(tmp_path / "rollup")
        sink = RollupMaintenanceSink(target, bucket="hour")
        batch = events.limit(500)
        sink.apply_batch(batch, batch_id=7)
        n1 = rollup_final(sink.read(spark)).agg(F.sum("n_events")).first()[0]
        sink.apply_batch(batch, batch_id=7)  # replay
        n2 = rollup_final(sink.read(spark)).agg(F.sum("n_events")).first()[0]
        assert n1 == n2 == 500


class TestVCFIngestStream:
    def test_watch_dir_loads_new_files_once(self, spark, tmp_path):
        from tests.vcf_fixtures import write_vcf
        from vcf_pg_loader_spark.sources.store import VariantStore
        from vcf_pg_loader_spark.streaming.ingest import VCFIngestStream

        watch = tmp_path / "inbox"
        watch.mkdir()
        store = VariantStore(spark, str(tmp_path / "vstore"))
        ing = VCFIngestStream(spark, store, str(watch))
        ck = str(tmp_path / "ck")

        write_vcf(
            str(watch / "a.vcf"),
            ["chr1\t100\trsA\tA\tG\t50.0\tPASS\tDP=30"],
        )
        ing.start(ck).awaitTermination()
        assert store.read().count() == 1

        # second drop: one new file + the old one still present — only
        # the new file loads (source checkpoint), and re-running with
        # nothing new is a no-op
        write_vcf(
            str(watch / "b.vcf"),
            ["chr2\t200\trsB\tT\tC\t60.0\tPASS\tDP=20",
             "chr2\t300\trsC\tG\tA\t70.0\tPASS\tDP=10"],
        )
        ing.start(ck).awaitTermination()
        assert store.read().count() == 3
        ing.start(ck).awaitTermination()
        assert store.read().count() == 3
        assert [r.variants_loaded for r in ing.loaded] == [1, 2]
        # audit trail: one completed batch per file
        assert len({r.batch_id for r in ing.loaded}) == 2


class TestKMVDistinctSink:
    def test_maintained_sketch_equals_from_scratch(self, spark, events, tmp_path):
        from vcf_pg_loader_spark.operators.sketch import kmv_sketch
        from vcf_pg_loader_spark.streaming.sink import KMVDistinctSink

        src = str(tmp_path / "in")
        sink = KMVDistinctSink(
            str(tmp_path / "kmv"), ["event_type"], "user_id", k=32
        )
        _drop(events.filter(F.col("event_id") % 2 == 0), src)
        _drop(events.filter(F.col("event_id") % 2 == 1), src)
        sink.start(
            read_events_stream(spark, src, max_files_per_trigger=1),
            str(tmp_path / "ck"),
        ).awaitTermination()

        got = {r.event_type: r.hashes for r in sink.read(spark).collect()}
        want = {
            r.event_type: r.hashes
            for r in kmv_sketch(events, ["event_type"], "user_id", 32).collect()
        }
        assert got == want

    def test_replay_is_noop(self, spark, events, tmp_path):
        from vcf_pg_loader_spark.streaming.sink import KMVDistinctSink

        sink = KMVDistinctSink(
            str(tmp_path / "kmv"), ["event_type"], "user_id", k=32
        )
        batch = events.limit(400)
        sink.apply_batch(batch, batch_id=3)
        first = {r.event_type: r.hashes for r in sink.read(spark).collect()}
        sink.apply_batch(batch, batch_id=3)
        again = {r.event_type: r.hashes for r in sink.read(spark).collect()}
        assert first == again


class TestRollupKWayMerge:
    def test_any_split_folds_to_the_same_rollup(self, spark, events):
        """Associativity/commutativity in practice: a random 4-way split
        folded in arbitrary order equals the single-pass rollup."""
        from functools import reduce

        from vcf_pg_loader_spark.operators.rollup import merge_rollup

        parts = [
            event_rollup_partial(
                events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i), "hour"
            )
            for i in (2, 0, 3, 1)  # deliberately out of order
        ]
        merged = rollup_final(reduce(merge_rollup, parts))
        whole = rollup_final(event_rollup_partial(events, "hour"))
        m = {
            (r.bucket, r.event_type): (r.n_events, r.total_value, r.min_value, r.max_value)
            for r in merged.collect()
        }
        w = {
            (r.bucket, r.event_type): (r.n_events, r.total_value, r.min_value, r.max_value)
            for r in whole.collect()
        }
        assert m == w


class TestHDRAndCMSSinks:
    def test_hdr_sink_maintained_equals_from_scratch(self, spark, events, tmp_path):
        from vcf_pg_loader_spark.operators.histogram import (
            hdr_partial,
            hdr_quantiles,
        )
        from vcf_pg_loader_spark.streaming.sink import HDRHistogramSink

        sink = HDRHistogramSink(
            str(tmp_path / "hdr"), ["event_type"], "value"
        )
        sink.apply_batch(events.filter(F.col("event_id") % 2 == 0), 0)
        sink.apply_batch(events.filter(F.col("event_id") % 2 == 1), 1)
        got = sorted(map(tuple, sink.read(spark).collect()))
        want = sorted(
            map(tuple, hdr_partial(events, ["event_type"], "value").collect())
        )
        assert got == want  # maintained table == one-shot sketch
        served = hdr_quantiles(sink.read(spark), ["event_type"], [0.5])
        assert served.count() > 0
        # replay must not double-count (additive fold)
        n0 = sink.read(spark).agg(F.sum("cnt")).first()[0]
        sink.apply_batch(events.limit(100), 1)
        assert sink.read(spark).agg(F.sum("cnt")).first()[0] == n0

    def test_cms_sink_maintained_equals_from_scratch(self, spark, events, tmp_path):
        from vcf_pg_loader_spark.operators.sketch import cms_partial
        from vcf_pg_loader_spark.streaming.sink import CMSFrequencySink

        ev = events.select(F.col("event_type").alias("v"))
        sink = CMSFrequencySink(str(tmp_path / "cms"), "v")
        sink.apply_batch(ev.filter(F.col("v") < "m"), 0)
        sink.apply_batch(ev.filter(F.col("v") >= "m"), 1)
        got = sorted(map(tuple, sink.read(spark).collect()))
        want = sorted(map(tuple, cms_partial(ev, "v").collect()))
        assert got == want
