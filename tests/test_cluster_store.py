"""Materialized dedup cluster state (sources/cluster_store.py): the
served keep-decision equals the inline keep_canonical over the same
components, and the serve plan is one broadcast anti-join (no LSH/CC
re-run, no corpus shuffle).  Crash safety of the write is swept in
tests/test_durable_sweep.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vcf_pg_loader_spark.operators import dedup as D
from vcf_pg_loader_spark.sources.cluster_store import DedupClusterStore
from vcf_pg_loader_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def components(spark, docs):
    pairs = D.minhash_lsh_dedup(docs, "doc_id", "text", 3, 8, 4, 0.8)
    return D.connected_components(pairs.select("d1", "d2"), "d1", "d2")


class TestDedupClusterStore:
    def test_served_keep_equals_inline(self, spark, docs, components, tmp_path):
        store = DedupClusterStore(spark, str(tmp_path / "dedup"))
        assert not store.exists()
        store.write(components)
        assert store.exists()

        served = {
            r.doc_id for r in store.serve_keep(docs.select("doc_id")).collect()
        }
        inline = {
            r.doc_id
            for r in D.keep_canonical(
                docs.select("doc_id"), components, "doc_id"
            ).collect()
        }
        assert served == inline and len(served) > 0

    def test_rewrite_replaces_atomically(self, spark, components, tmp_path):
        store = DedupClusterStore(spark, str(tmp_path / "dedup"))
        store.write(components)
        n1 = store.read().count()
        # a rebuild (e.g. after corpus growth) swaps in the new table
        store.write(components.limit(1))
        assert store.read().count() == 1 != n1

    def test_serve_plan_broadcasts_when_small_without_forced_hint(
        self, spark, docs, components, tmp_path
    ):
        """serve_keep carries NO F.broadcast hint — the planner must
        still pick a broadcast anti join on its own from the persisted
        table's parquet footer-size statistics when the loser set is
        genuinely under the threshold."""
        store = DedupClusterStore(spark, str(tmp_path / "dedup"))
        store.write(components)
        plan = store.serve_keep(docs.select("doc_id"))._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        # serving must not re-run the pipeline: no exchange of the corpus
        assert "SortMergeJoin" not in plan

    def test_serve_degrades_to_shuffle_beyond_broadcast_threshold(
        self, spark, docs, components, tmp_path
    ):
        """At 100 TB dup rates the loser set is billions of rows: with
        the broadcast threshold exceeded (simulated via -1) the serve
        join must degrade to a shuffled anti join with IDENTICAL output
        — never a forced broadcast that OOMs every executor."""
        store = DedupClusterStore(spark, str(tmp_path / "dedup"))
        store.write(components)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            served = store.serve_keep(docs.select("doc_id"))
            plan = served._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            got = {r.doc_id for r in served.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        want = {
            r.doc_id for r in store.serve_keep(docs.select("doc_id")).collect()
        }
        assert got == want and len(got) > 0


class TestServedRegistryEntries:
    def test_q_dedup_keep_served_equals_recompute(self, spark):
        from vcf_pg_loader_spark.queries.pipeline import (
            q_dedup_keep,
            q_dedup_keep_served,
        )

        served = {r.doc_id for r in q_dedup_keep_served(spark, SF_DIR).collect()}
        inline = {r.doc_id for r in q_dedup_keep(spark, SF_DIR).collect()}
        assert served == inline

    def test_q_ann_ivf_served_equals_recompute(self, spark):
        from vcf_pg_loader_spark.queries.pipeline import (
            q_ann_ivf,
            q_ann_ivf_served,
        )

        served = {
            (r.query_id, r.cand_id, r.cos_sim, r.rn)
            for r in q_ann_ivf_served(spark, SF_DIR).collect()
        }
        inline = {
            (r.query_id, r.cand_id, r.cos_sim, r.rn)
            for r in q_ann_ivf(spark, SF_DIR).collect()
        }
        assert served == inline

    def test_q_drop_reasons_served_equals_recompute(self, spark):
        from vcf_pg_loader_spark.queries.pipeline import (
            q_drop_reasons,
            q_drop_reasons_served,
        )

        served = {
            (r.doc_id, r.stage)
            for r in q_drop_reasons_served(spark, SF_DIR).collect()
        }
        inline = {
            (r.doc_id, r.stage) for r in q_drop_reasons(spark, SF_DIR).collect()
        }
        assert served == inline and len(served) > 0


class TestMaterializedTable:
    def test_roundtrip_and_atomic_rewrite(self, spark, tmp_path):
        from vcf_pg_loader_spark.sources.cluster_store import MaterializedTable

        tbl = MaterializedTable(spark, str(tmp_path / "attr"))
        assert not tbl.exists()
        df = spark.createDataFrame(
            [(1, "kept"), (2, "near_dup")], "doc_id bigint, stage string"
        )
        tbl.write(df)
        assert tbl.exists()
        assert sorted(map(tuple, tbl.read().collect())) == [
            (1, "kept"),
            (2, "near_dup"),
        ]
        tbl.write(df.limit(1))
        assert tbl.read().count() == 1

