"""Crash-point sweep over the durable-state protocol (durable.py).

Every filesystem mutation of maintained state goes through one of the
step functions named in `durable.STEPS`.  For an update of a structure
the sweep first runs the update cleanly and counts its steps T; then,
for every N < T, it restores the pre-update state, runs the update with
step N raising before it takes effect, reruns the same update cleanly,
and asserts that the served result and the directory shape equal the
clean run's: no lost write, no double fold, no leftover staging or
aside.  Structures whose readers heal are also read right after the
crash, and must serve the old or the new version.  This is the method
of Pillai et al., "All File Systems Are Not Created Equal" (OSDI 2014),
applied to process crashes.

The `CountedRollupSink` sweep runs in the default tier; the others are
listed in tests/slow_tests.txt.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from vcf_pg_loader_spark import durable
from vcf_pg_loader_spark.operators.ivm import MULT


class Crash(Exception):
    """The injected crash."""


@contextlib.contextmanager
def crash_at(n: int | None):
    """Wrap durable's step functions so that step `n` raises Crash
    before it runs (n=None: count only).  Yields a one-element list
    holding the number of steps started so far."""
    count = [0]
    originals = {name: getattr(durable, name) for name in durable.STEPS}

    def wrap(name, fn):
        def step(*args, **kwargs):
            i = count[0]
            count[0] += 1
            if i == n:
                raise Crash(f"crash before step {i}: {name}{args}")
            return fn(*args, **kwargs)

        return step

    for name, fn in originals.items():
        setattr(durable, name, wrap(name, fn))
    try:
        yield count
    finally:
        for name, fn in originals.items():
            setattr(durable, name, fn)


def _shape(root: str, vary: str | None = None) -> set[str]:
    """Every directory and non-data file under root, by relative path
    (parquet part files carry random names and are left out, and so is
    every path matching the regex `vary`)."""
    out = set()
    for dirpath, dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        out |= {os.path.join(rel, d) + "/" for d in dirs}
        out |= {
            os.path.join(rel, f)
            for f in files
            if not f.startswith(("part-", ".part-"))
        }
    return {p for p in out if not (vary and re.fullmatch(vary, p))}


def _restore(snap: str, root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(snap, root)


def sweep(root: str, op, served, readers_heal=False, vary=None) -> int:
    """Sweep `op` (the update, rerunnable) over every crash step; the
    state lives under `root`, `served()` returns the comparable
    result, `vary` matches the paths whose names vary by run.
    Returns the number of steps swept."""
    snap = root + ".snap"
    shutil.copytree(root, snap)
    before = served() if readers_heal else None
    with crash_at(None) as count:
        op()
    total = count[0]
    clean, clean_shape = served(), _shape(root, vary)
    assert total > 0
    for n in range(total):
        _restore(snap, root)
        with crash_at(n), pytest.raises(Crash):
            op()
        if readers_heal:
            assert served() in (before, clean), f"read after crash at {n}"
        op()
        assert served() == clean, f"crash before step {n}"
        assert _shape(root, vary) == clean_shape, f"crash before step {n}"
    return total


def _zset(spark, ins=(), dels=(), schema="doc_id bigint, text string"):
    rows = [(*r, 1) for r in ins] + [(*r, -1) for r in dels]
    return spark.createDataFrame(rows, f"{schema}, {MULT} bigint")


# -- heal ----------------------------------------------------------------
class TestHealDir:
    """heal_dir runs on unleased read paths: it only finishes or undoes
    an interrupted swap, by the `.{base}.old` aside."""

    def test_restores_or_drops_the_aside(self, tmp_path):
        target = tmp_path / "ann"
        aside = tmp_path / ".ann.old"
        aside.mkdir()
        (aside / "meta").write_text("v1")
        durable.heal_dir(str(target))
        assert (target / "meta").read_text() == "v1"
        assert not aside.exists()
        aside.mkdir()
        durable.heal_dir(str(target))
        assert not aside.exists() and (target / "meta").exists()

    def test_leaves_staging_and_other_names_alone(self, tmp_path):
        """Staging may belong to a live writer in another process, and
        `ann_old` may be an operator's own backup."""
        target = tmp_path / "ann"
        staging = durable.stage_dir(str(target))
        backup = tmp_path / "ann_old"
        backup.mkdir()
        durable.heal_dir(str(target))
        assert os.path.isdir(staging) and backup.is_dir()
        assert not target.exists()  # the backup is not restored


# -- sinks ---------------------------------------------------------------
class TestSinkSweeps:
    def test_counted_rollup_sink(self, spark, tmp_path):
        """Additive fold: a crash after the swap but before the ledger
        record must finish the bookkeeping on replay, not fold again."""
        from vcf_pg_loader_spark.streaming.sink import CountedRollupSink

        schema = "event_id bigint, event_type string, ts timestamp, value double"
        root = str(tmp_path / "state")
        sink = CountedRollupSink(os.path.join(root, "rollup"), bucket="hour")

        def ev(i, t, h):
            import datetime

            return (i, t, datetime.datetime(2024, 1, 1, h), float(i))

        boot = [ev(i, "view" if i % 2 else "click", i % 3) for i in range(12)]
        sink.apply_batch(_zset(spark, boot, schema=schema), 0)
        batch = _zset(
            spark,
            ins=[ev(20, "view", 0), ev(21, "buy", 5)],
            dels=[ev(1, "view", 1), ev(2, "click", 2)],
            schema=schema,
        )

        def served():
            return (
                sorted(map(tuple, sink.read(spark).collect())),
                sorted(sink.applied_ids()),
            )

        steps = sweep(root, lambda: sink.apply_batch(batch, 1), served)
        assert steps >= 8  # stage, marker, params, swap, ledger

    def test_dedup_cluster_maint_sink(self, spark, tmp_path):
        """Multi-table state whose untouched id buckets hard-link
        through the swap: every pruned link is a step."""
        from tests.test_dedup_maint import _sequence
        from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink

        root = str(tmp_path / "state")
        sink = DedupClusterMaintSink(os.path.join(root, "dedup"))
        seq = _sequence(5)
        sink.apply_batch(_zset(spark, seq[0][1]), 0)
        batch = _zset(spark, ins=seq[1][1], dels=seq[2][2])

        def served():
            tables = {
                t: sorted(map(tuple, sink._table(spark, t).collect()))
                for t in ("corpus", "bands", "pairs", "clusters")
            }
            return (
                sorted(r.doc_id for r in sink.keep(spark).collect()),
                tables,
                sorted(sink.applied_ids()),
            )

        steps = sweep(root, lambda: sink.apply_batch(batch, 1), served)
        assert steps > 10  # pruned links included

    def test_rebucket_state(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink
        from vcf_pg_loader_spark.streaming.sink import PARAMS, rebucket_state

        root = str(tmp_path / "state")
        target = os.path.join(root, "dedup")
        sink = DedupClusterMaintSink(target)
        docs = [(i, f"doc {i} " + " ".join(f"w{j}" for j in range(i, i + 30)))
                for i in range(8)]
        sink.apply_batch(_zset(spark, docs), 0)

        def rebucket():
            try:
                rebucket_state(spark, target, "n_id_buckets", 128)
            except ValueError as e:
                # a rerun after a crash that landed once the swap was
                # done: the state is already migrated
                assert "already at" in str(e)

        def served():
            return (
                {
                    t: sorted(map(tuple, sink._table_raw(spark, t).collect()))
                    for t in ("corpus", "bands", "pairs", "clusters")
                },
                durable.read_json(os.path.join(target, PARAMS)),
                durable.read_json(os.path.join(target, "_applied_batch.json")),
            )

        sweep(root, rebucket, served)

    def test_legacy_old_aside_restored(self, spark, tmp_path):
        """A sink state that crashed between its two moves under the
        previous swap code left the accumulated table at
        `<target>_old`: the next apply restores it and merges onto it
        (not onto an empty state).  A stale `<target>_old` beside a
        live target is dropped, and so is that code's staging."""
        from vcf_pg_loader_spark.streaming.sink import ParquetUpsertSink

        target = str(tmp_path / "target")
        sink = ParquetUpsertSink(target, key=["event_id"])
        rows = "event_id long, v string"
        sink.apply_batch(spark.createDataFrame([(1, "a"), (2, "b")], rows), 0)
        os.rename(target, f"{target}_old")
        sink.apply_batch(spark.createDataFrame([(3, "c")], rows), 1)
        assert sorted(map(tuple, sink.read(spark).collect())) == [
            (1, "a"), (2, "b"), (3, "c")
        ]
        assert not os.path.exists(f"{target}_old")
        shutil.copytree(target, f"{target}_old")
        os.mkdir(tmp_path / ".stg_target_crashed")  # that code's staging
        sink.apply_batch(spark.createDataFrame([(2, "B")], rows), 2)
        assert sorted(map(tuple, sink.read(spark).collect())) == [
            (1, "a"), (2, "B"), (3, "c")
        ]
        assert not os.path.exists(f"{target}_old")
        assert not os.path.exists(tmp_path / ".stg_target_crashed")


# -- sources -------------------------------------------------------------
class TestSourceSweeps:
    def test_vector_index_apply_delta(self, spark, tmp_path):
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        root = str(tmp_path / "state")
        vecs = "vec_id long, embedding array<double>"
        corpus = spark.createDataFrame(
            [(i, [1.0 + i % 7, 1.0 + i % 3, 1.0 + i]) for i in range(24)],
            vecs,
        )
        idx = VectorIndex(spark, os.path.join(root, "idx"))
        idx.build(corpus, k_centroids=3, m=3, k_sub=4, kernel="exact")
        inserts = spark.createDataFrame(
            [(5, [9.0, 9.0, 9.0]), (40, [1.0, 2.0, 3.0])], vecs
        )
        deletes = spark.createDataFrame([(7,), (8,)], "vec_id long")
        queries = corpus.filter(F.col("vec_id") < 3)

        def served():
            if not idx.exists():
                return None
            return (
                sorted(
                    (r.vid, r.cid)
                    for r in spark.read.parquet(idx._p("vectors")).collect()
                ),
                sorted(
                    (r.vid, tuple(r.codes))
                    for r in spark.read.parquet(idx._p("codes")).collect()
                ),
                sorted(map(tuple, idx.search_flat(queries, 3).collect())),
            )

        sweep(
            root,
            lambda: idx.apply_delta(inserts=inserts, delete_ids=deletes),
            served,
            readers_heal=True,
        )

    def test_dedup_cluster_store_write(self, spark, tmp_path):
        from vcf_pg_loader_spark.sources.cluster_store import DedupClusterStore

        root = str(tmp_path / "state")
        store = DedupClusterStore(spark, root)
        cc = "node bigint, comp bigint"
        store.write(spark.createDataFrame([(1, 1), (2, 1), (5, 5)], cc))
        new = spark.createDataFrame([(1, 1), (3, 1), (7, 6), (6, 6)], cc)

        def served():
            if not store.exists():
                return None
            return sorted(map(tuple, store.read().collect()))

        sweep(root, lambda: store.write(new), served, readers_heal=True)

    def test_materialized_table_write(self, spark, tmp_path):
        from vcf_pg_loader_spark.sources.cluster_store import MaterializedTable

        root = str(tmp_path / "state")
        tbl = MaterializedTable(spark, root)
        rows = "doc_id bigint, stage string"
        tbl.write(spark.createDataFrame([(1, "kept")], rows))
        new = spark.createDataFrame([(1, "kept"), (2, "near_dup")], rows)

        def served():
            if not tbl.exists():
                return None
            return sorted(map(tuple, tbl.read().collect()))

        sweep(root, lambda: tbl.write(new), served, readers_heal=True)

    def test_bm25_index_build(self, spark, tmp_path):
        from vcf_pg_loader_spark.sources.bm25_index import BM25Index

        root = str(tmp_path / "state")
        idx = BM25Index(spark, os.path.join(root, "bm25"))
        docs = "doc_id bigint, text string"
        idx.build(spark.createDataFrame([(1, "a b c"), (2, "b c d")], docs))
        new = spark.createDataFrame(
            [(1, "a b c"), (2, "b b e"), (3, "c d e f")], docs
        )

        def served():
            if not idx.exists():
                return None
            return sorted(map(tuple, idx.search(["b", "e"], k=5).collect()))

        sweep(root, lambda: idx.build(new), served, readers_heal=True)


# the uuid-named audit records: a rerun after a crash adds an "aborted"
# one that a clean run does not have
AUDIT_RECORD = r"vs/audit/[0-9a-f-]{36}\.json"


class TestVariantStoreSweeps:
    @pytest.fixture()
    def vcfs(self, tmp_path):
        from tests.vcf_fixtures import write_vcf

        a = str(tmp_path / "a.vcf")
        b = str(tmp_path / "b.vcf")
        write_vcf(a, [
            "chr1\t100\trs1\tA\tG\t50.0\tPASS\tDP=30",
            "chr2\t200\trs2\tT\tC\t60.0\tPASS\tDP=20",
        ])
        write_vcf(b, [
            "chr2\t300\trs3\tG\tA\t70.0\tPASS\tDP=10",
            "chr3\t400\trs4\tC\tT\t80.0\tPASS\tDP=40",
        ])
        return a, b

    @staticmethod
    def _served(spark, store):
        def served():
            rows = sorted(
                tuple(r)
                for r in store.read().drop("load_batch_id").collect()
            )
            done = sorted(
                (r["source_file"], r["n_variants"])
                for r in store._read_audit()
                if r["status"] == "completed"
            )
            return rows, done, [
                r.pos for r in store.lookup_rsid("rs3").collect()
            ]

        return served

    def test_load(self, spark, tmp_path, vcfs):
        """A crash between the append and the completed audit record:
        the rerun drops the half-loaded batch before loading again."""
        from vcf_pg_loader_spark.sources.store import VariantStore
        from vcf_pg_loader_spark.sources.vcf import read_vcf

        a, b = vcfs
        root = str(tmp_path / "state")
        store = VariantStore(spark, os.path.join(root, "vs"))
        store.load(read_vcf(spark, a), a)
        sweep(
            root,
            lambda: store.load(read_vcf(spark, b), b),
            self._served(spark, store),
            vary=AUDIT_RECORD,
        )

    def test_build_rsid_index(self, spark, tmp_path, vcfs):
        from vcf_pg_loader_spark.sources.store import VariantStore
        from vcf_pg_loader_spark.sources.vcf import read_vcf

        a, b = vcfs
        root = str(tmp_path / "state")
        store = VariantStore(spark, os.path.join(root, "vs"))
        store.load(read_vcf(spark, a), a)
        store.build_rsid_index(files=2)
        store.load(read_vcf(spark, b), b)  # the rebuild changes the index
        sweep(
            root,
            lambda: store.build_rsid_index(files=2),
            self._served(spark, store),
            readers_heal=True,
            vary=AUDIT_RECORD,
        )

    def test_delete_batch(self, spark, tmp_path, vcfs):
        from vcf_pg_loader_spark.sources.store import VariantStore
        from vcf_pg_loader_spark.sources.vcf import read_vcf

        a, b = vcfs
        root = str(tmp_path / "state")
        store = VariantStore(spark, os.path.join(root, "vs"))
        first = store.load(read_vcf(spark, a), a).batch_id
        store.load(read_vcf(spark, b), b)
        sweep(
            root,
            lambda: store.delete_batch(first),
            self._served(spark, store),
            readers_heal=True,
            vary=AUDIT_RECORD,
        )
