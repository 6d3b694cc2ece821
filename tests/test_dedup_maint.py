"""DedupClusterMaintSink (streaming/retract.py): the maintained near-dup
cluster store under a seeded Z-set sequence.

After every batch the served keep-set must equal DuckDB's from-scratch
Q_DEDUP_KEEP_SQL over the retained rows, and the maintained clusters/
table must equal a from-scratch minhash_lsh_dedup + connected_components
run.  Two guards pin the apply's cost shape: the Spark jobs one small
batch fires onto existing state (here and for FunnelReportSink, which
shares its pair maintenance), and the caches it leaves behind — the
latter for every maintained sink, since all of them apply through the
one release scope of `ParquetUpsertSink.apply_batch`.  The Z-set
consolidation every apply runs once (`zset_delta`) is pinned here
too."""

from __future__ import annotations

import os
import random

import duckdb
import pytest

from vcf_pg_loader_spark.operators.ivm import MULT
from vcf_pg_loader_spark.runner import phase

# a near-dup chain: BASE~NEAR and NEAR~NEAR2 collide and verify,
# BASE~NEAR2 does not, so NEAR is a cut vertex
BASE = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu one two three four five six seven eight nine ten"
)
NEAR = BASE.rsplit(" ", 1)[0] + " eleven"
NEAR2 = NEAR.replace("oscar", "oscarx", 1)

WORDS = [f"w{i}" for i in range(400)]

# Spark jobs one small apply onto existing state may fire (see
# test_jobs_per_apply_bound)
JOBS_PER_APPLY_MAX = 56
FUNNEL_JOBS_PER_APPLY_MAX = 86


def _filler(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(20, 40)))


def _batch(spark, ins=(), dels=()):
    rows = [(i, t, 1) for i, t in ins] + [(i, t, -1) for i, t in dels]
    return spark.createDataFrame(rows, f"doc_id bigint, text string, {MULT} bigint")


def _sequence(seed: int) -> list[tuple[str, list, list]]:
    """(label, inserts, retractions) per batch; every retraction names
    the text its doc currently holds."""
    rng = random.Random(seed)
    filler = {i: _filler(rng) for i in range(10, 16)}
    boot = [(1, BASE), (2, NEAR), (3, NEAR2), *filler.items()]
    changed = NEAR2.replace("tango", "tangox", 1)  # near NEAR2, not BASE
    return [
        ("bootstrap", boot, []),
        ("inserts colliding with old docs",
         [(4, BASE.replace("golf", "golfx", 1)), (16, filler[10] + " dup")], []),
        ("retract the cut vertex", [], [(2, NEAR)]),
        ("re-insert a changed text", [(10, changed)], [(10, filler[10])]),
        ("insert and retract one doc in one batch",
         [(20, filler[11] + " twin"), (21, _filler(rng))],
         [(20, filler[11] + " twin")]),
        ("no new edge: connectivity unchanged", [(22, _filler(rng))], []),
    ]


def _fresh_clusters(spark, docs):
    from vcf_pg_loader_spark.operators import dedup as D
    from vcf_pg_loader_spark.queries.pipeline import (
        JACCARD_T,
        MINHASH_BANDS,
        MINHASH_K,
        NGRAM,
    )

    df = spark.createDataFrame(sorted(docs.items()), "doc_id bigint, text string")
    pairs = D.minhash_lsh_dedup(
        df, "doc_id", "text", NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T
    )
    cc = D.connected_components(pairs.select("d1", "d2"), "d1", "d2")
    return {(r.node, r.comp) for r in cc.collect()}


def _duck_keep(docs) -> set[int]:
    import pandas as pd

    from vcf_pg_loader_spark.queries.pipeline import Q_DEDUP_KEEP_SQL

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(sorted(docs.items()), columns=["doc_id", "text"]),
    )
    got = {int(r[0]) for r in con.execute(Q_DEDUP_KEEP_SQL).fetchall()}
    con.close()
    return got


def _part_inodes(path: str) -> dict[str, int]:
    return {
        f: os.stat(os.path.join(path, f)).st_ino
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


class TestDedupClusterMaintSequence:
    def test_seeded_sequence_matches_recompute(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink

        sink = DedupClusterMaintSink(str(tmp_path / "dedup"))
        present: dict[int, str] = {}
        for batch_id, (label, ins, dels) in enumerate(_sequence(5)):
            before = None
            if batch_id == 5:
                before = {
                    t: _part_inodes(os.path.join(sink.target, t))
                    for t in ("pairs", "clusters")
                }
            sink.apply_batch(_batch(spark, ins, dels), batch_id)
            # the Z-set semantics, replayed in Python: a tuple inserted and
            # retracted in one batch cancels
            both = set(ins) & set(dels)
            for i, _t in set(dels) - both:
                present.pop(i, None)
            for i, t in set(ins) - both:
                present[i] = t

            got = {r.doc_id for r in sink.keep(spark).collect()}
            assert got == _duck_keep(present), label
            clusters = {
                (r.node, r.comp)
                for r in spark.read.parquet(
                    os.path.join(sink.target, "clusters")
                ).collect()
            }
            assert clusters == _fresh_clusters(spark, present), label
            if before is not None:
                # the fast path hard-links both tables through the swap
                for t, inodes in before.items():
                    assert _part_inodes(os.path.join(sink.target, t)) == inodes
        # the sequence exercises what it claims to: the cut vertex's
        # retraction split the chain, so BASE and NEAR2 are both kept
        assert {1, 3} <= got


def _cache_state(spark):
    sc = spark.sparkContext
    return (
        spark._jsparkSession.sharedState().cacheManager().isEmpty(),
        set(sc._jsc.getPersistentRDDs().keySet()),
    )


class TestDedupClusterMaintCost:
    @pytest.fixture(scope="class")
    def state(self, spark, tmp_path_factory):
        """One bootstrapped state the cost tests apply onto, each with
        its own batch ids (a reused id would replay as a no-op)."""
        from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink

        seq = _sequence(9)
        target = str(tmp_path_factory.mktemp("maint") / "dedup")
        sink = DedupClusterMaintSink(target)
        sink.apply_batch(_batch(spark, seq[0][1]), 0)
        return sink, seq

    def test_jobs_per_apply_bound(self, spark, state):
        """A small batch (two colliding inserts) onto existing state:
        the apply runs each sub-plan once.  Measured 47 jobs under the
        test session's 4 shuffle partitions, where the apply that
        re-derived its sub-plans per consumer fired 75; the bound is
        the measured count plus 20% headroom for AQE plan variation."""
        sink, seq = state
        with phase(spark, "apply") as applied:
            sink.apply_batch(_batch(spark, seq[1][1]), 1)
        assert 0 < applied["jobs"] <= JOBS_PER_APPLY_MAX, applied

    def test_apply_releases_every_cache(self, spark, state, monkeypatch):
        """Two more batches onto the state: nothing an apply cached or
        checkpointed is left (a block an earlier test left may be
        cleaned meanwhile, so the set may only shrink)."""
        sink, seq = state
        spark.catalog.clearCache()
        _empty, rdds = _cache_state(spark)
        _pin_cached_frames(spark, monkeypatch)
        for batch_id, (label, ins, dels) in enumerate(seq[2:4], start=2):
            sink.apply_batch(_batch(spark, ins, dels), batch_id)
            empty, after = _cache_state(spark)
            assert empty and after <= rdds, (label, after - rdds)


class TestFunnelReportCost:
    def test_jobs_per_apply_bound(self, spark, tmp_path):
        """Two colliding inserts and a retraction onto a bootstrapped
        funnel state.  Each state table is read once and the touched id
        buckets are collected once for all five id-bucketed tables.
        Measured 72 jobs under the test session's 4 shuffle partitions,
        where the apply that read every table twice and collected the
        buckets per table fired 88; the bound is the measured count
        plus 20% headroom for AQE plan variation."""
        from vcf_pg_loader_spark.queries.pipeline import NLL_MAX
        from vcf_pg_loader_spark.streaming.retract import FunnelReportSink

        seq = _sequence(9)
        sink = FunnelReportSink(str(tmp_path / "funnel"), NLL_MAX)
        sink.apply_batch(_batch(spark, seq[0][1]), 0)
        with phase(spark, "apply") as applied:
            sink.apply_batch(_batch(spark, seq[1][1], [(2, NEAR)]), 1)
        assert 0 < applied["jobs"] <= FUNNEL_JOBS_PER_APPLY_MAX, applied


# -- every sink releases what its apply held ------------------------------
def _docs_case(make):
    """A document sink: bootstrap on the seeded sequence's first batch,
    then two colliding inserts and the retraction of a cut vertex."""

    def case(spark, root):
        seq = _sequence(9)
        return (
            make(root),
            _batch(spark, seq[0][1]),
            _batch(spark, seq[1][1], [(2, NEAR)]),
        )

    return case


def _near_dup_case(spark, root):
    # insert-only sink: plain batches, the second one colliding
    from vcf_pg_loader_spark.streaming.dedup_ingest import NearDupIngestSink

    seq = _sequence(9)
    schema = "doc_id bigint, text string"
    return (
        NearDupIngestSink(root),
        spark.createDataFrame(seq[0][1], schema),
        spark.createDataFrame(seq[1][1], schema),
    )


def _card_case(spark, root):
    from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

    seq = _sequence(9)

    def batch(ins, dels=()):
        rows = [(i, "web" if i % 2 else "books", t, m)
                for m, docs in ((1, ins), (-1, dels)) for i, t in docs]
        return spark.createDataFrame(
            rows, f"doc_id bigint, source string, text string, {MULT} bigint"
        )

    return (
        DatasetCardSink(root),
        batch(seq[0][1]),
        batch(seq[1][1], [(2, NEAR)]),
    )


def _semdedup_case(spark, root):
    from vcf_pg_loader_spark.streaming.dedup_ingest import SemDeDupIngestSink

    rng = random.Random(3)
    vec = {i: [rng.uniform(-1, 1) for _ in range(4)] for i in range(16)}
    vec[13] = [x * 1.5 for x in vec[1]]  # a semantic dup of vector 1

    def batch(ins, dels=()):
        rows = [(i, vec[i], m) for m, ids in ((1, ins), (-1, dels)) for i in ids]
        return spark.createDataFrame(
            rows, f"vec_id bigint, embedding array<double>, {MULT} bigint"
        )

    return (
        SemDeDupIngestSink(root, k_centroids=3, n_iter=2, tau=0.9),
        batch(range(12)),
        batch([12, 13], [3]),
    )


def _rollup_case(spark, root):
    import datetime

    from vcf_pg_loader_spark.streaming.sink import CountedRollupSink

    def ev(i, t, h):
        return (i, t, datetime.datetime(2024, 1, 1, h), float(i))

    def batch(ins, dels=()):
        rows = [(*e, m) for m, evs in ((1, ins), (-1, dels)) for e in evs]
        return spark.createDataFrame(
            rows,
            "event_id bigint, event_type string, ts timestamp, "
            f"value double, {MULT} bigint",
        )

    boot = [ev(i, "view" if i % 2 else "click", i % 3) for i in range(12)]
    return (
        CountedRollupSink(root),
        batch(boot),
        batch([ev(20, "view", 0), ev(21, "buy", 5)], [boot[1]]),
    )


def _sink_cases():
    from vcf_pg_loader_spark.queries.pipeline import NLL_MAX
    from vcf_pg_loader_spark.streaming.dedup_ingest import BM25IndexSink
    from vcf_pg_loader_spark.streaming.retract import (
        DecontamIndexSink,
        FunnelReportSink,
        WinnowIndexSink,
    )
    from vcf_pg_loader_spark.streaming.shards import TrainingShardSink
    from vcf_pg_loader_spark.streaming.vocab import VocabSink

    return {
        "NearDup": _near_dup_case,
        "BM25": _docs_case(BM25IndexSink),
        "SemDeDup": _semdedup_case,
        "FunnelReport": _docs_case(lambda r: FunnelReportSink(r, NLL_MAX)),
        "DatasetCard": _card_case,
        "Winnow": _docs_case(WinnowIndexSink),
        "Decontam": _docs_case(DecontamIndexSink),
        "TrainingShard": _docs_case(TrainingShardSink),
        "Vocab": _docs_case(VocabSink),
        "CountedRollup": _rollup_case,
    }


def _pin_cached_frames(spark, monkeypatch) -> list:
    """Keep a reference to every frame persisted or checkpointed from
    here on.  An unreleased local checkpoint otherwise vanishes from
    getPersistentRDDs whenever a JVM GC lets the ContextCleaner drop
    it, so whether a leak shows would depend on GC timing."""
    frame_cls = type(spark.range(1))  # the concrete DataFrame class
    pinned: list = []
    for name in ("persist", "cache", "localCheckpoint"):
        orig = getattr(frame_cls, name)

        def pin(self, *a, _orig=orig, **k):
            df = _orig(self, *a, **k)
            pinned.append(df)
            return df

        monkeypatch.setattr(frame_cls, name, pin)
    return pinned


@pytest.mark.parametrize("name", list(_sink_cases()))
def test_apply_releases_every_cache(spark, tmp_path, monkeypatch, name):
    """A bootstrap, then one insert+retract batch: once apply_batch
    returns, nothing the apply cached or checkpointed is left behind
    (a long-lived stream would otherwise keep one batch's blocks per
    micro-batch)."""
    sink, boot, batch = _sink_cases()[name](spark, str(tmp_path / name))
    sink.apply_batch(boot, 0)
    spark.catalog.clearCache()
    _empty, rdds = _cache_state(spark)
    _pin_cached_frames(spark, monkeypatch)
    sink.apply_batch(batch, 1)
    assert sink.applied(1)
    # nothing new is cached or persisted (a block the bootstrap left
    # may have been cleaned meanwhile)
    empty, after = _cache_state(spark)
    assert empty and after <= rdds, after - rdds


def test_semdedup_bootstrap_releases_every_cache(spark, tmp_path, monkeypatch):
    """The bootstrap apply fits SemDeDup's IVF routing table — a cached
    vector prep and a centroid checkpoint — and releases both: the
    baseline is taken before it, not after."""
    sink, boot, _batch = _semdedup_case(spark, str(tmp_path / "SemDeDup"))
    spark.catalog.clearCache()
    _empty, rdds = _cache_state(spark)
    _pin_cached_frames(spark, monkeypatch)
    sink.apply_batch(boot, 0)
    assert sink.applied(0)
    empty, after = _cache_state(spark)
    assert empty and after <= rdds, after - rdds


class TestZsetDelta:
    """The one consolidation every maintained sink's apply runs."""

    def _ins_touched(self, spark, batch):
        from vcf_pg_loader_spark.streaming.sink import (
            ParquetUpsertSink,
            _released,
        )

        with _released() as held:
            ins, touched = ParquetUpsertSink._consolidate(
                batch, "doc_id", held
            )
            return ins.dtypes, touched.dtypes, ins.collect(), touched.collect()

    def test_string_id_type_survives(self, spark):
        batch = spark.createDataFrame(
            [("doc-a", "x"), ("doc-b", "y")], "doc_id string, text string"
        )
        ins_t, touched_t, ins, touched = self._ins_touched(spark, batch)
        assert dict(ins_t)["doc_id"] == "string"
        assert touched_t == [("doc_id", "string")]
        assert sorted(map(tuple, ins)) == [("doc-a", "x"), ("doc-b", "y")]
        assert {r.doc_id for r in touched} == {"doc-a", "doc-b"}

    def test_plus_minus_tuples_cancel(self, spark):
        batch = spark.createDataFrame(
            [("doc-a", "x", 1), ("doc-b", "y", 1), ("doc-a", "x", -1)],
            f"doc_id string, text string, {MULT} bigint",
        )
        _ins_t, _t, ins, touched = self._ins_touched(spark, batch)
        # +1/-1 of one tuple cancel: doc-a is neither inserted nor
        # touched
        assert [tuple(r) for r in ins] == [("doc-b", "y")]
        assert {r.doc_id for r in touched} == {"doc-b"}

    def test_two_insert_tuples_yield_one_whole_tuple(self, spark):
        """Two distinct +1 tuples of one id, each with a null column: the
        inserted row is one of them, never a row stitched from both
        (per-column first-non-null would give ("x", "s") whatever the
        row order)."""
        tuples = [(1, "x", None), (1, None, "s")]
        batch = spark.createDataFrame(
            [(*t, 1) for t in tuples],
            f"doc_id bigint, text string, source string, {MULT} bigint",
        )
        _ins_t, _t, ins, touched = self._ins_touched(spark, batch)
        assert len(ins) == 1 and tuple(ins[0]) in tuples
        assert [r.doc_id for r in touched] == [1]
