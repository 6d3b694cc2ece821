"""DedupClusterMaintSink (streaming/retract.py): the maintained near-dup
cluster store under a seeded Z-set sequence.

After every batch the served keep-set must equal DuckDB's from-scratch
Q_DEDUP_KEEP_SQL over the retained rows, and the maintained clusters/
table must equal a from-scratch minhash_lsh_dedup + connected_components
run.  Two guards pin the apply's cost shape: the Spark jobs one small
batch fires onto existing state, and the caches it leaves behind."""

from __future__ import annotations

import os
import random

import duckdb
import pytest

from vcf_pg_loader_spark.operators.ivm import MULT

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
        sc = spark.sparkContext
        group = f"dedup-maint-apply-{id(sink)}"
        sc.setJobGroup(group, "jobs-per-apply guard")
        try:
            sink.apply_batch(_batch(spark, seq[1][1]), 1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert 0 < n_jobs <= JOBS_PER_APPLY_MAX, n_jobs

    def test_apply_releases_every_cache(self, spark, state):
        sink, seq = state
        spark.catalog.clearCache()
        _empty, rdds = _cache_state(spark)
        for batch_id, (label, ins, dels) in enumerate(seq[2:4], start=2):
            sink.apply_batch(_batch(spark, ins, dels), batch_id)
            assert _cache_state(spark) == (True, rdds), label
