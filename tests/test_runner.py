"""The one query runner (vcf_pg_loader_spark/runner.py): its two phases
add up to the run, count the jobs each phase fires, and release what
the run cached or checkpointed however it ends."""

from __future__ import annotations

import time

import pytest

from tests.test_dedup_maint import _cache_state
from vcf_pg_loader_spark import runner


def _caching_build(spark, frames: list):
    """A build that persists one frame and local-checkpoints another,
    keeping both reachable in `frames` so no GC can release them in the
    runner's place."""

    def build():
        agg = spark.range(200).selectExpr("id % 7 AS k").groupBy("k").count()
        persisted = agg.persist()
        persisted.count()
        checkpointed = spark.range(50).localCheckpoint(eager=True)
        frames.extend([persisted, checkpointed])
        return persisted.join(checkpointed, persisted.k == checkpointed.id)

    return build


def test_phases_add_up_to_the_call(spark):
    t0 = time.perf_counter()
    rec, n = runner.run(spark, _caching_build(spark, []), runner.count)
    wall = time.perf_counter() - t0
    assert n == 7
    assert set(rec) == {
        "build_sec", "exec_sec", "build_jobs", "exec_jobs",
        "build_stages", "exec_stages",
    }
    # the release and the status-store drain sit outside both phases
    assert 0 < runner.seconds(rec) <= wall < runner.seconds(rec) + 1.0
    # the build's persist count and checkpoint are its own jobs
    assert rec["build_jobs"] >= 2 and rec["exec_jobs"] >= 1


def test_lazy_build_fires_no_job(spark):
    rec, n = runner.run(spark, lambda: spark.range(10), runner.count)
    assert n == 10
    assert rec["build_jobs"] == 0 and rec["build_stages"] == 0
    assert rec["exec_jobs"] >= 1 and rec["exec_stages"] >= 1


def test_run_releases_what_the_build_held(spark):
    spark.catalog.clearCache()
    _empty, before = _cache_state(spark)
    frames: list = []
    runner.run(spark, _caching_build(spark, frames), runner.noop)
    assert len(frames) == 2
    empty, after = _cache_state(spark)
    assert empty and after <= before, after - before


@pytest.mark.parametrize("failing", ["build", "action"])
def test_release_and_group_reset_when_the_run_raises(spark, failing):
    spark.catalog.clearCache()
    _empty, before = _cache_state(spark)
    frames: list = []
    caching = _caching_build(spark, frames)

    def build():
        df = caching()
        if failing == "build":
            raise RuntimeError("build failed")
        return df

    def action(df):
        df.count()
        raise RuntimeError("action failed")

    with pytest.raises(RuntimeError, match=f"{failing} failed"):
        runner.run(spark, build, action)
    assert len(frames) == 2
    empty, after = _cache_state(spark)
    assert empty and after <= before, after - before
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.description") is None


def test_phase_counts_only_its_own_jobs(spark):
    spark.range(5).collect()  # a job outside any phase
    with runner.phase(spark, "two") as two:
        spark.range(5).collect()  # no shuffle: one job each
        spark.range(6).collect()
    with runner.phase(spark, "none") as none:
        pass
    assert two["jobs"] == 2 and two["stages"] >= 2 and two["sec"] > 0
    assert none["jobs"] == 0 and none["stages"] == 0
