"""The one query runner for bench.py, tools/ and parse_bench.py, and the
only code that sets job groups or clears the cache.  A run's *build*
calls the query function with its eager work (LSH+CC collects, IVF
fits, BPE training), *execute* runs the action on the frame, and the
run releases what the query cached, whose lifetime queries leave to it.
"""

from __future__ import annotations

import contextlib
import time
import uuid


@contextlib.contextmanager
def phase(spark, label: str):
    """Yield a dict that holds, once the block exits, its seconds and
    the Spark jobs and stages it fired (`sec`, `jobs`, `stages`),
    counted through a job group of its own.  The group and description
    are cleared however the block ends."""
    sc = spark.sparkContext
    group = f"{label}-{uuid.uuid4().hex}"
    rec: dict = {}
    sc.setJobGroup(group, label)
    t0 = time.perf_counter()
    try:
        yield rec
    finally:
        rec["sec"] = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # jobs reach the status store through the listener bus; drain
        # it so the block's last job is counted
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        rec["jobs"] = len(jobs)
        rec["stages"] = sum(len(j.stageIds) for j in jobs if j is not None)


def count(df) -> int:
    return df.count()


def noop(df) -> None:
    """Compute every column and discard the output (a count may prune
    columns from the plan)."""
    df.write.format("noop").mode("overwrite").save()


def run(spark, build, action) -> tuple[dict, object]:
    """`action(build())`, timed as a build and an execute phase.
    Whether it returns or raises, the cache manager is cleared and every
    RDD persisted during the run, local checkpoints included, is
    unpersisted.  Returns ({build_sec, exec_sec, build_jobs, exec_jobs,
    build_stages, exec_stages}, the action's result)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    try:
        with phase(spark, "build") as b:
            df = build()
        with phase(spark, "execute") as e:
            result = action(df)
    finally:
        spark.catalog.clearCache()
        held = jsc.getPersistentRDDs()
        for rdd_id in set(held.keySet()) - before:
            held.get(rdd_id).unpersist(False)
    record = {f"{p}_{k}": r[k] for p, r in (("build", b), ("exec", e))
              for k in ("sec", "jobs", "stages")}
    return record, result


def seconds(record: dict) -> float:
    """A run's build + execute seconds."""
    return record["build_sec"] + record["exec_sec"]


def best_of_two(spark, build, action) -> tuple[float, object]:
    """The faster of two runs' seconds, and the second run's result."""
    first, _ = run(spark, build, action)
    second, result = run(spark, build, action)
    return min(seconds(first), seconds(second)), result


def warm(spark, sf_dir: str) -> None:
    """Count every fixture table once, so the first timed query
    measures the query, not JVM bring-up and parquet footer reads."""
    from vcf_pg_loader_spark.sources.tables import FIXTURE_TABLES, load_table

    for t in FIXTURE_TABLES:
        load_table(spark, sf_dir, t).count()
