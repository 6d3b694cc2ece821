"""Guard: the query runner is the only code that sets job groups or
clears the cache, and tools/ time Spark work only through it.

`vcf_pg_loader_spark/runner.py` labels each phase's jobs with a job
group of its own and releases what a run held.  A second
`clearCache()` would drop caches a caller's run still needs, and a
second job group would steal the runner's job counts, so this scans
bench.py, tools/ and the package for the calls.  A private timer in a
tool records wall time only: no jobs, no stages, and nothing released,
so tools/*.py time through `runner.phase` / `runner.run` instead.
"""

from __future__ import annotations

import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
CALLS = re.compile(r"clearCache\(|setJobGroup\(|setJobDescription\(")

# repo-relative file -> the lines allowed there: the runner's own
EXEMPT = {
    "vcf_pg_loader_spark/runner.py": {
        "sc.setJobGroup(group, label)",
        "spark.catalog.clearCache()",
    },
}


def _scanned():
    yield REPO / "bench.py"
    yield from sorted((REPO / "tools").glob("*.py"))
    yield from sorted((REPO / "vcf_pg_loader_spark").rglob("*.py"))


def test_no_cache_clear_or_job_group_outside_the_runner():
    offenders, exempt_seen = [], set()
    for py in _scanned():
        rel = py.relative_to(REPO).as_posix()
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if not CALLS.search(line):
                continue
            if line.strip() in EXEMPT.get(rel, ()):
                exempt_seen.add((rel, line.strip()))
                continue
            offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, offenders
    # an exemption whose line is gone must be dropped from EXEMPT
    assert exempt_seen == {(f, ln) for f, lines in EXEMPT.items() for ln in lines}


TIMERS = re.compile(r"time\.monotonic\(|perf_counter\(")

# repo-relative file -> the timer lines allowed there: the scale
# fixture generator's progress prints (no session to phase in yet at
# its start) and the wall of a child CLI process, whose Spark jobs run
# in the child's JVM
TIMER_EXEMPT = {
    "tools/make_scale_fixture.py": {
        "t_all = time.monotonic()",
        "t0 = time.monotonic()",
        'print(f"{t}: {n} rows in {time.monotonic()-t0:.1f}s", flush=True)',
        'print(f"done in {time.monotonic()-t_all:.1f}s -> {args.out}")',
    },
    "tools/scale_rehearsal.py": {
        "t0 = time.monotonic()",
        "wall = time.monotonic() - t0",
    },
}


def test_tools_time_spark_work_through_the_runner():
    offenders, exempt_seen = [], set()
    for py in sorted((REPO / "tools").glob("*.py")):
        rel = py.relative_to(REPO).as_posix()
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if not TIMERS.search(line):
                continue
            if line.strip() in TIMER_EXEMPT.get(rel, ()):
                exempt_seen.add((rel, line.strip()))
                continue
            offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, offenders
    assert exempt_seen == {
        (f, ln) for f, lines in TIMER_EXEMPT.items() for ln in lines
    }
