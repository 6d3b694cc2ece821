"""Guard: the query runner is the only code that sets job groups or
clears the cache.

`vcf_pg_loader_spark/runner.py` labels each phase's jobs with a job
group of its own and releases what a run held.  A second
`clearCache()` would drop caches a caller's run still needs, and a
second job group would steal the runner's job counts, so this scans
bench.py, tools/ and the package for the calls.
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
