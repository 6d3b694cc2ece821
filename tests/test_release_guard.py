"""Guard: every frame a maintained sink caches goes through the release
scope of streaming/sink.py.

`ParquetUpsertSink.apply_batch` opens one release scope per apply and
releases everything `_held` persisted or `_checkpointed` materialized
when the apply returns (tests/test_dedup_maint.py pins that for every
sink).  The scope only holds if no module under streaming/ caches a
frame on its own, so this scans for the calls that do.
"""

from __future__ import annotations

import pathlib
import re

STREAMING = (
    pathlib.Path(__file__).resolve().parent.parent
    / "vcf_pg_loader_spark"
    / "streaming"
)
CACHES = re.compile(r"\.persist\(|\.unpersist\(|\.cache\(\)|localCheckpoint\(")

# file -> the lines allowed there: the bodies of `_held` and
# `_checkpointed`, whose release the scope registers
EXEMPT = {
    "sink.py": {
        "df = df.persist(StorageLevel.MEMORY_AND_DISK)",
        "cp = df.localCheckpoint(eager=True)",
    },
}


def test_no_cache_outside_the_release_scope():
    offenders, exempt_seen = [], set()
    for py in sorted(STREAMING.rglob("*.py")):
        rel = py.relative_to(STREAMING).as_posix()
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if not CACHES.search(line):
                continue
            if line.strip() in EXEMPT.get(rel, ()):
                exempt_seen.add((rel, line.strip()))
                continue
            offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, offenders
    # an exemption whose line is gone must be dropped from EXEMPT
    assert exempt_seen == {(f, ln) for f, lines in EXEMPT.items() for ln in lines}
