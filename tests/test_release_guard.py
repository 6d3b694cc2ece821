"""Guard: every frame a maintained sink or a sync caches goes through
the release scope of streaming/sink.py.

`ParquetUpsertSink.apply_batch` opens one release scope per apply and
releases everything `_held` persisted or `_checkpointed` materialized
when the apply returns (tests/test_dedup_maint.py pins that for every
sink); `sync-corpus` opens one per sync, so a `sync-serve` loop holds
nothing across syncs (tests/test_round15b.py pins that).  The scopes
only hold if no module under streaming/ and no CLI verb caches a frame
on its own, so this scans for the calls that do.
"""

from __future__ import annotations

import pathlib
import re

PACKAGE = (
    pathlib.Path(__file__).resolve().parent.parent / "vcf_pg_loader_spark"
)
CACHES = re.compile(r"\.persist\(|\.unpersist\(|\.cache\(\)|localCheckpoint\(")

# package-relative file -> the lines allowed there: the bodies of
# `_held` and `_checkpointed`, whose release the scope registers, and
# three one-shot CLI verbs whose process ends with the command —
# validate's and import-gwas's cached frames, and train-vocab's counts
# checkpoint, which its `finally` releases
EXEMPT = {
    "streaming/sink.py": {
        "df = df.persist(StorageLevel.MEMORY_AND_DISK)",
        "cp = df.localCheckpoint(eager=True)",
    },
    "cli.py": {
        "df = read_vcf(spark, args.vcf).cache()",
        "matched = match_gwas_to_variants(stats, variants).cache()",
        "counts_df = counts_df.localCheckpoint(eager=True)",
    },
}


def _scanned():
    yield from sorted((PACKAGE / "streaming").rglob("*.py"))
    yield PACKAGE / "cli.py"


def test_no_cache_outside_the_release_scope():
    offenders, exempt_seen = [], set()
    for py in _scanned():
        rel = py.relative_to(PACKAGE).as_posix()
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
