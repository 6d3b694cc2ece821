"""Guard: every rename of maintained state goes through durable.py.

The stage → swap → heal protocol, and the crash-point sweep that proves
it (tests/test_durable_sweep.py), only hold if no other module moves
state paths on its own.  This scans the package for the calls that do.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "vcf_pg_loader_spark"
RENAMES = re.compile(
    r"\b(shutil\.move|os\.rename|os\.replace)\b"
    r"|from (os|shutil) import .*\b(rename|replace|move)\b"
)

# file -> the one line allowed there, with the reason
EXEMPT = {
    # publish of one finished shard file into the output directory of
    # a task; not maintained state, and it runs inside Spark tasks on
    # the executors, where the protocol's directory swap does not apply
    "operators/tokenids.py": "os.replace(tmp, final)",
    # the atomic flip of a symlink between immutable view versions
    # (write-new-then-repoint); no directory is swapped
    "plans/views.py": "os.replace(tmp_link, link)",
}


def test_no_state_rename_outside_durable():
    offenders, exempt_seen = [], set()
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        if rel == "durable.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if not RENAMES.search(line):
                continue
            if EXEMPT.get(rel) == line.strip():
                exempt_seen.add(rel)
                continue
            offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, offenders
    # an exemption whose line is gone must be dropped from EXEMPT
    assert exempt_seen == set(EXEMPT)
