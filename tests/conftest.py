from __future__ import annotations

import os
import sys

import pytest

# this checkout's package, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# --- suite tiering (optimization round 16, verdict item 7) -----------
# The full suite measured 56 min on this box — past the driver's
# verify window, so an actually-failing tail test would be invisible.
# The measured >=8s tail (125 tests, ~2400s — integration/property
# suites whose operators all retain faster default-tier coverage) is
# marked `slow` from the manifest below and deselected by default
# (pytest.ini addopts).  Full tier: `pytest tests/ -m ""`; slow tier
# alone: `-m slow`.  Regenerate the manifest from a full run with
# --durations and a >=8s cutoff.
_SLOW_MANIFEST = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_MANIFEST) as fh:
            slow = {line.strip() for line in fh if line.strip()}
    except OSError:
        return
    for item in items:
        nodeid = item.nodeid.replace("\\", "/")
        if not nodeid.startswith("tests/"):
            nodeid = "tests/" + nodeid.lstrip("./")
        if nodeid in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from vcf_pg_loader_spark.session import get_spark

    s = get_spark(app_name="vcf-pg-loader-spark-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
