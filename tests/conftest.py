from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hainan_big_data_recommend_system_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# ``slow`` tier (round 16): the default run must finish inside the
# driver-verify window (see pytest.ini).  The tier is a measured LIST —
# per-test wall times from a full uncontended run — rather than
# hand-placed decorators, so parametrized cases split correctly (one
# fuzz param can be 100x its siblings) and the list regenerates from any
# ``--durations=0`` run.  Membership only DESELECTS by default; every
# test still runs under ``-m ""`` and assertions are untouched.
_SLOW_LIST = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_LIST) as fh:
            slow_ids = {ln.strip() for ln in fh if ln.strip()}
    except OSError:
        return
    for item in items:
        if item.nodeid in slow_ids:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir():
    return SF_ORACLE


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` in a job group of its own and
    returns ``(fn(), number of Spark jobs it launched)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        # the status store is fed by the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
