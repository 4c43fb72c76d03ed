from __future__ import annotations

import os

import pytest

from hypermap_etl_spark.session import get_spark

# Two-tier suite (r11, VERDICT r10 #8): the ids in slow_tests.txt get
# the `slow` marker at collection time, and pyproject's default
# addopts (-m "not slow") deselect them so a budget-bounded plain
# `pytest tests/` run completes with every oracle-parity param and
# every plan-pin test still executed. `pytest tests/ -m ''` runs the
# FULL suite (done at every round close). The list is generated from a
# committed --durations run; see the file header for the rule.
_SLOW_FILE = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_FILE) as f:
            slow = {
                line.strip()
                for line in f
                if line.strip() and not line.startswith("#")
            }
    except OSError:
        return
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # shuffle.partitions=8 for the TEST session only (r11, VERDICT r10
    # #8): the suite runs ~1150 Spark actions over sf0.001-scale data,
    # where 32-task exchanges are pure scheduling overhead — measured
    # 58 -> 43 s on test_scale_ops alone, ~25% suite-wide, with zero
    # semantic effect (test_partition_invariance sweeps partition
    # counts explicitly; production sessions keep the env-driven
    # default). This is what lets the driver's pytest budget finish.
    # One task thread per core the suite runs on (SPARK_GRAFT_CPUS, set
    # to nproc by the tier-1 command): on a 4-core host local[8]
    # oversubscribes the cores, and the cli/incremental_delta/
    # merge_serving files ran 286 s at local[8] against 241 s at
    # local[4] (shuffle.partitions 4 instead of 8 gained nothing more).
    s = get_spark(
        "hypermap-etl-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s
    s.stop()
