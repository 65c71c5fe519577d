from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The engine's default driver heap (48g) is larger than most hosts, and
# G1 grows the heap towards it before it collects the old generation:
# on a 15.7 GB host the kernel killed the suite's JVM at 15-16 GB
# resident, in one run within its first 40 tests. Half the physical
# memory keeps the JVM inside the machine without slowing the tests
# (test_no_scale_antipatterns_in_any_batch_plan: 268 s at 7g, 278 s at
# 48g, GC 2 s in both); sessions that tests start in subprocesses
# inherit the same size.
_HALF_MEMORY_GB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1, _HALF_MEMORY_GB)}g")


@pytest.fixture(scope="session")
def spark():
    from flink_scala_spark.session import get_spark

    yield get_spark("tests")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
