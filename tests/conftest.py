from __future__ import annotations

import gc
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Two-tier suite (r08, VERDICT r07 task 4): the full suite crossed the
# 14-minute mark in r07, so the documented split landed — modules marked
# ``slow`` (the oracle-gate mirror and the writer/DDL round-trip tier,
# `pytestmark = pytest.mark.slow` at module top) are SKIPPED by default
# and run with ``--runslow`` at round close / CI. Default tier stays the
# fast signal (< 5 min); both tiers' wall times are recorded in SCALE.md.
# ---------------------------------------------------------------------------


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="include tests marked slow (oracle-gate / writer round-trip tier)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: round-close tier (oracle-gate mirror, writer round-trips)"
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    skip = pytest.mark.skip(reason="slow tier: pass --runslow (round-close/CI)")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from dbt_ci_demo_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from dbt_ci_demo_spark.oracle_check import duckdb_connection

    con = duckdb_connection(sf_dir)
    yield con
    con.close()


# ---------------------------------------------------------------------------
# Executor-storage snapshots. A frame's local-checkpoint blocks are freed
# by the ContextCleaner only after the frame is garbage-collected on both
# sides of py4j: Python drops its proxies, py4j's finalizer thread (which
# sleeps 1 s when idle) releases the Java objects, a JVM GC clears them,
# and the cleaner thread unpersists the RDDs. A persisted-RDD snapshot
# taken without draining that chain can still hold an earlier test's
# blocks and lose them a moment later.
# ---------------------------------------------------------------------------


def persisted_rdds(spark) -> set:
    """Ids of the RDDs currently persisted in the SparkContext."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def cached_plans(spark) -> list:
    """The CacheManager's entries, as sorted plan strings."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm)
    return sorted(entries.apply(i).plan().toString() for i in range(entries.size()))


def drain_cleaner(spark) -> set:
    """Collect Python garbage, wait for py4j to release the Java objects,
    run a JVM GC, and repeat every 0.1 s until the persisted-RDD set has
    stopped shrinking for three polls (at most 100); returns that set."""
    sc = spark.sparkContext
    pending = sc._gateway._gateway_client.finalizer_deque
    last, stable = None, 0
    for _ in range(100):
        gc.collect()
        deadline = time.monotonic() + 30
        while pending and time.monotonic() < deadline:
            time.sleep(0.02)
        sc._jvm.System.gc()
        time.sleep(0.1)
        now = persisted_rdds(spark)
        stable = stable + 1 if now == last else 0
        last = now
        if stable == 3:
            break
    return last
