"""Shared fixtures: one SparkSession per test session (local mode), plus
DuckDB oracle connections. Test strategy mirrors the reference's
(SURVEY.md §5): computed golden results via an independent engine
(DuckDB ≈ Hive's .q.out golden files), unit tests per component, and
streaming/DML integration tests.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from hive_release_spark.session import get_session

    s = get_session(
        app_name="hive_release_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false", "spark.ui.enabled": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _release_dropped_blocks(spark) -> None:
    """Free the storage blocks of frames that earlier tests dropped, so a
    test can assert that the JVM-wide storage holds no block of its own.
    Spark's ContextCleaner releases a block only after the JVM collects
    its RDD, which a long test session may not do for many minutes;
    blocks of frames still referenced stay. Gives up after 30 s."""
    import gc
    import time

    gc.collect()  # release the Python-side py4j references first
    sc = spark.sparkContext
    deadline = time.monotonic() + 30.0
    while len(sc._jsc.sc().getRDDStorageInfo()) and time.monotonic() < deadline:
        sc._jvm.System.gc()
        time.sleep(0.2)


def _executed_shuffle_stages(spark, action):
    """Run ``action`` and return how many NEW stages wrote shuffle
    data (shuffleWriteRecords > 0) during it, per the live
    AppStatusStore."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    defaults = [
        getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
    ]

    def stage_rows():
        lst = store.stageList(empty, *defaults)
        return [lst.apply(i) for i in range(lst.size())]

    before = {s.stageId() for s in stage_rows()}
    action()
    return sum(
        1
        for s in stage_rows()
        if s.stageId() not in before and s.shuffleWriteRecords() > 0
    )


def _jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return (its result, the
    number of Spark jobs it launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def oracle_con():
    from hive_release_spark import testing

    return testing.duckdb_con(SF_SMOKE)
