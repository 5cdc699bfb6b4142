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


@pytest.fixture(autouse=True)
def _scoped():
    """Run every test inside ``pipeline_scope``, so each test frees the
    persists and local checkpoints it made before the next one starts:
    a storage assertion sees only its own test's blocks."""
    from hive_release_spark.operators.cache import pipeline_scope

    with pipeline_scope():
        yield


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
