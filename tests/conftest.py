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
