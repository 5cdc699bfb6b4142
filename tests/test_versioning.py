"""Snapshot write / time-travel read (operators/versioning.py): pinned
versions stay byte-identical, the pointer commit is atomic, retention is
explicit."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hive_release_spark import catalog
from hive_release_spark.operators import versioning as V
from tests.conftest import _jobs


def test_snapshot_write_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "ds")
    df1 = spark.range(0, 5).select("id", F.lit("a").alias("tag"))
    df2 = spark.range(0, 3).select("id", F.lit("b").alias("tag"))

    assert V.snapshot_write(df1, t) == 1
    assert V.snapshot_write(df2, t) == 2
    assert V.list_snapshots(t) == [1, 2]
    assert V.latest_snapshot(t) == 2

    latest = V.read_snapshot(spark, t)
    assert {r.tag for r in latest.collect()} == {"b"} and latest.count() == 3

    pinned = V.read_snapshot(spark, t, version=1)
    assert {r.tag for r in pinned.collect()} == {"a"} and pinned.count() == 5


def test_snapshot_dirs_are_immutable(spark, tmp_path):
    """A snapshot write must never touch an existing version dir, even
    when the pointer is stale: the next version is computed from
    max(pointer, existing dirs), so a stale/lost pointer yields a NEW
    version while v1's bytes stay identical (ADVICE r3 orphan fix)."""
    t = str(tmp_path / "ds")
    V.snapshot_write(spark.range(0, 2), t)
    v1 = os.path.join(t, "v1")
    before = {f: os.path.getmtime(os.path.join(v1, f)) for f in os.listdir(v1)}
    # simulate a stale/lost pointer pointing before an existing dir
    with open(os.path.join(t, "_LATEST"), "w") as fh:
        fh.write("0")
    # next write must SKIP PAST v1 (no collision, no overwrite)
    assert V.snapshot_write(spark.range(0, 3), t) == 2
    after = {f: os.path.getmtime(os.path.join(v1, f)) for f in os.listdir(v1)}
    assert after == before, "v1 was touched by a later snapshot write"
    assert V.read_snapshot(spark, t, version=1).count() == 2


def test_read_missing_snapshot_raises(spark, tmp_path):
    t = str(tmp_path / "ds")
    with pytest.raises(FileNotFoundError, match="no committed snapshot .*no _LATEST pointer"):
        V.read_snapshot(spark, t)
    V.snapshot_write(spark.range(0, 2), t)
    with pytest.raises(FileNotFoundError, match="no snapshot v9 under"):
        V.read_snapshot(spark, t, version=9)


def test_read_after_snapshot_write_launches_no_job(spark, tmp_path):
    """The snapshot write records the version's schema, so the read of
    the committed latest runs no schema-inference job."""
    t = str(tmp_path / "ds")
    df = spark.range(0, 4).select("id", F.lit("a").alias("tag"))
    V.snapshot_write(df, t)
    snap, jobs = _jobs(spark, lambda: V.read_snapshot(spark, t))
    assert jobs == 0
    assert snap.schema == spark.read.parquet(os.path.join(t, "v1")).schema
    assert sorted(r.id for r in snap.collect()) == [0, 1, 2, 3]


def test_expire_keeps_recent_and_latest(spark, tmp_path):
    t = str(tmp_path / "ds")
    for i in range(4):
        V.snapshot_write(spark.range(0, i + 1), t)
    recorded = lambda v: os.path.realpath(os.path.join(t, f"v{v}")) in catalog._file_facts  # noqa: E731
    assert all(recorded(v) for v in (1, 2, 3, 4))
    expired = V.expire_snapshots(t, keep_last=2)
    assert expired == [1, 2]
    assert V.list_snapshots(t) == [3, 4]
    assert V.read_snapshot(spark, t, version=3).count() == 3
    assert [recorded(v) for v in (1, 2, 3, 4)] == [False, False, True, True]


def test_orphan_version_dir_does_not_wedge_writes(spark, tmp_path):
    """ADVICE r3: a crash between the v{n} data write and the _LATEST
    pointer commit leaves an orphan version dir. The next snapshot_write
    must skip past it (max(pointer, dirs)+1), not fail forever on
    mode('error') against the same recomputed n."""
    d = str(tmp_path / "t")
    df = spark.range(3).withColumn("x", F.col("id") * 2)
    v1 = V.snapshot_write(df, d)
    assert v1 == 1
    # Simulate the crash: v2 data exists, pointer still says 1.
    os.makedirs(os.path.join(d, "v2"))
    assert V.latest_snapshot(d) == 1
    v_next = V.snapshot_write(df, d)
    assert v_next == 3  # skipped the orphan, did not collide
    assert V.latest_snapshot(d) == 3
    assert V.read_snapshot(spark, d).count() == 3


def test_no_staging_dirs_left_behind(spark, tmp_path):
    """The staging-dir publish must clean up after itself on success."""
    d = str(tmp_path / "t")
    V.snapshot_write(spark.range(2), d)
    V.snapshot_write(spark.range(4), d)
    assert sorted(os.listdir(d)) == ["_LATEST", "v1", "v2"]


def test_failed_write_leaves_no_staging_dir(spark, tmp_path):
    """A write that fails inside a task removes its staging directory:
    the table keeps only its committed versions and the pointer, and
    the next snapshot write commits."""
    d = str(tmp_path / "t")
    V.snapshot_write(spark.range(2), d)

    @F.udf("long")
    def boom(x):
        raise ValueError("task failure")

    with pytest.raises(Exception, match="task failure"):
        V.snapshot_write(spark.range(3).select(boom("id").alias("id")), d)
    assert sorted(os.listdir(d)) == ["_LATEST", "v1"]
    assert V.snapshot_write(spark.range(3), d) == 2
    assert sorted(os.listdir(d)) == ["_LATEST", "v1", "v2"]
    assert V.read_snapshot(spark, d).count() == 3
