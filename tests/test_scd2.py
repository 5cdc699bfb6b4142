"""SCD Type-2 maintenance (operators/scd.py): batch history semantics,
incremental CDC apply, idempotent redelivery, and the end-to-end
streaming demonstration — a file-source change feed folded through
foreachBatch must produce EXACTLY the dimension a batch rebuild over
all changes produces."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F  # noqa: F401

from hive_release_spark.operators.scd import scd2_apply, scd2_history
from tests.conftest import _executed_shuffle_stages, _jobs


def _t(d):
    return datetime(2024, 1, 1 + d)


def _rows(df):
    return sorted(
        (r.id, r.version, r.attr, r.valid_from, r.valid_to, r.is_current)
        for r in df.collect()
    )


def test_scd2_history_semantics(spark):
    changes = spark.createDataFrame(
        [
            (1, "a", _t(0)),
            (1, "a", _t(1)),  # no-op change: same run, no new version
            (1, "b", _t(2)),
            (1, "a", _t(4)),  # back to 'a' -> NEW run (version 3)
            (2, "x", _t(3)),
        ],
        "id BIGINT, attr STRING, ts TIMESTAMP",
    )
    out = {(r.id, r.version): r for r in scd2_history(changes).collect()}
    assert len(out) == 4
    assert out[(1, 1)].attr == "a" and out[(1, 1)].valid_to == _t(2)
    assert out[(1, 2)].attr == "b" and out[(1, 2)].valid_to == _t(4)
    assert out[(1, 3)].attr == "a" and out[(1, 3)].is_current
    assert out[(2, 1)].is_current and out[(2, 1)].valid_from == _t(3)


def test_scd2_apply_incremental_equals_batch(spark, tmp_path):
    path = str(tmp_path / "dim")
    b1 = spark.createDataFrame(
        [(1, "a", _t(0)), (2, "x", _t(0)), (1, "b", _t(1))],
        "id BIGINT, attr STRING, ts TIMESTAMP",
    )
    b2 = spark.createDataFrame(
        [(1, "b", _t(2)), (2, "y", _t(3)), (3, "n", _t(3))],
        "id BIGINT, attr STRING, ts TIMESTAMP",
    )
    scd2_apply(spark, path, b1)
    scd2_apply(spark, path, b2)
    got = _rows(spark.read.parquet(path))
    want = _rows(scd2_history(b1.unionByName(b2)))
    assert got == want
    # key 1's batch-2 change was a no-op: still exactly 2 versions
    assert sum(1 for r in got if r[0] == 1) == 2


def test_scd2_apply_redelivery_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "dim")
    b = spark.createDataFrame(
        [(1, "a", _t(0)), (1, "b", _t(1))], "id BIGINT, attr STRING, ts TIMESTAMP"
    )
    scd2_apply(spark, path, b)
    first = _rows(spark.read.parquet(path))
    scd2_apply(spark, path, b)  # redelivered micro-batch
    assert _rows(spark.read.parquet(path)) == first


def test_scd2_streaming_cdc_equals_batch_rebuild(spark, tmp_path):
    """End-to-end: a file-source CDC feed (3 files, one micro-batch
    each) maintained through foreachBatch(scd2_apply) must equal the
    batch rebuild over the concatenated feed."""
    src = str(tmp_path / "feed")
    batches = [
        [(1, "a", _t(0)), (2, "x", _t(0))],
        [(1, "b", _t(2)), (3, "m", _t(2))],
        [(1, "a", _t(4)), (2, "x", _t(4)), (3, "n", _t(5))],
    ]
    for rows in batches:
        spark.createDataFrame(
            rows, "id BIGINT, attr STRING, ts TIMESTAMP"
        ).coalesce(1).write.mode("append").parquet(src)

    dim = str(tmp_path / "dim")
    q = (
        spark.readStream.schema("id LONG, attr STRING, ts TIMESTAMP_NTZ")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(
            lambda batch_df, batch_id: scd2_apply(spark, dim, batch_df)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    all_changes = spark.createDataFrame(
        [r for b in batches for r in b], "id BIGINT, attr STRING, ts TIMESTAMP"
    )
    got = _rows(spark.read.parquet(dim))
    want = _rows(scd2_history(all_changes))
    assert got == want
    # the 2026-day-4 'a' for key 1 is a REAL new version (a->b->a)
    assert sum(1 for r in got if r[0] == 1) == 3


def test_scd2_apply_leaves_no_storage_blocks(spark, tmp_path):
    """The incremental apply commits through a staged swap: once it
    returns, no cached or checkpointed block is left in storage."""
    path = str(tmp_path / "dim")
    b1 = spark.createDataFrame(
        [(1, "a", _t(0)), (2, "x", _t(0))], "id BIGINT, attr STRING, ts TIMESTAMP"
    )
    b2 = spark.createDataFrame(
        [(1, "b", _t(1)), (3, "n", _t(1))], "id BIGINT, attr STRING, ts TIMESTAMP"
    )
    scd2_apply(spark, path, b1)
    scd2_apply(spark, path, b2)
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == 0
    assert _rows(spark.read.parquet(path)) == _rows(scd2_history(b1.unionByName(b2)))


def test_second_scd2_apply_runs_no_schema_inference(spark, tmp_path):
    """Each apply records the dimension's schema, so a later apply reads
    it without a schema-inference job: with AQE off, and the batch a
    local frame, an apply is one job, the staged write."""
    path = str(tmp_path / "dim")
    b1 = spark.createDataFrame(
        [(1, "a", _t(0)), (2, "x", _t(0))], "id BIGINT, attr STRING, ts TIMESTAMP"
    )
    b2 = spark.createDataFrame(
        [(1, "b", _t(1)), (3, "n", _t(1))], "id BIGINT, attr STRING, ts TIMESTAMP"
    )
    b3 = spark.createDataFrame([(2, "y", _t(2))], "id BIGINT, attr STRING, ts TIMESTAMP")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        scd2_apply(spark, path, b1)
        jobs = [_jobs(spark, lambda b=b: scd2_apply(spark, path, b))[1] for b in (b2, b3)]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert jobs == [1, 1]
    want = scd2_history(b1.unionByName(b2).unionByName(b3))
    assert _rows(spark.read.parquet(path)) == _rows(want)


def test_second_scd2_apply_shuffles_only_the_key_window(spark, tmp_path):
    """The affected keys feed only a semi and an anti join, so they
    broadcast straight from the batch's scan with no aggregate exchange:
    a fold writes shuffle data in exactly one stage, the key window of
    the rebuilt history. The batches are Parquet files, as a streaming
    feed delivers them, so the planner knows their size."""
    path = str(tmp_path / "dim")
    batches = [
        [(1, "a", _t(0)), (2, "x", _t(0))],
        [(1, "b", _t(1)), (1, "c", _t(2)), (3, "n", _t(1))],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "id BIGINT, attr STRING, ts TIMESTAMP").write.parquet(
            str(tmp_path / f"b{i}")
        )
    b1, b2 = (spark.read.parquet(str(tmp_path / f"b{i}")) for i in range(2))
    scd2_apply(spark, path, b1)
    assert _executed_shuffle_stages(spark, lambda: scd2_apply(spark, path, b2)) == 1
    assert _rows(spark.read.parquet(path)) == _rows(scd2_history(b1.unionByName(b2)))
