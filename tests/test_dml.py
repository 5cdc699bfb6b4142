"""DML join-rewrites (UPDATE/DELETE/MERGE/multi-insert) on copy-on-write
parquet tables — SURVEY.md §2.B ACID mapping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_release_spark.operators import dml


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id BIGINT, name STRING, val DOUBLE",
    ).write.parquet(path)
    return path


def test_update(spark, table):
    dml.update_table(spark, table, {"val": F.col("val") * 2}, F.col("id") <= 2)
    got = {r.id: r.val for r in spark.read.parquet(table).collect()}
    assert got == {1: 20.0, 2: 40.0, 3: 30.0, 4: 40.0}


def test_delete(spark, table):
    dml.delete_from(spark, table, F.col("val") > 25)
    got = sorted(r.id for r in spark.read.parquet(table).collect())
    assert got == [1, 2]


def test_merge_upsert(spark, table):
    source = spark.createDataFrame(
        [(2, "B", 99.0), (5, "e", 50.0)], "id BIGINT, name STRING, val DOUBLE"
    )
    dml.merge_into(
        spark,
        table,
        source,
        on=["id"],
        matched_update={"val": F.col("src.val"), "name": F.col("src.name")},
        not_matched_insert=True,
    )
    got = {r.id: (r.name, r.val) for r in spark.read.parquet(table).collect()}
    assert got == {
        1: ("a", 10.0),
        2: ("B", 99.0),
        3: ("c", 30.0),
        4: ("d", 40.0),
        5: ("e", 50.0),
    }


def test_merge_cardinality_violation(spark, table):
    dup_source = spark.createDataFrame(
        [(2, "x", 1.0), (2, "y", 2.0)], "id BIGINT, name STRING, val DOUBLE"
    )
    with pytest.raises(ValueError, match="cardinality"):
        dml.merge_into(spark, table, dup_source, on=["id"], not_matched_insert=True)


def test_multi_insert(spark, table, tmp_path):
    df = spark.read.parquet(table)
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    dml.multi_insert(
        df,
        [
            (out1, lambda d: d.filter(F.col("val") >= 25).select("id")),
            (out2, lambda d: d.groupBy().agg(F.sum("val").alias("total"))),
        ],
    )
    assert sorted(r.id for r in spark.read.parquet(out1).collect()) == [3, 4]
    assert spark.read.parquet(out2).collect()[0].total == 100.0


def test_insert_into_append(spark, table):
    rows = spark.createDataFrame([(9, "z", 90.0)], "id BIGINT, name STRING, val DOUBLE")
    dml.insert_into(spark, table, rows)
    assert spark.read.parquet(table).count() == 5

@pytest.fixture()
def nullable_first_col_table(spark, tmp_path):
    """First column nullable and NULL on a matched row — the ADVICE r01
    regression: matched-detection must not key off data-column nullness."""
    path = str(tmp_path / "t_null")
    spark.createDataFrame(
        [(None, 1, 10.0), ("b", 2, 20.0)], "note STRING, id BIGINT, val DOUBLE"
    ).write.parquet(path)
    return path


def test_merge_matched_row_with_null_first_column_updates(spark, nullable_first_col_table):
    source = spark.createDataFrame(
        [(1, 99.0), (3, 30.0)], "id BIGINT, val DOUBLE"
    )
    dml.merge_into(
        spark,
        nullable_first_col_table,
        source,
        on=["id"],
        matched_update={"val": F.col("src.val")},
        not_matched_insert=True,
    )
    got = {r.id: (r.note, r.val) for r in spark.read.parquet(nullable_first_col_table).collect()}
    # id=1 matched (despite NULL note): updated, note preserved, NOT re-inserted
    assert got[1] == (None, 99.0)
    assert got[2] == ("b", 20.0)
    # id=3 inserted; note not in source -> NULL
    assert got[3] == (None, 30.0)
    assert len(got) == 3


def test_merge_matched_delete_referencing_source_columns(spark, table):
    """Canonical CDC MERGE: WHEN MATCHED AND src.op='D' THEN DELETE."""
    source = spark.createDataFrame(
        [(1, "D", 0.0), (2, "U", 99.0), (5, "I", 50.0)],
        "id BIGINT, op STRING, val DOUBLE",
    )
    dml.merge_into(
        spark,
        table,
        source,
        on=["id"],
        matched_update={"val": F.col("src.val")},
        matched_delete=F.col("src.op") == "D",
        not_matched_insert=True,
    )
    got = {r.id: r.val for r in spark.read.parquet(table).collect()}
    assert 1 not in got            # deleted via src.op = 'D'
    assert got[2] == 99.0          # updated
    assert got[3] == 30.0 and got[4] == 40.0
    assert got[5] == 50.0          # inserted (op column not in target schema)


def test_merge_no_insert_drops_source_only_rows(spark, table):
    source = spark.createDataFrame([(2, "B", 99.0), (7, "x", 1.0)],
                                   "id BIGINT, name STRING, val DOUBLE")
    dml.merge_into(
        spark, table, source, on=["id"],
        matched_update={"val": F.col("src.val")}, not_matched_insert=False,
    )
    got = {r.id: r.val for r in spark.read.parquet(table).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}

def test_partition_scoped_delete_leaves_other_partitions_untouched(spark, tmp_path):
    """SCALE.md cliff #4: DELETE with a partition predicate must rewrite only
    the affected partition directory — untouched partitions keep byte-identical
    files and mtimes."""
    import os

    path = str(tmp_path / "part_t")
    spark.createDataFrame(
        [("2026-01-01", 1, 10.0), ("2026-01-01", 2, 20.0),
         ("2026-01-02", 3, 30.0), ("2026-01-02", 4, 40.0)],
        "dt STRING, id BIGINT, val DOUBLE",
    ).write.partitionBy("dt").parquet(path)

    def snapshot(day):
        d = os.path.join(path, f"dt={day}")
        return {
            f: (os.path.getmtime(os.path.join(d, f)), open(os.path.join(d, f), "rb").read())
            for f in sorted(os.listdir(d)) if not f.startswith(".")
        }

    before_day2 = snapshot("2026-01-02")
    dml.delete_from(
        spark, path, F.col("id") == 1,
        partition_filter=F.col("dt") == "2026-01-01", partition_cols=["dt"],
    )
    # partition-dir type inference reads dt back as DATE; compare as strings
    got = sorted((str(r.dt), r.id) for r in spark.read.parquet(path).collect())
    assert got == [("2026-01-01", 2), ("2026-01-02", 3), ("2026-01-02", 4)]
    assert snapshot("2026-01-02") == before_day2


def test_partition_scoped_update_and_full_partition_delete(spark, tmp_path):
    import os

    path = str(tmp_path / "part_t2")
    spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0)],
        "grp STRING, id BIGINT, val DOUBLE",
    ).write.partitionBy("grp").parquet(path)

    dml.update_table(
        spark, path, {"val": F.col("val") + 1}, F.col("id") == 1,
        partition_filter=F.col("grp") == "a", partition_cols=["grp"],
    )
    got = {r.id: r.val for r in spark.read.parquet(path).collect()}
    assert got == {1: 11.0, 2: 20.0, 3: 30.0}

    # deleting every row of partition b removes its directory
    dml.delete_from(
        spark, path, F.lit(True),
        partition_filter=F.col("grp") == "b", partition_cols=["grp"],
    )
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [1, 2]
    assert not os.path.exists(os.path.join(path, "grp=b"))


def test_concurrent_write_detected(spark, table):
    """A writer that commits between another rewrite's read and swap must
    be detected — the rewrite aborts with ConcurrentWriteError and the
    interloper's committed table survives untouched."""
    import os

    def conflicting_transform(df):
        # simulate a concurrent commit landing mid-rewrite
        extra = os.path.join(table, "part-interloper.parquet")
        spark.createDataFrame(
            [(99, "z", 99.0)], "id BIGINT, name STRING, val DOUBLE"
        ).coalesce(1).write.mode("overwrite").parquet(extra + ".tmp")
        os.rename(
            next(
                os.path.join(extra + ".tmp", f)
                for f in os.listdir(extra + ".tmp")
                if f.endswith(".parquet")
            ),
            extra,
        )
        return df.filter(F.col("id") != 1)

    with pytest.raises(dml.ConcurrentWriteError):
        dml._rewrite(spark, table, conflicting_transform)
    ids = sorted(r.id for r in spark.read.parquet(table).collect())
    assert ids == [1, 2, 3, 4, 99]  # loser's delete NOT applied; winner kept


def test_partition_conflict_scoped_to_affected(spark, tmp_path):
    """A concurrent commit in an UNAFFECTED partition is not a conflict
    for a partition-scoped rewrite — only the affected partitions'
    fingerprints gate the swap."""
    import os
    import time

    path = str(tmp_path / "pt")
    spark.createDataFrame(
        [(1, "p1", 1.0), (2, "p2", 2.0)], "id BIGINT, day STRING, val DOUBLE"
    ).write.partitionBy("day").parquet(path)

    def transform_touching_other_partition(df):
        # concurrent commit lands in day=p2 mid-rewrite of day=p1
        p2_file = next(
            os.path.join(path, "day=p2", f)
            for f in os.listdir(os.path.join(path, "day=p2"))
            if f.endswith(".parquet")
        )
        time.sleep(0.01)  # ensure a distinct mtime_ns granule
        os.utime(p2_file)
        return df.filter(F.col("id") != 1)

    dml._rewrite_partitions(
        spark,
        path,
        transform_touching_other_partition,
        partition_filter=F.col("day") == "p1",
        partition_cols=["day"],
    )  # must NOT raise: the touched partition is outside the rewrite scope
    got = sorted((r.id, r.day) for r in spark.read.parquet(path).collect())
    assert got == [(2, "p2")]


def test_partition_scoped_merge_untouched_partition_and_new_partition(spark, tmp_path):
    """VERDICT r2 #6: MERGE with partition_filter rewrites only the scoped
    partitions (unaffected partitions keep byte-identical files + mtimes),
    updates matched rows, and inserts rows into a partition the target had
    no rows for (new directory appears)."""
    import os

    path = str(tmp_path / "merge_part_t")
    spark.createDataFrame(
        [("2026-01-01", 1, 10.0), ("2026-01-01", 2, 20.0),
         ("2026-01-02", 3, 30.0), ("2026-01-02", 4, 40.0)],
        "dt STRING, id BIGINT, val DOUBLE",
    ).write.partitionBy("dt").parquet(path)

    def snapshot(day):
        d = os.path.join(path, f"dt={day}")
        return {
            f: (os.path.getmtime(os.path.join(d, f)), open(os.path.join(d, f), "rb").read())
            for f in sorted(os.listdir(d)) if not f.startswith(".")
        }

    before_day2 = snapshot("2026-01-02")
    source = spark.createDataFrame(
        [("2026-01-01", 1, 99.0),      # matched update in scoped partition
         ("2026-01-01", 7, 70.0),      # insert into existing scoped partition
         ("2026-01-03", 8, 80.0)],     # insert into brand-new partition
        "dt STRING, id BIGINT, val DOUBLE",
    )
    dml.merge_into(
        spark, path, source, on=["id"],
        matched_update={"val": F.col("src.val")},
        partition_filter=F.col("dt").isin("2026-01-01", "2026-01-03"),
        partition_cols=["dt"],
    )
    got = sorted((str(r.dt), r.id, r.val) for r in spark.read.parquet(path).collect())
    assert got == [
        ("2026-01-01", 1, 99.0), ("2026-01-01", 2, 20.0), ("2026-01-01", 7, 70.0),
        ("2026-01-02", 3, 30.0), ("2026-01-02", 4, 40.0),
        ("2026-01-03", 8, 80.0),
    ]
    assert snapshot("2026-01-02") == before_day2
    assert os.path.isdir(os.path.join(path, "dt=2026-01-03"))


def test_partition_scoped_merge_rejects_out_of_scope_source(spark, tmp_path):
    """A source row outside partition_filter would update/insert a partition
    the scoped rewrite never read — must raise, not silently drop."""
    path = str(tmp_path / "merge_scope_t")
    spark.createDataFrame(
        [("2026-01-01", 1, 10.0), ("2026-01-02", 2, 20.0)],
        "dt STRING, id BIGINT, val DOUBLE",
    ).write.partitionBy("dt").parquet(path)
    source = spark.createDataFrame(
        [("2026-01-02", 2, 99.0)], "dt STRING, id BIGINT, val DOUBLE"
    )
    with pytest.raises(ValueError, match="outside partition_filter"):
        dml.merge_into(
            spark, path, source, on=["id"],
            matched_update={"val": F.col("src.val")},
            partition_filter=F.col("dt") == "2026-01-01",
            partition_cols=["dt"],
        )


def test_partition_scoped_update_rejects_partition_col_reassignment(spark, tmp_path):
    """Reassigning a partition column would move rows into partitions the
    scoped rewrite doesn't own — must raise up front."""
    path = str(tmp_path / "upd_guard_t")
    spark.createDataFrame(
        [("a", 1, 10.0)], "grp STRING, id BIGINT, val DOUBLE"
    ).write.partitionBy("grp").parquet(path)
    with pytest.raises(ValueError, match="cannot reassign partition columns"):
        dml.update_table(
            spark, path, {"grp": F.lit("b")}, F.col("id") == 1,
            partition_filter=F.col("grp") == "a", partition_cols=["grp"],
        )


def test_partition_scoped_merge_rejects_partition_col_reassignment(spark, tmp_path):
    """Same guard as the scoped UPDATE (ADVICE r3): a matched_update that
    rewrites a partition column moves rows into partitions outside the
    rewrite scope, and if the destination partition exists the commit's
    ConcurrentWriteError('retry') could never be cleared — raise up front."""
    path = str(tmp_path / "merge_guard_t")
    spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 20.0)], "grp STRING, id BIGINT, val DOUBLE"
    ).write.partitionBy("grp").parquet(path)
    source = spark.createDataFrame([("a", 1, 99.0)], "grp STRING, id BIGINT, val DOUBLE")
    with pytest.raises(ValueError, match="cannot reassign partition columns"):
        dml.merge_into(
            spark, path, source, on=["id"],
            matched_update={"grp": F.lit("b"), "val": F.col("src.val")},
            partition_filter=F.col("grp") == "a",
            partition_cols=["grp"],
        )


def test_merge_schema_evolution(spark, tmp_path):
    """evolve_schema=True adds source-only columns to the target (typed
    NULL on pre-existing rows, source values on inserts, matched rows
    only via matched_update); evolve_schema=False keeps today's silent-
    drop behavior so existing callers are unchanged."""
    path = str(tmp_path / "evolve_t")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id BIGINT, val DOUBLE"
    ).write.parquet(path)
    source = spark.createDataFrame(
        [(2, 99.0, "gold"), (3, 30.0, "silver")], "id BIGINT, val DOUBLE, tier STRING"
    )
    dml.merge_into(
        spark, path, source, on=["id"],
        matched_update={"val": F.col("src.val"), "tier": F.col("src.tier")},
        evolve_schema=True,
    )
    got = {r.id: (r.val, r.tier) for r in spark.read.parquet(path).collect()}
    assert got == {1: (10.0, None), 2: (99.0, "gold"), 3: (30.0, "silver")}

    # without evolution the extra column is dropped, not an error
    path2 = str(tmp_path / "no_evolve_t")
    spark.createDataFrame([(1, 10.0)], "id BIGINT, val DOUBLE").write.parquet(path2)
    dml.merge_into(
        spark, path2, source.filter(F.col("id") == 3), on=["id"],
        matched_update={"val": F.col("src.val")},
    )
    assert set(spark.read.parquet(path2).columns) == {"id", "val"}


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


def _files(d):
    """{file: (mtime, bytes)} of every data file under ``d``."""
    import os

    return {
        os.path.relpath(os.path.join(root, f), d): (
            os.path.getmtime(os.path.join(root, f)),
            open(os.path.join(root, f), "rb").read(),
        )
        for root, _dirs, files in os.walk(d)
        for f in files
    }


@pytest.fixture()
def escaped_table(spark, tmp_path):
    """Partitions whose directory names Spark escapes (``k=a%3A1``,
    ``t=... 10%3A30%3A00``) plus the NULL partition
    (``k=__HIVE_DEFAULT_PARTITION__``)."""
    import datetime as dt

    path = str(tmp_path / "esc_t")
    t1, t2 = dt.datetime(2024, 1, 1, 10, 30), dt.datetime(2024, 1, 2, 8, 0)
    spark.createDataFrame(
        [("a:1", t1, 1, 10.0), ("a:1", t1, 2, 20.0), ("a:1", t2, 3, 30.0),
         (None, t1, 4, 40.0), ("b/2", t2, 5, 50.0)],
        "k STRING, t TIMESTAMP, id BIGINT, val DOUBLE",
    ).write.partitionBy("k", "t").parquet(path)
    return path, t1, t2


def test_partition_scoped_dml_on_escaped_and_null_partitions(spark, escaped_table):
    """Partition values Spark escapes on disk and the NULL partition are
    found by every scoped statement: each commits (no unclearable
    ConcurrentWriteError('retry')) and leaves the other partitions'
    files untouched."""
    import os

    path, t1, t2 = escaped_table
    scope = dict(partition_cols=["k", "t"])
    assert os.path.isdir(os.path.join(path, "k=a%3A1"))
    other = os.path.join(path, "k=b%2F2")
    before = _files(other)

    dml.delete_from(
        spark, path, F.col("id") == 1,
        partition_filter=(F.col("k") == "a:1") & (F.col("t") == F.lit(t1)), **scope,
    )
    dml.update_table(
        spark, path, {"val": F.col("val") + 1}, F.lit(True),
        partition_filter=F.col("k").isNull(), **scope,
    )
    dml.merge_into(
        spark, path,
        spark.createDataFrame(
            [("a:1", t2, 3, 99.0), ("a:1", t2, 6, 60.0)],
            "k STRING, t TIMESTAMP, id BIGINT, val DOUBLE",
        ),
        on=["id"], matched_update={"val": F.col("src.val")},
        partition_filter=F.col("k") == "a:1", **scope,
    )
    got = sorted(
        (r.k or "", r.t, r.id, r.val) for r in spark.read.parquet(path).collect()
    )
    assert got == [
        ("", t1, 4, 41.0),
        ("a:1", t1, 2, 20.0),
        ("a:1", t2, 3, 99.0),
        ("a:1", t2, 6, 60.0),
        ("b/2", t2, 5, 50.0),
    ]
    assert _files(other) == before


def test_partition_matching_reads_no_data(spark, escaped_table):
    """Affected partitions come from the directory listing: matching
    launches no Spark job and returns the names as they are on disk."""
    path, t1, _t2 = escaped_table
    df = spark.read.parquet(path)
    got, jobs = _jobs(spark, lambda: dml._matching_partitions(
        spark, df, path,
        F.col("k").isNull() | ((F.col("k") == "a:1") & (F.col("t") == F.lit(t1))),
        ["k", "t"],
    ))
    assert jobs == 0
    assert sorted(got) == [
        "k=__HIVE_DEFAULT_PARTITION__/t=2024-01-01 10%3A30%3A00",
        "k=a%3A1/t=2024-01-01 10%3A30%3A00",
    ]


def test_partition_scoped_update_delete_job_count(spark, escaped_table):
    """A scoped UPDATE or DELETE runs at most the target's schema
    inference and the staged write — no scan to find its partitions."""
    path, _t1, _t2 = escaped_table
    scope = dict(partition_filter=F.col("k") == "a:1", partition_cols=["k", "t"])
    _, jobs = _jobs(spark, lambda: dml.update_table(
        spark, path, {"val": F.col("val") * 2}, F.col("id") == 2, **scope
    ))
    assert jobs <= 2
    _, jobs = _jobs(spark, lambda: dml.delete_from(spark, path, F.col("id") == 2, **scope))
    assert jobs <= 2


def test_partition_scoped_merge_checks_source_in_one_aggregate(spark, escaped_table):
    """Both MERGE source checks (scope and cardinality) are one aggregate.
    With AQE off every query is one job, so a scoped MERGE is exactly
    three: the source checks, the target's schema inference and the
    staged write."""
    path, _t1, t2 = escaped_table
    source = spark.createDataFrame(
        [("a:1", t2, 3, 99.0)], "k STRING, t TIMESTAMP, id BIGINT, val DOUBLE"
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, jobs = _jobs(spark, lambda: dml.merge_into(
            spark, path, source, on=["id"], matched_update={"val": F.col("src.val")},
            partition_filter=F.col("k") == "a:1", partition_cols=["k", "t"],
        ))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert jobs == 3
    assert {r.id: r.val for r in spark.read.parquet(path).collect()}[3] == 99.0


def test_merge_out_of_scope_reported_before_duplicates(spark, tmp_path):
    """A source that is both out of scope and duplicate-keyed raises the
    scope error: the checks keep their order."""
    path = str(tmp_path / "order_t")
    spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 20.0)], "grp STRING, id BIGINT, val DOUBLE"
    ).write.partitionBy("grp").parquet(path)
    source = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 1, 2.0), ("b", 2, 3.0)], "grp STRING, id BIGINT, val DOUBLE"
    )
    with pytest.raises(ValueError, match="outside partition_filter"):
        dml.merge_into(
            spark, path, source, on=["id"],
            partition_filter=F.col("grp") == "a", partition_cols=["grp"],
        )


def test_merge_empty_source_keeps_table_byte_identical(spark, table):
    before = _files(table)
    empty = spark.createDataFrame([], "id BIGINT, name STRING, val DOUBLE")
    dml.merge_into(
        spark, table, empty, on=["id"], matched_update={"val": F.col("src.val")},
        matched_delete=F.lit(True),
    )
    assert _files(table) == before


def test_merge_null_key_duplicates_violate_cardinality(spark, table):
    """NULL keys group together, so two NULL-keyed source rows are a
    duplicate key, as groupBy counts them."""
    source = spark.createDataFrame(
        [(None, "x", 1.0), (None, "y", 2.0)], "id BIGINT, name STRING, val DOUBLE"
    )
    with pytest.raises(ValueError, match="cardinality"):
        dml.merge_into(spark, table, source, on=["id"])
