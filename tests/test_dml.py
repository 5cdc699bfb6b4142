"""DML join-rewrites (UPDATE/DELETE/MERGE/multi-insert) on copy-on-write
parquet tables — SURVEY.md §2.B ACID mapping."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from hive_release_spark import catalog
from hive_release_spark.operators import dml, scd, versioning
from tests.conftest import _executed_shuffle_stages, _jobs


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


def _source_scans(spark, fn):
    """Run ``fn()``; return (its result, how many parquet scans in the
    SQL executions it started read files). A scan served from the cache
    reads none."""
    sql = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        lst = sql.executionsList()
        return [lst.apply(i).executionId() for i in range(lst.size())]

    bus.waitUntilEmpty()
    before = set(executions())
    out = fn()
    bus.waitUntilEmpty()
    scans = 0
    for eid in set(executions()) - before:
        values = sql.executionMetrics(eid)
        nodes = sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not node.name().startswith("Scan parquet"):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                got = values.get(m.accumulatorId())
                if m.name() == "number of files read" and got.isDefined():
                    scans += int(got.get()) > 0
    return out, scans


def test_multi_insert(spark, table, tmp_path):
    """The source is scanned once, by the first sink's write, which
    fills the cache the second sink reads. No separate action fills it:
    the call runs one job for the first write and two for the second
    (its partial aggregate's stage, then the write)."""
    df = spark.read.parquet(table)
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")

    def call():
        dml.multi_insert(
            df,
            [
                (out1, lambda d: d.filter(F.col("val") >= 25).select("id")),
                (out2, lambda d: d.groupBy().agg(F.sum("val").alias("total"))),
            ],
        )

    (_, n_jobs), scans = _source_scans(spark, lambda: _jobs(spark, call))
    assert n_jobs == 3
    assert scans == 1
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
        dml._commit(spark, table, conflicting_transform)
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

    dml._commit(
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
        spark, df, catalog.listing_version(path),
        F.col("k").isNull() | ((F.col("k") == "a:1") & (F.col("t") == F.lit(t1))),
        ["k", "t"],
    ))
    assert jobs == 0
    assert sorted(got) == [
        "k=__HIVE_DEFAULT_PARTITION__/t=2024-01-01 10%3A30%3A00",
        "k=a%3A1/t=2024-01-01 10%3A30%3A00",
    ]


def test_partition_scoped_update_delete_job_count(spark, escaped_table):
    """A scoped UPDATE or DELETE runs no scan to find its partitions. The
    first statement on a table the engine did not write infers its schema
    and runs the staged write; every later one reads the schema the
    previous commit recorded and runs only the write."""
    path, _t1, _t2 = escaped_table
    scope = dict(partition_filter=F.col("k") == "a:1", partition_cols=["k", "t"])
    _, jobs = _jobs(spark, lambda: dml.update_table(
        spark, path, {"val": F.col("val") * 2}, F.col("id") == 2, **scope
    ))
    assert jobs == 2
    _, jobs = _jobs(spark, lambda: dml.update_table(
        spark, path, {"val": F.col("val") + 1}, F.col("id") == 2, **scope
    ))
    assert jobs == 1
    _, jobs = _jobs(spark, lambda: dml.delete_from(spark, path, F.col("id") == 2, **scope))
    assert jobs == 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [1, 3, 4, 5]


def _merge_jobs_aqe_off(spark, path, sources, **kw):
    """Jobs of one MERGE per source, with AQE off so every query is one
    job plus its broadcasts."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return [
            _jobs(spark, lambda: dml.merge_into(
                spark, path, source, on=["id"], matched_update={"val": F.col("src.val")}, **kw
            ))[1]
            for source in sources
        ]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_partition_scoped_merge_checks_ride_the_staged_write(spark, escaped_table):
    """Both MERGE source checks (scope and cardinality) are observed by
    the staged write itself, so a scoped MERGE runs no query of its own
    for them: the first MERGE is the target's schema inference and the
    write, a second one (schema recorded by the first) only the write."""
    path, _t1, t2 = escaped_table
    sources = [
        spark.createDataFrame([("a:1", t2, 3, val)], "k STRING, t TIMESTAMP, id BIGINT, val DOUBLE")
        for val in (99.0, 98.0)
    ]
    jobs = _merge_jobs_aqe_off(
        spark, path, sources, partition_filter=F.col("k") == "a:1", partition_cols=["k", "t"]
    )
    assert jobs == [2, 1]
    assert {r.id: r.val for r in spark.read.parquet(path).collect()}[3] == 98.0


def test_second_merge_runs_one_job(spark, table):
    """An unscoped MERGE on a table the engine wrote runs the staged write
    and nothing else: the checks ride the write, the schema is recorded."""
    dml.update_table(spark, table, {"val": F.col("val") + 1}, F.col("id") == 1)
    source = spark.createDataFrame([(2, "B", 99.0), (5, "e", 50.0)], "id BIGINT, name STRING, val DOUBLE")
    assert _merge_jobs_aqe_off(spark, table, [source]) == [1]
    assert {r.id: r.val for r in spark.read.parquet(table).collect()} == {
        1: 11.0, 2: 99.0, 3: 30.0, 4: 40.0, 5: 50.0,
    }


def _plan_nodes(node):
    """(nodeName, node) for every node of a physical plan, preorder."""
    yield node.nodeName(), node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_merge_write_plan_scans_source_once(spark, table, tmp_path, monkeypatch):
    """With AQE off the MERGE's write plan has one exchange, hash
    partitioned on the keys, over the union of one target scan and one
    source scan, and observes the source checks in one CollectMetrics
    above it. Together with the one-job pin above, a source-check
    pre-pass, a second scan or a second exchange fails here."""
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        [(2, "B", 99.0), (5, "e", 50.0)], "id BIGINT, name STRING, val DOUBLE"
    ).write.parquet(src_path)
    source = spark.read.parquet(src_path)
    plans = []
    write_staged = dml._write_staged

    def spy(writer, path, guard=None):
        plans.append(writer._df._jdf.queryExecution().executedPlan())
        return write_staged(writer, path, guard)

    monkeypatch.setattr(dml, "_write_staged", spy)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        dml.merge_into(spark, table, source, on=["id"], matched_update={"val": F.col("src.val")})
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    [plan] = plans
    nodes = list(_plan_nodes(plan))
    [exchange] = [node for n, node in nodes if n == "Exchange"]
    keys = exchange.outputPartitioning().expressions()
    assert exchange.outputPartitioning().toString().startswith("hashpartitioning(")
    assert [keys.apply(i).name() for i in range(keys.size())] == ["id"]
    assert exchange.child().nodeName() == "Union"
    scans = [node.toString() for _n, node in _plan_nodes(exchange) if not node.children().size()]
    assert len(scans) == 2
    assert sum(f"{src_path}]" in s for s in scans) == 1
    assert sum(f"{table}]" in s for s in scans) == 1
    [metrics] = [node for n, node in nodes if n == "CollectMetrics"]
    assert "Exchange" in [n for n, _ in _plan_nodes(metrics)]
    assert {r.id: r.val for r in spark.read.parquet(table).collect()}[2] == 99.0


def test_scoped_merge_runs_one_shuffle_stage(spark, tmp_path):
    """With AQE on, a partition-scoped MERGE of a file-fed source into a
    table the engine wrote runs one shuffle map stage, for the target and
    the source together, and two jobs: that stage and the staged write."""
    path = _scoped_rewrite(spark, tmp_path)
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", 1, 11.0, 1), ("a", 7, 70.0, 7)], "grp STRING, id BIGINT, val DOUBLE, n INT"
    ).write.parquet(src_path)
    source = spark.read.parquet(src_path)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    jobs = []
    stages = _executed_shuffle_stages(spark, lambda: jobs.append(_jobs(spark, lambda: dml.merge_into(
        spark, path, source, on=["id"], matched_update={"val": F.col("src.val")}, **_scope_a()
    ))[1]))
    assert (stages, jobs) == (1, [2])
    assert sorted((r.grp, r.id, r.val) for r in spark.read.parquet(path).collect()) == [
        ("a", 1, 11.0), ("a", 2, 20.0), ("a", 7, 70.0), ("b", 3, 30.0),
    ]


def test_merge_composite_key_with_null_key_columns(spark, tmp_path):
    """A composite key matches on every column; a NULL in any key column
    matches nothing, so those target rows stay and those source rows are
    inserted."""
    path = str(tmp_path / "ck")
    spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (None, "a", 3.0), (2, None, 4.0)],
        "id BIGINT, k STRING, val DOUBLE",
    ).write.parquet(path)
    source = spark.createDataFrame(
        [(1, "a", 10.0), (1, "c", 30.0), (None, "a", 33.0), (2, None, 44.0)],
        "id BIGINT, k STRING, val DOUBLE",
    )
    dml.merge_into(spark, path, source, on=["id", "k"], matched_update={"val": F.col("src.val")})
    got = [(r.id, r.k, r.val) for r in spark.read.parquet(path).collect()]
    order = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    assert sorted(got, key=order) == [
        (1, "a", 10.0), (1, "b", 2.0), (1, "c", 30.0), (2, None, 4.0), (2, None, 44.0),
        (None, "a", 3.0), (None, "a", 33.0),
    ]


def test_merge_int_source_key_into_bigint_target(spark, tmp_path):
    """An INT-keyed source matches a BIGINT target's keys and leaves the
    target's key type as it was."""
    path = str(tmp_path / "wide")
    spark.createDataFrame([(1, 1.0), (2, 2.0)], "id BIGINT, val DOUBLE").write.parquet(path)
    source = spark.createDataFrame([(2, 20.0), (3, 30.0)], "id INT, val DOUBLE")
    dml.merge_into(spark, path, source, on=["id"], matched_update={"val": F.col("src.val")})
    df = spark.read.parquet(path)
    assert df.schema["id"].dataType.simpleString() == "bigint"
    assert {r.id: r.val for r in df.collect()} == {1: 1.0, 2: 20.0, 3: 30.0}


def test_merge_into_target_with_a_src_column(spark, tmp_path):
    """A target column named ``src`` is reached as ``tgt.src``: a MERGE
    whose clauses name only ``tgt`` keeps it on matched rows. Beside it
    a clause's ``src.x`` is ambiguous and raises, leaving the table
    unchanged."""
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "s")
    spark.createDataFrame([(1, "x", 1.0)], "id BIGINT, src STRING, val DOUBLE").write.parquet(path)
    source = spark.createDataFrame([(1, 5.0), (2, 6.0)], "id BIGINT, val DOUBLE")
    dml.merge_into(spark, path, source, on=["id"], matched_update={"val": F.col("tgt.val") + 1})
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, "x", 2.0), (2, None, 6.0)]
    before = _files(path)
    with pytest.raises(AnalysisException, match="AMBIGUOUS_REFERENCE"):
        dml.merge_into(spark, path, source, on=["id"], matched_update={"val": F.col("src.val")})
    assert _files(path) == before


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
    duplicate key, as groupBy counts them. A no-insert MERGE drops its
    unmatched source rows; the checks are observed below that filter, so
    the NULL-keyed rows are counted before it drops them."""
    source = spark.createDataFrame(
        [(None, "x", 1.0), (None, "y", 2.0)], "id BIGINT, name STRING, val DOUBLE"
    )
    before = _files(table)
    with pytest.raises(ValueError, match="cardinality"):
        dml.merge_into(spark, table, source, on=["id"])
    with pytest.raises(ValueError, match="cardinality"):
        dml.merge_into(
            spark, table, source, on=["id"], matched_update={"val": F.col("src.val")},
            not_matched_insert=False,
        )
    assert _files(table) == before


def _staged_dirs(d):
    import os

    return [n for n in os.listdir(d) if "__staged_" in n]


@pytest.fixture()
def emptied_table(spark, table):
    """``table`` after a DELETE of every row: an engine-written, empty target."""
    dml.delete_from(spark, table, F.lit(True))
    return table


def test_no_insert_merge_into_empty_target_checks_cardinality(spark, emptied_table, monkeypatch):
    """A no-insert MERGE into an empty target still observes its source
    checks: a duplicate-keyed source raises and nothing stays staged."""
    import os

    made = []  # every Observation merge_into creates
    monkeypatch.setattr(dml, "Observation", lambda: made.append(Observation()) or made[-1])
    before = _files(emptied_table)
    source = spark.createDataFrame([(2, "x", 1.0), (2, "y", 2.0)], "id BIGINT, name STRING, val DOUBLE")
    with pytest.raises(ValueError, match="cardinality"):
        dml.merge_into(spark, emptied_table, source, on=["id"], not_matched_insert=False)
    [observation] = made
    assert _staged_dirs(os.path.dirname(emptied_table)) == []
    assert _files(emptied_table) == before


def test_no_insert_merge_into_empty_target_commits_valid_source(spark, emptied_table):
    """The same MERGE with a unique-keyed source passes the checks and
    commits its (empty) rewrite."""
    import os

    before = catalog.listing_version(emptied_table)
    source = spark.createDataFrame([(2, "x", 1.0), (3, "y", 2.0)], "id BIGINT, name STRING, val DOUBLE")
    dml.merge_into(
        spark, emptied_table, source, on=["id"], matched_update={"val": F.col("src.val")},
        not_matched_insert=False,
    )
    assert catalog.listing_version(emptied_table) != before
    assert spark.read.parquet(emptied_table).count() == 0
    assert _staged_dirs(os.path.dirname(emptied_table)) == []


def test_out_of_scope_row_creating_a_partition_raises(spark, tmp_path):
    """An out-of-scope source row that would insert into a partition the
    table lacks raises; the staged write that held it is dropped, so no
    partition directory appears and the table is unchanged."""
    import os

    path = _partitioned(spark, str(tmp_path / "t"))
    before = _files(path)
    source = spark.createDataFrame(
        [("a", 1, 11.0, 1), ("c", 9, 90.0, 9)], "grp STRING, id BIGINT, val DOUBLE, n INT"
    )
    with pytest.raises(ValueError, match="outside partition_filter"):
        dml.merge_into(spark, path, source, on=["id"], **_scope_a())
    assert not os.path.exists(os.path.join(path, "grp=c"))
    assert _staged_dirs(tmp_path) == []
    assert _files(path) == before


def test_reserved_source_column_raises_before_any_job(spark, table):
    """A source carrying a MERGE sentinel name is a schema error, raised
    before the statement runs anything."""
    source = spark.createDataFrame([(1, 1)], "id BIGINT, __src_m INT")

    def merge():
        with pytest.raises(ValueError, match="reserved by MERGE"):
            dml.merge_into(spark, table, source, on=["id"])

    assert _jobs(spark, merge)[1] == 0


def test_merge_key_only_source(spark, table):
    """A source holding only the join keys deletes its matches and inserts
    its other keys with NULL data columns."""
    source = spark.createDataFrame([(1,), (9,)], "id BIGINT")
    dml.merge_into(spark, table, source, on=["id"], matched_delete=F.lit(True))
    got = {r.id: (r.name, r.val) for r in spark.read.parquet(table).collect()}
    assert got == {2: ("b", 20.0), 3: ("c", 30.0), 4: ("d", 40.0), 9: (None, None)}


@pytest.mark.parametrize("scoped", [False, True])
def test_failed_staged_write_leaves_no_staging_dir(spark, tmp_path, scoped):
    """A staged write that raises removes its staging directory; the table
    is unchanged and the next statement on it commits."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 20.0)], "grp STRING, id BIGINT, val DOUBLE"
    ).write.partitionBy("grp").parquet(path)
    scope = dict(partition_filter=F.col("grp") == "a", partition_cols=["grp"]) if scoped else {}
    before = _files(path)
    with pytest.raises(Exception, match="boom"):
        dml.update_table(spark, path, {"val": F.raise_error(F.lit("boom"))}, F.lit(True), **scope)
    assert _staged_dirs(tmp_path) == []
    assert _files(path) == before
    dml.update_table(spark, path, {"val": F.col("val") + 1}, F.col("id") == 1, **scope)
    assert {r.id: r.val for r in spark.read.parquet(path).collect()} == {1: 11.0, 2: 20.0}


def _years(spark, tmp_path):
    """A table partitioned ``y=2020`` / ``y=2021``, two rows in each."""
    path = str(tmp_path / "years")
    spark.createDataFrame(
        [(1, 2020, 10.0), (2, 2020, 20.0), (3, 2021, 30.0), (4, 2021, 40.0)],
        "id BIGINT, y INT, val DOUBLE",
    ).write.partitionBy("y").parquet(path)
    return path


def _data_files(path):
    """Data files of ``path``, relative to it."""
    return sorted(f for f in _files(path) if f.endswith(".parquet"))


_FULL_TABLE = {
    "update": (
        lambda spark, path: dml.update_table(spark, path, {"val": F.lit(0.0)}, F.col("id") == 1),
        {1: 0.0, 2: 20.0, 3: 30.0, 4: 40.0},
    ),
    "delete": (
        lambda spark, path: dml.delete_from(spark, path, F.col("id") == 1),
        {2: 20.0, 3: 30.0, 4: 40.0},
    ),
    "merge": (
        lambda spark, path: dml.merge_into(
            spark, path,
            spark.createDataFrame(
                [(1, 2020, 0.0), (5, 2021, 50.0)], "id BIGINT, y INT, val DOUBLE"
            ),
            on=["id"], matched_update={"val": F.col("src.val")},
        ),
        {1: 0.0, 2: 20.0, 3: 30.0, 4: 40.0, 5: 50.0},
    ),
}


@pytest.mark.parametrize("statement", sorted(_FULL_TABLE))
def test_full_table_statement_keeps_partitions(spark, tmp_path, statement):
    """A statement without ``partition_filter`` writes the table's
    partition columns: the ``y=`` directories stay, no data file lands
    flat in the table directory, and a later scoped statement sees every
    row."""
    path = _years(spark, tmp_path)
    run, want = _FULL_TABLE[statement]
    run(spark, path)
    files = _data_files(path)
    assert files and all(f.startswith(("y=2020/", "y=2021/")) for f in files)
    assert {r.id: r.val for r in spark.read.parquet(path).collect()} == want
    dml.update_table(
        spark, path, {"val": F.col("val") + 1}, F.col("id") == 3,
        partition_filter=F.col("y") == 2021, partition_cols=["y"],
    )
    got = {r.id: (r.y, r.val) for r in spark.read.parquet(path).collect()}
    assert {i: v for i, (_y, v) in got.items()} == {**want, 3: 31.0}
    assert all(y == (2020 if i <= 2 else 2021) for i, (y, _v) in got.items())


def _tree(path):
    """Every directory and data file under ``path``, relative to it."""
    import os

    return sorted(
        os.path.relpath(os.path.join(root, n), path)
        for root, dirs, files in os.walk(path)
        for n in dirs + files
    ), _files(path)


def _swap_case(spark, tmp_path, case):
    """The table and the statement of a swap-failure case, and the
    staged rename that fails: a full-table UPDATE on its first unit; a
    scoped UPDATE on its second partition, after the first is in place;
    a scoped MERGE into a table partitioned by ``a``/``b`` on its second
    new partition ``a=3/b=1``, after ``a=1/b=3`` is in place, both under
    ``a=`` directories the table lacked."""
    if case == "created":
        path = str(tmp_path / "ab")
        spark.createDataFrame(
            [(1, 2, 1, 10.0), (2, 2, 2, 20.0)], "id BIGINT, a INT, b INT, val DOUBLE"
        ).write.partitionBy("a", "b").parquet(path)
        source = spark.createDataFrame(
            [(1, 2, 1, 11.0), (7, 1, 3, 70.0), (8, 3, 1, 80.0)],
            "id BIGINT, a INT, b INT, val DOUBLE",
        )
        run = lambda: dml.merge_into(  # noqa: E731
            spark, path, source, on=["id"], matched_update={"val": F.col("src.val")},
            partition_filter=F.col("a").isin(1, 2, 3),
        )
        return path, run, 4
    path = _partitioned(spark, str(tmp_path / "t"))
    scope = (
        dict(partition_filter=F.col("grp").isin("a", "b"), partition_cols=["grp"])
        if case == "scoped" else {}
    )
    run = lambda: dml.update_table(  # noqa: E731
        spark, path, {"val": F.col("val") * 2}, F.lit(True), **scope
    )
    return path, run, 2 if case == "scoped" else 1


@pytest.mark.parametrize("case", ["full", "scoped", "created"])
def test_failed_swap_rename_restores_the_table(spark, tmp_path, monkeypatch, case):
    """A rename that fails while staged units move into place rolls the
    swap back: a unit already placed is dropped, every unit set aside is
    moved back, the directories made for new partitions are removed, and
    neither the staging nor the set-aside directory remains."""
    import os

    path, run, fail_at = _swap_case(spark, tmp_path, case)
    before, rows = _tree(path), sorted(spark.read.parquet(path).collect())
    rename, placed = os.rename, []

    def failing_rename(src, dst):
        if ".__staged_" in str(src):
            placed.append(src)
            if len(placed) == fail_at:
                raise OSError("rename failed")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="rename failed"):
        run()
    monkeypatch.setattr(os, "rename", rename)
    assert len(placed) == fail_at
    assert _tree(path) == before
    assert sorted(spark.read.parquet(path).collect()) == rows
    assert [n for n in os.listdir(tmp_path) if "__staged_" in n or "__old_" in n] == []


@pytest.mark.parametrize("scoped", [False, True])
def test_deleting_every_row_keeps_the_table_readable(spark, tmp_path, scoped):
    """A DELETE that leaves a partitioned table with no row keeps one
    empty file in its first partition: the table reads back empty with
    its schema, through the catalog and directly, and stays partitioned,
    so a later append lands in its ``y=`` directories."""
    path = _years(spark, tmp_path)
    schema = spark.read.parquet(path).schema
    scope = dict(partition_filter=F.col("y").isin(2020, 2021)) if scoped else {}
    dml.delete_from(spark, path, F.lit(True), **scope)
    assert [f.split("/")[0] for f in _data_files(path)] == ["y=2020"]
    for df in (spark.read.parquet(path), catalog.read_parquet(spark, path)):
        assert df.schema == schema
        assert df.count() == 0
    dml.insert_into(
        spark, path, spark.createDataFrame([(5, 2022, 50.0)], "id BIGINT, y INT, val DOUBLE")
    )
    assert all(f.startswith(("y=2020/", "y=2022/")) for f in _data_files(path))
    assert [(r.id, r.y, r.val) for r in spark.read.parquet(path).collect()] == [(5, 2022, 50.0)]


def test_scoped_merge_source_lacking_a_partition_column_raises(spark, tmp_path):
    """A scoped MERGE whose source lacks one of the partition columns the
    table's directories name raises before any job, with or without
    ``partition_cols``: its inserts would land in a NULL partition
    outside the scope."""
    path = str(tmp_path / "ym")
    spark.createDataFrame(
        [(1, 2020, 1, 10.0)], "id BIGINT, y INT, m INT, val DOUBLE"
    ).write.partitionBy("y", "m").parquet(path)
    before = _files(path)
    source = spark.createDataFrame([(2, 2020, 20.0)], "id BIGINT, y INT, val DOUBLE")

    def merge():
        with pytest.raises(ValueError, match=r"lacks partition columns \['m'\]"):
            dml.merge_into(spark, path, source, on=["id"], partition_filter=F.col("y") == 2020)

    assert _jobs(spark, merge)[1] == 0
    assert _files(path) == before


def test_layout_errors_raise_before_any_job(spark, tmp_path, table):
    """``partition_cols`` that disagree with the table's directories, a
    table whose files mix layouts, and a ``partition_filter`` on an
    unpartitioned table all raise before the statement reads anything."""
    path = _partitioned(spark, str(tmp_path / "p"))
    mixed = _partitioned(spark, str(tmp_path / "mixed"))
    spark.createDataFrame([(4, 40.0, 4)], "id BIGINT, val DOUBLE, n INT").write.mode(
        "append"
    ).parquet(mixed)
    before = {p: _files(p) for p in (path, mixed, table)}

    def statements():
        with pytest.raises(ValueError, match="disagree"):
            dml.update_table(spark, path, {"val": F.lit(0.0)}, F.lit(True), partition_cols=["n"])
        with pytest.raises(ValueError, match="disagree"):
            dml.delete_from(
                spark, path, F.lit(True), partition_filter=F.col("grp") == "a", partition_cols=[]
            )
        with pytest.raises(ValueError, match="mixes partition layouts"):
            dml.delete_from(spark, mixed, F.col("id") == 1)
        with pytest.raises(ValueError, match="needs a partitioned table"):
            dml.delete_from(spark, table, F.lit(True), partition_filter=F.col("id") == 1)

    assert _jobs(spark, statements)[1] == 0
    assert {p: _files(p) for p in before} == before


def test_insert_into_partitioned_table_writes_its_partitions(spark, tmp_path):
    """An append lands in the table's ``grp=`` directories, a new one for
    a new value, never as a flat file beside them."""
    path = _partitioned(spark, str(tmp_path / "t"))
    rows = spark.createDataFrame(
        [("a", 7, 70.0, 7), ("c", 8, 80.0, 8)], "grp STRING, id BIGINT, val DOUBLE, n INT"
    )
    dml.insert_into(spark, path, rows)
    assert all(f.startswith(("grp=a/", "grp=b/", "grp=c/")) for f in _data_files(path))
    got = {r.id: r.grp for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "a", 3: "b", 7: "a", 8: "c"}


def _partitioned(spark, path):
    spark.createDataFrame(
        [("a", 1, 10.0, 1), ("a", 2, 20.0, 2), ("b", 3, 30.0, 3)],
        "grp STRING, id BIGINT, val DOUBLE, n INT",
    ).write.partitionBy("grp").parquet(path)
    return path


def _scope_a():
    return dict(partition_filter=F.col("grp") == "a", partition_cols=["grp"])


def _full_rewrite(spark, tmp_path):
    path = _partitioned(spark, str(tmp_path / "t"))
    dml.update_table(spark, path, {"val": F.col("val") * 2}, F.col("id") == 1)
    return path


def _scoped_rewrite(spark, tmp_path):
    path = _partitioned(spark, str(tmp_path / "t"))
    dml.update_table(spark, path, {"val": F.col("val") * 2}, F.col("id") == 1, **_scope_a())
    return path


def _full_partition_delete(spark, tmp_path):
    path = _partitioned(spark, str(tmp_path / "t"))
    dml.delete_from(spark, path, F.lit(True), F.col("grp") == "b", partition_cols=["grp"])
    return path


def _merge_into_new_partition(spark, tmp_path):
    path = _partitioned(spark, str(tmp_path / "t"))
    source = spark.createDataFrame(
        [("c", 4, 40.0, 4)], "grp STRING, id BIGINT, val DOUBLE, n INT"
    )
    dml.merge_into(
        spark, path, source, on=["id"],
        partition_filter=F.col("grp").isin("a", "c"), partition_cols=["grp"],
    )
    return path


def _evolve_schema_merge(scoped):
    def commit(spark, tmp_path):
        path = _partitioned(spark, str(tmp_path / "t"))
        source = spark.createDataFrame(
            [("a", 1, 11.0, 1, "gold")], "grp STRING, id BIGINT, val DOUBLE, n INT, tier STRING"
        )
        dml.merge_into(
            spark, path, source, on=["id"], matched_update={"tier": F.col("src.tier")},
            evolve_schema=True, **(_scope_a() if scoped else {}),
        )
        return path
    return commit


def _type_changing_scoped_update(spark, tmp_path):
    path = _partitioned(spark, str(tmp_path / "t"))
    dml.update_table(spark, path, {"n": F.col("n") * 1.5}, F.lit(True), **_scope_a())
    return path


def _snapshot(spark, tmp_path):
    t = str(tmp_path / "ds")
    version = versioning.snapshot_write(
        spark.range(3).select("id", F.array("id").alias("xs"), F.struct("id").alias("s")), t
    )
    return f"{t}/v{version}"


_CHANGES = "id BIGINT, attr STRING, ts TIMESTAMP"
_T0 = datetime.datetime(2024, 1, 1)


def _scd_create(spark, tmp_path):
    path = str(tmp_path / "dim")
    scd.scd2_apply(spark, path, spark.createDataFrame([(1, "a", _T0)], _CHANGES))
    return path


def _scd_fold(spark, tmp_path):
    path = _scd_create(spark, tmp_path)
    later = _T0 + datetime.timedelta(days=1)
    scd.scd2_apply(spark, path, spark.createDataFrame([(1, "b", later), (2, "x", later)], _CHANGES))
    return path


@pytest.mark.parametrize(
    "commit, recorded",
    [
        (_full_rewrite, True),
        (_scoped_rewrite, True),
        (_full_partition_delete, False),
        (_merge_into_new_partition, False),
        (_evolve_schema_merge(scoped=False), True),
        (_evolve_schema_merge(scoped=True), False),
        (_type_changing_scoped_update, False),
        (_snapshot, True),
        (_scd_create, True),
        (_scd_fold, True),
    ],
    ids=[
        "full_rewrite", "scoped_rewrite", "full_partition_delete", "merge_new_partition",
        "evolve_schema_merge", "evolve_schema_scoped_merge", "type_changing_scoped_update",
        "snapshot", "scd_create", "scd_fold",
    ],
)
def test_read_after_commit_matches_fresh_inference(spark, tmp_path, commit, recorded):
    """After every kind of commit the engine's next read has the schema a
    fresh inference gives. It launches no job when the commit recorded the
    schema; a scoped rewrite that created or emptied a partition, or
    changed a column, records nothing and the read infers."""
    path = commit(spark, tmp_path)
    df, jobs = _jobs(spark, lambda: catalog.read_parquet(spark, path))
    assert df.schema == spark.read.parquet(path).schema
    assert jobs == (0 if recorded else 1)


def _write_extra_file(path):
    """An outside writer's file that sorts first in ``path`` and carries
    a column the table lacks."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"id": pa.array([9], pa.int64()), "val": pa.array([9.0]),
                  "n": pa.array([9], pa.int32()), "extra": pa.array(["x"])}),
        os.path.join(path, "a.parquet"),
    )


def _reads_again_with_extra(spark, path):
    df, jobs = _jobs(spark, lambda: catalog.read_parquet(spark, path))
    assert jobs == 1
    assert df.schema == spark.read.parquet(path).schema
    assert "extra" in df.columns


def test_appended_file_after_commit_infers_again(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 10.0, 1)], "id BIGINT, val DOUBLE, n INT").write.parquet(path)
    dml.update_table(spark, path, {"val": F.col("val") + 1}, F.lit(True))
    _write_extra_file(path)
    _reads_again_with_extra(spark, path)


def test_file_in_other_partition_after_commit_infers_again(spark, tmp_path):
    import os

    path = _partitioned(spark, str(tmp_path / "t"))
    scope_b = dict(partition_filter=F.col("grp") == "b", partition_cols=["grp"])
    dml.update_table(spark, path, {"val": F.col("val") + 1}, F.lit(True), **scope_b)
    _write_extra_file(os.path.join(path, "grp=a"))
    _reads_again_with_extra(spark, path)


def test_concurrent_commit_in_other_partition_is_not_inherited(spark, tmp_path):
    """The scoped rewrite predicts its version from the listing it read;
    a file another writer commits to an unaffected partition meanwhile is
    not in it, so the next read infers and sees that file's column."""
    import os

    path = _partitioned(spark, str(tmp_path / "t"))

    def transform(df):
        _write_extra_file(os.path.join(path, "grp=a"))
        return df.withColumn("val", F.col("val") + 1)

    dml._commit(spark, path, transform, F.col("grp") == "b", ["grp"])
    _reads_again_with_extra(spark, path)


def test_parquet_type_setting_change_after_commit_infers_again(spark, table):
    dml.update_table(spark, table, {"val": F.col("val") + 1}, F.lit(True))
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        for value, want_jobs in (("true", 1), (before, 0)):
            spark.conf.set(key, value)
            df, jobs = _jobs(spark, lambda: catalog.read_parquet(spark, table))
            assert jobs == want_jobs
            assert df.schema == spark.read.parquet(table).schema
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("setting", [
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
])
def test_directory_schema_setting_change_infers_again(spark, tmp_path, setting):
    """Settings that change the schema inferred for a partitioned
    directory are part of a record's key: flipping one infers again."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 10.0)], "id BIGINT, val DOUBLE").write.parquet(f"{path}/y=2024")
    spark.createDataFrame([(2, 20.0, "x")], "id BIGINT, val DOUBLE, extra STRING").write.parquet(
        f"{path}/y=2025"
    )
    before = spark.conf.get(setting)
    flipped = "false" if before == "true" else "true"
    try:
        schemas = []
        for value, want_jobs in ((before, 1), (flipped, 1), (before, 0)):
            spark.conf.set(setting, value)
            df, jobs = _jobs(spark, lambda: catalog.read_parquet(spark, path))
            assert jobs == want_jobs
            assert df.schema == spark.read.parquet(path).schema
            schemas.append(df.schema)
        assert schemas[0] != schemas[1]
    finally:
        spark.conf.set(setting, before)
