"""Fixture-contract tests: the loader's expectations vs the actual parquet
footers of the driver testdata.

Round-2 post-mortem (VERDICT.md r2 "What's wrong" #1): the events fixture
silently changed from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) between
generations, the loader kept dividing by 1000, and every event-time operator
collapsed into January 1970 — 7 red oracle rows from one line. These tests
pin the loader's assumptions to the files themselves so the next silent
regeneration fails HERE, loudly, instead of as a spray of oracle mismatches.

Footer-only reads (pyarrow), except the loader tests at the end, which
check that ``load_table`` reads each file version's own schema.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from hive_release_spark.catalog import TABLES, events_ts_unit, table_path

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# The column:type contract each loader/query assumes (matches FIXTURES.md,
# but the *files* are the source of truth — that is the point of this test).
# Timestamp columns are pinned to "timestamp" prefix, not an exact unit: the
# loader sniffs the unit (catalog.events_ts_unit) and adapts.
EXPECTED = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {"n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32"},
    "customer": {
        "c_custkey": "int64",
        "c_name": "string",
        "c_nationkey": "int32",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int64",
        "s_name": "string",
        "s_nationkey": "int32",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "int64",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int32",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "int64",
        "o_custkey": "int64",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int64",
        "l_partkey": "int64",
        "l_suppkey": "int64",
        "l_linenumber": "int32",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "int64",
        "ts": "timestamp",
        "user_id": "int64",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "int64",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "int64",
    },
    "embeddings": {
        "vec_id": "int64",
        "embedding": "list<element: float>",
        "label": "int32",
    },
}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", TABLES)
def test_fixture_schema_matches_loader_contract(sf_dir, table):
    schema = pq.read_schema(table_path(sf_dir, table))
    actual = {f.name: str(f.type) for f in schema}
    expected = EXPECTED[table]
    assert list(actual) == list(expected), (
        f"{table} columns drifted: {list(actual)} vs expected {list(expected)}"
    )
    for col, want in expected.items():
        got = actual[col]
        ok = got.startswith(want) if want == "timestamp" else got == want
        assert ok, f"{table}.{col} is {got}, loader expects {want}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_unit_is_sniffable(sf_dir):
    """The unit sniffer must resolve to a unit the loader handles. If the
    driver regenerates events.ts as raw int64 (no logical type), this raises
    ValueError — the one failure mode that needs a loader change."""
    unit = events_ts_unit(table_path(sf_dir, "events"))
    assert unit in ("s", "ms", "us", "ns")


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_is_tz_naive(sf_dir):
    """Pin isAdjustedToUTC=false: a tz-adjusted fixture would make batch
    reads infer TIMESTAMP_LTZ while the stream schema forces NTZ, breaking
    the identical-schema contract between the two paths (ADVICE r3)."""
    field = pq.read_schema(table_path(sf_dir, "events")).field("ts")
    assert getattr(field.type, "tz", None) is None, (
        f"events.ts is tz-adjusted ({field.type}); loader contract is NTZ"
    )


def test_tz_adjusted_events_rejected(tmp_path):
    """The sniffer must REFUSE a tz-adjusted events.ts rather than let the
    batch/stream schemas silently diverge."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    table = pa.table(
        {"ts": pa.array([1704067200_000_000], pa.timestamp("us", tz="UTC"))}
    )
    path = str(tmp_path / "events.parquet")
    pq_mod.write_table(table, path)
    with pytest.raises(ValueError, match="tz-adjusted"):
        events_ts_unit(path)


def test_events_range_survives_load(spark):
    """End-to-end canary for the r2 bug: the loaded events table must span
    the fixture's real multi-day range, not a 1970 collapse. 60 distinct
    event-hours at sf0.001 (30 days of data) — the broken loader gave 2."""
    from hive_release_spark.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    row = ev.agg(
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
        F.countDistinct(F.date_trunc("hour", "ts")).alias("hours"),
    ).first()
    assert row["lo"].year >= 2000, f"events.ts collapsed to {row['lo']}"
    assert (row["hi"] - row["lo"]).days >= 7
    assert row["hours"] >= 60


def test_loader_ns_fallback_path(spark, tmp_path):
    """The ns arm of the unit sniffer must actually work, not just exist:
    write a TIMESTAMP(NANOS) events file and verify load_table converts it
    to the same wall-clock values (and the same NTZ-compatible reading) a
    µs file yields."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    sf = str(tmp_path)
    us = pa.array([1704067200_000_000, 1704070800_123_456], pa.timestamp("us"))
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": us.cast(pa.timestamp("ns")),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq_mod.write_table(table, f"{sf}/events.parquet")

    from hive_release_spark.catalog import events_ts_unit, load_table

    assert events_ts_unit(f"{sf}/events.parquet") == "ns"
    rows = load_table(spark, sf, "events").orderBy("event_id").collect()
    assert [r.ts.isoformat() for r in rows] == [
        "2024-01-01T00:00:00",
        "2024-01-01T01:00:00.123456",
    ]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_lineitem_key_nonuniqueness_is_known(sf_dir):
    """Two facts every lineitem window/top-k author must know (r4
    post-mortem — the intermittent ROWS-frame flip):

    1. (l_orderkey, l_linenumber) is NOT unique in this fixture — any
       ORDER BY ending there has real ties; and
    2. there are NO full-row duplicates — so a sort key extended with
       the measure columns makes frame aggregates tie-order-invariant.

    If (1) ever flips to unique, simpler tie-breaks become safe (drop
    this pin consciously); if (2) ever fails, the invariance argument in
    window_rows_frame needs a rethink."""
    import duckdb

    con = duckdb.connect()
    try:
        p = f"{sf_dir}/lineitem.parquet"
        full_dups = con.sql(
            f"SELECT count(*) FROM (SELECT * FROM read_parquet('{p}') "
            "GROUP BY ALL HAVING count(*) > 1)"
        ).fetchone()[0]
        assert full_dups == 0, "lineitem grew full-row duplicates"
    finally:
        con.close()


def _replace_parquet(table, path):
    """Regenerate ``path`` the way a fixture build does: write a sibling
    file, then rename it over the old one."""
    import os

    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)


def test_events_ts_unit_follows_rewritten_file(spark, tmp_path):
    """The sniffed unit belongs to a file version, not a path: an events
    file regenerated from µs to ns at the same path must take the ns arm."""
    import pyarrow as pa

    from hive_release_spark.catalog import load_table

    path = table_path(str(tmp_path), "events")
    us = pa.array([1704067200_000_000, 1704070800_123_456], pa.timestamp("us"))
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 11], pa.int64()),
        "event_type": pa.array(["view", "click"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    pq.write_table(pa.table({"ts": us, **cols}), path)
    assert events_ts_unit(path) == "us"

    _replace_parquet(pa.table({"ts": us.cast(pa.timestamp("ns")), **cols}), path)
    assert events_ts_unit(path) == "ns"
    rows = load_table(spark, str(tmp_path), "events").orderBy("event_id").collect()
    assert [r.ts.isoformat() for r in rows] == [
        "2024-01-01T00:00:00",
        "2024-01-01T01:00:00.123456",
    ]


@pytest.mark.parametrize("table", TABLES)
def test_repeat_load_launches_no_job(spark, table):
    """A second load of an unchanged table file reuses the schema Spark
    inferred on the first and launches no schema-inference job."""
    from hive_release_spark.catalog import load_table
    from tests.conftest import SF_SMOKE, _jobs

    load_table(spark, SF_SMOKE, table)
    df, jobs = _jobs(spark, lambda: load_table(spark, SF_SMOKE, table))
    assert jobs == 0
    assert df.schema == spark.read.parquet(table_path(SF_SMOKE, table)).schema


def test_rewritten_file_shows_added_column(spark, tmp_path):
    import pyarrow as pa

    from hive_release_spark.catalog import load_table

    path = table_path(str(tmp_path), "t")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]

    _replace_parquet(
        pa.table({"id": pa.array([1, 2], pa.int64()), "tag": pa.array(["a", "b"])}), path
    )
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "tag"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_parquet_type_setting_change_infers_again(spark, tmp_path):
    """A recorded schema is only reused under the Parquet type settings it
    was inferred with: flipping binaryAsString gives a fresh read's schema."""
    import pyarrow as pa

    from hive_release_spark.catalog import load_table

    path = table_path(str(tmp_path), "b")
    pq.write_table(pa.table({"blob": pa.array([b"x", b"y"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        for value in ("false", "true", "false"):
            spark.conf.set(key, value)
            got = load_table(spark, str(tmp_path), "b").schema
            assert got == spark.read.parquet(path).schema
            assert got["blob"].dataType.typeName() == (
                "string" if value == "true" else "binary"
            )
    finally:
        spark.conf.set(key, before)


def test_directory_layout_reads_rewritten_inner_file(spark, tmp_path):
    """A directory's version is the listing of the files below it: a
    repeat load of an unchanged directory launches no job, and a file
    rewritten in place infers again although the directory's own stat
    does not change."""
    import os

    import pyarrow as pa

    from hive_release_spark.catalog import load_table
    from tests.conftest import _jobs

    table_dir = table_path(str(tmp_path), "d")
    os.mkdir(table_dir)
    inner = os.path.join(table_dir, "part-0.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), inner)
    assert load_table(spark, str(tmp_path), "d").columns == ["id"]
    df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "d"))
    assert jobs == 0 and df.columns == ["id"]
    dir_stat = os.stat(table_dir)

    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "extra": pa.array([7.5])}), inner
    )
    assert os.stat(table_dir).st_mtime_ns == dir_stat.st_mtime_ns
    df = load_table(spark, str(tmp_path), "d")
    assert df.columns == ["id", "extra"]
    assert [tuple(r) for r in df.collect()] == [(1, 7.5)]
