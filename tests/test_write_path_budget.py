"""Job budget of the copy-on-write path: two rounds of MERGE, UPDATE,
DELETE, snapshot write, snapshot read and SCD-2 apply on a private
partitioned copy of sf0.001 ``orders``, with AQE off so every query is
one job plus its broadcasts. In the second round every read finds the
schema the previous commit recorded, so no operation runs a
schema-inference job, and MERGE's source checks ride its staged write;
a change that brings back either job fails here. The same path's part
files carry the session's zstd codec."""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hive_release_spark import catalog
from hive_release_spark.operators import dml, scd, versioning
from tests.conftest import SF_SMOKE, _jobs

# second-round jobs per operation: MERGE runs only the staged write, which
# observes its source checks; the SCD-2 fold broadcasts its changed keys
SECOND_ROUND = {
    "merge": 1,
    "update": 1,
    "delete": 1,
    "snapshot_write": 1,
    "read_snapshot": 0,
    "scd2_apply": 2,
}


def _round(spark, orders, table, snaps, dim, years, r):
    res = F.col("o_orderkey") % 10
    in_year = lambda y: dict(partition_filter=F.col("o_year") == y, partition_cols=["o_year"])  # noqa: E731
    source = orders.filter(
        (F.col("o_year") == years[0]) & res.isin(2 * r, 2 * r + 1)
    ).withColumn("o_totalprice", F.lit(-1.0 - r))
    changes = (
        orders.filter(F.col("o_orderkey") % 4 == r)
        .select(
            F.col("o_custkey").alias("id"),
            F.col("o_orderstatus").alias("attr"),
            F.col("o_orderdate").cast("timestamp").alias("ts"),
        )
        .dropDuplicates(["id", "ts"])
    )
    ops = {
        "merge": lambda: dml.merge_into(
            spark, table, source, on=["o_orderkey"],
            matched_update={"o_totalprice": F.col("src.o_totalprice")}, **in_year(years[0]),
        ),
        "update": lambda: dml.update_table(
            spark, table, {"o_orderpriority": F.lit(f"upd-{r}")}, res == 5 + r, **in_year(years[1]),
        ),
        "delete": lambda: dml.delete_from(spark, table, res == 7 + r, **in_year(years[2])),
        "snapshot_write": lambda: versioning.snapshot_write(
            catalog.read_parquet(spark, table).groupBy("o_custkey").agg(F.count("*").alias("n")),
            snaps,
        ),
        "read_snapshot": lambda: versioning.read_snapshot(spark, snaps),
        "scd2_apply": lambda: scd.scd2_apply(spark, dim, changes),
    }
    return {name: _jobs(spark, op)[1] for name, op in ops.items()}


def test_second_round_runs_no_schema_inference(spark, tmp_path):
    table, snaps, dim = (str(tmp_path / d) for d in ("orders", "snaps", "dim"))
    orders = catalog.load_table(spark, SF_SMOKE, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.partitionBy("o_year").parquet(table)
    years = sorted(r[0] for r in orders.select("o_year").distinct().collect())
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        rounds = [_round(spark, orders, table, snaps, dim, years, r) for r in range(2)]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert rounds[1] == SECOND_ROUND
    assert versioning.read_snapshot(spark, snaps).count() == (
        spark.read.parquet(table).select("o_custkey").distinct().count()
    )
    assert catalog.read_parquet(spark, dim).schema == spark.read.parquet(dim).schema


def _codecs(files) -> set[str]:
    """Compression of every column chunk in the first row group of each
    Parquet file."""
    codecs = set()
    for f in files:
        rg = pq.ParquetFile(f).metadata.row_group(0)
        codecs.update(rg.column(i).compression for i in range(rg.num_columns))
    return codecs


def test_engine_commits_write_zstd(spark, tmp_path):
    """The session compresses shuffle and Parquet output with zstd, every
    engine commit of two rounds (partition-scoped MERGE, UPDATE and
    DELETE, snapshot write, first and second SCD-2 apply) inherits it,
    and a writer's own ``compression`` option still wins."""
    assert spark.sparkContext.getConf().get("spark.io.compression.codec") == "zstd"
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"

    table, snaps, dim = (str(tmp_path / d) for d in ("orders", "snaps", "dim"))
    parts = lambda: set(tmp_path.glob("**/part-*.parquet"))  # noqa: E731
    orders = catalog.load_table(spark, SF_SMOKE, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.option("compression", "snappy").partitionBy("o_year").parquet(table)
    seed = parts()
    assert _codecs(seed) == {"SNAPPY"}
    years = sorted(r[0] for r in orders.select("o_year").distinct().collect())
    for r in range(2):
        _round(spark, orders, table, snaps, dim, years, r)
        written = parts() - seed
        assert _codecs(written) == {"ZSTD"}
        assert {f.relative_to(tmp_path).parts[0] for f in written} == {"orders", "snaps", "dim"}
        assert {f.parent.name for f in written if f.is_relative_to(table)} == {
            f"o_year={y}" for y in years[:3]
        }
