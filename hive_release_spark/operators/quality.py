"""Data-quality validation (dbt-test / Deequ-style constraint checks).

Hive 2.3 accepts PRIMARY KEY / FOREIGN KEY / NOT NULL as INFORMATIONAL
(non-validated) constraints — `ql/metadata/PrimaryKeyInfo` et al. exist
purely for the CBO. The operational half every warehouse bolts on is the
VALIDATION pass: count the violations so a pipeline can gate a load.
That pass is what this module provides, as plain aggregates/anti-joins
so Catalyst plans them like any other query.

Scale shape: each check is one scan of the checked table (not-null
counts ride a single conditional agg; PK duplication is one groupBy on
the key; FK orphans are a LEFT ANTI join where the dimension side
broadcasts when small). Nothing collects; the report is one row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pk_duplicates(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """One row per duplicated key with its multiplicity (> 1)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def fk_orphans(fact: DataFrame, fk_col: str, dim: DataFrame, pk_col: str) -> DataFrame:
    """Fact rows whose FK value has no dimension match (NULL FKs are not
    orphans — SQL FK semantics). LEFT ANTI join; broadcast-eligible."""
    keys = dim.select(F.col(pk_col).alias(fk_col)).distinct()
    return fact.filter(F.col(fk_col).isNotNull()).join(keys, fk_col, "left_anti")


def dq_summary(
    df: DataFrame,
    pk: list[str] | None = None,
    not_null: list[str] | None = None,
    fks: list[tuple[str, DataFrame, str]] | None = None,
) -> DataFrame:
    """ONE-row violation report: rows scanned, PK duplicate keys and
    excess rows, per-column NULL counts, per-FK orphan counts."""
    aggs = [F.count("*").alias("n_rows")]
    for c in not_null or []:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"null_{c}"))
    report = df.agg(*aggs)
    if pk:
        dup = pk_duplicates(df, pk).agg(
            F.count("*").alias("dup_keys"),
            F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("long").alias("dup_excess_rows"),
        )
        report = report.crossJoin(dup)
    for fk_col, dim, pk_col in fks or []:
        orphans = fk_orphans(df, fk_col, dim, pk_col).agg(
            F.count("*").alias(f"orphans_{fk_col}")
        )
        report = report.crossJoin(orphans)
    return report
