"""Data-layout optimization: Z-order (Morton-curve) clustered writes.

The multi-dimensional clustering technique lakehouse engines expose as
``OPTIMIZE ... ZORDER BY`` (Delta) / ``ALTER TABLE ... WRITE ORDERED BY``
(Iceberg): interleave the bits of per-column rank buckets into one sort
key so that rows close in ANY clustered column land in the same files —
then every file carries narrow min/max ranges on EVERY clustered column
and predicate-pushdown row-group pruning works for all of them, not just
the first sort column. Hive 2.3 has no analogue (its SORTED BY clusters
one column); this is part of the 100 TB posture: at scale, scan pruning
is the difference between touching 1% and 100% of files.

Scale shape: per-column bucket boundaries come from ``approxQuantile``
(driver-bounded: n_buckets-1 doubles per column, the same contract as
the k-means centroids); bucketing + bit interleaving are pure JVM
expressions; the only exchange is the ``repartitionByRange`` on the
z-value that any clustered write needs. No global sort, no window.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BITS = 6  # 64 buckets per column; z-value fits comfortably in a long


def _bucket_expr(col: str, cuts: list[float]) -> Column:
    """Map a value to its quantile bucket [0, len(cuts)] via the literal
    sorted cut-point array — O(n_buckets) JVM expression, no shuffle."""
    arr = F.array(*[F.lit(float(c)) for c in cuts])
    return F.size(F.filter(arr, lambda c: F.col(col).cast("double") >= c))


def _interleave(buckets: list[Column]) -> Column:
    """Morton interleave: bit i of column j lands at position
    i * n_cols + j."""
    n = len(buckets)
    parts = []
    for j, b in enumerate(buckets):
        for i in range(BITS):
            parts.append(
                F.shiftleft(
                    F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)),
                    i * n + j,
                )
            )
    return functools.reduce(operator.add, parts)


def zorder_key(df: DataFrame, cols: list[str]) -> Column:
    """The z-value column for ``cols`` (each bucketed into 2**BITS
    quantile buckets so skewed distributions still spread evenly)."""
    n_buckets = 2**BITS
    quantiles = [i / n_buckets for i in range(1, n_buckets)]
    buckets = []
    for c in cols:
        cuts = df.approxQuantile(c, quantiles, 0.001)
        buckets.append(_bucket_expr(c, cuts))
    return _interleave(buckets)


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int = 16
) -> None:
    """Write ``df`` z-order-clustered on ``cols`` into ~``n_files``
    range-partitioned parquet files (each file owns a contiguous z-range,
    so its footer min/max is narrow on every clustered column)."""
    z = zorder_key(df, cols)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
