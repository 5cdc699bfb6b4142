"""Postings-list pair emission: every i<j element pair of a sorted array.

The dedup family, the co-purchase builders and the source-overlap
matrix all group rows into a sorted postings array (documents per
shingle, parts per order, sources per n-gram) and then need each
unordered pair of its elements once. Emitting the pairs inline with
higher-order functions costs one shuffle for the grouping and no
self-join. ``baskets`` builds the array for the basket entries.

The recipe has one non-obvious constraint. Catalyst's
InferFiltersFromGenerate adds ``size(child) > 0 AND isnotnull(child)``
under an inner ``explode``, and that inferred filter copies the whole
pair-array construction twice, so the array is built three times per
row. The rule skips outer generators. So the pair array gets its
own projection, is exploded with ``explode_outer``, and the NULL row
an empty array yields is dropped with ``isNotNull``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def baskets(df: DataFrame, key: str, item: str, items: str) -> DataFrame:
    """One row per ``key`` with its distinct ``item`` values in the
    ascending array column ``items``; no other column survives.

    The fact crosses ONE exchange, a repartition on ``key``. The
    (key, item) distinct and the groupBy both have their clustered
    distribution satisfied by it (subset-key rule), so they chain in
    the same stage with no further shuffle. Persisting the distinct
    frame instead would not help: under AQE a cache boundary reports
    UnknownPartitioning, and every consumer would re-exchange."""
    return (
        df.select(key, item)
        .repartition(key)
        .distinct()
        .groupBy(key)
        .agg(F.sort_array(F.collect_list(item)).alias(items))
    )


def sorted_pairs(
    df: DataFrame, items: str, pair: Callable[[Column, Column], Column]
) -> DataFrame:
    """One row per i<j element pair of the array column ``items``, in a
    struct column ``p = pair(x, y)`` with ``x`` at the lower index.

    When ``items`` is sorted and duplicate-free, that is each unordered
    pair once, smaller element first. Rows whose array is NULL or has
    fewer than two elements emit nothing. No other column survives."""
    arr = F.col(items)
    pair_arrays = df.filter(F.size(items) > 1).select(
        F.flatten(
            F.transform(
                arr,
                lambda x, i: F.transform(
                    F.slice(arr, i + 2, F.size(arr)), lambda y: pair(x, y)
                ),
            )
        ).alias("ps")
    )
    return pair_arrays.select(F.explode_outer("ps").alias("p")).filter(
        F.col("p").isNotNull()
    )
