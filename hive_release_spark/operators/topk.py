"""Global ordering helpers: ranked top-k and the single-task sort of a
bounded result.

``orderBy(...).limit(k)`` plans as TakeOrderedAndProject: each
partition keeps its own k best rows and the driver merges those heads.
The rank window then runs over the k survivors only. Spark can rewrite
a global ``row_number()`` window filtered on ``rank <= k`` into the
same shape, but the explicit limit keeps the top-k from depending on
that optimizer rewrite.

A full ``orderBy`` plans a range exchange, whose bounds come from a
separate sampling job. For a result of a few rows that is one job and
one stage spent on nothing; ``bounded_sort`` sorts them in one task, as
Hive's ORDER BY does on its single reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_topk(df: DataFrame, k: int, *order: Column | str) -> DataFrame:
    """The first ``k`` rows of ``df`` under ``order``, with their 1-based
    position in column ``rk``.

    Precondition: ``order`` is total. Its trailing keys must be unique
    per row, or rows tied at the k-th place are cut arbitrarily and
    ranks among tied rows are arbitrary."""
    return (
        df.orderBy(*order)
        .limit(k)
        .withColumn("rk", F.row_number().over(Window.orderBy(*order)))
    )


def bounded_sort(df: DataFrame, *order: Column | str) -> DataFrame:
    """``df`` sorted by ``order`` in a single task.

    ``coalesce(1)`` reports ``SinglePartition``, which already satisfies
    the global sort's ordered distribution, so the planner adds no range
    exchange and runs no sampling job. Should a plan ever lose that
    property, Spark puts the range exchange back; the result is sorted
    either way.

    Precondition: ``df`` is an aggregate result over a fixed key domain,
    optionally followed by Project, Filter or a broadcast join to a
    bounded dimension, with no file scan in its final stage. Its rows
    and its aggregate's shuffle then stay small at any scale (AQE would
    merge that shuffle into one partition anyway), and no scan or
    per-row stage collapses onto the one task. Each caller states what
    bounds its rows."""
    return df.coalesce(1).orderBy(*order)
