"""Global top-k with a 1..k rank column.

``orderBy(...).limit(k)`` plans as TakeOrderedAndProject: each
partition keeps its own k best rows and the driver merges those heads.
The rank window then runs over the k survivors only. Spark can rewrite
a global ``row_number()`` window filtered on ``rank <= k`` into the
same shape, but the explicit limit keeps the top-k from depending on
that optimizer rewrite.
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
