"""Query registry: operator inventory → runnable (Spark query, SQL oracle).

Every operator family in SURVEY.md §2 is represented by at least one named
query. Each entry pairs

- ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation
  (DataFrame API or Spark SQL; Catalyst picks the physical strategy), and
- ``oracle`` — an equivalent ANSI-SQL string DuckDB can run on the same
  parquet views (the driver's t2 correctness gate, BASELINE.md B3). ``None``
  marks genuinely non-SQL-expressible ops (driver records a rows-only
  check).

Determinism rules (the driver hash-compares values order-insensitively but
exactly):
- every aggregate over doubles is ``round()``-ed identically on both sides;
- every top-k/limit query orders by a unique key combination;
- collected lists are sorted and joined to strings;
- no wall-clock, no RNG without fixed seed.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle)
        return fn

    return deco
