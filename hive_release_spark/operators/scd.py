"""SCD Type-2 dimension maintenance: batch history build + incremental
CDC apply (the foreachBatch sink of a streaming change feed).

The warehouse pattern behind ``user_state_scd2`` (queries/analytics3.py)
as a WRITABLE dimension: ``scd2_history`` collapses a change log into
versioned validity intervals, and ``scd2_apply`` folds a new change
batch into an existing dimension table incrementally — only the
affected keys' history is recomputed and rewritten, untouched keys'
rows are carried over unchanged (the copy-on-write scoping rule the
DML layer uses for partitions, applied per key set).

Scale shape: ``scd2_history`` is one key exchange (lag window + run
collapse + lead over the collapsed frame — see the query's docstring);
``scd2_apply`` touches target rows for CHANGED keys only via one
semi/anti join pair on the key, so a steady-state CDC tick costs
O(batch + affected history), never a full-dimension rebuild. The
commit is the unpartitioned copy-on-write of the DML layer
(``dml._rewrite``): the folded table is written to a staging directory
and swapped in atomically, with concurrent-writer detection. The read
and the write never share a directory, so nothing is checkpointed, and
a failed write leaves the previous dimension intact. Partition the
dimension by key range and route through
``merge_into(partition_filter=...)`` when single files stop being
appropriate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_release_spark.operators import dml


def scd2_history(
    changes: DataFrame,
    key: str = "id",
    state: str = "attr",
    ts: str = "ts",
) -> DataFrame:
    """Collapse a change log into SCD-2 rows: one row per run of equal
    ``state`` per ``key``, with ``valid_from`` (first change of the
    run), ``valid_to`` (next run's start, NULL while current),
    ``version`` (1-based per key) and ``is_current``.

    Consecutive duplicate states merge into one run (a no-op change
    creates no version). ``(key, ts)`` pairs must be unique — the
    deterministic-ordering contract; pre-dedup the feed otherwise.
    """
    w = W.partitionBy(key).orderBy(ts)
    prev = F.lag(state).over(w)
    marked = changes.select(key, state, ts).withColumn(
        "__chg",
        F.when(prev.isNull() | (prev != F.col(state)), 1).otherwise(0),
    )
    runs = marked.withColumn(
        "version", F.sum("__chg").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    per = runs.groupBy(key, "version").agg(
        F.min(state).alias(state),
        F.min(ts).alias("valid_from"),
    )
    wv = W.partitionBy(key).orderBy("version")
    return per.select(
        key,
        F.col("version").cast("int").alias("version"),
        state,
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def scd2_apply(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key: str = "id",
    state: str = "attr",
    ts: str = "ts",
) -> None:
    """Fold one CDC batch into the SCD-2 table at ``path`` (created on
    first call). Affected keys' history is rebuilt from (their existing
    version rows + the new changes) — version rows are keyed by
    ``valid_from``, so replaying them through :func:`scd2_history` is
    idempotent and merges no-op changes; unaffected keys are carried
    over byte-equal. Designed as a ``foreachBatch`` body: per-batch
    ordering within the batch is handled by the run collapse, and
    re-delivery of an already-applied batch is a no-op (same history in,
    same history out).
    """
    import os

    incoming = changes.select(key, state, ts)
    if not os.path.exists(path):
        scd2_history(incoming, key, state, ts).write.parquet(path)
        return
    affected = incoming.select(key).distinct()

    def fold(tgt: DataFrame) -> DataFrame:
        untouched = tgt.join(affected, key, "left_anti")
        prior = (
            tgt.join(affected, key, "semi")
            .select(key, state, F.col("valid_from").alias(ts))
        )
        rebuilt = scd2_history(prior.unionByName(incoming), key, state, ts)
        return untouched.unionByName(rebuilt)

    dml._rewrite(spark, path, fold)
