"""DML as join-rewrites over parquet tables (ACID-lite).

Hive 2.3 implements UPDATE/DELETE/MERGE on ACID tables via delta files +
background compaction (``ql/io/AcidUtils``, ``ql/txn/compactor/CompactorMR``,
``parse/UpdateDeleteSemanticAnalyzer`` — SURVEY.md §2.B). Plain parquet has
no delta mechanism, so this module provides the documented equivalent:
**copy-on-write table rewrite** — read, apply the mutation as a relational
rewrite, write to a staging dir, atomically swap. This is exactly what
lakehouse formats do per-file; here the granularity is the table (or the
partition, via ``partition_filter``), which is the honest plain-parquet
contract. The partitions a scoped statement touches are chosen on
metadata, as Hive's ``PartitionPruner`` evaluates the predicate against
partition specs: the filter runs over the directory listing, never over
the partitions' rows.

Semantics guarantees:
- readers see either the old or the new table (directory swap), never a mix;
- concurrent writers are DETECTED, not serialized: the rewrite
  fingerprints the table's file listing when it reads and re-checks it
  after the staged write — a conflicting commit in between raises
  ``ConcurrentWriteError`` and leaves the winner's table intact
  (optimistic first-writer-wins; Hive serialized with ZK/DB locks —
  out of scope, SURVEY.md §2.J — and a residual check-to-rename race
  window remains, as in any lockless design);
- a failed staged write removes its staging directory and leaves the
  table unchanged;
- MERGE raises when two source rows share a join key, NULL keys grouped
  together as ``groupBy`` groups them, whether or not a target row
  matches them. This is stricter than Hive's ``cardinality_violation()``,
  which fails only when one target row matches twice.

MERGE speculates, then guards. Hive 2.3 rewrites a MERGE into one
multi-insert statement whose ``cardinality_violation()`` branch fails the
query from inside (``UpdateDeleteSemanticAnalyzer``); likewise the scope
and cardinality checks here run inside the MERGE's own staged write. The
source is grouped by the join keys once; an ``Observation`` on that
grouping returns the check flags from the write job, and a guard reads
them after the write and before the conflict check and swap. A failed
check discards the staged write and raises, scope first, then
cardinality. When AQE proves the join's target side empty it never runs
the observed source side (a no-insert MERGE into an empty target); the
observation then holds no row, and the guard computes the same flags
with one aggregate. Trade-off: an empty source costs one discarded
staged write, not one aggregate; the table stays byte-identical.

Every commit hands the new table's schema to the catalog
(:func:`catalog.record`), as Hive's ``MoveTask`` records it in the
metastore, so the next statement's read launches no schema-inference job.
The schema is recorded under the listing version the commit itself
produced, never under a listing taken after the swap, so a concurrent
writer's commit cannot inherit it:
- a full rewrite records the written frame's schema under the staged
  directory's listing, taken before the rename (a rename keeps every
  file's size and mtime);
- a partition-scoped rewrite *predicts* the version: the listing it read,
  minus the entries under the rewritten partitions, plus the staged
  entries under them. It carries the schema it read to that version only
  if no partition was created, none was emptied, and the written frame's
  non-partition columns have the read schema's names and types in the
  same order; otherwise it records nothing and the next read infers.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

import pyarrow as pa
from pyspark.sql import Column, DataFrame, DataFrameWriter, Observation, SparkSession
from pyspark.sql import functions as F

from hive_release_spark import catalog


_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"  # Hive's directory for NULL


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this rewrite's read and swap."""


def _write_staged(writer: DataFrameWriter, path: str, guard=None) -> str | None:
    """Write to a fresh staging sibling of ``path`` and return it.

    ``guard``, if given, runs after the write: it raises to abort the
    statement, or returns False to discard the write (None is returned).
    A failed write or guard removes the staging directory before the
    error propagates."""
    staged = f"{path}.__staged_{uuid.uuid4().hex[:8]}"
    try:
        writer.mode("overwrite").parquet(staged)
        if guard is None or guard():
            return staged
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    shutil.rmtree(staged, ignore_errors=True)
    return None


def _rewrite(spark: SparkSession, path: str, transform, guard=None) -> None:
    """Read → transform → staged write → guard → conflict check →
    directory swap."""
    token = catalog.listing_version(path)
    out = transform(catalog.read_parquet(spark, path, token))
    staged = _write_staged(out.write, path, guard)
    if staged is None:
        return
    written = catalog.listing_version(staged)
    if catalog.listing_version(path) != token:
        shutil.rmtree(staged, ignore_errors=True)
        raise ConcurrentWriteError(
            f"table {path} changed during rewrite; retry against the new version"
        )
    old = f"{path}.__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)
    catalog.record(spark, path, written, out.schema)


def _staged_partition_rels(staged: str, partition_cols: list[str]) -> list[str]:
    """Relative ``col=value[/col=value...]`` paths actually present in a
    staged partitioned write (leaf partition directories only)."""
    rels: list[str] = []

    def walk(d: str, depth: int, rel: str) -> None:
        if depth == len(partition_cols):
            rels.append(rel)
            return
        prefix = partition_cols[depth] + "="
        for name in sorted(os.listdir(d)):
            p = os.path.join(d, name)
            if os.path.isdir(p) and name.startswith(prefix):
                walk(p, depth + 1, os.path.join(rel, name) if rel else name)

    walk(staged, 0, "")
    return rels


def _data_columns(schema, partition_cols: list[str]) -> list[tuple]:
    """(name, type) of the non-partition columns, in order."""
    return [(f.name, f.dataType) for f in schema.fields if f.name not in partition_cols]


def _unescape_path_name(name: str) -> str:
    """Inverse of Spark's partition-path escaping (``a%3A1`` → ``a:1``),
    as ``ExternalCatalogUtils.unescapePathName`` decodes it."""
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name)


def _matching_partitions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_filter: Column,
    partition_cols: list[str],
) -> list[str]:
    """Relative ``col=value[/...]`` directories of ``path`` whose partition
    values satisfy ``partition_filter``, exactly as they appear on disk.

    Pruning runs on metadata, as Hive's ``PartitionPruner`` evaluates the
    predicate against partition specs: the leaf directories are listed,
    their values decoded (``__HIVE_DEFAULT_PARTITION__`` is NULL) and cast
    to the table's partition types, and the filter is applied to that
    in-memory local frame. No data is read and no Spark job runs."""
    rels = _staged_partition_rels(path, partition_cols)
    values: dict[str, list[str | None]] = {c: [] for c in partition_cols}
    for rel in rels:
        for c, part in zip(partition_cols, rel.split(os.sep)):
            v = part[len(c) + 1 :]
            values[c].append(None if v == _DEFAULT_PARTITION else _unescape_path_name(v))
    listing = spark.createDataFrame(
        pa.table({**{c: pa.array(v, pa.string()) for c, v in values.items()}, "__rel": rels})
    )
    typed = listing.select(
        *(F.col(c).cast(df.schema[c].dataType).alias(c) for c in partition_cols), "__rel"
    )
    return [r["__rel"] for r in typed.filter(partition_filter).select("__rel").collect()]


def _rewrite_partitions(
    spark: SparkSession,
    path: str,
    transform,
    partition_filter: Column,
    partition_cols: list[str],
    guard=None,
) -> None:
    """Partition-scoped copy-on-write (SCALE.md cliff #4): only partitions
    matching ``partition_filter`` are read, rewritten, and swapped; every
    other partition directory is untouched (identical files and mtimes).

    The affected partitions come from metadata, the directory listing
    (:func:`_matching_partitions`), never from a scan of their rows, and
    Catalyst prunes the rewrite's scan to the same partitions, so at
    100 TB a DELETE on one day lists the table's directories and reads
    one day's files.

    The transform may also EMIT rows in partitions the target had no rows
    for (MERGE inserts into a fresh day): those staged directories are
    renamed in as new partitions, with a commit-time existence check so a
    concurrent writer creating the same partition is a detected conflict,
    not a silent replace."""
    version = catalog.listing_version(path)
    df = catalog.read_parquet(spark, path, version)
    rels = _matching_partitions(spark, df, path, partition_filter, partition_cols)
    # conflict detection is scoped to the AFFECTED partitions — a
    # concurrent writer in a different partition is not a conflict
    token = tuple(
        catalog.listing_version(d) if os.path.exists(d) else None
        for d in (os.path.join(path, rel) for rel in rels)
    )
    out = transform(df.filter(partition_filter))
    staged = _write_staged(out.write.partitionBy(*partition_cols), path, guard)
    if staged is None:
        return
    staged_rels = _staged_partition_rels(staged, partition_cols)
    new_rels = [r for r in staged_rels if r not in set(rels)]
    recheck = tuple(
        catalog.listing_version(d) if os.path.exists(d) else None
        for d in (os.path.join(path, rel) for rel in rels)
    )
    if recheck != token or any(
        os.path.exists(os.path.join(path, rel)) for rel in new_rels
    ):
        shutil.rmtree(staged, ignore_errors=True)
        raise ConcurrentWriteError(
            f"affected partitions of {path} changed during rewrite; retry"
        )
    # the read schema still describes the table if the partition set and
    # the written files' columns are unchanged (see the module docstring)
    carry = set(staged_rels) == set(rels) and _data_columns(
        out.schema, partition_cols
    ) == _data_columns(df.schema, partition_cols)
    if carry:
        scoped = tuple(rel + os.sep for rel in rels)
        predicted = tuple(sorted(
            [e for e in version if not e[0].startswith(scoped)]
            + [
                (os.path.join(rel, name), size, mtime)
                for rel in rels
                for name, size, mtime in catalog.listing_version(os.path.join(staged, rel))
            ]
        ))
    try:
        for rel in rels + new_rels:
            old_dir = os.path.join(path, rel)
            new_dir = os.path.join(staged, rel)
            if os.path.exists(old_dir):
                shutil.rmtree(old_dir)
            if os.path.exists(new_dir):
                # absent when the rewrite emptied the partition (full delete)
                os.makedirs(os.path.dirname(old_dir), exist_ok=True)
                os.rename(new_dir, old_dir)
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    if carry:
        catalog.record(spark, path, predicted, df.schema)


def update_table(
    spark: SparkSession,
    path: str,
    assignments: dict[str, Column],
    where: Column,
    partition_filter: Column | None = None,
    partition_cols: list[str] | None = None,
) -> None:
    """UPDATE t SET col = expr, ... WHERE cond.

    With ``partition_filter`` (a predicate over ``partition_cols`` only),
    the copy-on-write rewrite is scoped to the matching partitions; rows in
    other partitions are untouched without being read or rewritten."""

    def tr(df: DataFrame) -> DataFrame:
        for col, expr in assignments.items():
            df = df.withColumn(col, F.when(where, expr).otherwise(F.col(col)))
        return df

    if partition_filter is not None:
        if not partition_cols:
            raise ValueError("partition_filter requires partition_cols")
        moved = set(assignments) & set(partition_cols)
        if moved:
            # reassigning a partition column moves rows into partitions the
            # scoped rewrite may not own — a full-table rewrite is the
            # correct (and honest) path for that
            raise ValueError(
                f"partition-scoped UPDATE cannot reassign partition columns {sorted(moved)}; "
                "use a full-table update_table(partition_filter=None)"
            )
        _rewrite_partitions(spark, path, tr, partition_filter, partition_cols)
    else:
        _rewrite(spark, path, tr)


def delete_from(
    spark: SparkSession,
    path: str,
    where: Column,
    partition_filter: Column | None = None,
    partition_cols: list[str] | None = None,
) -> None:
    """DELETE FROM t WHERE cond (partition-scoped when ``partition_filter``
    is given — see :func:`update_table`)."""
    tr = lambda df: df.filter(~where | where.isNull())  # noqa: E731
    if partition_filter is not None:
        if not partition_cols:
            raise ValueError("partition_filter requires partition_cols")
        _rewrite_partitions(spark, path, tr, partition_filter, partition_cols)
    else:
        _rewrite(spark, path, tr)


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    on: list[str],
    matched_update: dict[str, Column] | None = None,
    not_matched_insert: bool = True,
    matched_delete: Column | None = None,
    partition_filter: Column | None = None,
    partition_cols: list[str] | None = None,
    evolve_schema: bool = False,
) -> None:
    """MERGE INTO target USING source ON keys
    [WHEN MATCHED AND cond THEN DELETE] [WHEN MATCHED THEN UPDATE SET ...]
    [WHEN NOT MATCHED THEN INSERT].

    ``evolve_schema=True`` is the lakehouse mergeSchema contract: source
    columns absent from the target are ADDED (typed NULL on existing
    rows) instead of silently dropped; inserted rows carry their source
    values, matched rows take them only through ``matched_update``.

    Implemented as a full outer join rewrite of the target with the source
    grouped by ``on``; update/delete expressions may reference both sides
    via aliases (``F.col("src.x")``, ``F.col("tgt.x")``). A source with a
    repeated key raises (cardinality violation), as does a scoped MERGE's
    source row outside ``partition_filter``; both are checked by the
    staged write itself, before its commit.

    Matched/not-matched detection uses sentinel marker columns added to each
    side before the join, never the nullness of data columns — a nullable
    data column that is NULL on a matched row must not flip the row into the
    insert branch (silent corruption otherwise).

    With ``partition_filter`` (a predicate over ``partition_cols``, which
    every source row must satisfy — enforced), the copy-on-write rewrite is
    scoped to the matching partitions: a 100 TB MERGE of one day's CDC batch
    reads and rewrites one day, not the table. Inserts landing in partitions
    the target has no rows for become new partition directories; partitions
    outside the filter keep identical files and mtimes.
    """
    src_cols = source.columns
    if partition_filter is not None:
        if not partition_cols:
            raise ValueError("partition_filter requires partition_cols")
        missing = [c for c in partition_cols if c not in src_cols]
        if missing:
            raise ValueError(
                f"partition-scoped MERGE source lacks partition columns {missing}"
            )
        moved = set(matched_update or {}) & set(partition_cols)
        if moved:
            # same rule as partition-scoped UPDATE: reassigning a partition
            # column moves rows into partitions the scoped rewrite may not
            # own — and if the destination partition exists, the commit's
            # ConcurrentWriteError("retry") could never be cleared by a retry
            raise ValueError(
                f"partition-scoped MERGE cannot reassign partition columns {sorted(moved)}; "
                "use a full-table merge_into(partition_filter=None)"
            )

    sentinels = ("__tgt_m", "__src_m")
    for sentinel in sentinels:
        if sentinel in src_cols:
            raise ValueError(f"column name {sentinel!r} is reserved by MERGE")

    # Speculate, then guard (module docstring). The source is grouped by
    # the join keys once; the join reuses that grouping's hash exchange,
    # and the grouping carries both checks: every source row must fall
    # inside the scoped partitions, else its update/insert would silently
    # target an unread partition, and no key may repeat (cardinality).
    # The grouped frame's one non-key column, ``__src_m`` (reserved, so no
    # source column collides with it), holds the key's row count, its
    # out-of-scope flag and its other source columns. It is non-NULL on
    # every source-side row of the join, so it is also the matched marker.
    out_of_scope = (
        F.lit(False)
        if partition_filter is None
        else ~F.coalesce(partition_filter, F.lit(False))
    )
    rest = [c for c in src_cols if c not in on]
    grouped = source.groupBy(*on).agg(
        F.struct(
            F.count(F.lit(1)).alias("n"),
            F.max(out_of_scope).alias("stray"),
            *([F.first(F.struct(*rest)).alias("row")] if rest else []),
        ).alias("__src_m")
    )
    # retry-safe flags only (bool_or, max, and count read as > 0): a
    # re-executed task may add its rows to the metrics twice
    flags = (
        F.bool_or(F.col("__src_m.n") > 1).alias("dup"),
        F.max("__src_m.stray").alias("stray"),
        F.count(F.lit(1)).alias("keys"),
    )
    # observed directly above the grouping, so no filter the join infers
    # (isnotnull(key) on a no-insert MERGE) can be pushed below it
    observation = Observation()
    grouped_src = grouped.observe(observation, *flags).select(
        *on, *(["__src_m.row.*"] if rest else []), "__src_m"
    )

    def guard() -> bool:
        """Raise on a failed source check; False discards the write of an
        empty source (nothing to update, delete or insert)."""
        # AQE drops the source side of a join it proves empty (a no-insert
        # MERGE into an empty target); the observation then completes with
        # no row, and the flags are computed directly instead
        got = (
            grouped.agg(*flags).first()
            if observation._jo.getRow().length() == 0
            else observation.get
        )
        if got["stray"]:
            raise ValueError(
                "partition-scoped MERGE: source rows fall outside partition_filter"
            )
        if got["dup"]:
            raise ValueError("MERGE cardinality violation: source has duplicate keys")
        return got["keys"] > 0 or evolve_schema

    def tr(df: DataFrame) -> DataFrame:
        for sentinel in sentinels:
            if sentinel in df.columns:
                raise ValueError(f"column name {sentinel!r} is reserved by MERGE")
        if evolve_schema:
            src_types = {f.name: f.dataType for f in source.schema.fields}
            for c in source.columns:
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None).cast(src_types[c]))
        tgt = df.withColumn("__tgt_m", F.lit(1)).alias("tgt")
        joined = tgt.join(grouped_src.alias("src"), on, "full_outer")
        matched = F.col("__tgt_m").isNotNull() & F.col("__src_m").isNotNull()
        src_only = F.col("__tgt_m").isNull()

        # WHEN MATCHED AND cond THEN DELETE — cond sees tgt.* and src.* on
        # the joined frame; NULL cond keeps the row (SQL three-valued AND).
        if matched_delete is not None:
            joined = joined.filter(
                ~F.coalesce(matched & matched_delete, F.lit(False))
            )
        if not not_matched_insert:
            joined = joined.filter(~src_only)

        out_cols = []
        for c in df.columns:
            if c in on:
                # using-join coalesces key columns; correct for both the
                # surviving-target and inserted-source rows
                out_cols.append(F.col(c).alias(c))
                continue
            col = F.col(f"tgt.{c}")
            if matched_update and c in matched_update:
                col = F.when(matched, matched_update[c]).otherwise(col)
            if not_matched_insert and c in src_cols:
                col = F.when(src_only, F.col(f"src.{c}")).otherwise(col)
            out_cols.append(col.alias(c))
        return joined.select(*out_cols)

    if partition_filter is not None:
        _rewrite_partitions(
            spark, target_path, tr, partition_filter, partition_cols, guard
        )
    else:
        _rewrite(spark, target_path, tr, guard)


def insert_into(spark: SparkSession, path: str, rows: DataFrame) -> None:
    """INSERT INTO t (append)."""
    rows.write.mode("append").parquet(path)


def multi_insert(df: DataFrame, sinks: list[tuple[str, object]]) -> None:
    """Hive multi-insert: FROM (one scan) INSERT ... INSERT ...
    (TOK_DESTINATION per branch, SURVEY.md §2.G). The shared scan is
    cached once: the first branch's write fills the cache and the later
    branches read it. Each branch writes its own sink."""
    df.persist()
    try:
        for path, transform in sinks:
            out = transform(df) if callable(transform) else df
            out.write.mode("overwrite").parquet(path)
    finally:
        df.unpersist()
