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
- MERGE raises on multiple source matches per target row (Hive/SQL
  cardinality_violation semantics).
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"  # Hive's directory for NULL


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this rewrite's read and swap."""


def _version_token(path: str) -> tuple:
    """Fingerprint of the table directory: sorted (relpath, size,
    mtime_ns) of every data file. Any committed rewrite changes it."""
    entries = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            entries.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(entries))


def _rewrite(spark: SparkSession, path: str, transform) -> None:
    """Read → transform → staged write → conflict check → directory swap."""
    token = _version_token(path)
    df = spark.read.parquet(path)
    out = transform(df)
    staged = f"{path}.__staged_{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(staged)
    if _version_token(path) != token:
        shutil.rmtree(staged, ignore_errors=True)
        raise ConcurrentWriteError(
            f"table {path} changed during rewrite; retry against the new version"
        )
    old = f"{path}.__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)


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
    df = spark.read.parquet(path)
    rels = _matching_partitions(spark, df, path, partition_filter, partition_cols)
    # conflict detection is scoped to the AFFECTED partitions — a
    # concurrent writer in a different partition is not a conflict
    token = tuple(
        _version_token(d) if os.path.exists(d) else None
        for d in (os.path.join(path, rel) for rel in rels)
    )
    out = transform(df.filter(partition_filter))
    staged = f"{path}.__staged_{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(staged)
    new_rels = [r for r in _staged_partition_rels(staged, partition_cols) if r not in set(rels)]
    recheck = tuple(
        _version_token(d) if os.path.exists(d) else None
        for d in (os.path.join(path, rel) for rel in rels)
    )
    if recheck != token or any(
        os.path.exists(os.path.join(path, rel)) for rel in new_rels
    ):
        shutil.rmtree(staged, ignore_errors=True)
        raise ConcurrentWriteError(
            f"affected partitions of {path} changed during rewrite; retry"
        )
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

    Implemented as a full outer join rewrite; update/delete expressions may
    reference both sides via aliases (``F.col("src.x")``, ``F.col("tgt.x")``).

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

    # One aggregate checks the source: every row must fall inside the
    # scoped partitions, else its update/insert would silently target an
    # unread partition; and each target row may match at most one source
    # row (cardinality; NULL keys group together, as in groupBy).
    out_of_scope = (
        F.lit(False)
        if partition_filter is None
        else ~F.coalesce(partition_filter, F.lit(False))
    )
    keys, dup, stray = (
        source.groupBy(*on)
        .agg(
            (F.count(F.lit(1)) > 1).alias("__dup"),
            F.max(out_of_scope).alias("__stray"),
        )
        .agg(F.count(F.lit(1)), F.max("__dup"), F.max("__stray"))
        .first()
    )
    if stray:
        raise ValueError(
            "partition-scoped MERGE: source rows fall outside partition_filter"
        )
    sentinels = ("__tgt_m", "__src_m")
    for sentinel in sentinels:
        if sentinel in src_cols:
            raise ValueError(f"column name {sentinel!r} is reserved by MERGE")
    if keys == 0 and not evolve_schema:
        return  # an empty source updates, deletes and inserts nothing

    def tr(df: DataFrame) -> DataFrame:
        for sentinel in sentinels:
            if sentinel in df.columns:
                raise ValueError(f"column name {sentinel!r} is reserved by MERGE")
        if dup:
            raise ValueError("MERGE cardinality violation: source has duplicate keys")
        if evolve_schema:
            src_types = {f.name: f.dataType for f in source.schema.fields}
            for c in source.columns:
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None).cast(src_types[c]))
        tgt = df.withColumn("__tgt_m", F.lit(1)).alias("tgt")
        src = source.withColumn("__src_m", F.lit(1)).alias("src")
        joined = tgt.join(src, on, "full_outer")
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
        _rewrite_partitions(spark, target_path, tr, partition_filter, partition_cols)
    else:
        _rewrite(spark, target_path, tr)


def insert_into(spark: SparkSession, path: str, rows: DataFrame) -> None:
    """INSERT INTO t (append)."""
    rows.write.mode("append").parquet(path)


def multi_insert(df: DataFrame, sinks: list[tuple[str, object]]) -> None:
    """Hive multi-insert: FROM (one scan) INSERT ... INSERT ...
    (TOK_DESTINATION per branch, SURVEY.md §2.G). The shared scan is
    cached once; each branch writes its own sink."""
    df.persist()
    try:
        df.count()  # materialize once
        for path, transform in sinks:
            out = transform(df) if callable(transform) else df
            out.write.mode("overwrite").parquet(path)
    finally:
        df.unpersist()
