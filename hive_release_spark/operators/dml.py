"""DML as join-rewrites over parquet tables (ACID-lite).

Hive 2.3 implements UPDATE/DELETE/MERGE on ACID tables via delta files +
background compaction (``ql/io/AcidUtils``, ``ql/txn/compactor/CompactorMR``,
``parse/UpdateDeleteSemanticAnalyzer`` — SURVEY.md §2.B). Plain parquet has
no delta mechanism, so this module provides the documented equivalent:
**copy-on-write table rewrite** — read, apply the mutation as a relational
rewrite, write to a staging dir, swap it in by renames. This is exactly what
lakehouse formats do per-file; here the granularity is the table (or the
partition, via ``partition_filter``), which is the honest plain-parquet
contract. The partitions a scoped statement touches are chosen on
metadata, as Hive's ``PartitionPruner`` evaluates the predicate against
partition specs: the filter runs over the directory listing, never over
the partitions' rows.

Semantics guarantees:
- one commit path, :func:`_commit`, serves UPDATE, DELETE, MERGE and the
  SCD-2 fold. It writes the new rows with the table's partition columns
  (the caller's ``partition_cols``, else the ``col=value`` levels of the
  table's files), so a full-table statement keeps a partitioned table
  partitioned. Its units are the table directory, or the partitions a
  ``partition_filter`` scopes the statement to. A partitioned table the
  statement leaves with no row keeps one empty file with its data
  schema in its first partition, since Spark writes no file for an empty
  partitioned output and a table without one cannot be read;
- each unit is swapped by two renames: the old directory goes aside under
  ``{path}.__old_<hex>/``, then the staged one takes its place. Old files
  are deleted only after every unit is in place. Between a unit's two
  renames a reader finds it absent: the table path does not exist, or
  the partition reads as holding no rows. A scoped statement swaps its
  partitions one after another, so a reader listing during the swap may
  see some partitions new and others old;
- concurrent writers are DETECTED, not serialized: the commit
  fingerprints its units' file listings when it reads and re-checks them
  after the staged write — a conflicting commit in between raises
  ``ConcurrentWriteError`` and leaves the winner's table intact
  (optimistic first-writer-wins; Hive serialized with ZK/DB locks —
  out of scope, SURVEY.md §2.J — and a residual check-to-rename race
  window remains, as in any lockless design);
- a failed commit leaves the table unchanged: a failed staged write or
  guard removes its staging directory, and a rename that fails during
  the swap moves every unit already set aside back into place, removes
  the directories the swap made for new partitions, and discards the
  staged write;
- MERGE raises when two source rows share a join key, NULL keys grouped
  together as ``groupBy`` groups them, whether or not a target row
  matches them. This is stricter than Hive's ``cardinality_violation()``,
  which fails only when one target row matches twice.

MERGE speculates, then guards. Hive 2.3 rewrites a MERGE into one
multi-insert statement over an outer join whose
``cardinality_violation()`` branch fails the query from inside
(``UpdateDeleteSemanticAnalyzer``), and its reduce-side join sends both
tagged inputs through one shuffle. Here too the target and the source
share one hash exchange on the join keys: their rows are unioned and one
window per key finds the key's source row and counts its target and
source rows. An ``Observation`` directly above that window returns the
scope and cardinality flags from the staged write, and a guard reads
them after the write and before the conflict check and swap. A failed
check discards the staged write and raises, scope first, then
cardinality. An observation with no row means the write read no row, so
the source was empty. Trade-off: an empty source costs one discarded
staged write, not one aggregate; the table stays byte-identical.

A commit hands the new table's schema to the catalog
(:func:`catalog.record`), as Hive's ``MoveTask`` records it in the
metastore, so the next statement's read launches no schema-inference job.
The schema is the one a fresh read would infer, recorded under the
listing version the commit itself produced, never under a listing taken
after the swap, so a concurrent writer's commit cannot inherit it. That
version is the listing it read, minus the entries under its units, plus
the staged entries under them (a rename keeps every file's size and
mtime); for a full-table statement it is the staged listing. It is
recorded only if no partition was created or emptied and, when files
outside the units survive, the written data columns have the read
schema's names and types in the same order; otherwise the next read
infers.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

import pyarrow as pa
from pyspark.sql import Column, DataFrame, DataFrameWriter, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hive_release_spark import catalog


_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"  # Hive's directory for NULL


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this rewrite's read and swap."""


def _write_staged(writer: DataFrameWriter, path: str, guard=None) -> str | None:
    """Write to a fresh staging sibling of ``path`` and return it.

    ``guard``, if given, runs after the write on the staging directory:
    it raises to abort the statement, or returns False to discard the
    write (None is returned). A failed write or guard removes the staging
    directory before the error propagates."""
    staged = f"{path}.__staged_{uuid.uuid4().hex[:8]}"
    keep = False
    try:
        writer.mode("overwrite").parquet(staged)
        keep = guard is None or guard(staged)
    finally:
        if not keep:
            shutil.rmtree(staged, ignore_errors=True)
    return staged if keep else None


def _at(root: str, unit: str) -> str:
    """The directory of ``unit`` under ``root``; the unit "" is ``root``."""
    return os.path.join(root, unit) if unit else root


def _under(listing: tuple, unit: str) -> tuple:
    """The entries of ``listing`` below ``unit``, relative to it."""
    prefix = os.path.join(unit, "")
    return tuple((r[len(prefix) :], s, m) for r, s, m in listing if r.startswith(prefix))


def _data_dirs(listing) -> set[str]:
    """Directories (relative, "" for the root) holding the data files of
    ``listing``. Names a reader skips, ``_SUCCESS``, ``.crc`` files and
    staging directories, hold no data; a ``_col=value`` partition does."""
    hidden = lambda n: n.startswith(".") or (n.startswith("_") and "=" not in n)  # noqa: E731
    return {
        os.path.dirname(rel)
        for rel, _size, _mtime in listing
        if not any(hidden(name) for name in rel.split(os.sep))
    }


def _partition_cols(path: str, listing: tuple, partition_cols: list[str] | None) -> list[str]:
    """The partition columns of the table at ``path``: the ``col=value``
    directory levels its data files sit under in ``listing``, as Hive's
    ``MoveTask`` reads them from the metastore. ``partition_cols`` is
    used for a table without data files and must match any other."""
    layouts = {
        tuple(level.split("=", 1)[0] for level in d.split(os.sep)) if d else ()
        for d in _data_dirs(listing)
    }
    if len(layouts) > 1:
        raise ValueError(f"table {path} mixes partition layouts {sorted(layouts)}")
    cols = list(layouts.pop() if layouts else partition_cols or ())
    if partition_cols is not None and list(partition_cols) != cols:
        raise ValueError(
            f"partition_cols {partition_cols} disagree with table {path}, partitioned by {cols}"
        )
    return cols


def _unescape_path_name(name: str) -> str:
    """Inverse of Spark's partition-path escaping (``a%3A1`` → ``a:1``),
    as ``ExternalCatalogUtils.unescapePathName`` decodes it."""
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name)


def _matching_partitions(
    spark: SparkSession,
    df: DataFrame,
    listing: tuple,
    partition_filter: Column,
    partition_cols: list[str],
) -> list[str]:
    """Relative ``col=value[/...]`` directories of the table ``listing``
    lists whose partition values satisfy ``partition_filter``, exactly as
    they appear on disk.

    Pruning runs on metadata, as Hive's ``PartitionPruner`` evaluates the
    predicate against partition specs: the listing's partition
    directories are taken, their values decoded
    (``__HIVE_DEFAULT_PARTITION__`` is NULL) and cast to the table's
    partition types, and the filter is applied to that in-memory local
    frame. No data is read and no Spark job runs."""
    rels = sorted(_data_dirs(listing))
    values: dict[str, list[str | None]] = {c: [] for c in partition_cols}
    for rel in rels:
        for c, part in zip(partition_cols, rel.split(os.sep)):
            v = part[len(c) + 1 :]
            values[c].append(None if v == _DEFAULT_PARTITION else _unescape_path_name(v))
    frame = spark.createDataFrame(
        pa.table({**{c: pa.array(v, pa.string()) for c, v in values.items()}, "__rel": rels})
    )
    typed = frame.select(
        *(F.col(c).cast(df.schema[c].dataType).alias(c) for c in partition_cols), "__rel"
    )
    return [r["__rel"] for r in typed.filter(partition_filter).select("__rel").collect()]


def _move(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst) or os.curdir, exist_ok=True)
    os.rename(src, dst)


def _prune(root: str, rel: str) -> None:
    """Remove the directory ``rel`` under ``root`` and each parent below
    ``root`` while it is empty, as :func:`_move` may have made them."""
    while rel and os.path.isdir(_at(root, rel)) and not os.listdir(_at(root, rel)):
        os.rmdir(_at(root, rel))
        rel = os.path.dirname(rel)


def _commit(
    spark: SparkSession,
    path: str,
    transform,
    partition_filter: Column | None = None,
    partition_cols: list[str] | None = None,
    guard=None,
    assigned=(),
    source_cols=None,
) -> None:
    """The copy-on-write commit of every statement (module docstring):
    read → transform → staged write → guard → conflict check → swap.

    The units it rewrites and swaps are the table directory, or, with
    ``partition_filter``, the partition directories the filter matches
    (SCALE.md cliff #4) plus those the transform creates (a MERGE that
    inserts into a new day). The matched partitions come from the
    listing, never from a scan of their rows, and Catalyst prunes the
    read to them, so at 100 TB a DELETE on one day lists the table and
    reads one day's files; other partitions keep their files and mtimes.
    ``assigned`` names the columns the statement sets: a scoped statement
    that sets a partition column would move rows out of its units.
    ``source_cols``, a MERGE's source columns, must hold every partition
    column of a scoped statement, else its inserts land in a NULL
    partition outside the scope."""
    version = catalog.listing_version(path)
    cols = _partition_cols(path, version, partition_cols)
    scoped = partition_filter is not None
    if scoped:
        if not cols:
            raise ValueError(f"partition_filter needs a partitioned table; {path} is not")
        moved = set(assigned) & set(cols)
        if moved:
            raise ValueError(
                f"partition-scoped statement cannot reassign partition columns {sorted(moved)}; "
                "run it on the full table (partition_filter=None)"
            )
        missing = [c for c in cols if source_cols is not None and c not in source_cols]
        if missing:
            raise ValueError(f"partition-scoped MERGE source lacks partition columns {missing}")
    df = catalog.read_parquet(spark, path, version)
    units = _matching_partitions(spark, df, version, partition_filter, cols) if scoped else [""]
    out = transform(df.filter(partition_filter) if scoped else df)
    prefixes = tuple(os.path.join(u, "") for u in units)
    kept = [e for e in version if not e[0].startswith(prefixes)]
    data = [f for f in out.schema.fields if f.name not in cols]

    def finish(staged: str) -> bool:
        keep = guard is None or guard()
        if keep and cols and not _data_dirs(kept + list(catalog.listing_version(staged))):
            # Spark writes no file for an empty partitioned output; a table
            # left with no row keeps one empty file with its data schema
            # in its first partition, so it stays readable and partitioned
            empty = spark.createDataFrame([], StructType(data))
            empty.write.parquet(os.path.join(staged, min(_data_dirs(version))))
        return keep

    staged = _write_staged(out.write.partitionBy(*cols), path, finish)
    if staged is None:
        return
    written = catalog.listing_version(staged)
    # a partition the staged write created is one more unit, which must
    # not exist at the swap: a concurrent writer creating it is a conflict
    created = sorted(
        d for d in _data_dirs(written) if not os.path.join(d, "").startswith(prefixes)
    )
    token = [_under(version, u) for u in units] + [None] * len(created)
    units += created
    if token != [
        catalog.listing_version(d) if os.path.isdir(d) else None
        for d in (_at(path, u) for u in units)
    ]:
        shutil.rmtree(staged, ignore_errors=True)
        raise ConcurrentWriteError(
            f"table {path} changed during rewrite; retry against the new version"
        )
    produced = tuple(sorted(kept + [
        (os.path.join(u, rel), size, mtime)
        for u in units
        for rel, size, mtime in _under(written, u)
    ]))
    # a fresh read takes the data columns from one file and types the
    # partition columns from the directory names: the written columns
    # describe the table if no partition was created or emptied, and
    # either no old file survives or the columns are the read ones
    record = _data_dirs(produced) == _data_dirs(version) and (
        not _data_dirs(kept)
        or [(f.name, f.dataType) for f in data]
        == [(f.name, f.dataType) for f in df.schema.fields if f.name not in cols]
    )

    old = f"{path}.__old_{uuid.uuid4().hex[:8]}"
    aside, placed = [], []
    try:
        for u in units:
            if os.path.exists(_at(path, u)):
                _move(_at(path, u), _at(old, u))
                aside.append(u)
            if os.path.exists(_at(staged, u)):  # absent when the statement emptied it
                _move(_at(staged, u), _at(path, u))
                placed.append(u)
    except BaseException:
        # no finally: if a rename back fails, its old unit stays under
        # ``old`` for recovery instead of being deleted with it
        for u in reversed(placed):
            shutil.rmtree(_at(path, u))
        for u in reversed(aside):
            _move(_at(old, u), _at(path, u))
        for u in units:  # parents the swap made for a created unit
            _prune(path, os.path.dirname(u))
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        raise
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    if record:
        catalog.record(spark, path, produced, StructType(data + [df.schema[c] for c in cols]))


def update_table(
    spark: SparkSession,
    path: str,
    assignments: dict[str, Column],
    where: Column,
    partition_filter: Column | None = None,
    partition_cols: list[str] | None = None,
) -> None:
    """UPDATE t SET col = expr, ... WHERE cond.

    With ``partition_filter`` (a predicate over the table's partition
    columns only), the copy-on-write rewrite is scoped to the matching
    partitions; rows in other partitions are untouched without being read
    or rewritten. ``partition_cols``, if given, must be the table's."""

    def tr(df: DataFrame) -> DataFrame:
        for col, expr in assignments.items():
            df = df.withColumn(col, F.when(where, expr).otherwise(F.col(col)))
        return df

    _commit(spark, path, tr, partition_filter, partition_cols, assigned=assignments)


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
    _commit(spark, path, tr, partition_filter, partition_cols)


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

    Implemented as one exchange over the union of the target rows and the
    source rows, partitioned by ``on`` (module docstring). Update/delete
    expressions see the target row as ``tgt`` and the matched source row
    as the struct column ``src`` (``F.col("tgt.x")``, ``F.col("src.x")``);
    with a target column named ``src`` a ``src.x`` reference is ambiguous
    and raises before the staged write. A NULL in any key column matches
    nothing. A source with a repeated key raises (cardinality violation),
    NULL keys counted together, as does a scoped MERGE's source row
    outside ``partition_filter``; both are checked by the staged write
    itself, before its commit.

    Matched/not-matched detection uses the reserved marker columns
    ``__tgt_m`` and ``__src_m``, never the nullness of data columns — a
    nullable data column that is NULL on a matched row must not flip the
    row into the insert branch (silent corruption otherwise).

    With ``partition_filter`` (a predicate over the partition columns,
    which every source row must satisfy — enforced), the copy-on-write rewrite is
    scoped to the matching partitions: a 100 TB MERGE of one day's CDC batch
    reads and rewrites one day, not the table. Inserts landing in partitions
    the target has no rows for become new partition directories; partitions
    outside the filter keep identical files and mtimes.
    """
    src_cols = source.columns
    sentinels = ("__tgt_m", "__src_m")
    for sentinel in sentinels:
        if sentinel in src_cols:
            raise ValueError(f"column name {sentinel!r} is reserved by MERGE")

    # Speculate, then guard (module docstring). Every source row is packed
    # into ``__src_m`` (reserved, so no source column collides with it)
    # with its out-of-scope flag: a scoped MERGE's source row outside the
    # scoped partitions would update or insert into an unread partition.
    in_scope = F.lit(True) if partition_filter is None else partition_filter
    packed = F.struct(
        F.struct(*src_cols).alias("row"),
        (~F.coalesce(in_scope, F.lit(False))).alias("stray"),
    ).alias("__src_m")
    observation = Observation()

    def guard() -> bool:
        """Raise on a failed source check; False discards the write of an
        empty source (nothing to update, delete or insert). No observed
        row means the write's input was empty, so the source was too."""
        got = observation.get
        if got.get("stray"):
            raise ValueError(
                "partition-scoped MERGE: source rows fall outside partition_filter"
            )
        if got.get("dup"):
            raise ValueError("MERGE cardinality violation: source has duplicate keys")
        return got.get("rows", 0) > 0 or evolve_schema

    def tr(df: DataFrame) -> DataFrame:
        for sentinel in sentinels:
            if sentinel in df.columns:
                raise ValueError(f"column name {sentinel!r} is reserved by MERGE")
        if evolve_schema:
            src_types = {f.name: f.dataType for f in source.schema.fields}
            for c in source.columns:
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None).cast(src_types[c]))
        # One exchange, as Hive's reduce-side join shuffles its tagged
        # inputs together: the target rows, flat and tagged ``__tgt_m``,
        # and the source rows, packed into ``__src_m``, are unioned, and
        # one unbounded window per key sums the key up in ``__tgt_m``:
        # whether the row is a target row, the key's target and source row
        # counts, and its source row. Only the reserved names are added,
        # so no target column is shadowed.
        src_rows = source.select(
            *(F.col(c) if c in on else F.lit(None).cast(df.schema[c].dataType).alias(c)
              for c in df.columns),
            F.lit(None).cast("boolean").alias("__tgt_m"),
            packed,
        )
        tgt_rows = df.select(
            "*", F.lit(True).alias("__tgt_m"),
            F.lit(None).cast(src_rows.schema["__src_m"].dataType).alias("__src_m"),
        )
        per_key = Window.partitionBy(*on)
        keyed = tgt_rows.union(src_rows).select(
            *df.columns,
            F.struct(
                F.col("__tgt_m").isNotNull().alias("row"),
                F.count("__tgt_m").over(per_key).alias("n"),
                F.count("__src_m").over(per_key).alias("n_src"),
                F.first("__src_m", ignorenulls=True).over(per_key).alias("src"),
            ).alias("__tgt_m"),
            "__src_m",
        )
        # observed directly above the window, so no clause filter can drop
        # a row before it is counted; NULL keys share a window, so two
        # NULL-keyed source rows are a duplicate key. Retry-safe flags
        # only (bool_or, and count read as > 0): a re-executed task may
        # add its rows to the metrics twice
        keyed = keyed.observe(
            observation,
            F.bool_or(F.col("__tgt_m.n_src") > 1).alias("dup"),
            F.bool_or("__src_m.stray").alias("stray"),
            F.count("__src_m").alias("rows"),
        )
        # a NULL in any key column matches nothing
        no_null = F.lit(True)
        for c in on:
            no_null = no_null & F.col(c).isNotNull()
        is_tgt = F.col("__tgt_m.row")
        matched = is_tgt & no_null & (F.col("__tgt_m.n_src") > 0)
        # a source row whose key a target row holds is matched: dropped;
        # an unmatched one is inserted, if inserts are on
        keep = is_tgt
        if not_matched_insert:
            keep = keep | ~(no_null & (F.col("__tgt_m.n") > 0))
        framed = keyed.filter(keep).alias("tgt").select(
            "*", F.col("__tgt_m.src.row").alias("src")
        )

        # WHEN MATCHED AND cond THEN DELETE — cond sees tgt.* and src.*;
        # NULL cond keeps the row (SQL three-valued AND).
        if matched_delete is not None:
            framed = framed.filter(
                ~F.coalesce(matched & matched_delete, F.lit(False))
            )

        out_cols = []
        for c in df.columns:
            col = F.col(f"tgt.{c}")
            if c in on:
                # the union's key: the target's on target rows, the
                # source's on inserted rows
                out_cols.append(col.alias(c))
                continue
            if matched_update and c in matched_update:
                col = F.when(matched, matched_update[c]).otherwise(col)
            if not_matched_insert and c in src_cols:
                col = F.when(~is_tgt, F.col(f"__src_m.row.{c}")).otherwise(col)
            out_cols.append(col.alias(c))
        return framed.select(*out_cols)

    _commit(
        spark, target_path, tr, partition_filter, partition_cols, guard,
        assigned=matched_update or (), source_cols=src_cols,
    )


def insert_into(spark: SparkSession, path: str, rows: DataFrame) -> None:
    """INSERT INTO t (append), into the table's partition directories."""
    cols = _partition_cols(path, catalog.listing_version(path), None)
    rows.write.mode("append").partitionBy(*cols).parquet(path)


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
