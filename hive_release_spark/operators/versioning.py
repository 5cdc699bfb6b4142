"""Dataset versioning: snapshot writes + time-travel reads.

A training-data pipeline needs to answer "which exact corpus did run X
train on?" — the dataset-versioning contract lakehouse formats provide
(Delta/Iceberg snapshots; Hive ACID's base/delta history plays the same
role until compaction). Plain parquet has no snapshot log, so this
module provides the minimal honest equivalent:

    table_dir/
      v1/ ... parquet files (immutable once written)
      v2/ ...
      _LATEST          <- text pointer, atomically replaced (os.replace)

Writers never mutate an existing version directory — a new snapshot is
a new ``v{n}`` plus one atomic pointer swap, so concurrent readers see
either the old or the new version, never a mix, and a pinned version
stays byte-identical forever (reproducible training runs, bisectable
data regressions).

Scale posture: the version directory IS the dataset (no copy-on-read);
a snapshot write costs exactly one dataset write; `read_snapshot` is a
parquet scan with full pushdown/pruning, under the schema the snapshot
write recorded in the catalog, so the read itself launches no Spark job.
Retention is explicit (`expire_snapshots`) — nothing is deleted
implicitly.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession

from hive_release_spark import catalog
from hive_release_spark.operators.dml import _write_staged

_VERSION_RE = re.compile(r"^v(\d+)$")


def list_snapshots(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        m = _VERSION_RE.match(name)
        if m and os.path.isdir(os.path.join(table_dir, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def latest_snapshot(table_dir: str) -> int | None:
    """The committed version — read from the pointer, falling back to
    the highest version dir (pointer lost / partial write)."""
    ptr = os.path.join(table_dir, "_LATEST")
    if os.path.exists(ptr):
        with open(ptr) as fh:
            return int(fh.read().strip())
    versions = list_snapshots(table_dir)
    return versions[-1] if versions else None


def snapshot_write(df: DataFrame, table_dir: str) -> int:
    """Write ``df`` as the next immutable snapshot and atomically commit
    the pointer. Returns the new version number.

    Crash-safe in both directions: the next version is computed from
    max(pointer, highest existing version dir) — so an orphan ``v{n}``
    left by a crash between the data write and the pointer commit can
    never collide with a later write — and the data lands in a staging
    sibling of ``v{n}`` (removed if the write fails) that is atomically
    renamed to ``v{n}``, so readers (and the dir-fallback in
    :func:`latest_snapshot`) never observe a half-written version."""
    os.makedirs(table_dir, exist_ok=True)
    committed = latest_snapshot(table_dir) or 0
    dirs = list_snapshots(table_dir)
    version = max(committed, dirs[-1] if dirs else 0) + 1
    vdir = os.path.join(table_dir, f"v{version}")
    staged = _write_staged(df.write, vdir)
    written = catalog.listing_version(staged)
    os.rename(staged, vdir)  # atomic publish; never overwrites
    catalog.record(df.sparkSession, vdir, written, df.schema)
    fd, tmp = tempfile.mkstemp(dir=table_dir, prefix="._latest_")
    with os.fdopen(fd, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(table_dir, "_LATEST"))  # atomic commit
    return version


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: the pinned ``version``, or the committed latest."""
    v = latest_snapshot(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(
            f"no committed snapshot under {table_dir}: no _LATEST pointer and no v<n> directory"
        )
    if v not in list_snapshots(table_dir):
        raise FileNotFoundError(f"no snapshot v{v} under {table_dir}")
    return catalog.read_parquet(spark, os.path.join(table_dir, f"v{v}"))


def expire_snapshots(table_dir: str, keep_last: int = 2) -> list[int]:
    """Explicit retention: drop all but the newest ``keep_last`` versions
    (never the committed latest). Returns the expired version numbers."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    latest = latest_snapshot(table_dir)
    versions = list_snapshots(table_dir)
    expired = [v for v in versions[:-keep_last] if v != latest]
    for v in expired:
        vdir = os.path.join(table_dir, f"v{v}")
        shutil.rmtree(vdir)
        catalog.forget(vdir)
    return expired
