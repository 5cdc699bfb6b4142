"""Catalog: parquet-backed table registry.

The Hive metastore (reference: ``hive-metastore-2.3.10.jar`` Thrift service,
SURVEY.md §1.1) maps databases/tables/partitions to directories; Spark's
catalog + parquet datasource provide the same mapping natively. This module
is the thin layer that registers the driver testdata
(``/root/testdata/sf*/{table}.parquet`` — TESTDATA.md) as queryable views.

At 100 TB these would be real external tables (``saveAsTable`` +
``partitionBy``/``bucketBy``); the loader keeps that path open by accepting
any directory layout where ``{name}.parquet`` exists.

Schemas are recorded once per table version. Hive compiles a query
against the columns its metastore recorded for the table
(``StorageDescriptor`` / ``FieldSchema``) and never opens data files to
learn their types; Spark's Hive path does the same with
``spark.sql.hive.caseSensitiveInferenceMode=INFER_AND_SAVE``.
``spark.read.parquet`` without a schema instead answers every call with a
one-task schema-inference job. :func:`read_parquet` is the one reader: the
first read of a table version keeps the ``StructType`` Spark inferred, and
later reads of the same version pass it through ``spark.read.schema`` and
launch no job. The engine's writers also :func:`record` the schema of a
directory they commit, as Hive's ``MoveTask`` records it in the metastore,
so the read after a commit infers nothing either.

A table version is ``(inode, size, mtime_ns)`` for a regular file and
:func:`listing_version` (every file below it) for a directory, plus the
session settings that change the inferred schema; a rewritten or added
file, or a changed setting, infers again. Records live in the process.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The ten driver tables (TESTDATA.md / FIXTURES.md group A).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Scratch directories registered for end-of-process
# cleanup (atexit), so a normally-exiting session leaves no
# per-application debris under spark-warehouse.
_SCOPED_DIRS: set = set()

# Sibling scratch dirs older than this are crash debris from a dead
# application (no live sweep/bench session runs anywhere near this
# long) and are swept before the next write.
_STALE_SCRATCH_SECONDS = 24 * 3600


def app_scoped_dir(spark: SparkSession, prefix: str, sf_dir: str) -> str:
    """A per-Spark-application scratch directory for code that writes
    files and reads them back: the roundtrip entries and the watermark
    replay's staged batches.

    Shared-fixed-path roundtrip dirs raced twice in r9 (two concurrent
    check.py axes clearing each other's files mid-lazy-read), so the
    path embeds ``applicationId``: re-calls within one session reuse
    (and may safely clear) their own directory; concurrent sessions
    never collide.  Lifecycle (ADVICE r9-3): the directory is
    registered for atexit removal, and siblings with the same prefix
    whose mtime is older than :data:`_STALE_SCRATCH_SECONDS` are swept
    as dead-application debris — a live concurrent session's dir is
    hours younger than the threshold, so the sweep can never take a
    directory out from under a running sweep/bench session."""
    import atexit
    import shutil
    import time

    base = "spark-warehouse"
    # sanitize '_' out of the tag (r11 in-round review): the sweep
    # below parses <prefix>_<tag>_<appId> and SKIPS ambiguous names,
    # so an underscore-bearing tag (the /tmp/sf_nan axis dirs — the
    # most common debris source) would make its own debris permanently
    # unsweepable
    tag = os.path.basename(sf_dir.rstrip("/")).replace("_", "-")
    # sanitize the appId segment the same way (ADVICE r11-4): local
    # appIds ("local-17…") carry no underscore, but a YARN
    # "application_x_y" id would make every generated dir fail its own
    # family's one-segment parse below — debris would never be swept
    app_id = spark.sparkContext.applicationId.replace("_", "-")
    name = f"{prefix}_{tag}_{app_id}"
    path = os.path.join(base, name)
    if os.path.isdir(base):
        cutoff = time.time() - _STALE_SCRATCH_SECONDS
        for sib in os.listdir(base):
            # Match the FULL structured name, not a raw prefix
            # (ADVICE r10-3): a sibling belongs to THIS entry family
            # only if stripping "<prefix>_" and "_<appId>" leaves
            # exactly one tag segment — a bare startswith would let a
            # family whose prefix prefixes another's ("race_pin" vs
            # "race_pin_sweep") sweep that family's still-wanted dirs.
            # Generated names sanitize '_' out of BOTH the tag and the
            # appId, so they always parse; a legacy underscore-bearing
            # name fails the one-segment parse and is simply SKIPPED —
            # the sweep errs toward leaving debris, never toward
            # deleting another family's data.
            if sib == name or not sib.startswith(f"{prefix}_"):
                continue
            parts = sib[len(prefix) + 1 :].rsplit("_", 1)
            if len(parts) != 2 or "_" in parts[0]:
                continue
            sp = os.path.join(base, sib)
            try:
                if os.path.getmtime(sp) < cutoff:
                    shutil.rmtree(sp, ignore_errors=True)
            except OSError:
                pass  # a concurrent cleanup won the race — fine
    if os.path.isdir(path):
        # heartbeat: a session older than the TTL that still calls its
        # entries keeps its directory's mtime fresh, so a concurrent
        # session's debris sweep can never mistake it for a dead app
        # (the residual exposure — >TTL of IDLE time between a write
        # and a lazy re-read with no intervening entry call — is not a
        # shape any sweep/bench session has)
        try:
            os.utime(path)
        except OSError:
            pass
    if path not in _SCOPED_DIRS:
        _SCOPED_DIRS.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# events.ts unit handling. The fixture has stored ``ts`` as parquet
# TIMESTAMP(NANOS) in some generations and TIMESTAMP(MICROS) in others
# (FIXTURES.md has been stale before), so the loader sniffs the parquet
# logical type from the file footer instead of trusting documentation:
#   * timestamp[us]/[ms]/[s]  -> Spark reads it natively; no conversion.
#   * timestamp[ns]           -> Spark 4 rejects NANOS at schema inference
#     under default configs; read the column as raw int64 nanos with an
#     explicit schema and convert with exact integer division.
_EVENTS_RAW_NS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos since epoch
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Session settings that change the schema Spark infers for a Parquet
# table; a schema is only reused under the values it was recorded with.
_PARQUET_TYPE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# Facts per table: realpath -> (version, facts). Threads racing on an
# entry at worst infer the same fact twice.
_file_facts: dict[str, tuple[tuple, dict]] = {}


def listing_version(path: str) -> tuple:
    """Version of the directory ``path``: sorted ``(relpath, size,
    mtime_ns)`` of every file below it. Any commit that adds, removes or
    rewrites a file changes it; renaming the directory does not."""
    entries = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            entries.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(entries))


def _version(path: str) -> tuple | None:
    """``(inode, size, mtime_ns)`` of a regular file, the listing version
    of a directory, None for anything else."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if stat.S_ISREG(st.st_mode):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    if stat.S_ISDIR(st.st_mode):
        return listing_version(path)
    return None


def _facts(path: str, version: tuple | None = None) -> dict | None:
    """The facts recorded for ``version`` of ``path`` (default: its
    current version), empty if the path has changed since they were
    recorded; None if ``path`` is neither a file nor a directory."""
    if version is None:
        version = _version(path)
        if version is None:
            return None
    real = os.path.realpath(path)
    entry = _file_facts.get(real)
    if entry is None or entry[0] != version:
        entry = _file_facts[real] = (version, {})
    return entry[1]


def _schema_key(spark: SparkSession) -> tuple:
    return ("schema", *(spark.conf.get(k) for k in _PARQUET_TYPE_CONFS))


def record(spark: SparkSession, path: str, version: tuple, schema: T.StructType) -> None:
    """Record ``schema`` as the schema of ``version`` of the table at
    ``path``; the engine's writers call it when they commit."""
    _file_facts[os.path.realpath(path)] = (version, {_schema_key(spark): schema})


def forget(path: str) -> None:
    """Drop what is recorded for ``path`` (a deleted table)."""
    _file_facts.pop(os.path.realpath(path), None)


def read_parquet(spark: SparkSession, path: str, version: tuple | None = None) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema recorded for the
    table's ``version`` (default: its current version), inferring and
    recording it on a miss. A caller that has just listed a directory
    passes that listing as ``version``."""
    facts = _facts(path, version)
    if facts is None:
        return spark.read.parquet(path)
    key = _schema_key(spark)
    if key not in facts:
        facts[key] = spark.read.parquet(path).schema
    return spark.read.schema(facts[key]).parquet(path)


def events_ts_unit(path: str) -> str:
    """Return the parquet time unit ('ns', 'us', 'ms', 's') of events.ts.

    Reads only the file footer (cheap), recorded per file version.
    Self-verifying by design: if the driver regenerates the fixture with a
    different unit the loader adapts instead of silently corrupting every
    event-time operator.
    """
    facts = _facts(path)
    unit = facts.get("ts_unit") if facts is not None else None
    if unit is None:
        import pyarrow.parquet as pq

        field = pq.read_schema(path).field("ts")
        type_str = str(field.type)
        if not type_str.startswith("timestamp["):
            raise ValueError(
                f"events.ts at {path} has unexpected parquet type {type_str!r}; "
                "expected a timestamp logical type"
            )
        # Validate the tz flag too, not just the unit: a tz-adjusted
        # (isAdjustedToUTC=true) fixture would make the batch reader infer
        # TIMESTAMP_LTZ while the stream schema forces NTZ, silently
        # breaking the "identical schema on both paths" contract the NTZ
        # cast below relies on. Fail loudly instead.
        if getattr(field.type, "tz", None) is not None:
            raise ValueError(
                f"events.ts at {path} is tz-adjusted (tz={field.type.tz!r}); "
                "the loader's batch/stream schema contract requires a "
                "tz-naive (isAdjustedToUTC=false) timestamp"
            )
        unit = type_str[len("timestamp[") :].split("]")[0].split(",")[0]
        if facts is not None:
            facts["ts_unit"] = unit
    return unit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table (Hive TableScanOperator analogue — SURVEY.md §2.A).

    Column pruning and predicate pushdown happen automatically once callers
    ``select``/``filter`` on the returned frame. The schema is inferred once
    per table version and recorded (:func:`read_parquet`), as the Hive
    metastore records a table's columns and Spark's ``INFER_AND_SAVE``
    saves an inferred Hive schema; repeat loads of an unchanged file or
    directory launch no Spark job.
    """
    path = table_path(sf_dir, name)
    if name == "events" and events_ts_unit(path) == "ns":
        df = spark.read.schema(_EVENTS_RAW_NS_SCHEMA).parquet(path)
        # Cast to NTZ so both unit paths return the identical schema
        # (session tz is pinned UTC, so the cast is value-preserving).
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast(T.TimestampNTZType())
        )
    return read_parquet(spark, path)


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view so ``spark.sql`` works on them."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
