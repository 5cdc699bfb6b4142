"""SparkSession factory.

Replaces Hive's Driver/SessionState bootstrap (reference: Hive 2.3
``ql/session/SessionState`` + ``ql/Driver`` — SURVEY.md §3): in Spark the
whole compile/optimize/execute pipeline is provided by the session, so the
engine only configures it for scale and Hive-compatible semantics.

Scale posture (100 TB design point, BASELINE.md B5):
- AQE on: runtime partition coalescing, skew-join splitting, plan re-opt —
  Hive's SkewJoinOptimizer / CommonJoinResolver / SetReducerParallelism
  equivalents, for free (SURVEY.md §4.3).
- Arrow on: any unavoidable Python stage is vectorized, not row-at-a-time.
- Broadcast by threshold: Hive's ``hive.auto.convert.join`` analogue is
  ``spark.sql.autoBroadcastJoinThreshold`` (default 10 MB) — left at default
  so Catalyst auto-converts, queries additionally hint where the dim side is
  known-small.
- UTC session timezone: Hive TIMESTAMP is timezone-less wall clock
  (SURVEY.md §7.6.1); pinning UTC makes classic TimestampType behave like
  TimestampNTZ for parity.
- One codec, zstd, for intermediate and written data: Hive's
  ``hive.exec.compress.intermediate`` / ``hive.exec.compress.output``
  analogues are ``spark.io.compression.codec`` (shuffle map output,
  broadcast blocks, spill, RDD blocks) and
  ``spark.sql.parquet.compression.codec`` (every engine commit), matching
  Spark's ORC default (``spark.sql.orc.compression.codec`` = zstd). AQE's
  partition coalescing and runtime broadcast conversion read compressed
  map-output sizes, so each byte they see stands for more rows than
  under lz4 (SCALE.md). A writer's ``.option("compression", ...)`` and
  ``extra_conf`` still override.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """Half the machine's physical memory, at most 16g (16g where
    ``/proc/meminfo`` is absent)."""
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(fh.readline().split()[1])  # MemTotal
    except OSError:
        return "16g"
    return f"{min(16 * 1024, total_kb // 2048)}m"


def get_session(
    app_name: str = "hive_release_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    hive_parity: bool = True,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession configured for this engine.

    ``hive_parity=True`` applies Hive-2.3 semantic knobs (SURVEY.md §7.6):
    non-ANSI arithmetic (int overflow wraps, ``/`` never errors) and UTC
    session time. Queries in this repo are written to be correct under
    either setting.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
        if master.startswith("local"):
            # local mode = driver-only: the driver heap IS executor memory.
            # The 1g default causes GC thrash with 32 task threads; more
            # than the machine holds gets the process killed instead.
            builder = builder.config("spark.driver.memory", _driver_memory())
    conf: dict[str, str] = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # partition-size knobs sized so a partition fits executor memory at
        # scale; AQE coalesces small ones back together.
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.io.compression.codec": "zstd",
        "spark.sql.parquet.compression.codec": "zstd",
        # CBO join reordering kicks in once tables carry ANALYZE stats
        # (ddl.analyze) — Hive's CalcitePlanner cost path (SURVEY.md §4.2).
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if hive_parity:
        conf["spark.sql.ansi.enabled"] = "false"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
