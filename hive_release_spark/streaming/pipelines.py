"""Streaming pipelines over the ``events`` table (FIXTURES.md §2.K).

Spark's unified API: every transformation here accepts a batch OR a
streaming DataFrame — the driver-facing queries run them in batch mode
(oracle-comparable), and tests + ``run_available_now`` run the identical
plans as real streams (readStream → watermark → agg → sink).

Scale notes: event-time aggregations shuffle on (window, key) — bounded
state via watermark; session windows keep per-key state until the gap
expires; dedup-keep-first is a window rank in batch and
``dropDuplicatesWithinWatermark`` in streaming.

Structured Streaming turns AQE off, so nothing coalesces a stream's
reduce side: every micro-batch runs its stateful exchange and state
store on the static ``spark.sql.shuffle.partitions``. An aggregate keyed
on the event-time window alone, under a watermark, in append mode,
holds one state row per open window, and each batch's reduce input is at
most one partial row per window and map task, at any input volume. Such
a stream runs on one state partition (``run_available_now``'s
``state_partitions=1``; ``late_drop_replay``). The map side keeps the
source's parallelism: the partial aggregate runs before the exchange,
where a ``coalesce(1)`` would put the file scan itself on one task.
Aggregates with a key beside the window, and complete-mode or
watermark-free state (``tumbling_agg`` as ``stream_tumbling_live``),
grow with the data and keep the session count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_release_spark.catalog import (
    _EVENTS_RAW_NS_SCHEMA,
    app_scoped_dir,
    events_ts_unit,
    load_table,
    table_path,
)

# Schema for the native (µs/ms/s) fixture: Spark reads the parquet timestamp
# logical type as TIMESTAMP_NTZ, matching the batch loader exactly.
_EVENTS_NATIVE_SCHEMA = T.StructType(
    [
        T.StructField(f.name, T.TimestampNTZType()) if f.name == "ts" else f
        for f in _EVENTS_RAW_NS_SCHEMA.fields
    ]
)


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table. The file source needs a
    directory; ``pathGlobFilter`` selects the events file within sf_dir.
    Unit-sniffs the parquet footer like the batch loader (catalog.py).

    One deliberate divergence from the batch loader: ``ts`` is cast to
    classic TIMESTAMP because Spark's EventTimeWatermark node rejects
    TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The session
    timezone is pinned UTC (session.py), so the cast is value-preserving
    and batch/stream twins still collect identical wall-clock values."""
    if events_ts_unit(table_path(sf_dir, "events")) == "ns":
        raw = (
            spark.readStream.schema(_EVENTS_RAW_NS_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    raw = (
        spark.readStream.schema(_EVENTS_NATIVE_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))


# ---------------------------------------------------------------------------
# Unified (batch + streaming) transformations
# ---------------------------------------------------------------------------


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Event-time 1-hour tumbling window counts/sums per event_type."""
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """Sliding (hopping) 2-hour windows every hour: each event lands in
    two windows."""
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "n", "sum_value")
    )


def _sessions(events: DataFrame, gap: str | Column) -> DataFrame:
    """Per-user session windows closed by ``gap`` of inactivity."""
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def session_agg(events: DataFrame) -> DataFrame:
    """Session windows per user: a session closes after 6 hours of
    inactivity; end = last event + gap (Spark session_window semantics)."""
    return _sessions(events, "6 hours")


def session_agg_dynamic(events: DataFrame) -> DataFrame:
    """Dynamic-gap session windows: each EVENT extends the session by its
    own event-type-specific gap (a purchase keeps the session alive 12
    hours, any other event 6) — Spark ``session_window`` with a gap
    EXPRESSION instead of a constant. Session semantics are interval
    merging: windows [ts, ts+gap) overlapping transitively fuse; end =
    max(ts+gap) over the fused set. Works batch AND streaming (the gap
    expression is per-row state either way)."""
    gap = F.when(F.col("event_type") == "purchase", F.lit("12 hours")).otherwise(
        F.lit("6 hours")
    )
    return _sessions(events, gap)


def dedup_keep_first(events: DataFrame) -> DataFrame:
    """First event per (user_id, event_type) — deterministic keep-first
    dedup. Batch form: window rank (deterministic tie-break on event_id).
    Streaming form: ``dropDuplicatesWithinWatermark`` (see
    ``dedup_stream``)."""
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("first_ts"),
            F.col("event_id").alias("first_event_id"),
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on the natural key within a watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def stream_static_join(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream ⋈ static-dim join (events.user_id lives in the customer
    key space — FIXTURES.md): revenue-by-segment enrichment. The static
    side takes the size-conditional broadcast hint — customer grows with
    the deployment, and an over-threshold static side should shuffle-join
    per micro-batch rather than OOM the driver."""
    from hive_release_spark.operators.hints import maybe_broadcast

    dim = customers.select("c_custkey", "c_mktsegment")
    return (
        events.join(maybe_broadcast(dim), events.user_id == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def _interval_sides(events: DataFrame) -> tuple[DataFrame, DataFrame, Column]:
    """(purchases, clicks, bound) of the stream-stream interval joins:
    both sides carry a 2-hour watermark, and ``bound`` pairs a purchase
    with a same-user click at most 1 hour before it."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    bound = (
        (F.col("click_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour"))
    )
    return purchases, clicks, bound


def interval_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the click
    by the same user within ``[click.ts, click.ts + 1 hour]``.

    Works on batch AND streaming frames (``withWatermark`` is a no-op in
    batch). In streaming, BOTH sides carry a watermark and the join
    condition bounds event-time distance, so Spark can expire buffered
    rows — state per side is O(rate × (horizon + watermark)), never
    unbounded. Both sides shuffle on user_id (one exchange each); at
    100 TB the horizon keeps the per-key buffered window small."""
    purchases, clicks, bound = _interval_sides(events)
    return clicks.join(purchases, bound).select(
        "user_id", "click_id", "purchase_id", "click_ts", "purchase_ts", "purchase_value"
    )


def interval_join_left(events: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase survives,
    padded with NULL click columns when no same-user click preceded it
    within the horizon — the attribution query that must also COUNT the
    unattributed conversions.

    Streaming semantics differ from the inner join in one important way:
    null-padded rows can only be EMITTED once the watermark passes the
    join bound (before that a matching click could still arrive), so an
    availableNow run withholds the null results for purchases inside the
    final (horizon + watermark) tail. The batch/stream parity test
    therefore compares the watermark-CLOSED region only — exactly the
    guarantee Spark documents for outer interval joins."""
    purchases, clicks, bound = _interval_sides(events)
    return purchases.join(clicks, bound, "left_outer").select(
        "user_id", "purchase_id", "purchase_ts", "purchase_value", "click_id", "click_ts"
    )


def interval_join_full(events: DataFrame) -> DataFrame:
    """FULL OUTER stream-stream interval join: every purchase AND every
    click survives — matched pairs plus null-padded orphans on both
    sides. The audit formulation of attribution: orphan purchases are
    lost conversions, orphan clicks are spend with no outcome; the
    inner/left arms throw one of those away.

    Streaming semantics extend the left-outer rule to BOTH sides:
    a null-padded row (either side) is only emitted once the watermark
    passes its join bound, so an availableNow run withholds null
    results inside the final (horizon + watermark) tail on each side.
    The parity test compares the watermark-closed region. State stays
    O(rate × (horizon + watermark)) per side — same expiry math as the
    inner join, Spark just holds rows to the bound before padding."""
    purchases, clicks, bound = _interval_sides(events)
    return purchases.join(clicks, bound, "full_outer").select(
        F.coalesce(F.col("user_id"), F.col("click_user")).alias("user_id"),
        "purchase_id", "purchase_ts", "purchase_value", "click_id", "click_ts",
    )


# ---------------------------------------------------------------------------
# Streaming execution helpers
# ---------------------------------------------------------------------------


def run_available_now(
    result: DataFrame,
    name: str,
    output_mode: str = "complete",
    timeout_s: float = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming result fully (availableNow trigger → memory
    sink) and return the materialized table. Stops any prior query with
    the same name so re-runs are idempotent. Raises ``TimeoutError``
    (after stopping the query) if it has not finished within
    ``timeout_s`` seconds, instead of returning a partial table.

    ``state_partitions`` runs the query's stateful operators and their
    exchanges on that many partitions instead of the session's
    ``spark.sql.shuffle.partitions`` (module Scale notes give when that
    is safe). The count is set only around ``.start()``: the query
    clones the session there and its offset log keeps the value from
    then on, so the caller's setting is restored before the first batch
    runs, and on every exit path."""
    spark = result.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    if state_partitions is not None:
        spark.conf.set(key, str(state_partitions))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, prior)
    finished = q.awaitTermination(timeout_s)
    q.stop()
    if not finished:
        raise TimeoutError(
            f"streaming query {name!r} did not finish within {timeout_s} s"
        )
    return spark.table(name)


def late_drop_replay(
    spark: SparkSession,
    sf_dir: str,
    split: str = "2024-01-08 00:00:00",
) -> DataFrame:
    """WATERMARK LATE-DATA DROP, witnessed for real: replay the events
    table as TWO micro-batches — first every on-time row (ts >= split),
    then the older rows as a LATE arrival — through an append-mode
    1-day tumbling aggregation with a 72-hour watermark.

    Batch 1 builds state from every on-time row; batch 2 (a small
    "tick" re-delivery of the last-days rows) cycles the watermark
    machinery forward — Spark deliberately LAGS the late-row filter
    one batch behind the eviction watermark (the SPARK-42376
    late-events/eviction split, so rows arriving in the same batch
    that advances the watermark are not retroactively dropped), which
    means a 2-batch replay can never witness a drop; batch 3 then
    delivers the week-one events LATE, every one below the
    now-effective filter watermark, and the engine must DROP them all.
    The emitted result is exactly the finalized on-time day windows:
    the tick batch's duplicate rows land only in windows the watermark
    never closes (they stay in state, unemitted), so they are
    invisible to the output — and if the engine FAILED to drop the
    late rows, their windows sit below the eviction watermark and
    would emit immediately, breaking the row set. Bounded state via
    late-data rejection — the entire point of watermarks — becomes a
    hash-gated batch-SQL predicate.

    Mechanics: one scan of the events and one Spark job stage the
    three batch files (Hive's multi-insert, ``FROM src INSERT …
    INSERT …``). Each row is tagged with every batch whose filter it
    passes (``ts >= split`` → 1-ontime, ``ts >= tick`` → 2-tick,
    ``ts < split`` → 3-late), exploded to one row per tag and written
    ``coalesce(1)`` partitioned by the tag, so each batch gets one
    part file without the tag column; a batch with no rows gets no
    partition directory and is written as an empty file instead. The
    part files are moved to ``data/<batch>.parquet`` (rewritten
    idempotently, modification times staggered so FileStreamSource's
    oldest-first ordering is deterministic) and streamed with
    maxFilesPerTrigger=1 so availableNow runs one batch per file. They
    live in the application's own scratch directory
    (``catalog.app_scoped_dir``), so two processes replaying one SF
    from one working directory never touch each other's files. ``ts`` is cast to classic
    TIMESTAMP (EventTimeWatermark rejects NTZ; session tz is pinned UTC
    so values are preserved). The aggregate is keyed on the day window
    alone, under the watermark, in append mode, so it runs on one state
    partition (module Scale notes): its state and each batch's reduce
    input are bounded by the open day windows, the scan and the partial
    aggregate stay parallel, and the caller's shuffle partition count
    is untouched."""
    import glob
    import os
    import shutil

    base = app_scoped_dir(spark, "latedrop", sf_dir)
    data_dir = os.path.join(base, "data")
    # Event-time validity ceiling (r12 temporal axis,
    # functions/temporal.py): one far-future corrupt timestamp in the
    # on-time batch advances the watermark centuries — every
    # legitimate event becomes "late" and the stream silently empties
    # — and the tick batch's duplicates land in windows that now DO
    # close, breaking the replay's fixed-calendar invariant. Watermark
    # semantics are only meaningful over a bounded event-time domain;
    # the guard states that domain on both engines.
    from hive_release_spark.functions.temporal import ts_valid

    events = (
        load_table(spark, sf_dir, "events")
        .filter(ts_valid("ts"))
        .select(F.col("ts").cast(T.TimestampType()).alias("ts"), "value")
    )
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(data_dir)
    tick = "2024-01-28 00:00:00"
    batches = (
        ("1-ontime", F.col("ts") >= F.lit(split), 1_000_000_000),
        ("2-tick", F.col("ts") >= F.lit(tick), 1_000_000_100),
        ("3-late", F.col("ts") < F.lit(split), 1_000_000_200),
    )
    tags = F.array_compact(
        F.array(*(F.when(cond, F.lit(name)) for name, cond, _ in batches))
    )
    staged = os.path.join(base, "_staged")
    (
        events.withColumn("batch", F.explode(tags))
        .coalesce(1)
        .write.partitionBy("batch")
        .parquet(staged)
    )
    for name, _, mtime in batches:
        part_dir = os.path.join(staged, f"batch={name}")
        if not os.path.isdir(part_dir):
            events.limit(0).coalesce(1).write.parquet(part_dir)
        part = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        dest = os.path.join(data_dir, f"{name}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))
    shutil.rmtree(staged)
    stream = (
        # the batch files are written from ``events``: same schema
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(data_dir)
    )
    agg = (
        stream.withWatermark("ts", "72 hours")
        .groupBy(F.window("ts", "1 day"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n", "sum_value")
    )
    return run_available_now(
        agg, "stream_watermark_late_drop", output_mode="append", state_partitions=1
    )
