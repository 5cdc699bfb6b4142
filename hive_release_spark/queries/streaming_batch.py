"""Streaming-capability queries (SURVEY.md §2.K) in oracle-comparable
form. Each uses the *same* transformation functions the real streams run
(unified API, ``hive_release_spark.streaming.pipelines``); the
``stream_tumbling_live`` entry actually executes readStream →
availableNow → memory sink and must produce the identical result as the
batch oracle.

Oracle notes: events.ts is TIMESTAMP_NS in DuckDB and µs in Spark —
oracle outputs are CAST(... AS TIMESTAMP) to truncate ns → µs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions.temporal import ts_valid
from hive_release_spark.queries.registry import register
from hive_release_spark.streaming import pipelines as P

# NULL-event-time contract (r10 all-NULL axis, every event-time-window
# oracle below): a row with NULL ts has no position on the event-time
# axis — Spark's window/session_window aggregation drops it, and the
# streaming model (watermarks ORDER BY event time) cannot even define
# it. The oracles state that contract with WHERE ts IS NOT NULL
# instead of letting the engines' NULL-group defaults diverge.
_TUMBLING_ORACLE = """
SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


@register("stream_tumbling", oracle=_TUMBLING_ORACLE)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling 1h aggregation (batch execution of the
    streaming plan)."""
    return P.tumbling_agg(load_table(spark, sf_dir, "events"))


@register("stream_tumbling_live", oracle=_TUMBLING_ORACLE)
def stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME aggregation executed as a real Structured Streaming query
    (file source → availableNow trigger → memory sink, complete mode).
    Sharing the batch oracle proves stream/batch result parity."""
    stream = P.load_events_stream(spark, sf_dir)
    return P.run_available_now(P.tumbling_agg(stream), "stream_tumbling_live")


@register(
    "stream_sliding",
    oracle="""
    SELECT CAST(ws AS TIMESTAMP) AS window_start,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM (
      SELECT value,
             unnest([time_bucket(INTERVAL '1 hour', ts),
                     time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS ws
      FROM events
      WHERE ts IS NOT NULL
    )
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h window, 1h hop — every event lands in two windows (the
    oracle expands the two bucket assignments explicitly)."""
    return P.sliding_agg(load_table(spark, sf_dir, "events"))


@register(
    "stream_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL '6 hours' THEN 1 ELSE 0 END AS new_s
      FROM events
      -- event-time validity ceiling (r12 temporal axis): a far-future
      -- ts overflows session_end = ts + gap past the calendar and
      -- would poison a real stream's watermark; see functions/temporal
      WHERE ts IS NOT NULL AND ts < TIMESTAMP '2200-01-01 00:00:00'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             -- the island sum must replay the SAME total order the
             -- new_s flags were computed in — a bare ORDER BY ts
             -- leaves equal-ts peers (the r12 temporal axis salts
             -- many events onto one instant) in arbitrary order, and
             -- a new_s=1 row landing mid-block splits the block
             -- across two sessions (the dynamic twin diverged this
             -- exact way before the event_id tie-break)
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL '6 hours' AS TIMESTAMP) AS session_end,
           user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (6h gap) per user — Spark ``session_window``; the
    oracle is the classic gaps-and-islands rewrite, which doubles as the
    §2.D windowing demonstration. Scan-side ts_valid guard (r12
    temporal axis): session_end = ts + gap overflows the calendar for
    far-future corruption, and a real stream's watermark is poisoned
    by it — the declared validity ceiling drops those rows on BOTH
    engines (functions/temporal.py)."""
    ev = load_table(spark, sf_dir, "events").filter(ts_valid("ts"))
    return P.session_agg(ev)


@register(
    "stream_session_dynamic",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, value, event_id,
             ts + CASE WHEN event_type = 'purchase' THEN INTERVAL '12 hours'
                       ELSE INTERVAL '6 hours' END AS te
      -- ts_valid ceiling (r12 temporal axis) — see stream_session
      FROM events
      WHERE ts IS NOT NULL AND ts < TIMESTAMP '2200-01-01 00:00:00'),
    m AS (
      SELECT user_id, ts, value, te, event_id,
             max(te) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM e),
    f AS (SELECT *, CASE WHEN prev_max IS NULL OR ts >= prev_max
                         THEN 1 ELSE 0 END AS new_s FROM m),
    -- island sum in the SAME (ts, event_id) total order the new_s
    -- flags were computed in — ORDER BY ts, te walked equal-ts peers
    -- differently and split the block (r12 temporal axis finding)
    s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid FROM f)
    SELECT CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(te) AS TIMESTAMP) AS session_end,
           user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows: purchases extend the session 12h,
    everything else 6h (``session_window`` with a per-row gap
    expression). Session assembly is interval MERGING, not prev-event
    chaining — the oracle is the running-max island rewrite: a new
    session starts when an event's ts reaches the max end of every
    window before it, and the session end is max(ts+gap) over the
    fused set. A lag-based fixed-gap oracle would be WRONG here (a
    long-gap event can bridge across a short-gap event's window).
    Scan-side ts_valid guard — see stream_session."""
    ev = load_table(spark, sf_dir, "events").filter(ts_valid("ts"))
    return P.session_agg_dynamic(ev)


@register(
    "stream_dedup_first",
    oracle="""
    SELECT user_id, event_type,
           CAST(ts AS TIMESTAMP) AS first_ts,
           event_id AS first_event_id
    FROM (SELECT user_id, event_type, ts, event_id,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def stream_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup per (user_id, event_type) — the batch twin of
    ``dropDuplicatesWithinWatermark`` with a deterministic survivor."""
    return P.dedup_keep_first(load_table(spark, sf_dir, "events"))


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.user_id,
           count(*) AS n_attributed,
           round(sum(p.value), 2) AS sum_attributed
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL '1 hour'
    GROUP BY p.user_id
    ORDER BY p.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution within
    1h), aggregated per user — batch execution of the streaming plan.
    The raw-pair stream/batch parity is pinned by
    ``tests/test_streaming.py::test_stream_stream_join_equals_batch``."""
    pairs = P.interval_join(load_table(spark, sf_dir, "events"))
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_attributed"),
            F.round(F.sum("purchase_value"), 2).alias("sum_attributed"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_stream_left_join",
    oracle="""
    SELECT p.user_id,
           count(*) AS n_pairs,
           count(c.event_id) AS n_attributed,
           count(*) - count(c.event_id) AS n_orphans
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
    GROUP BY p.user_id ORDER BY p.user_id
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — attribution that also
    counts unattributed purchases (null-padded pairs). Batch execution
    of the streaming plan; the streaming run's watermark-closed-region
    parity is pinned by test_streaming.py (outer results can only emit
    once the watermark passes the join bound — Spark's documented outer
    interval-join semantics)."""
    pairs = P.interval_join_left(load_table(spark, sf_dir, "events"))
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.count("click_id").alias("n_attributed"),
            (F.count("*") - F.count("click_id")).alias("n_orphans"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           count(*) AS n, round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static broadcast dim (works identically on the stream —
    see tests)."""
    return P.stream_static_join(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


def _distinct_users_window(events: DataFrame, with_exact: bool = True) -> DataFrame:
    """Per-tumbling-day distinct users via HLL sketch (+ the exact count
    and a 6-standard-error bound in batch mode — HLL's default
    lgConfigK=12 gives ~1.63% relative standard error, so the oracle
    pins only a ≤10% ≈ 6σ envelope a fixture or lgConfigK change
    cannot realistically flip; the tight ±2% empirical claim lives in
    ``tests/test_sketches.py`` as a property test, where an accuracy
    claim belongs). ``with_exact=False`` is the
    STREAMING shape: Spark rejects COUNT(DISTINCT) on streams outright
    (per-window id sets are unbounded state), so the sketch isn't an
    optimization there — it is the only way to get the number; its
    deterministic estimate lets the stream/batch parity test compare
    sketch to sketch exactly."""
    base = events.groupBy(F.window("ts", "1 day"))
    est = F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    if not with_exact:
        return base.agg(est).select(
            F.col("window.start").alias("window_start"), "est"
        )
    return (
        base.agg(F.countDistinct("user_id").alias("distinct_exact"), est)
        .select(
            F.col("window.start").alias("window_start"),
            "distinct_exact",
            (
                F.abs(F.col("est") - F.col("distinct_exact"))
                <= 0.10 * F.col("distinct_exact")
            ).alias("sketch_within_6se"),
        )
    )


@register(
    "stream_distinct_sketch",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS TIMESTAMP)
               AS window_start,
           count(DISTINCT user_id) AS distinct_exact,
           TRUE AS sketch_within_6se
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
)
def stream_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event-time day, exact + sketch (batch
    execution of the streaming plan; `tests/test_streaming.py` runs the
    identical plan as a real watermarked stream). Exact streaming
    COUNT(DISTINCT) needs per-window user-id sets in state — unbounded
    per-window memory; the HLL sketch is the deployment answer (fixed
    bytes per window, mergeable for late data and trailing-window
    rollups — see `events_rolling_active_sketch`). The oracle pins the
    exact counts plus a wide 6σ sanity bound on the estimate; the
    tight accuracy claim is a pytest property, not an oracle column
    (a constant-TRUE accuracy pin would couple driver green to the
    sketch's default accuracy)."""
    return _distinct_users_window(load_table(spark, sf_dir, "events"))


@register(
    "stream_stream_full_join",
    oracle="""
    SELECT coalesce(p.user_id, c.user_id) AS user_id,
           count(*) AS n_rows,
           CAST(count(CASE WHEN p.event_id IS NOT NULL
                            AND c.event_id IS NOT NULL THEN 1 END)
                AS BIGINT) AS n_matched,
           CAST(count(CASE WHEN c.event_id IS NULL THEN 1 END)
                AS BIGINT) AS n_orphan_purchases,
           CAST(count(CASE WHEN p.event_id IS NULL THEN 1 END)
                AS BIGINT) AS n_orphan_clicks
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join (r5 — completing the
    inner/left/full arm set of §2.K): matched click→purchase pairs
    plus BOTH orphan populations — unattributed conversions AND clicks
    that never converted, the audit view neither other arm gives.
    Batch execution of the streaming plan; the streaming run's
    watermark-closed-region parity (null padding on either side only
    emits once the watermark passes its bound) is pinned by
    test_streaming.py."""
    pairs = P.interval_join_full(load_table(spark, sf_dir, "events"))
    matched = F.col("purchase_id").isNotNull() & F.col("click_id").isNotNull()
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(matched, 1)).alias("n_matched"),
            F.count(F.when(F.col("click_id").isNull(), 1)).alias(
                "n_orphan_purchases"
            ),
            F.count(F.when(F.col("purchase_id").isNull(), 1)).alias(
                "n_orphan_clicks"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "stream_watermark_late_drop",
    oracle="""
    WITH f1 AS (
      SELECT ts, value FROM events
      WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        -- ts_valid ceiling (r12 temporal axis): a far-future corrupt
        -- row would poison the watermark model — see stream_session
        AND ts < TIMESTAMP '2200-01-01 00:00:00'),
    wm AS (SELECT max(ts) - INTERVAL 72 HOUR AS w FROM f1)
    SELECT CAST(date_trunc('day', f1.ts) AS TIMESTAMP) AS window_start,
           count(*) AS n,
           round(sum(f1.value), 2) AS sum_value
    FROM f1, wm
    WHERE date_trunc('day', f1.ts) + INTERVAL 1 DAY <= wm.w
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode watermark semantics witnessed across REAL
    micro-batches: batch 1 streams every on-time event; batch 2 is a
    small tick that cycles the deliberately-LAGGED late-row filter
    forward (Spark's SPARK-42376 late-events/eviction watermark
    split — without it no 2-batch replay can ever witness a drop);
    batch 3 delivers the week-one events LATE — all below the filter
    watermark — and the engine must drop every row and emit exactly
    the finalized on-time day windows (a failed drop would emit the
    late windows immediately, breaking the row set; the tick's
    duplicate rows live only in never-emitted open windows, invisible
    to the output). The oracle states
    the drop rule as batch SQL (on-time windows whose end precedes
    max(on-time ts) - 72h), so the one genuinely time-dependent
    streaming behavior — bounded state via late-data rejection — is
    hash-gated, not just smoke-run. The batch files carry a fixed
    calendar split (every SF's events span Jan 2024), making the
    replay deterministic at all scale factors. See
    streaming/pipelines.late_drop_replay for the file-ordering
    mechanics."""
    return P.late_drop_replay(spark, sf_dir).orderBy("window_start")
