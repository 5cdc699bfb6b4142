"""Warehouse-classic analytics round 2: rolling distinct actives,
SCD-2 state history (gaps-and-islands), interval merge/coverage, and
deterministic weighted sampling (A-ES).

Each entry is the single-scan / bounded-shuffle formulation of a shape
Hive users run today as multi-join SQL (the joins live in the oracles).

Scale notes per entry live on the functions; the common rules: windows
ride high-cardinality keys (user_id / custkey) with unique tie-breaks,
range self-joins are replaced by bounded explodes, and sampling keys
are md5-derived so any partitioning yields the same sample.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions.numeric import cents as cents_fold, cents_sql, is_finite, finite, half_up, hive_render
from hive_release_spark.operators.topk import bounded_sort
from hive_release_spark.queries.registry import register


@register(
    "events_rolling_active_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT d.day AS day, count(DISTINCT u.user_id) AS active_7d
    FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY 1 ORDER BY 1
    """,
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the DAU/WAU board
    metric).

    COUNT(DISTINCT) over a sliding date range doesn't decompose into a
    running window, so the SQL idiom (the oracle) is a range self-join
    — |days| x |user-days| probe pairs. Here each distinct (user, day)
    row instead EXPLODES into its <=7 observation days (a bounded
    map-side fan-out: 7x a frame that is already collapsed to distinct
    user-days, not 7x the raw stream), a broadcast semi-join against
    the tiny real-day list drops the phantom tail days, and one
    count-distinct agg finishes. Shuffles: distinct user-day collapse +
    the final day agg — both partial-agged; no self-join at any scale.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    days = ev.select("day").distinct()
    contrib = ev.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    )
    # one row per day of the events' time span
    return bounded_sort(
        contrib.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_7d")),
        "day",
    )


@register(
    "user_state_scd2",
    oracle="""
    WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
               WHERE user_id % 7 = 0),
    m AS (SELECT user_id, event_id, ts, event_type,
                 CASE WHEN lag(event_type) OVER w IS NULL
                        OR lag(event_type) OVER w <> event_type
                      THEN 1 ELSE 0 END AS chg
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    r AS (SELECT user_id, ts, event_type,
                 sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS version
          FROM m),
    p AS (SELECT user_id, version, min(event_type) AS state,
                 min(ts) AS valid_from, count(*) AS n_events
          FROM r GROUP BY 1, 2)
    SELECT user_id, CAST(version AS INTEGER) AS version, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to,
           n_events
    FROM p ORDER BY user_id, version
    """,
)
def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 state history from an event log: collapse consecutive
    runs of the same per-user state into versioned validity intervals
    (valid_from inclusive, valid_to = next version's start, NULL while
    current) — the slowly-changing-dimension build every Hive ETL runs,
    via the gaps-and-islands idiom (lag-change flag + running sum)
    rather than the self-join formulation.

    One user_id exchange feeds BOTH windows and the run aggregate (the
    run key (user_id, version) is a refinement of the window
    partitioning), then valid_to is a lead over the already-collapsed
    run frame — per-user rows there = #state changes, not #events.
    The user_id % 7 cohort filter is pushed to the scan (bounds driver
    output; the operator itself is corpus-wide). Unique (ts, event_id)
    ordering makes run numbering identical in both engines.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 7 == 0)
        .select("user_id", "event_id", "ts", "event_type")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    marked = ev.withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
    )
    runs = marked.withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    per = runs.groupBy("user_id", "version").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    wv = W.partitionBy("user_id").orderBy("version")
    return per.select(
        "user_id",
        F.col("version").cast("int").alias("version"),
        "state",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
    ).orderBy("user_id", "version")


@register(
    "customer_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT o.o_custkey,
             CAST(o.o_orderdate AS DATE) AS start_d,
             CAST(max(l.l_shipdate) AS DATE) AS end_d
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey % 10 = 0
      GROUP BY 1, 2, o.o_orderkey),
    m AS (SELECT o_custkey, start_d, end_d,
                 max(end_d) OVER (PARTITION BY o_custkey
                                  ORDER BY start_d, end_d
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS prev_end
          FROM iv),
    f AS (SELECT o_custkey, start_d, end_d,
                 CASE WHEN prev_end IS NULL OR start_d > prev_end
                      THEN 1 ELSE 0 END AS new_island
          FROM m),
    isl AS (SELECT o_custkey, start_d, end_d,
                   sum(new_island) OVER (PARTITION BY o_custkey
                                         ORDER BY start_d, end_d
                                         ROWS UNBOUNDED PRECEDING) AS island
            FROM f),
    merged AS (SELECT o_custkey, island,
                      min(start_d) AS m_start, max(end_d) AS m_end,
                      count(*) AS n_raw
               FROM isl GROUP BY 1, 2)
    SELECT o_custkey,
           CAST(sum(n_raw) AS BIGINT) AS n_intervals,
           count(*) AS n_merged,
           CAST(sum(date_diff('day', m_start, m_end) + 1) AS BIGINT)
               AS covered_days
    FROM merged GROUP BY 1 ORDER BY o_custkey
    """,
)
def customer_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping activity intervals per customer and report
    coverage — the union-of-intervals primitive behind SLA/uptime
    accounting and "days with an order in flight". Each order spans
    [orderdate, max shipdate]; overlapping spans merge via the running
    prev-max-end island idiom.

    Shuffle shape: per-order end date is ONE l_orderkey agg (partial
    map-side), the orders join rides the same orderkey, then one
    custkey exchange feeds the island window, the island collapse, and
    the final per-customer rollup (each groupBy key refines the window
    partitioning). No interval self-join — the quadratic-per-customer
    overlap test the naive formulation runs never materializes. Island
    NUMBERS depend on tie order between identical (start, end) rows,
    but identical intervals always land in the same island, so the
    merged frame (and everything emitted) is tie-invariant. The cohort
    filter (custkey % 10) prunes the orders scan.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("end_d"))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 0)
        .select("o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("start_d"))
    )
    iv = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_custkey", "start_d", "end_d"
    )
    w = W.partitionBy("o_custkey").orderBy("start_d", "end_d")
    m = iv.withColumn(
        "prev_end", F.max("end_d").over(w.rowsBetween(W.unboundedPreceding, -1))
    )
    f = m.withColumn(
        "new_island",
        F.when(
            F.col("prev_end").isNull() | (F.col("start_d") > F.col("prev_end")), 1
        ).otherwise(0),
    )
    isl = f.withColumn(
        "island", F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    merged = isl.groupBy("o_custkey", "island").agg(
        F.min("start_d").alias("m_start"),
        F.max("end_d").alias("m_end"),
        F.count("*").alias("n_raw"),
    )
    return (
        merged.groupBy("o_custkey")
        .agg(
            F.sum("n_raw").alias("n_intervals"),
            F.count("*").alias("n_merged"),
            F.sum(F.datediff("m_end", "m_start") + 1).alias("covered_days"),
        )
        .orderBy("o_custkey")
    )


def _md5_u32(expr: str) -> str:
    """DuckDB SQL: first 4 md5 bytes of ``expr`` as a 0..2^32-1 integer
    (strpos hex decode — the repo's established oracle idiom)."""
    h = f"md5({expr})"
    digit = "(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
    parts = [digit.format(h=h, i=i + 1) for i in range(8)]
    acc = parts[0]
    for p in parts[1:]:
        acc = f"({acc} * 16 + {p})"
    return acc


@register(
    "sample_weighted",
    oracle=f"""
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             ln(({_md5_u32("CAST(doc_id AS VARCHAR)")} + 1) / 4294967296.0)
                 / n_chars AS k
      FROM documents),
    ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id)
                 AS rk
      FROM keyed)
    SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id, n_chars
    FROM ranked WHERE rk <= 5 ORDER BY lang, rk
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement, top-5 per
    language — the A-ES / exponential-keys algorithm (Efraimidis &
    Spirakis): each row draws u ~ U(0,1] from its md5 and ranks by
    ln(u)/weight (equivalent to u^(1/w); one max-key pass replaces
    sequential weighted draws). Weight here = n_chars, so longer docs
    are proportionally likelier — the "sample tokens, not documents"
    correction a curriculum sampler needs.

    Scale: the key is a scan-side expression (seeded by doc_id, so ANY
    partitioning draws the same sample); selection is one rank window
    per language partition with WindowGroupLimit pushing the top-5
    partial before the exchange. Key collisions would need two md5
    draws within ~1 ulp after the weight divide — never in practice,
    and the doc_id tie-break keeps even that deterministic.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(float(16**8))
    keyed = d.withColumn("k", F.ln(u) / F.col("n_chars"))
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(F.desc("k"), "doc_id")
    )
    return (
        keyed.withColumn("rk", rk)
        .filter(F.col("rk") <= 5)
        .select("lang", F.col("rk").cast("int").alias("rk"), "doc_id", "n_chars")
        .orderBy("lang", "rk")
    )


@register(
    "orders_equidepth_histogram",
    oracle="""
    WITH b AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders)
    SELECT CAST(bucket AS INTEGER) AS bucket,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           round(sum(o_totalprice), 2) AS bucket_value
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def orders_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH (equal-count) histogram of order values: decile
    boundaries + per-bucket stats — the complement of Hive's equi-width
    ``histogram_numeric`` (agg_histogram_numeric) and the shape behind
    "what does a p90 order look like". Exact ntile needs a global
    order; the o_orderkey tie-break makes bucket membership identical
    in both engines even at repeated prices. At 100 TB swap the exact
    window for approxQuantile boundaries + a scan-side bucket lookup
    (the z-order writer in operators/layout.py already uses that
    pattern); this entry keeps the exact, oracle-matched surface.
    """
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        "o_totalprice",
        F.ntile(10).over(W.orderBy("o_totalprice", "o_orderkey")).alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.sum("o_totalprice"), 2).alias("bucket_value"),
        )
        .select(F.col("bucket").cast("int").alias("bucket"), "n_orders", "lo", "hi", "bucket_value")
        .orderBy("bucket")
    )


@register(
    "events_sessionize_ids",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN date_diff('second',
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                      ts) > 1800
                    OR lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE user_id % 11 = 0),
    s AS (SELECT user_id, event_id, ts, value,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_n
          FROM g)
    SELECT user_id, CAST(session_n AS INTEGER) AS session_n,
           count(*) AS n_events,
           min(ts) AS session_start,
           CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
               AS duration_s,
           round(sum(value), 2) AS session_value
    FROM s GROUP BY 1, 2 ORDER BY user_id, session_n
    """,
)
def events_sessionize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with explicit session IDS — the assignment
    twin of the session-window AGGREGATES (`stream_session`): every
    event gets a per-user session number (30-min inactivity gap), then
    per-session stats. Same gaps-and-islands machinery as
    `user_state_scd2`, keyed on time gaps instead of state changes;
    one user_id exchange feeds the gap window, the running sum, and
    the session aggregate (each key refines the partitioning). The
    per-user session numbering is the join key downstream funnel /
    attribution queries need, which the windowed aggregate alone
    cannot provide. Cohort filter (user_id % 11) bounds driver output.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 11 == 0)
        .select("user_id", "event_id", "ts", "value")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    g = ev.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    s = g.withColumn(
        "session_n", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        s.groupBy("user_id", "session_n")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("duration_s"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_n").cast("int").alias("session_n"),
            "n_events",
            "session_start",
            "duration_s",
            "session_value",
        )
        .orderBy("user_id", "session_n")
    )


@register(
    "events_attribution_last_touch",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS view_id, user_id, ts FROM events
          WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, p.ts, v.view_id,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_s,
           round(p.value, 2) AS credited_value
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY p.event_id
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the user's most
    recent preceding view — the marketing-analytics primitive, and
    exactly an AS-OF join of the purchase stream onto the view stream
    (operators/asof.py: union + carry-forward, one user_id exchange, no
    range explosion). The SQL idiom is a correlated argmax per
    purchase; DuckDB's native ASOF LEFT JOIN is the oracle. View ids
    ride the carried payload so downstream budget attribution can join
    campaign dimensions on them. (event_id, ts) are unique per user in
    the fixture — pinned by test_fixture_contract — so the match is
    deterministic."""
    from hive_release_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("view_ts"),
    )
    out = asof_join(
        p,
        v,
        on="user_id",
        left_t="ts",
        right_t="view_ts",
        right_payload=["view_id", "view_ts"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "view_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp("view_ts")
        ).cast("long").alias("lag_s"),
        F.round("value", 2).alias("credited_value"),
    ).orderBy("event_id")


@register(
    "events_rolling_active_sketch",
    oracle="""
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT d.day AS day, count(DISTINCT u.user_id) AS active_7d_exact,
           TRUE AS sketch_within_6se
    FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY 1 ORDER BY 1
    """,
)
def events_rolling_active_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCH path for sliding-window distinct counts: one HLL
    sketch per day (a partial-agged daily build over the raw stream),
    then each report day MERGES its trailing 7 daily sketches — union
    of sketches, never a re-scan of the window. This is how a 100 TB
    deployment serves arbitrary trailing windows (7/28/90-day) from
    one daily-sketch table: incremental (yesterday's sketches never
    recompute), and the per-day state is one fixed-size sketch instead
    of a user-id set. The 7-day fan-out joins the DAY-cardinality
    sketch table, not the event stream — contrast with the exact
    formulation (`events_rolling_active_users`), which explodes the
    distinct user-day frame. Oracle pins the exact rolling counts and
    a wide 6-standard-error (≤10%, lgConfigK=12 → ~1.63% rSE) sanity
    boolean on the merged estimate — the tight empirical accuracy
    claim is a pytest property in `tests/test_sketches.py`, so a
    fixture or sketch-default change cannot flip the driver gate."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    days = daily.select(F.col("day").alias("obs_day"))
    contrib = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("obs_day"),
        "sk",
    )
    merged = (
        contrib.join(F.broadcast(days), "obs_day")
        .groupBy("obs_day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = (
        ev.distinct()
        .select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("obs_day"),
            "user_id",
        )
        .join(F.broadcast(days), "obs_day")
        .groupBy("obs_day")
        .agg(F.countDistinct("user_id").alias("active_7d_exact"))
    )
    return (
        exact.join(merged, "obs_day")
        .select(
            F.col("obs_day").alias("day"),
            "active_7d_exact",
            (
                F.abs(F.col("est") - F.col("active_7d_exact"))
                <= 0.10 * F.col("active_7d_exact")
            ).alias("sketch_within_6se"),
        )
        .orderBy("day")
    )


@register(
    "funnel_conversion_window",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1
            AND e.ts <= v.t1 + INTERVAL 72 HOUR
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
            AND e.ts <= c.t2 + INTERVAL 72 HOUR
          GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click_72h,
           (SELECT count(*) FROM p) AS n_purchase_72h
    """,
)
def funnel_conversion_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED funnel: each step converts only within 72 h of the
    previous step's conversion (the attribution-window semantics real
    funnel products default to — an unbounded funnel overcounts
    returning users as converters). Same single-scan shape as
    `funnel_conversion`: per-user sorted event array + HOF step search,
    with the window bound riding the same lambda — the oracle's
    self-join-per-step idiom just grows one predicate. One user_id
    exchange, (N+1)-counter reduce."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    cur = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("seq")
    )
    win = F.expr("INTERVAL 72 HOURS")

    def _first(st):
        return lambda s: s["event_type"] == st

    def _after_within(st, prev):
        return lambda s: (
            (s["event_type"] == st) & (s["ts"] > prev) & (s["ts"] <= prev + win)
        )

    t1 = F.get(F.filter("seq", _first("view")), 0)["ts"]
    cur = cur.select("user_id", "seq", t1.alias("t1"))
    t2 = F.get(F.filter("seq", _after_within("click", F.col("t1"))), 0)["ts"]
    cur = cur.select("user_id", "seq", "t1", t2.alias("t2"))
    t3 = F.get(F.filter("seq", _after_within("purchase", F.col("t2"))), 0)["ts"]
    cur = cur.select("user_id", "t1", "t2", t3.alias("t3"))
    return cur.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_72h"),
        F.count("t3").alias("n_purchase_72h"),
    )


@register(
    "orders_trend_forecast",
    oracle="""
    WITH m AS (
      SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS t,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1),
    fit AS (
      SELECT regr_slope(rev, t) AS slope, regr_intercept(rev, t) AS icept,
             max(t) AS t_max, CAST(count(*) AS BIGINT) AS n_months
      FROM m)
    SELECT n_months, round(slope, 4) AS slope, round(icept, 2) AS icept,
           round(icept + slope * (t_max + 1), 2) AS forecast_next
    FROM fit
    """,
)
def orders_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-trend revenue forecast: monthly revenue -> OLS fit via the
    regr_* aggregates -> next-month extrapolation. The fit runs on the
    MONTH-cardinality frame (one partial-agged shuffle collapses the
    fact; the regression aggregate sees dozens of rows at any corpus
    size) — the applied companion to the agg_regr family sweep."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
        ).alias("t")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    fit = m.agg(
        F.regr_slope("rev", "t").alias("slope"),
        F.regr_intercept("rev", "t").alias("icept"),
        F.max("t").alias("t_max"),
        F.count("*").alias("n_months"),
    )
    return fit.select(
        "n_months",
        F.round("slope", 4).alias("slope"),
        F.round("icept", 2).alias("icept"),
        F.round(
            F.col("icept") + F.col("slope") * (F.col("t_max") + 1), 2
        ).alias("forecast_next"),
    )


@register(
    "dq_distribution_drift_psi",
    oracle="""
    WITH b AS (
      SELECT year(o_orderdate) AS yr,
             least(CAST(floor(o_totalprice / 50000) AS INTEGER), 9) AS bucket
      FROM orders
      -- non-finite amounts have no bucket (r11 finite wave 2)
      WHERE year(o_orderdate) IN (1995, 1996)
        AND isfinite(o_totalprice)),
    c AS (SELECT bucket,
                 count(CASE WHEN yr = 1995 THEN 1 END) AS na,
                 count(CASE WHEN yr = 1996 THEN 1 END) AS nb
          FROM b GROUP BY 1),
    t AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb
          FROM c),
    psi AS (
      SELECT sum(((na + 0.5) / (ta + 5.0) - (nb + 0.5) / (tb + 5.0))
                 * ln(((na + 0.5) / (ta + 5.0)) / ((nb + 0.5) / (tb + 5.0))))
                 AS v
      FROM c CROSS JOIN t)
    SELECT t.ta AS n_1995, t.tb AS n_1996,
           round(psi.v, 6) AS psi,
           psi.v > 0.1 AS drifted
    FROM t CROSS JOIN psi
    """,
)
def dq_distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two periods' order-value
    distributions — the standard drift statistic an ML/data-quality
    monitor computes per feature per tick (PSI > 0.1 = investigate,
    > 0.25 = act). Fixed 50k-wide value buckets (top-coded at bucket
    9) keep binning deterministic across engines and corpus sizes;
    the +0.5/+5.0 Laplace smoothing keeps empty bins finite, exactly
    replayed by the oracle. One scan -> bucket counts (conditional
    agg, one shuffle of a 10-row frame) -> driver-free PSI fold via
    two 1-row crossJoin attaches (the repo's threshold-attach
    pattern)."""
    o = load_table(spark, sf_dir, "orders").filter(
        # non-finite amounts have no bucket (r11 finite wave 2)
        F.year("o_orderdate").isin(1995, 1996)
        & is_finite("o_totalprice")
    )
    b = o.select(
        F.year("o_orderdate").alias("yr"),
        F.least(
            F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(9)
        ).alias("bucket"),
    )
    c = b.groupBy("bucket").agg(
        F.count(F.when(F.col("yr") == 1995, 1)).alias("na"),
        F.count(F.when(F.col("yr") == 1996, 1)).alias("nb"),
    )
    t = c.agg(
        F.sum("na").cast("long").alias("ta"), F.sum("nb").cast("long").alias("tb")
    )
    pa = (F.col("na") + 0.5) / (F.col("ta") + 5.0)
    pb = (F.col("nb") + 0.5) / (F.col("tb") + 5.0)
    psi = (
        c.crossJoin(F.broadcast(t))
        .agg(F.sum((pa - pb) * F.log(pa / pb)).alias("v"))
    )
    return (
        t.crossJoin(F.broadcast(psi))
        .select(
            F.col("ta").alias("n_1995"),
            F.col("tb").alias("n_1996"),
            F.round("v", 6).alias("psi"),
            (F.col("v") > 0.1).alias("drifted"),
        )
    )


@register(
    "window_running_distinct",
    oracle="""
    WITH f AS (
      SELECT user_id, event_id, ts,
             CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_of_type
      FROM events WHERE user_id % 13 = 0)
    SELECT user_id, event_id,
           CAST(sum(first_of_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS types_seen
    FROM f ORDER BY user_id, ts, event_id
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered stream — how many
    distinct event types each user has seen as of each event (the
    breadth-of-engagement curve). Distinct aggregates aren't valid
    window functions in either engine, and the collect_set-over-window
    spelling carries a growing set per row; the scalable rewrite is a
    FIRST-OCCURRENCE flag (rank 1 per (user, type)) + a running sum —
    two windows over one user_id exchange, constant per-row state. The
    oracle is the same decomposition (it is the definitional rewrite,
    not an engine replay)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 13 == 0)
        .select("user_id", "event_id", "ts", "event_type")
    )
    first = F.when(
        F.row_number().over(
            W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        )
        == 1,
        1,
    ).otherwise(0)
    f = ev.withColumn("first_of_type", first)
    running = F.sum("first_of_type").over(
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        f.select(
            "user_id",
            "event_id",
            "ts",
            running.cast("long").alias("types_seen"),
        )
        .orderBy("user_id", "ts", "event_id")
        .drop("ts")
    )


@register(
    "customer_cohort_ltv",
    oracle=f"""
    WITH f AS (
      SELECT o_custkey,
             min((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1)
                 OVER (PARTITION BY o_custkey) AS cohort_m,
             (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS m,
             o_totalprice
      FROM orders),
    per AS (
      SELECT cohort_m, m - cohort_m AS age_m,
             CAST(sum({cents_sql("o_totalprice")})
                  AS BIGINT) AS rev_cents,
             count(DISTINCT o_custkey) AS active
      FROM f GROUP BY 1, 2),
    sizes AS (
      SELECT cohort_m, count(DISTINCT o_custkey) AS cohort_n
      FROM f GROUP BY 1)
    SELECT p.cohort_m, p.age_m, s.cohort_n, p.active,
           -- floor(x + 0.5) on the SHARED exact quotient, not
           -- round() (r12 temporal axis): cum_cents/cohort_n is the
           -- same IEEE double on both engines (exact int64 inputs),
           -- so half-up via floor is deterministic, while round()'s
           -- internal scaling path can flip at a .xx5 boundary
           floor(CAST(sum(p.rev_cents) OVER (PARTITION BY p.cohort_m
                                             ORDER BY p.age_m
                                             ROWS UNBOUNDED PRECEDING)
                      AS DOUBLE) / s.cohort_n + 0.5) / 100
               AS cum_ltv_per_user
    FROM per p JOIN sizes s ON p.cohort_m = s.cohort_m
    WHERE p.cohort_m < 6
    ORDER BY p.cohort_m, p.age_m
    """,
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative revenue per user by cohort age in
    months (the growth-accounting companion to `retention_cohorts` —
    "how much is a January customer worth by month 6"). One fact scan
    feeds the cohort window; the cumulative curve then runs on the
    (cohort x age) frame — dozens of rows at any corpus size — with
    the cohort-size divisor joined from the same collapsed frame.
    First-six-cohorts filter bounds driver output."""
    o = load_table(spark, sf_dir, "orders")
    m = ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
    f = o.select(
        "o_custkey",
        m.alias("m"),
        "o_totalprice",
    ).withColumn("cohort_m", F.min("m").over(W.partitionBy("o_custkey")))
    # integer-cents discipline: summation order differs between engines,
    # so money rides as exact BIGINT cents until the single final divide
    per = f.groupBy("cohort_m", (F.col("m") - F.col("cohort_m")).alias("age_m")).agg(
        # specials summed like NULL (r11 finite wave 2): a NaN-priced
        # order still marks the customer active, but adds no revenue
        F.sum(cents_fold("o_totalprice")).alias("rev_cents"),
        F.countDistinct("o_custkey").alias("active"),
    )
    sizes = f.groupBy("cohort_m").agg(
        F.countDistinct("o_custkey").alias("cohort_n")
    )
    cum = F.sum("rev_cents").over(
        W.partitionBy("cohort_m").orderBy("age_m").rowsBetween(
            W.unboundedPreceding, 0
        )
    )
    return (
        per.join(sizes, "cohort_m")
        .filter(F.col("cohort_m") < 6)
        .select(
            "cohort_m",
            "age_m",
            "cohort_n",
            "active",
            (half_up(cum.cast("double") / F.col("cohort_n")) / 100).alias(
                "cum_ltv_per_user"
            ),
        )
        .orderBy("cohort_m", "age_m")
    )


@register(
    "events_longest_streak",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events WHERE user_id % 9 = 0),
    m AS (SELECT user_id, day,
                 CASE WHEN date_diff('day',
                          lag(day) OVER (PARTITION BY user_id ORDER BY day),
                          day) = 1
                      THEN 0 ELSE 1 END AS brk
          FROM ud),
    isl AS (SELECT user_id, day,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS streak_id
            FROM m),
    per AS (SELECT user_id, streak_id, count(*) AS len
            FROM isl GROUP BY 1, 2)
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS active_days,
           CAST(max(len) AS BIGINT) AS longest_streak,
           count(*) AS n_streaks
    FROM per GROUP BY user_id ORDER BY user_id
    """,
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (the engagement
    "don't break the chain" metric) — gaps-and-islands on the DISTINCT
    user-day frame: a lag-gap break flag + running sum numbers the
    streaks, then two stacked aggregates collapse them. The window and
    both groupBys ride one user_id exchange (the distinct collapse
    happens first, so the window sees days, not raw events). Cohort
    filter (user_id % 9) bounds driver output."""
    ud = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 9 == 0)
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    brk = F.when(
        F.datediff(F.col("day"), F.lag("day").over(w)) == 1, 0
    ).otherwise(1)
    isl = ud.withColumn("brk", brk).withColumn(
        "streak_id", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    per = isl.groupBy("user_id", "streak_id").agg(F.count("*").alias("len"))
    return (
        per.groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("active_days"),
            F.max("len").cast("long").alias("longest_streak"),
            F.count("*").alias("n_streaks"),
        )
        .orderBy("user_id")
    )


@register(
    "events_stickiness_dau_mau",
    oracle="""
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
    mau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS mau
      FROM days d JOIN ud u ON u.day BETWEEN d.day - 27 AND d.day
      GROUP BY 1)
    SELECT d.day AS day, dau.dau, mau.mau,
           round(dau.dau * 1.0 / mau.mau, 6) AS stickiness
    FROM days d JOIN dau ON d.day = dau.day JOIN mau ON d.day = mau.day
    ORDER BY d.day
    """,
)
def events_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the canonical engagement ratio
    ("what fraction of this month's users showed up today"). Same
    explode-instead-of-range-join shape as the rolling actives: the
    distinct user-day frame fans out 28x for the trailing-MAU side (a
    bounded map-side explode of an already-collapsed frame), DAU is the
    plain per-day distinct, and both join the broadcast day list. Two
    count-distinct aggs, no self-join at any scale."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    days = ev.select("day").distinct()
    dau = ev.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    mau = (
        ev.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 27))
            ).alias("day"),
            "user_id",
        )
        .join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            F.round(F.col("dau") / F.col("mau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "events_anomaly_mad",
    oracle="""
    WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
               FROM events GROUP BY 1),
    med AS (SELECT median(n) AS m FROM d),
    mad AS (SELECT median(abs(d.n - med.m)) AS v FROM d CROSS JOIN med)
    SELECT d.day AS day, d.n,
           round((d.n - med.m) / (1.4826 * mad.v), 4) AS robust_z,
           abs(d.n - med.m) > 3 * 1.4826 * mad.v AS is_anomaly
    FROM d CROSS JOIN med CROSS JOIN mad
    ORDER BY d.day
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly flags via median absolute deviation — the
    companion to the mean/stddev z-score (`events_daily_anomaly`): MAD
    is outlier-resistant, so one broken day doesn't widen the band that
    should catch it (the failure mode that makes plain z-scores miss
    incidents). Both medians are EXACT percentiles over the
    day-cardinality frame (corpus collapses in one partial-agged
    shuffle); the two 1-row stats attach by broadcast crossJoin. The
    1.4826 factor scales MAD to sigma-equivalents under normality."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    med = d.agg(F.median("n").alias("m"))
    mad = d.crossJoin(F.broadcast(med)).agg(
        F.median(F.abs(F.col("n") - F.col("m"))).alias("v")
    )
    return (
        d.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "day",
            "n",
            # try_divide: MAD = 0 (a single day, or >=50% identical
            # daily counts) makes the z undefined — NULL, DuckDB's
            # x/0 answer, not an ANSI abort
            F.round(
                F.try_divide(F.col("n") - F.col("m"), 1.4826 * F.col("v")), 4
            ).alias("robust_z"),
            (
                F.abs(F.col("n") - F.col("m")) > 3 * 1.4826 * F.col("v")
            ).alias("is_anomaly"),
        )
        .orderBy("day")
    )


@register(
    "dq_benford_first_digit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS d
      FROM orders
      -- a non-finite amount has no first digit (r11 finite wave 2)
      WHERE o_totalprice >= 1 AND isfinite(o_totalprice)),
    c AS (SELECT d, count(*) AS obs FROM digits GROUP BY 1),
    t AS (SELECT CAST(sum(obs) AS BIGINT) AS total FROM c)
    SELECT c.d, CAST(c.obs AS BIGINT) AS obs,
           round(t.total * log10(1.0 + 1.0 / c.d), 2) AS expected,
           round(pow(c.obs - t.total * log10(1.0 + 1.0 / c.d), 2)
                 / (t.total * log10(1.0 + 1.0 / c.d)), 4) AS chi2_term
    FROM c CROSS JOIN t
    ORDER BY c.d
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts — the classic
    fraud / synthetic-data screen (organically-grown amounts follow
    P(d) = log10(1 + 1/d); fabricated or uniformly-generated ones
    don't, as this fixture's flat chi2 terms show). First digit is a
    scan-side string op on the integer part; one 9-key conditional
    aggregate + a 1-row total attach; per-digit chi-square terms let
    the reader localize which digit deviates."""
    o = load_table(spark, sf_dir, "orders").filter(
        # a non-finite amount has no first digit (r11 finite wave 2)
        (F.col("o_totalprice") >= 1) & is_finite("o_totalprice")
    )
    digits = o.select(
        # floor() explicitly: DuckDB's double->BIGINT cast ROUNDS while
        # Spark's truncates — a one-digit-off trap at x999.5 boundaries
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        ).cast("int").alias("d")
    )
    c = digits.groupBy("d").agg(F.count("*").alias("obs"))
    t = c.agg(F.sum("obs").cast("long").alias("total"))
    exp = F.col("total") * F.log10(1.0 + 1.0 / F.col("d"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "d",
            F.col("obs").cast("long").alias("obs"),
            F.round(exp, 2).alias("expected"),
            F.round(F.pow(F.col("obs") - exp, 2) / exp, 4).alias("chi2_term"),
        )
        .orderBy("d")
    )


@register(
    "events_changepoint_cusum",
    oracle="""
    WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
               FROM events GROUP BY 1),
    m AS (SELECT avg(n) AS mu FROM d),
    c AS (SELECT d.day, d.n,
                 sum(d.n - m.mu) OVER (ORDER BY d.day
                                       ROWS UNBOUNDED PRECEDING) AS cusum
          FROM d CROSS JOIN m),
    mx AS (SELECT max(abs(cusum)) AS peak FROM c)
    SELECT c.day AS day, c.n, round(c.cusum, 4) AS cusum,
           abs(c.cusum) = mx.peak AS is_changepoint
    FROM c CROSS JOIN mx
    ORDER BY c.day
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily volume: the running sum of
    deviations from the global mean peaks (in absolute value) AT the
    most likely level-shift day — the time-LOCALIZATION companion to
    the drift (PSI) and anomaly (z/MAD) monitors, which say that
    something changed but not when. Day frame + two 1-row broadcast
    attaches; the global-order cumsum rides the day-cardinality frame
    (the vocab-cutoff justification). Deviations sum in day order in
    both engines, so the trace is deterministic before the one
    rounding."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    m = d.agg(F.avg("n").alias("mu"))
    c = d.crossJoin(F.broadcast(m)).withColumn(
        "cusum",
        F.sum(F.col("n") - F.col("mu")).over(
            W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    mx = c.agg(F.max(F.abs("cusum")).alias("peak"))
    return (
        c.crossJoin(F.broadcast(mx))
        .select(
            "day",
            "n",
            F.round("cusum", 4).alias("cusum"),
            (F.abs("cusum") == F.col("peak")).alias("is_changepoint"),
        )
        .orderBy("day")
    )


@register(
    "customer_gini_revenue",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      -- non-finite rows carry no measurable revenue (r11 finite wave 2)
      FROM orders WHERE isfinite(o_totalprice) GROUP BY 1),
    r AS (SELECT cents,
                 row_number() OVER (ORDER BY cents, o_custkey) AS i
          FROM per),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS total,
                 CAST(sum(i * cents) AS BIGINT) AS weighted
          FROM r)
    SELECT n, round(total / 100.0, 2) AS total_revenue,
           round(2.0 * weighted / (n * CAST(total AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini
    FROM s
    """,
)
def customer_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue across customers — the inequality
    summary next to the HHI (`part_type_hhi`) and Pareto
    (`supplier_pareto`) concentration reports: G = 2*sum(i*x_i)/(n*sum x)
    - (n+1)/n over values ranked ascending with a unique key tie-break.
    Money rides as exact BIGINT cents (the cohort-LTV discipline) so
    rank weights multiply integers and the single final expression is
    the only floating step; the rank window runs on the per-customer
    frame, never the fact."""
    per = (
        load_table(spark, sf_dir, "orders")
        # non-finite rows carry no measurable revenue (r11 finite wave 2)
        .where(is_finite("o_totalprice"))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    r = per.select(
        "cents",
        F.row_number().over(W.orderBy("cents", "o_custkey")).alias("i"),
    )
    s = r.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("total"),
        F.sum(F.col("i") * F.col("cents")).alias("weighted"),
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("total") / 100.0, 2).alias("total_revenue"),
        F.round(
            2.0 * F.col("weighted") / (F.col("n") * F.col("total").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


@register(
    "events_survival_km",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(min(ts) AS DATE) AS first_day,
             CAST(min(CASE WHEN event_type = 'purchase' AND value >= 180
                           THEN ts END) AS DATE) AS conv_day,
             CAST(max(ts) AS DATE) AS last_day
      FROM events GROUP BY 1),
    obs AS (
      SELECT user_id,
             CASE WHEN conv_day IS NOT NULL
                  THEN date_diff('day', first_day, conv_day)
                  ELSE date_diff('day', first_day, last_day) END AS t,
             CASE WHEN conv_day IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM u),
    bytime AS (
      SELECT t, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) - sum(ev) AS BIGINT) AS c
      FROM obs GROUP BY t),
    risk AS (
      SELECT t, d, c,
             CAST(sum(d + c) OVER (ORDER BY t DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS n_risk
      FROM bytime),
    km AS (
      SELECT t, d, c, n_risk,
             sum(CASE WHEN d < n_risk THEN ln(1.0 - d * 1.0 / n_risk)
                      ELSE 0.0 END)
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum_ln,
             max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS hit_zero
      FROM risk)
    SELECT CAST(t AS BIGINT) AS t, d, c, n_risk,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE round(exp(cum_ln), 6) END AS s_hat
    FROM km ORDER BY t
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-conversion (first
    high-value purchase, value ≥ 180; users who never convert are
    right-CENSORED at their last observed event — the estimator's whole
    point vs a naive conversion histogram, which silently drops or
    miscounts the 74% censored here). Product-limit estimate
    S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) computed as exp of a running sum of
    logs; the d = n_risk boundary (empty risk set after the last
    event time) is handled by an explicit zero flag rather than ln(0),
    which Spark NULLs and DuckDB −infs — the one engine divergence in
    this algebra, kept out of both plans.

    Scale: the event stream collapses to the per-user (t, event) frame
    in ONE groupBy; everything after — time buckets, reverse-cumsum
    risk sets, the KM product — runs on the distinct-lifetime frame
    (≤ observation-window days ≪ corpus), so both windows ride a
    driver-sized frame and the global ORDER BY windows are justified
    exactly like the other day-cardinality analytics."""
    ev = load_table(spark, sf_dir, "events")
    conv = F.when(
        (F.col("event_type") == "purchase") & (F.col("value") >= 180),
        F.col("ts"),
    )
    u = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_day"),
        F.to_date(F.min(conv)).alias("conv_day"),
        F.to_date(F.max("ts")).alias("last_day"),
    )
    obs = u.select(
        F.when(
            F.col("conv_day").isNotNull(),
            F.datediff("conv_day", "first_day"),
        )
        .otherwise(F.datediff("last_day", "first_day"))
        .cast("long")
        .alias("t"),
        F.when(F.col("conv_day").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    bytime = obs.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        (F.count("*") - F.sum("ev")).cast("long").alias("c"),
    )
    w_desc = W.orderBy(F.col("t").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    risk = bytime.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(w_desc).cast("long")
    )
    w_asc = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    ln_term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(1.0 - F.col("d") * 1.0 / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    km = risk.select(
        "t",
        "d",
        "c",
        "n_risk",
        F.sum(ln_term).over(w_asc).alias("cum_ln"),
        F.max(
            F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
        ).over(w_asc).alias("hit_zero"),
    )
    return km.select(
        "t",
        "d",
        "c",
        "n_risk",
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("cum_ln"), 6))
        .alias("s_hat"),
    ).orderBy("t")


@register(
    "window_moving_median",
    oracle="""
    -- finite device on the median input (r10 NaN axis): the robust
    -- smoother smooths FINITE revenues — a NaN/Inf day is ignored
    -- like NULL by the median (DuckDB's native windowed median
    -- hard-crashes on specials; the raw rev column still reports them)
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY 1),
    f AS (SELECT day, rev,
                 CASE WHEN isfinite(rev) THEN rev END AS rev_f
          FROM daily)
    SELECT day,
           round(rev, 2) AS rev,
           round(median(rev_f) OVER (ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
               AS med_trailing7,
           round(median(rev_f) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 4)
               AS med_centered7
    FROM f ORDER BY day
    """,
)
def window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOVING MEDIAN of daily revenue (trailing-7 and centered-7) — the
    robust smoother that survives one-day spikes where a moving AVERAGE
    follows them (the reason ops dashboards track median-smoothed
    series). Spark's median() is an ordered-set aggregate that rejects
    window frames outright, so the operator is COMPOSED from primitives
    Spark does have: collect_list over the bounded ROWS frame →
    array_sort → exact middle-element math (odd: the middle; even: the
    mean of the two middles — the same definition DuckDB's native
    windowed median implements, making the oracle a first-class
    reference). The frame is ≤7 values by construction, so the
    per-row array work is O(1) and the window input is the
    DAY-cardinality aggregate, never the fact table — the standard
    justification for its global-order exchange."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
        # finite device (r10 NaN axis): the median smooths finite
        # revenues only — see oracle note
        .withColumn("rev_f", finite(F.col("rev")))
    )

    def frame_median(lo: int, hi: int):
        w = W.orderBy("day").rowsBetween(lo, hi)
        vals = F.array_sort(F.collect_list("rev_f").over(w))
        n = F.size(vals)
        odd = F.element_at(vals, ((n + 1) / 2).cast("int"))
        even = (
            F.element_at(vals, (n / 2).cast("int"))
            + F.element_at(vals, (n / 2 + 1).cast("int"))
        ) / 2.0
        # n == 0 (every rev in the frame NULL — collect_list drops
        # them): the median is NULL, matching DuckDB's windowed
        # median; without the guard the even branch hits
        # element_at(vals, 0) and ANSI INVALID_INDEX_OF_ZERO
        return (
            F.when(n == 0, F.lit(None).cast("double"))
            .when(n % 2 == 1, odd)
            .otherwise(even)
        )

    return daily.select(
        "day",
        F.round("rev", 2).alias("rev"),
        F.round(frame_median(-6, 0), 4).alias("med_trailing7"),
        F.round(frame_median(-3, 3), 4).alias("med_centered7"),
    ).orderBy("day")


@register(
    "orders_stl_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY 1),
    tr AS (
      SELECT day, rev,
             avg(rev) OVER (ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
      FROM daily),
    de AS (SELECT day, rev, trend, rev - trend AS detrended,
                  CAST(date_part('dow', day) AS INTEGER) AS dow
           FROM tr),
    se AS (SELECT day, rev, trend, detrended, dow,
                  avg(detrended) OVER (PARTITION BY dow) AS seasonal
           FROM de)
    SELECT day, CAST(dow AS INTEGER) AS dow,
           round(rev, 2) AS rev,
           round(trend, 4) AS trend,
           round(seasonal, 4) AS seasonal,
           round(detrended - seasonal, 4) AS resid
    FROM se ORDER BY day
    """,
)
def orders_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue
    (STL-lite: trend = centered 7-day moving average, seasonal =
    per-day-of-week mean of the detrended series, residual = the rest)
    — the pre-processing step the anomaly entries assume (a residual
    spike is a real anomaly; a raw spike may just be "it's Saturday";
    compare `events_daily_anomaly`, which z-scores the raw series).
    Everything runs on the DAY-cardinality frame after one fact
    groupBy: the centered MA is a bounded ROWS frame, the seasonal
    means are an unframed window over 7 partitions, and the residual
    is row arithmetic — no second fact pass. Day-of-week uses
    dayofweek−1 so both engines agree on 0=Sunday."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    trend = F.avg("rev").over(W.orderBy("day").rowsBetween(-3, 3))
    de = daily.select(
        "day",
        "rev",
        trend.alias("trend"),
        (F.col("rev") - trend).alias("detrended"),
        (F.dayofweek("day") - 1).cast("int").alias("dow"),
    )
    seasonal = F.avg("detrended").over(W.partitionBy("dow"))
    return de.select(
        "day",
        "dow",
        F.round("rev", 2).alias("rev"),
        F.round("trend", 4).alias("trend"),
        F.round(seasonal, 4).alias("seasonal"),
        F.round(F.col("detrended") - seasonal, 4).alias("resid"),
    ).orderBy("day")


@register(
    "part_price_elasticity",
    oracle="""
    WITH pb AS (
      SELECT p.p_brand,
             ln(p.p_retailprice) AS lp,
             ln(l.l_quantity) AS lq
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      -- listwise deletion (r11 finite wave 2); positivity is data-given
      WHERE isfinite(l.l_quantity) AND isfinite(p.p_retailprice))
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(lq, lp), 4) AS elasticity,
           round(regr_intercept(lq, lp), 4) AS intercept,
           round(regr_r2(lq, lp), 4) AS r2
    FROM pb GROUP BY 1 ORDER BY 1
    """,
)
def part_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP log-log OLS — price elasticity of demand by brand
    (slope of ln quantity on ln price, the textbook elasticity
    estimate), the grouped companion to the global `agg_regr` family.
    One fact scan with a broadcast part join feeds a per-brand
    regr_slope/intercept/r2 aggregate — the regression is a
    partial-aggregable moment computation (Σx, Σy, Σxx, Σxy per
    group), so it scales exactly like any sum: no per-group sort, no
    collect. The brand-grain output is dim-cardinality at any SF."""
    li = load_table(spark, sf_dir, "lineitem").where(
        # listwise deletion (r11 finite wave 2) — see oracle note
        is_finite("l_quantity")
    ).select("l_partkey", "l_quantity")
    p = load_table(spark, sf_dir, "part").where(
        is_finite("p_retailprice")
    ).select("p_partkey", "p_brand", "p_retailprice")
    pb = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")).select(
        "p_brand",
        F.ln("p_retailprice").alias("lp"),
        F.ln("l_quantity").alias("lq"),
    )
    # one row per part brand
    return bounded_sort(
        pb.groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.round(F.regr_slope("lq", "lp"), 4).alias("elasticity"),
            F.round(F.regr_intercept("lq", "lp"), 4).alias("intercept"),
            F.round(F.regr_r2("lq", "lp"), 4).alias("r2"),
        ),
        "p_brand",
    )


@register(
    "orders_pareto_frontier",
    oracle="""
    WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
                      CAST(o_orderdate AS DATE) AS od
               FROM orders WHERE o_custkey % 20 = 0)
    SELECT o_custkey, o_orderkey, o_totalprice AS price, od
    FROM o a
    WHERE NOT EXISTS (
      SELECT 1 FROM o b
      WHERE b.o_custkey = a.o_custkey
        AND b.od >= a.od AND b.o_totalprice >= a.o_totalprice
        AND (b.od > a.od OR b.o_totalprice > a.o_totalprice))
    ORDER BY o_custkey, o_orderkey
    """,
)
def orders_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE / Pareto frontier per customer — the orders not
    dominated on (recency, value): no other order is at least as
    recent AND at least as valuable with one strict (the classic
    skyline operator, 2-D maximization case). The textbook
    formulation is the quadratic NOT EXISTS self-join — that IS the
    oracle, so the rewrite is gated against the literal definition.
    The Spark side is the O(n log n) sorted-sweep: within each
    customer, a point survives iff its price exceeds the max price
    over all STRICTLY more recent orders (a numeric-date RANGE window
    ending at 1 PRECEDING — value-based, so date peers are excluded)
    AND no same-date peer has strictly higher price (a peer-group max
    window). One customer-key exchange, two windows, zero self-joins;
    per-customer state is a running max, which is why skylines of 2-D
    step this way at any scale."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 20 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.to_date("o_orderdate").alias("od"),
            F.datediff(F.to_date("o_orderdate"), F.lit("1990-01-01"))
            .cast("double")
            .alias("odn"),
        )
    )
    w_newer = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("odn").desc())
        .rangeBetween(W.unboundedPreceding, -1)
    )
    w_peer = W.partitionBy("o_custkey", "od")
    m_newer = F.max("o_totalprice").over(w_newer)
    m_peer = F.max("o_totalprice").over(w_peer)
    return (
        o.withColumn("mn", m_newer)
        .withColumn("mp", m_peer)
        .filter(
            (F.col("mn").isNull() | (F.col("mn") < F.col("o_totalprice")))
            & (F.col("mp") <= F.col("o_totalprice"))
        )
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            "od",
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "events_top_paths",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '6 hours'
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sid AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM s),
    paths AS (
      SELECT user_id, sess,
             -- coalesce: when no non-NULL event_type survives, DuckDB's
             -- array_to_string is NULL while Hive/Spark concat_ws-style
             -- joining gives '' — Hive behavior is the contract
             coalesce(array_to_string(list_slice(list(event_type
                 ORDER BY ts, event_id), 1, 5), '>'), '') AS path
      FROM sid GROUP BY 1, 2)
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY 1
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session PATHS — the ordered event-type sequence (first 5
    steps) of each 6h-gap session, counted across the corpus: the
    path-analysis report behind "how do users actually reach
    purchase". Sessionization is the same gaps-and-islands pass as
    `stream_session` (one user exchange, two windows); each session
    then collapses to ONE path string via an ORDERED collect bounded
    to 5 steps (state per session is 5 small strings, not the event
    list), and the final count rides the path-cardinality frame.
    Deterministic: (ts, event_id) total order inside sessions, path
    tie-break on the rank."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    sid = ev.withColumn(
        "new_s",
        F.when(
            prev.isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp"))
                > 6 * 3600 * 1_000_000
            ),
            1,
        ).otherwise(0),
    ).withColumn(
        "sess", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    paths = (
        sid.groupBy("user_id", "sess")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda s: s.event_type,
                    ),
                    1,
                    5,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


@register(
    "agg_trimmed_stats",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             percent_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS pr,
             -- finite device on the fence percentiles (r10 NaN axis):
             -- interpolated percentiles are only cross-engine-defined
             -- over finite values; ranking/clamping of specials agrees
             -- between the engines already (NaN greatest)
             quantile_cont(CASE WHEN isfinite(o_totalprice)
                                THEN o_totalprice END, 0.05)
                 OVER (PARTITION BY o_orderpriority) AS p05,
             quantile_cont(CASE WHEN isfinite(o_totalprice)
                                THEN o_totalprice END, 0.95)
                 OVER (PARTITION BY o_orderpriority) AS p95
      FROM orders)
    SELECT o_orderpriority,
           count(*) AS n,
           round(avg(o_totalprice), 4) AS mean_raw,
           round(avg(CASE WHEN pr >= 0.05 AND pr <= 0.95
                          THEN o_totalprice END), 4) AS mean_trimmed,
           round(avg(least(greatest(o_totalprice, p05), p95)), 4)
               AS mean_winsorized
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def agg_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust means per group — 5% TRIMMED (drop the tails) and
    WINSORIZED (clamp to the P5/P95 fence) alongside the raw mean: the
    outlier-resistant aggregates a metrics pipeline uses when a single
    whale order shouldn't move the KPI. One partition exchange serves
    the percent_rank AND the two unframed percentile windows, then a
    conditional aggregate finishes — no second scan, no per-group
    collect. Rank ties broken by order key so the trim boundary is
    identical in both engines; percentiles are linear-interpolation in
    both."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        # finite device on the fences (r10 NaN axis) — see oracle note;
        # computed ONCE via the shared helper so "finite" has a single
        # definition (in-round review)
        finite(F.col("o_totalprice")).alias("tp_f"),
    )
    wp = W.partitionBy("o_orderpriority")
    r = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank()
        .over(wp.orderBy("o_totalprice", "o_orderkey"))
        .alias("pr"),
        F.expr(
            "percentile(tp_f, 0.05) OVER (PARTITION BY o_orderpriority)"
        ).alias("p05"),
        F.expr(
            "percentile(tp_f, 0.95) OVER (PARTITION BY o_orderpriority)"
        ).alias("p95"),
    )
    inside = (F.col("pr") >= 0.05) & (F.col("pr") <= 0.95)
    return (
        r.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("mean_raw"),
            F.round(
                F.avg(F.when(inside, F.col("o_totalprice"))), 4
            ).alias("mean_trimmed"),
            F.round(
                F.avg(
                    F.least(
                        F.greatest(F.col("o_totalprice"), F.col("p05")),
                        F.col("p95"),
                    )
                ),
                4,
            ).alias("mean_winsorized"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "events_ab_uplift",
    oracle="""
    WITH u AS (
      SELECT user_id,
             (SELECT (strpos('0123456789abcdef',
                 substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1)
             ) % 2 AS arm,
             max(CASE WHEN event_type = 'purchase' AND value >= 180
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    s AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted,
             avg(CAST(converted AS DOUBLE)) AS rate
      FROM u GROUP BY arm),
    w AS (
      SELECT max(CASE WHEN arm = 0 THEN n_users END) AS n0,
             max(CASE WHEN arm = 0 THEN n_converted END) AS c0,
             max(CASE WHEN arm = 0 THEN rate END) AS r0,
             max(CASE WHEN arm = 1 THEN n_users END) AS n1,
             max(CASE WHEN arm = 1 THEN n_converted END) AS c1,
             max(CASE WHEN arm = 1 THEN rate END) AS r1
      FROM s)
    SELECT n0, c0, n1, c1,
           round(r0, 6) AS rate_control,
           round(r1, 6) AS rate_treatment,
           round(r1 - r0, 6) AS abs_uplift,
           round((r1 - r0) / sqrt(
             ((c0 + c1) * 1.0 / (n0 + n1))
             * (1 - (c0 + c1) * 1.0 / (n0 + n1))
             * (1.0 / n0 + 1.0 / n1)), 4) AS z_score
    FROM w
    """,
)
def events_ab_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout — deterministic hash-based arm
    assignment (first md5 hex digit of a seeded user key, mod 2: the
    bucketing every experimentation platform uses, stable across
    sessions and re-runs), per-arm HIGH-VALUE conversion rates
    (purchase with value >= 180 — the same conversion event as the
    survival entry; the plain purchase rate saturates at 1.0 on this
    fixture and degenerates the z-score), absolute uplift, and the
    pooled two-proportion z-score. The whole readout is two
    aggregates: one per-user conversion collapse (user-grain partial
    agg), one 2-row arm rollup pivoted into a single comparison row —
    the fact stream is scanned once and nothing user-shaped leaves the
    first groupBy. The z-score algebra is closed-form on counts, so
    the oracle replays it exactly."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 180),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).withColumn("arm", arm)
    s = u.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.avg(F.col("converted").cast("double")).alias("rate"),
    )
    w = s.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("arm") == 0, F.col("rate"))).alias("r0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("c1"),
        F.max(F.when(F.col("arm") == 1, F.col("rate"))).alias("r1"),
    )
    pooled = (F.col("c0") + F.col("c1")) * 1.0 / (F.col("n0") + F.col("n1"))
    return w.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round("r0", 6).alias("rate_control"),
        F.round("r1", 6).alias("rate_treatment"),
        F.round(F.col("r1") - F.col("r0"), 6).alias("abs_uplift"),
        F.round(
            (F.col("r1") - F.col("r0"))
            / F.sqrt(
                pooled
                * (1 - pooled)
                * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
            ),
            4,
        ).alias("z_score"),
    )


@register(
    "dq_reconciliation",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS computed
      FROM lineitem GROUP BY 1)
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT)                            AS n_orders,
           CAST(count(*) FILTER (li.computed IS NULL)
                AS BIGINT)                                     AS n_no_lines,
           CAST(count(*) FILTER (
                  abs(li.computed - o.o_totalprice)
                    / o.o_totalprice <= 0.01)
                AS BIGINT)                                     AS n_within_1pct,
           round(avg(abs(li.computed - o.o_totalprice)
                       / o.o_totalprice), 4)                   AS avg_rel_err,
           round(max(abs(li.computed - o.o_totalprice)
                       / o.o_totalprice), 4)                   AS max_rel_err
    FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header/detail RECONCILIATION audit — the warehouse-classic DQ
    check "does each order's stored total match the sum of its line
    items".  One grouped pass over the fact computes the per-order
    charge (map-side partial agg), a LEFT join back to the header
    keeps headers with no lines visible (n_no_lines), and the report
    collapses to order-status grain: how many orders reconcile within
    1%, and how bad the tail is.  Both sides shuffle once on the
    shared orderkey — the natural co-partitioning; a bucketed-write
    deployment (sources/formats.py) makes the join shuffle-free.  The
    synthetic fixture generates o_totalprice independently of
    lineitem, so the audit "fails" nearly every order (~2.3 mean
    relative error) — which is exactly what the operator should
    report; the SHAPE (anti-join-visible missing details, threshold
    bucketing, tail max) is the deliverable."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("computed")
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    rel = F.abs(F.col("computed") - F.col("o_totalprice")) / F.col(
        "o_totalprice"
    )
    # one row per order status
    return bounded_sort(
        j.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.count(F.when(F.col("computed").isNull(), 1)).alias(
                "n_no_lines"
            ),
            F.count(F.when(rel <= 0.01, 1)).alias("n_within_1pct"),
            F.round(F.avg(rel), 4).alias("avg_rel_err"),
            F.round(F.max(rel), 4).alias("max_rel_err"),
        ),
        "o_orderstatus",
    )


def _key_freq_profile(df: DataFrame, key: str, label: str) -> DataFrame:
    """One key column's frequency profile: group to (key, cnt), then
    one global aggregate over the cnt frame.  The struct-max trick
    (max over (cnt, -key)) makes the heavy-hitter key deterministic
    under frequency ties — the smallest key among the most frequent."""
    freq = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("cnt"))
    top = F.max(F.struct(F.col("cnt"), (-F.col("k")).alias("negk")))
    return freq.agg(
        F.lit(label).alias("key_col"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_per_key"),
        F.round(F.percentile(F.col("cnt").cast("double"), F.lit(0.95)), 4).alias(
            "p95_per_key"
        ),
        F.round(F.sum("cnt") / F.count("*"), 4).alias("avg_per_key"),
        F.round(
            F.max("cnt") / (F.sum("cnt") / F.count("*")), 4
        ).alias("skew_ratio"),
        (-top["negk"]).cast("long").alias("top_key"),
    )


@register(
    "dq_key_skew_profile",
    oracle="""
    WITH f AS (
      SELECT 'lineitem.l_partkey' AS key_col, l_partkey AS k, count(*) AS cnt
      FROM lineitem GROUP BY 1, 2
      UNION ALL
      SELECT 'lineitem.l_suppkey', l_suppkey, count(*)
      FROM lineitem GROUP BY 1, 2
      UNION ALL
      SELECT 'events.user_id', user_id, count(*)
      FROM events GROUP BY 1, 2)
    SELECT key_col,
           CAST(sum(cnt) AS BIGINT)            AS n_rows,
           CAST(count(*) AS BIGINT)            AS n_keys,
           CAST(max(cnt) AS BIGINT)            AS max_per_key,
           round(quantile_cont(CAST(cnt AS DOUBLE), 0.95), 4)
                                               AS p95_per_key,
           round(sum(cnt) / count(*), 4)       AS avg_per_key,
           round(max(cnt) / (sum(cnt) / count(*)), 4) AS skew_ratio,
           CAST((list(k ORDER BY cnt DESC, k))[1] AS BIGINT) AS top_key
    FROM f GROUP BY 1 ORDER BY 1
    """,
)
def dq_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW PROFILER — the pre-flight check a 100 TB join
    needs: per candidate key, the row count, distinct-key count,
    max/p95/avg rows-per-key, the skew ratio (max over mean — the
    number that predicts a straggler task), and the heavy-hitter key
    itself (ties broken to the smallest key so the report is
    deterministic).  This is the measurement side of the salted-skew
    machinery in operators/skew.py: run the profile, and keys whose
    skew_ratio crosses the salt threshold get salted (or handled by
    AQE skew-join).  Each profiled column costs one map-side-combined
    groupBy plus one global aggregate over the (much smaller)
    frequency frame; the three profiles union into a 3-row report.
    Exact p95 over the frequency frame is cheap because the input is
    key-cardinality, not row-cardinality."""
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    parts = [
        _key_freq_profile(li, "l_partkey", "lineitem.l_partkey"),
        _key_freq_profile(li, "l_suppkey", "lineitem.l_suppkey"),
        _key_freq_profile(ev, "user_id", "events.user_id"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # a key column with ZERO rows yields no profile row (its whole-frame
    # agg row carries NULL n_rows) — matching the oracle's GROUP BY,
    # which emits nothing for an empty frequency frame
    return out.filter(F.col("n_rows").isNotNull()).orderBy("key_col")


@register(
    "events_attribution_position",
    oracle=f"""
    WITH base AS (
      SELECT event_id, user_id, ts, event_type, value,
             coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) + 1 AS journey
      FROM events
      WHERE event_type IN ('view', 'purchase') AND user_id % 7 = 0),
    v AS (
      SELECT user_id, journey,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY user_id, journey) AS n
      FROM base WHERE event_type = 'view'
      WINDOW w AS (PARTITION BY user_id, journey ORDER BY ts, event_id)),
    p AS (SELECT user_id, journey,
             -- specials credit like NULL: the purchase still delimits
             -- its journey but carries no creditable value (r11)
                 {cents_sql("value")} AS cents
          FROM base WHERE event_type = 'purchase'),
    g AS (
      SELECT v.user_id, v.journey,
             CASE WHEN n = 1 THEN 'only' WHEN rn = 1 THEN 'first'
                  WHEN rn = n THEN 'last' ELSE 'middle' END AS touch_pos,
             CAST(count(*) AS BIGINT) AS n_t,
             max(n) AS n, max(cents) AS cents
      FROM v JOIN p USING (user_id, journey)
      GROUP BY 1, 2, 3)
    SELECT user_id, touch_pos,
           CAST(sum(n_t) AS BIGINT) AS n_touches,
           CAST(sum(CASE WHEN touch_pos = 'only'   THEN 10 * cents
                         WHEN touch_pos = 'middle' THEN 2 * cents
                         WHEN n = 2                THEN 5 * cents
                         ELSE 4 * cents END) AS BIGINT) / 1000.0
             AS credited
    FROM g GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-BASED (U-shaped, 40/20/40) multi-touch attribution —
    the step up from last-touch: every view in a purchase's journey
    gets credit, weighted by position (first 40%, last 40%, middles
    splitting 20%; degenerate journeys 100% / 50-50).  The journey
    segmentation needs NO range join: one user_id window counts prior
    purchases, so each view lands in the journey of the NEXT purchase
    (gaps-and-islands, same machinery as `events_sessionize_ids`).
    One exchange on user_id feeds the journey window; the (user,
    journey) view ranking refines the same partitioning; the inner
    join to the journey's purchase drops trailing unconverted views.
    Credit is EXACT integer arithmetic end to end: grouping the
    middles per journey cancels the 0.2/(n-2) denominator (the whole
    middle block always gets 0.2), so every per-journey credit is
    k*cents with k in {10,5,4,2} at a x10-cents scale — an exact
    BIGINT sum with ONE final divide, immune to float summation
    order (a per-row weight*value sum flipped a .xx5 rounding
    boundary between engines at sf0.1).  Cohort filter (user_id % 7)
    bounds driver output; (ts, event_id) is the unique tie-break
    everywhere."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .filter(F.col("user_id") % 7 == 0)
        .select("event_id", "user_id", "ts", "event_type", "value")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prior = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).over(w.rowsBetween(W.unboundedPreceding, -1))
    # journey-segmented frame feeds BOTH the view and purchase legs —
    # persist so the corpus scan + journey window run once, not twice
    g = ev.withColumn("journey", F.coalesce(prior, F.lit(0)) + 1).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    wv = W.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    wn = W.partitionBy("user_id", "journey")
    views = (
        g.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(wv))
        .withColumn("n", F.count("*").over(wn))
        .select("user_id", "journey", "rn", "n")
    )
    purch = g.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "journey",
        # specials credit like NULL (r11 finite wave 2) — see oracle
        cents_fold("value").alias("cents"),
    )
    rn, n = F.col("rn"), F.col("n")
    pos = (
        F.when(n == 1, "only")
        .when(rn == 1, "first")
        .when(rn == n, "last")
        .otherwise("middle")
    )
    per_journey = (
        views.join(purch, ["user_id", "journey"])
        .groupBy("user_id", "journey", pos.alias("touch_pos"))
        .agg(
            F.count("*").alias("n_t"),
            F.max("n").alias("n"),
            F.max("cents").alias("cents"),
        )
    )
    tp, cents = F.col("touch_pos"), F.col("cents")
    c10 = (
        F.when(tp == "only", 10 * cents)
        .when(tp == "middle", 2 * cents)
        .when(F.col("n") == 2, 5 * cents)
        .otherwise(4 * cents)
    )
    return (
        per_journey.groupBy("user_id", "touch_pos")
        .agg(
            F.sum("n_t").alias("n_touches"),
            (F.sum(c10) / F.lit(1000.0)).alias("credited"),
        )
        .orderBy("user_id", "touch_pos")
    )


@register(
    "events_ab_cuped",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             (SELECT (strpos('0123456789abcdef',
                 substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1)
             ) % 2 AS arm,
             -- specials engage like NULL (r11 finite wave 2)
             CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN {cents_sql("value")}
                      ELSE 0 END) AS BIGINT) AS p,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN {cents_sql("value")}
                      ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id),
    s AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS BIGINT) AS sp, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(p * p) AS BIGINT) AS spp,
             CAST(sum(p * y) AS BIGINT) AS spy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM u GROUP BY arm),
    w AS (
      SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
             max(CASE WHEN arm = 1 THEN n END) AS n1,
             max(CASE WHEN arm = 0 THEN sp END) AS sp0,
             max(CASE WHEN arm = 1 THEN sp END) AS sp1,
             max(CASE WHEN arm = 0 THEN sy END) AS sy0,
             max(CASE WHEN arm = 1 THEN sy END) AS sy1,
             CAST(sum(n) AS BIGINT) AS n_all,
             CAST(sum(sp) AS BIGINT) AS sp_all,
             CAST(sum(sy) AS BIGINT) AS sy_all,
             CAST(sum(spp) AS BIGINT) AS spp_all,
             CAST(sum(spy) AS BIGINT) AS spy_all,
             CAST(sum(syy) AS BIGINT) AS syy_all
      FROM s),
    t AS (
      SELECT *,
             (CAST(n_all AS DOUBLE) * spy_all
              - CAST(sp_all AS DOUBLE) * sy_all)
             / (CAST(n_all AS DOUBLE) * spp_all
                - CAST(sp_all AS DOUBLE) * sp_all) AS theta
      FROM w)
    SELECT n0, n1,
           round(CAST(sy0 AS DOUBLE) / n0 / 100, 4) AS mean_y_control,
           round(CAST(sy1 AS DOUBLE) / n1 / 100, 4) AS mean_y_treatment,
           round((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
                 / 100, 4) AS uplift_raw,
           round(theta, 6) AS theta,
           round(pow(CAST(n_all AS DOUBLE) * spy_all
                     - CAST(sp_all AS DOUBLE) * sy_all, 2)
                 / ((CAST(n_all AS DOUBLE) * spp_all
                     - CAST(sp_all AS DOUBLE) * sp_all)
                    * (CAST(n_all AS DOUBLE) * syy_all
                       - CAST(sy_all AS DOUBLE) * sy_all)), 6) AS rho2,
           round(((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
                  - theta * (CAST(sp1 AS DOUBLE) / n1
                             - CAST(sp0 AS DOUBLE) / n0))
                 / 100, 4) AS uplift_cuped
    FROM t
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013 — the
    standard experimentation-platform adjustment): each user's
    PRE-period engagement (value sum before Jan 16) is the covariate;
    theta = cov(pre, y)/var(pre) pooled over all users (valid because
    hash assignment is independent of pre-period behavior); the
    adjusted uplift subtracts theta times the arms' pre-period
    imbalance, and rho-squared IS the variance-reduction fraction.
    Exactness discipline: every moment (Sp, Sy, Spp, Spy, Syy) rides
    as an exact BIGINT of cents — the per-arm aggregate carries all
    six sufficient statistics, so ONE user-grain collapse plus a 2-row
    arm rollup serve the entire readout (theta, rho2, both means, raw
    and adjusted uplift) with no second fact scan; cross-products are
    computed in DOUBLE only at the final 1-row step, identically in
    both engines.  Same arm-assignment hash as events_ab_uplift, so
    the two entries describe the same experiment."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    # specials engage like NULL (r11 finite wave 2) — see oracle
    cents = cents_fold("value")
    split = F.lit("2024-01-16").cast("timestamp")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < split, cents).otherwise(0)).alias("p"),
            F.sum(F.when(F.col("ts") >= split, cents).otherwise(0)).alias("y"),
        )
        .withColumn("arm", arm)
    )
    s = u.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("p").alias("sp"),
        F.sum("y").alias("sy"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("p") * F.col("y")).alias("spy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    w = s.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("sp"))).alias("sp0"),
        F.max(F.when(F.col("arm") == 1, F.col("sp"))).alias("sp1"),
        F.max(F.when(F.col("arm") == 0, F.col("sy"))).alias("sy0"),
        F.max(F.when(F.col("arm") == 1, F.col("sy"))).alias("sy1"),
        F.sum("n").alias("n_all"),
        F.sum("sp").alias("sp_all"),
        F.sum("sy").alias("sy_all"),
        F.sum("spp").alias("spp_all"),
        F.sum("spy").alias("spy_all"),
        F.sum("syy").alias("syy_all"),
    )
    d = lambda c: F.col(c).cast("double")
    cov_n = d("n_all") * F.col("spy_all") - d("sp_all") * F.col("sy_all")
    var_p = d("n_all") * F.col("spp_all") - d("sp_all") * F.col("sp_all")
    var_y = d("n_all") * F.col("syy_all") - d("sy_all") * F.col("sy_all")
    # try_divide on the two variance-normalized ratios: a degenerate
    # experiment (single user, or a constant pre-period covariate) has
    # var(pre) = 0 and theta/rho2 undefined — NULL, DuckDB's x/0
    # answer, not an ANSI abort.  The per-arm mean divisors are counts
    # (>= 1 when the arm exists, NULL when it doesn't), never zero.
    theta = F.try_divide(cov_n, var_p)
    dy = d("sy1") / F.col("n1") - d("sy0") / F.col("n0")
    dp = d("sp1") / F.col("n1") - d("sp0") / F.col("n0")
    return w.select(
        "n0",
        "n1",
        F.round(d("sy0") / F.col("n0") / 100, 4).alias("mean_y_control"),
        F.round(d("sy1") / F.col("n1") / 100, 4).alias("mean_y_treatment"),
        F.round(dy / 100, 4).alias("uplift_raw"),
        F.round(theta, 6).alias("theta"),
        F.round(F.try_divide(F.pow(cov_n, 2), var_p * var_y), 6).alias("rho2"),
        F.round((dy - theta * dp) / 100, 4).alias("uplift_cuped"),
    )


@register(
    "dq_column_profile",
    oracle=f"""
    WITH a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(o_orderkey) AS BIGINT) AS c1,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d1,
             CAST(min(o_orderkey) AS VARCHAR) AS mn1,
             CAST(max(o_orderkey) AS VARCHAR) AS mx1,
             CAST(count(o_orderstatus) AS BIGINT) AS c2,
             CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS d2,
             min(o_orderstatus) AS mn2, max(o_orderstatus) AS mx2,
             CAST(count(o_totalprice) AS BIGINT) AS c3,
             CAST(count(DISTINCT o_totalprice) AS BIGINT) AS d3,
             -- Hive/Java rendering of double specials (r10 NaN axis:
             -- printf says 'nan'/'-inf' in DuckDB, 'NaN'/'-Infinity'
             -- in Spark/Hive; numeric.hive_render is the one
             -- definition of the rule)
             {hive_render("printf('%.2f', min(o_totalprice))")} AS mn3,
             {hive_render("printf('%.2f', max(o_totalprice))")} AS mx3,
             CAST(count(o_orderdate) AS BIGINT) AS c4,
             CAST(count(DISTINCT o_orderdate) AS BIGINT) AS d4,
             strftime(min(o_orderdate), '%Y-%m-%d') AS mn4,
             strftime(max(o_orderdate), '%Y-%m-%d') AS mx4,
             CAST(count(o_orderpriority) AS BIGINT) AS c5,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS d5,
             min(o_orderpriority) AS mn5, max(o_orderpriority) AS mx5
      FROM orders)
    SELECT col_name, n_rows, n_rows - c AS n_null, d AS n_distinct,
           mn AS min_str, mx AS max_str
    FROM (
      SELECT n_rows, 'o_orderkey' AS col_name, c1 AS c, d1 AS d,
             mn1 AS mn, mx1 AS mx FROM a
      UNION ALL SELECT n_rows, 'o_orderstatus', c2, d2, mn2, mx2 FROM a
      UNION ALL SELECT n_rows, 'o_totalprice', c3, d3, mn3, mx3 FROM a
      UNION ALL SELECT n_rows, 'o_orderdate', c4, d4, mn4, mx4 FROM a
      UNION ALL SELECT n_rows, 'o_orderpriority', c5, d5, mn5, mx5 FROM a)
    ORDER BY col_name
    """,
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN PROFILER — the per-column half of data-quality intake
    (the row ANALYZE feeds the CBO; this is the human-facing report):
    null count, exact distinct count, and type-aware stringified
    min/max for every orders column, in ONE aggregate over ONE scan
    (Spark plans multi-distinct via a single Expand, not per-column
    scans).  The report explodes a 5-struct array — the unpivot is
    driver-free and adds no shuffle.  Stringification is deliberate
    and per-type (ints CAST, doubles printf %.2f, timestamps
    date-formatted) so the uniform report schema never depends on an
    engine's default float/timestamp repr.  At 100 TB exact
    count(DISTINCT) on a high-NDV column is the one expensive term
    (the Expand multiplies rows by #distinct-aggs); the documented
    swap is approx_count_distinct per column — same report shape, HLL
    cost."""
    o = load_table(spark, sf_dir, "orders")
    a = o.agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderkey").alias("c1"),
        F.countDistinct("o_orderkey").alias("d1"),
        F.min("o_orderkey").cast("string").alias("mn1"),
        F.max("o_orderkey").cast("string").alias("mx1"),
        F.count("o_orderstatus").alias("c2"),
        F.countDistinct("o_orderstatus").alias("d2"),
        F.min("o_orderstatus").alias("mn2"),
        F.max("o_orderstatus").alias("mx2"),
        F.count("o_totalprice").alias("c3"),
        F.countDistinct("o_totalprice").alias("d3"),
        # printf needs the null guard the CAST/date_format columns get
        # for free: Spark's format_string renders a NULL argument as
        # the STRING 'null' (DuckDB's printf returns NULL), so an
        # all-null / zero-row column would profile as min='null'
        F.when(
            F.count("o_totalprice") > 0,
            F.format_string("%.2f", F.min("o_totalprice")),
        ).alias("mn3"),
        F.when(
            F.count("o_totalprice") > 0,
            F.format_string("%.2f", F.max("o_totalprice")),
        ).alias("mx3"),
        F.count("o_orderdate").alias("c4"),
        F.countDistinct("o_orderdate").alias("d4"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("mn4"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("mx4"),
        F.count("o_orderpriority").alias("c5"),
        F.countDistinct("o_orderpriority").alias("d5"),
        F.min("o_orderpriority").alias("mn5"),
        F.max("o_orderpriority").alias("mx5"),
    )
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority"]
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("col_name"),
                F.col(f"c{i}").alias("c"),
                F.col(f"d{i}").alias("d"),
                F.col(f"mn{i}").alias("mn"),
                F.col(f"mx{i}").alias("mx"),
            )
            for i, name in enumerate(cols, start=1)
        ]
    )
    return (
        a.select("n_rows", F.explode(rows).alias("r"))
        .select(
            F.col("r.col_name").alias("col_name"),
            "n_rows",
            (F.col("n_rows") - F.col("r.c")).alias("n_null"),
            F.col("r.d").alias("n_distinct"),
            F.col("r.mn").alias("min_str"),
            F.col("r.mx").alias("max_str"),
        )
        .orderBy("col_name")
    )


@register(
    "orders_abc_classification",
    oracle="""
    WITH p AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS BIGINT) AS cents
      -- non-finite net revenue rows carry no measurement (r11)
      FROM lineitem
      WHERE isfinite(l_extendedprice * (1 - l_discount)) GROUP BY 1),
    r AS (
      SELECT l_partkey, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                   ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_cents,
             CAST(sum(cents) OVER () AS BIGINT) AS total_cents
      FROM p),
    c AS (
      SELECT CASE WHEN CAST(cum_cents AS DOUBLE) / total_cents <= 0.80
                    THEN 'A'
                  WHEN CAST(cum_cents AS DOUBLE) / total_cents <= 0.95
                    THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents, total_cents
      FROM r)
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS revenue,
           round(CAST(sum(cents) AS BIGINT)
                 / CAST(max(total_cents) AS DOUBLE), 6) AS revenue_share
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) CLASSIFICATION — the inventory-management classic:
    rank parts by revenue, class A = the parts carrying the first 80%
    of cumulative revenue, B to 95%, C the tail; report how few parts
    carry how much.  The fact collapses to PART grain map-side (one
    partial-agg exchange); the running-share window then runs on the
    |parts| frame — the same exact-surface caveat as the equi-depth
    histogram: a global-order window is a single-partition sort of
    the PART frame, fine at |parts| scale (200k at TPC-H SF1); the
    100 TB swap is approx total-revenue quantile boundaries applied
    scan-side.  Classification thresholds compare exact cumulative
    BIGINT cents against the exact total, so the class boundary
    cannot drift between engines; class rollup emits 3 rows.
    Revenue cents use integer-rounding of identical doubles, which is
    engine-safe (unlike fractional round — see timeseries_ewma)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = li.where(
        # non-finite net revenue rows carry no measurement (r11)
        is_finite(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    ).groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("cents")
    )
    w_cum = W.orderBy(F.desc("cents"), "l_partkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy()
    r = p.select(
        "cents",
        F.sum("cents").over(w_cum).alias("cum_cents"),
        F.sum("cents").over(w_all).alias("total_cents"),
    )
    share = F.col("cum_cents").cast("double") / F.col("total_cents")
    c = r.select(
        F.when(share <= 0.80, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "total_cents",
    )
    return (
        c.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
            F.round(
                F.sum("cents") / F.max("total_cents").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


def _markov_rounds(k: int) -> str:
    """Unrolled power-iteration rounds over the transition CTE ``tp``:
    x{i}(j) = sum_i x{i-1}(i) * P(i, j)."""
    out = []
    prev = "x0"
    for i in range(1, k + 1):
        out.append(
            f"""
    x{i} AS (
      SELECT tp.t_to AS et, sum({prev}.p * tp.p) AS p
      FROM tp JOIN {prev} ON tp.t_from = {prev}.et
      GROUP BY 1)"""
        )
        prev = f"x{i}"
    return ",".join(out)


@register(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    tc AS (
      SELECT event_type AS t_from, nxt AS t_to,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    tp AS (
      SELECT t_from, t_to, n,
             CAST(n AS DOUBLE)
               / sum(n) OVER (PARTITION BY t_from) AS p
      FROM tc),
    ks AS (SELECT CAST(count(DISTINCT t_from) AS BIGINT) AS k FROM tp),
    x0 AS (SELECT DISTINCT t_from AS et, 1.0 / ks.k AS p
           FROM tp CROSS JOIN ks),
    {_markov_rounds(3)}
    SELECT x3.et AS event_type,
           round(x3.p, 6) AS stationary_p,
           CAST(o.n_obs AS BIGINT) AS n_obs,
           round(o.obs_share, 6) AS obs_share
    FROM x3 JOIN (
      SELECT t_from AS et, sum(n) AS n_obs,
             sum(n) / (SELECT CAST(sum(n) AS DOUBLE) FROM tc) AS obs_share
      FROM tc GROUP BY 1) o ON x3.et = o.et
    ORDER BY event_type
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV-CHAIN STATIONARY DISTRIBUTION of the event-type process:
    estimate the transition matrix from per-user consecutive event
    pairs, then run 3 synchronous power-iteration rounds from the
    uniform vector — where does user behavior settle, and how far is
    the empirical visit share from the chain's equilibrium (a
    model-fit diagnostic: if the process were truly first-order
    Markov and mixed fast, the two columns converge).  Shapes: ONE
    user-partitioned lag window extracts transitions from the fact
    stream; everything after is k^2-sized (k = event types, 5 here) —
    the matrix normalization is a window over the k^2 frame, each
    power round a join+agg over it, exactly the PageRank recurrence
    shape (graph_pagerank) on the type graph instead of the doc
    graph.  The oracle unrolls the same rounds as CTEs with identical
    arithmetic; only the final probabilities are rounded."""
    ev = load_table(spark, sf_dir, "events")
    wlag = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(wlag).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tc = seq.groupBy(
        F.col("event_type").alias("t_from"), F.col("nxt").alias("t_to")
    ).agg(F.count("*").alias("n"))
    tp = tc.withColumn(
        "p",
        F.col("n").cast("double")
        / F.sum("n").over(W.partitionBy("t_from")),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    k = tp.select("t_from").distinct().count()  # bounded: #event types
    if k == 0:
        # zero-row event slice: no transitions, no chain — the typed
        # empty report (the oracle's joins over an empty transition
        # frame are empty); without the guard 1.0/k is a constant-
        # folded ANSI divide-by-zero at plan time, rows or no rows
        tp.unpersist()
        return spark.createDataFrame(
            [],
            "event_type string, stationary_p double, n_obs bigint, "
            "obs_share double",
        )
    x = tp.select("t_from").distinct().select(
        F.col("t_from").alias("et"), (F.lit(1.0) / k).alias("xp")
    )
    for _ in range(3):
        x = (
            tp.join(x, tp.t_from == x.et)
            .groupBy(F.col("t_to").alias("et"))
            .agg(F.sum(F.col("xp") * F.col("p")).alias("xp"))
        )
    # r13 (guide §1.2): tot/obs read the PERSISTED tp (which carries
    # tc's n column unchanged) instead of re-deriving tc — the old
    # shape re-ran the fact-stream lag window + transition groupBy
    # twice more per call; the sums are the identical integers.
    tot = tp.agg(F.sum("n").alias("tot"))
    obs = (
        tp.groupBy(F.col("t_from").alias("et"))
        .agg(F.sum("n").alias("n_obs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "et",
            "n_obs",
            (F.col("n_obs") / F.col("tot").cast("double")).alias(
                "obs_share"
            ),
        )
    )
    return (
        x.join(obs, "et")
        .select(
            F.col("et").alias("event_type"),
            F.round("xp", 6).alias("stationary_p"),
            "n_obs",
            F.round("obs_share", 6).alias("obs_share"),
        )
        .orderBy("event_type")
    )


@register(
    "supplier_concentration_hhi",
    oracle="""
    WITH s AS (
      SELECT n.n_name,
             l.l_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                 * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier su ON l.l_suppkey = su.s_suppkey
      -- non-finite net revenue rows carry no measurement (r11)
      AND isfinite(l.l_extendedprice * (1 - l.l_discount))
      JOIN nation n ON su.s_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    t AS (
      SELECT n_name,
             CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(cents) AS BIGINT) AS total,
             CAST(max(cents) AS BIGINT) AS top_cents,
             sum(pow(CAST(cents AS DOUBLE), 2)) AS sq
      FROM s GROUP BY 1)
    SELECT n_name,
           n_suppliers,
           round(total / 100.0, 2) AS revenue,
           round(sq / (CAST(total AS DOUBLE) * total), 6) AS hhi,
           round(CAST(top_cents AS DOUBLE) / total, 6) AS top_share,
           CASE WHEN n_suppliers = 1 THEN 1.0
                ELSE round((sq / (CAST(total AS DOUBLE) * total)
                            - 1.0 / n_suppliers)
                           / (1 - 1.0 / n_suppliers), 6)
           END AS hhi_normalized
    FROM t ORDER BY n_name
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL-HIRSCHMAN market-concentration index per nation —
    the antitrust/supply-risk screen: HHI = sum of squared supplier
    revenue shares (1/n = perfectly split, 1.0 = monopoly), plus the
    top-supplier share and the normalized HHI that removes the 1/n
    floor so nations with different supplier counts compare.  The
    algebraic trick that makes this one-pass: sum(share^2) =
    sum(cents^2)/total^2, so the supplier-grain aggregate carries
    cents and cents^2 and NO second pass over the data computes
    shares — the same sufficient-statistics discipline as
    events_ab_cuped.  Shapes: one fact collapse to (nation, supplier)
    grain (supplier/nation dims broadcast into the scan), then a
    nation rollup of the supplier frame.  Money rides as BIGINT cents
    (cents^2 sums stay under 2^63 for any plausible per-supplier
    revenue); only the final ratios go DOUBLE, identically in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem").where(
        # non-finite net revenue rows carry no measurement (r11)
        is_finite(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    ).select(
        "l_suppkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        )
        .cast("long")
        .alias("cents"),
    )
    su = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), "n_name"
    )
    s = (
        li.join(F.broadcast(su), "l_suppkey")
        .join(F.broadcast(na), "s_nationkey")
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum("cents").alias("cents"))
    )
    t = s.groupBy("n_name").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("cents").alias("total"),
        F.max("cents").alias("top_cents"),
        F.sum(F.pow(F.col("cents").cast("double"), 2)).alias("sq"),
    )
    total_d = F.col("total").cast("double")
    hhi = F.col("sq") / (total_d * F.col("total"))
    floor_term = 1.0 / F.col("n_suppliers")
    return t.select(
        "n_name",
        "n_suppliers",
        F.round(F.col("total") / 100.0, 2).alias("revenue"),
        F.round(hhi, 6).alias("hhi"),
        F.round(F.col("top_cents").cast("double") / F.col("total"), 6).alias(
            "top_share"
        ),
        F.when(F.col("n_suppliers") == 1, F.lit(1.0))
        .otherwise(F.round((hhi - floor_term) / (1 - floor_term), 6))
        .alias("hhi_normalized"),
    ).orderBy("n_name")


@register(
    "dq_business_rules",
    oracle="""
    WITH j AS (
      SELECT l.l_shipdate, l.l_discount, l.l_quantity, l.l_tax,
             l.l_extendedprice, o.o_orderdate
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    r AS (
      SELECT 'ship_within_120d' AS rule,
             CAST(count(*) AS BIGINT) AS n_checked,
             CAST(count(*) FILTER (NOT (l_shipdate >= o_orderdate AND
                  l_shipdate <= o_orderdate + INTERVAL 120 DAY))
                  AS BIGINT) AS n_violations
      FROM j
      UNION ALL
      SELECT 'discount_in_0_50pct', CAST(count(*) AS BIGINT),
             CAST(count(*) FILTER (NOT (l_discount >= 0 AND
                  l_discount <= 0.5)) AS BIGINT)
      FROM j
      UNION ALL
      SELECT 'quantity_1_to_50', CAST(count(*) AS BIGINT),
             CAST(count(*) FILTER (NOT (l_quantity >= 1 AND
                  l_quantity <= 50)) AS BIGINT)
      FROM j
      UNION ALL
      SELECT 'tax_nonnegative', CAST(count(*) AS BIGINT),
             CAST(count(*) FILTER (l_tax < 0) AS BIGINT)
      FROM j
      UNION ALL
      SELECT 'price_positive', CAST(count(*) AS BIGINT),
             CAST(count(*) FILTER (l_extendedprice <= 0) AS BIGINT)
      FROM j)
    SELECT rule, n_checked, n_violations,
           round(CAST(n_violations AS DOUBLE) / n_checked, 6)
             AS violation_rate
    FROM r ORDER BY rule
    """,
)
def dq_business_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUSINESS-RULE validation report — the cross-field half of data
    quality next to dq_checks' structural PK/FK/NULL rules: each rule
    is a predicate over one or two joined tables (ship date within
    120 days of order date, discount in range, quantity band, tax
    sign, price positivity), reported as checked/violations/rate.
    All five rules ride ONE pass over the joined frame as conditional
    aggregates — the rule report is an unpivot of a single aggregate
    row, not five scans (the q88 conditional-aggregation discipline
    applied to DQ).  NOT-form predicates count NULL fields as
    violations (a NULL ship date fails 'within 120 days'), which is
    the audit-correct reading.  One orderkey join (co-partitioned
    fact-to-fact); everything else is scan-side."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    j = li.join(o, "l_orderkey")
    rules = [
        (
            "ship_within_120d",
            ~(
                (F.col("l_shipdate") >= F.col("o_orderdate"))
                & (
                    F.col("l_shipdate")
                    <= F.col("o_orderdate") + F.expr("INTERVAL 120 DAYS")
                )
            ),
        ),
        (
            "discount_in_0_50pct",
            ~((F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.5)),
        ),
        (
            "quantity_1_to_50",
            ~((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50)),
        ),
        ("tax_nonnegative", F.col("l_tax") < 0),
        ("price_positive", F.col("l_extendedprice") <= 0),
    ]
    agg = j.agg(
        F.count("*").alias("n_checked"),
        *[
            F.count(F.when(pred, 1)).alias(f"v{i}")
            for i, (_, pred) in enumerate(rules)
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"), F.col(f"v{i}").alias("v")
            )
            for i, (name, _) in enumerate(rules)
        ]
    )
    return (
        agg.select("n_checked", F.explode(rows).alias("r"))
        .select(
            F.col("r.rule").alias("rule"),
            "n_checked",
            F.col("r.v").alias("n_violations"),
            # try_divide: a zero-row audit slice (empty date partition)
            # has n_checked = 0 and a rate of NULL — DuckDB's 0/0
            # answer — instead of an ANSI divide-by-zero abort
            F.round(
                F.try_divide(F.col("r.v").cast("double"), F.col("n_checked")),
                6,
            ).alias("violation_rate"),
        )
        .orderBy("rule")
    )


@register(
    "orders_ship_latency",
    oracle="""
    WITH j AS (
      SELECT o.o_orderpriority,
             datediff('day', o.o_orderdate, l.l_shipdate) AS lat
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate IS NOT NULL)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(min(lat) AS BIGINT) AS min_days,
           round(avg(lat), 4) AS avg_days,
           round(quantile_cont(CAST(lat AS DOUBLE), 0.50), 4) AS p50_days,
           round(quantile_cont(CAST(lat AS DOUBLE), 0.90), 4) AS p90_days,
           round(quantile_cont(CAST(lat AS DOUBLE), 0.99), 4) AS p99_days,
           CAST(max(lat) AS BIGINT) AS max_days
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def orders_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-TO-SHIP CYCLE TIME per priority class — the fulfillment
    SLA table: exact P50/P90/P99/max days from order placement to
    line shipment, the distribution every ops review reads (does
    1-URGENT actually ship faster, and how bad is the P99 tail).
    Latency is an exact integer day difference (datediff semantics
    match across engines on DATE-truncated timestamps), aggregated
    per priority with exact linear-interpolation percentiles — the
    same definition both engines (agg_percentile's contract);
    priority cardinality bounds the groups so exact percentiles are
    cheap, and percentile_approx swaps in if the group key were
    high-cardinality.  One orderkey fact-fact join, avg exact until
    the final divide."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    ).filter(F.col("l_shipdate").isNotNull())
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderdate",
        "o_orderpriority",
    )
    j = li.join(o, "l_orderkey").select(
        "o_orderpriority",
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).alias("lat"),
    )
    latd = F.col("lat").cast("double")
    # one row per order priority; percentile buffers hold distinct day counts
    return bounded_sort(
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.min("lat").cast("long").alias("min_days"),
            F.round(F.avg("lat"), 4).alias("avg_days"),
            F.round(F.percentile(latd, F.lit(0.50)), 4).alias("p50_days"),
            F.round(F.percentile(latd, F.lit(0.90)), 4).alias("p90_days"),
            F.round(F.percentile(latd, F.lit(0.99)), 4).alias("p99_days"),
            F.max("lat").cast("long").alias("max_days"),
        ),
        "o_orderpriority",
    )


@register(
    "customer_segment_migration",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             CASE WHEN month(o_orderdate) <= 6 THEN 1 ELSE 2 END AS half,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders WHERE year(o_orderdate) = 1995
        -- non-finite rows carry no measurable spend (r11)
        AND isfinite(o_totalprice)
      GROUP BY 1, 2),
    seg AS (
      SELECT o_custkey, half,
             CASE WHEN cents >= 50000000 THEN 'high'
                  WHEN cents >= 20000000 THEN 'mid'
                  ELSE 'low' END AS segment
      FROM m),
    mig AS (
      SELECT coalesce(a.o_custkey, b.o_custkey) AS cust,
             coalesce(a.segment, 'none') AS seg_from,
             coalesce(b.segment, 'none') AS seg_to
      FROM (SELECT * FROM seg WHERE half = 1) a
      FULL JOIN (SELECT * FROM seg WHERE half = 2) b
        ON a.o_custkey = b.o_custkey)
    SELECT seg_from, seg_to,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM mig GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT MIGRATION MATRIX — the growth-accounting table behind
    every revenue bridge: classify customers into value segments in
    two consecutive periods (1995 H1 vs H2, exact-cents thresholds)
    and count every (from, to) transition, including churn
    (seg->none) and acquisition (none->seg) via the FULL OUTER join
    of the two period frames.  Which segment leaks, which upgrades,
    and how much of 'growth' is really migration — questions the
    per-period totals can't answer.  Shapes: ONE fact pass produces
    both periods' spend (the half is a scan-side expression, not two
    scans); segmentation thresholds compare exact BIGINT cents so the
    class boundary cannot drift; the migration join runs at customer
    grain.  The matrix is at most (k+1)^2 rows."""
    o = load_table(spark, sf_dir, "orders").filter(
        # non-finite rows carry no measurable spend (r11)
        (F.year("o_orderdate") == 1995) & is_finite("o_totalprice")
    )
    m = o.groupBy(
        "o_custkey",
        F.when(F.month("o_orderdate") <= 6, 1).otherwise(2).alias("half"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    seg = m.select(
        "o_custkey",
        "half",
        F.when(F.col("cents") >= 50_000_000, "high")
        .when(F.col("cents") >= 20_000_000, "mid")
        .otherwise("low")
        .alias("segment"),
    )
    a = seg.filter(F.col("half") == 1).select(
        F.col("o_custkey").alias("ca"), F.col("segment").alias("sa")
    )
    b = seg.filter(F.col("half") == 2).select(
        F.col("o_custkey").alias("cb"), F.col("segment").alias("sb")
    )
    mig = a.join(b, a.ca == b.cb, "full").select(
        F.coalesce(F.col("sa"), F.lit("none")).alias("seg_from"),
        F.coalesce(F.col("sb"), F.lit("none")).alias("seg_to"),
    )
    # at most 4 × 4 segment pairs
    return bounded_sort(
        mig.groupBy("seg_from", "seg_to")
        .agg(F.count("*").alias("n_customers")),
        "seg_from", "seg_to",
    )


@register(
    "customer_repurchase_cycle",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             datediff('day',
                      lag(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate,
                                                      o_orderkey),
                      o_orderdate) AS gap_days
      FROM orders),
    j AS (
      SELECT c.c_mktsegment, g.gap_days
      FROM g JOIN customer c ON g.o_custkey = c.c_custkey
      WHERE g.gap_days IS NOT NULL)
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_gaps,
           round(avg(gap_days), 4) AS avg_days,
           round(quantile_cont(CAST(gap_days AS DOUBLE), 0.50), 4)
             AS p50_days,
           round(quantile_cont(CAST(gap_days AS DOUBLE), 0.90), 4)
             AS p90_days,
           CAST(max(gap_days) AS BIGINT) AS max_days
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def customer_repurchase_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPURCHASE-CYCLE distribution per market segment — the retail
    replenishment clock: days between a customer's consecutive
    orders, pooled per segment with mean/P50/P90/max.  This number
    sets reactivation-campaign timing (a customer past their
    segment's P90 gap is the churn-risk trigger) and distinguishes
    habitual from sporadic segments in a way order totals cannot.
    Shapes: one customer-partitioned lag window over orders ((date,
    orderkey) tie-break for same-day orders), gaps are exact integer
    day differences, the customer dim broadcasts its segment in, and
    the percentile aggregate pools per segment — segment-bounded
    group count with row-cardinality values, the agg_percentile
    contract (percentile_approx swaps in past memory bounds, as
    documented on orders_ship_latency)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"),
            F.to_date(F.lag("o_orderdate").over(w)),
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = g.join(F.broadcast(c), "o_custkey")
    gd = F.col("gap_days").cast("double")
    # one row per market segment; percentile buffers hold distinct day gaps
    return bounded_sort(
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_gaps"),
            F.round(F.avg("gap_days"), 4).alias("avg_days"),
            F.round(F.percentile(gd, F.lit(0.50)), 4).alias("p50_days"),
            F.round(F.percentile(gd, F.lit(0.90)), 4).alias("p90_days"),
            F.max("gap_days").cast("long").alias("max_days"),
        ),
        "c_mktsegment",
    )


@register(
    "orders_price_index",
    oracle="""
    WITH pm AS (
      SELECT l_partkey AS part,
             CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        -- listwise deletion on the (price, quantity) pair (r11)
        AND isfinite(l_extendedprice) AND isfinite(l_quantity)
      GROUP BY 1, 2),
    base AS (
      SELECT part, cents AS c0, qty AS q0,
             CAST(cents AS DOUBLE) / qty AS p0
      FROM pm WHERE month = DATE '1996-01-01'),
    cur AS (
      SELECT pm.month, pm.part,
             CAST(pm.cents AS DOUBLE) / pm.qty AS pt,
             pm.qty AS qt, b.p0, b.q0
      FROM pm JOIN base b ON pm.part = b.part
      WHERE pm.month > DATE '1996-01-01'),
    idx AS (
      SELECT month,
             CAST(count(*) AS BIGINT) AS n_parts,
             sum(pt * q0) / sum(p0 * q0) AS laspeyres,
             sum(pt * qt) / sum(p0 * qt) AS paasche
      FROM cur GROUP BY 1)
    SELECT month, n_parts,
           CAST(floor(laspeyres * 1000 + 0.5) AS BIGINT)
             AS laspeyres_milli,
           CAST(floor(paasche * 1000 + 0.5) AS BIGINT) AS paasche_milli,
           CAST(floor(sqrt(laspeyres * paasche) * 1000 + 0.5) AS BIGINT)
             AS fisher_milli
    FROM idx ORDER BY month
    """,
)
def orders_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE INDEX SERIES — Laspeyres (base-period basket), Paasche
    (current basket), and their Fisher geometric mean, monthly over
    1996 with January as base: the standard answer to "are our
    per-unit prices inflating, holding MIX constant?" that a raw
    revenue/quantity ratio cannot give (mix shift masquerades as
    price change — exactly what Laspeyres' fixed basket removes).
    Unit prices are exact-cents/exact-quantity ratios per
    (part, month); only parts present in BOTH base and current month
    enter each month's basket (the common-basket rule); the weighted
    sums collapse part-month grain to 11 index rows. One fact pass
    to the part-month frame, one join against the base-month slice
    (broadcastable at any SF — it is one month of parts), milli
    folds on O(1) index values."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        # listwise deletion on the (price, quantity) pair (r11)
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & is_finite("l_extendedprice")
        & is_finite("l_quantity")
    )
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.trunc("l_shipdate", "month").alias("month"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cents"
        ),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )
    pm.persist()
    base = pm.filter(F.col("month") == "1996-01-01").select(
        "part",
        (F.col("cents").cast("double") / F.col("qty")).alias("p0"),
        F.col("qty").alias("q0"),
    )
    cur = (
        pm.filter(F.col("month") > "1996-01-01")
        .join(F.broadcast(base), "part")
        .select(
            "month",
            (F.col("cents").cast("double") / F.col("qty")).alias("pt"),
            F.col("qty").alias("qt"),
            "p0",
            "q0",
        )
    )
    idx = cur.groupBy("month").agg(
        F.count("*").alias("n_parts"),
        (
            F.sum(F.col("pt") * F.col("q0"))
            / F.sum(F.col("p0") * F.col("q0"))
        ).alias("laspeyres"),
        (
            F.sum(F.col("pt") * F.col("qt"))
            / F.sum(F.col("p0") * F.col("qt"))
        ).alias("paasche"),
    )
    return idx.select(
        "month",
        "n_parts",
        half_up(F.col("laspeyres") * 1000).alias("laspeyres_milli"),
        half_up(F.col("paasche") * 1000).alias("paasche_milli"),
        half_up(F.sqrt(F.col("laspeyres") * F.col("paasche")) * 1000)
        .alias("fisher_milli"),
    ).orderBy("month")


@register(
    "events_did_analysis",
    oracle="""
    WITH cell AS (
      SELECT (strpos('0123456789abcdef',
                substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1)
               % 2 AS arm,
             CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END AS post,
             user_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events),
    s AS (
      SELECT arm, post,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(sum(conv) AS BIGINT) AS n_purchases,
             CAST(sum(conv) AS DOUBLE) / count(DISTINCT user_id) AS rate
      FROM cell GROUP BY 1, 2),
    w AS (
      SELECT max(CASE WHEN arm = 1 AND post = 1 THEN rate END) AS t_post,
             max(CASE WHEN arm = 1 AND post = 0 THEN rate END) AS t_pre,
             max(CASE WHEN arm = 0 AND post = 1 THEN rate END) AS c_post,
             max(CASE WHEN arm = 0 AND post = 0 THEN rate END) AS c_pre,
             CAST(sum(n_users) AS BIGINT) AS total_user_periods,
             CAST(sum(n_purchases) AS BIGINT) AS total_purchases
      FROM s)
    SELECT total_user_periods, total_purchases,
           CAST(floor(t_pre * 1000000 + 0.5) AS BIGINT) AS t_pre_micro,
           CAST(floor(t_post * 1000000 + 0.5) AS BIGINT) AS t_post_micro,
           CAST(floor(c_pre * 1000000 + 0.5) AS BIGINT) AS c_pre_micro,
           CAST(floor(c_post * 1000000 + 0.5) AS BIGINT) AS c_post_micro,
           CAST(floor(((t_post - t_pre) - (c_post - c_pre)) * 1000000
                      + 0.5) AS BIGINT) AS did_micro
    FROM w
    """,
)
def events_did_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the causal estimator for when
    randomization is imperfect or the treatment switched ON at a
    known date: (treated post - treated pre) - (control post -
    control pre) cancels both the group-level baseline difference and
    the common time trend, which neither the raw uplift entry (pure
    post comparison) nor CUPED (variance reduction under valid
    randomization) addresses. Cells: the SAME salted-md5 arm hash as
    events_ab_uplift (one experiment, three estimators — the
    dashboard a growth team actually runs), period split at Jan 16;
    the metric is purchases per distinct user per cell, exact counts
    until one ratio. One scan to four cells; the estimator is
    constant work on a 4-row frame."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
                1,
                1,
            ),
        )
        - 1
    ) % 2
    cell = ev.select(
        arm.alias("arm"),
        F.when(F.col("ts") >= "2024-01-16 00:00:00", 1)
        .otherwise(0)
        .alias("post"),
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    s = cell.groupBy("arm", "post").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.sum("conv").alias("n_purchases"),
        # try_divide: a cell with zero distinct users (all-NULL
        # user_id slice) has an UNDEFINED rate — NULL, matching
        # DuckDB's x/0, not an ANSI error
        F.try_divide(
            F.sum("conv").cast("double"), F.countDistinct("user_id")
        ).alias("rate"),
    )
    pick = lambda a, p: F.max(  # noqa: E731
        F.when((F.col("arm") == a) & (F.col("post") == p), F.col("rate"))
    )
    w = s.agg(
        pick(1, 1).alias("t_post"),
        pick(1, 0).alias("t_pre"),
        pick(0, 1).alias("c_post"),
        pick(0, 0).alias("c_pre"),
        F.sum("n_users").alias("total_user_periods"),
        F.sum("n_purchases").alias("total_purchases"),
    )
    return w.select(
        "total_user_periods",
        "total_purchases",
        half_up(F.col("t_pre") * 1000000).alias("t_pre_micro"),
        half_up(F.col("t_post") * 1000000).alias("t_post_micro"),
        half_up(F.col("c_pre") * 1000000).alias("c_pre_micro"),
        half_up(F.col("c_post") * 1000000).alias("c_post_micro"),
        half_up(
            ((F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")))
            * 1000000
        ).alias("did_micro"),
    )


@register(
    "orders_abc_xyz_matrix",
    oracle="""
    WITH p AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS BIGINT) AS cents
      -- non-finite net revenue rows carry no measurement (r11)
      FROM lineitem
      WHERE isfinite(l_extendedprice * (1 - l_discount)) GROUP BY 1),
    r AS (
      SELECT l_partkey, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                   ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_cents,
             CAST(sum(cents) OVER () AS BIGINT) AS total_cents
      FROM p),
    abc AS (
      SELECT l_partkey, cents, total_cents,
             CASE WHEN CAST(cum_cents AS DOUBLE) / total_cents <= 0.80
                    THEN 'A'
                  WHEN CAST(cum_cents AS DOUBLE) / total_cents <= 0.95
                    THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM r),
    m AS (
      SELECT l_partkey, date_trunc('month', l_shipdate) AS mo,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      -- non-finite quantities carry no demand signal (r11)
      FROM lineitem WHERE isfinite(l_quantity) GROUP BY 1, 2),
    v AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS nm,
             CAST(sum(q) AS BIGINT) AS sq,
             CAST(sum(CAST(q AS HUGEINT) * q) AS DOUBLE) AS sqq
      FROM m GROUP BY 1),
    xyz AS (
      SELECT l_partkey,
             CASE WHEN nm < 2 THEN 'Z'
                  WHEN sqrt((sqq - CAST(sq AS DOUBLE) * sq / nm)
                            / (nm - 1))
                       / (CAST(sq AS DOUBLE) / nm) < 0.5 THEN 'X'
                  WHEN sqrt((sqq - CAST(sq AS DOUBLE) * sq / nm)
                            / (nm - 1))
                       / (CAST(sq AS DOUBLE) / nm) < 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM v)
    SELECT abc.abc_class, xyz.xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(floor(CAST(sum(abc.cents) AS DOUBLE)
                      / max(abc.total_cents) * 1000000 + 0.5)
                AS BIGINT) AS revenue_share_micro
    FROM abc JOIN xyz ON abc.l_partkey = xyz.l_partkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def orders_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ SEGMENTATION MATRIX — the standard inventory policy
    grid: revenue importance (the ABC entry's cumulative-share
    classes) CROSSED with demand predictability (XYZ from the
    coefficient of variation of monthly quantity: X < 0.5 steady,
    Y < 1 variable, Z erratic or too short to judge) — AX items get
    tight service levels and automation, CZ items get made-to-order,
    and the matrix IS that decision table. Both classifications are
    exact-integer sufficient statistics per part (cents for revenue,
    quantity moments as DECIMAL/HUGEINT for CV); single-month parts
    fall to Z by convention in both engines (an undefined CV is
    operationally 'unpredictable'). Shapes: the two per-part frames
    collapse the fact independently and join on the part key —
    value-cardinality work after one fact pass each; the 9-cell
    rollup is constant."""
    li = load_table(spark, sf_dir, "lineitem")
    p = li.where(
        # non-finite net revenue rows carry no measurement (r11)
        is_finite(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    ).groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("cents")
    )
    w = W.orderBy(F.desc("cents"), "l_partkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wa = W.partitionBy()
    r = p.select(
        "l_partkey",
        "cents",
        F.sum("cents").over(w).alias("cum_cents"),
        F.sum("cents").over(wa).alias("total_cents"),
    )
    share = F.col("cum_cents").cast("double") / F.col("total_cents")
    abc = r.select(
        "l_partkey",
        "cents",
        "total_cents",
        F.when(share <= 0.80, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    m = li.where(
        # non-finite quantities carry no demand signal (r11)
        is_finite("l_quantity")
    ).groupBy(
        "l_partkey", F.trunc("l_shipdate", "month").alias("mo")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    v = m.groupBy("l_partkey").agg(
        F.count("*").alias("nm"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q").cast("decimal(19,0)") * F.col("q"))
        .cast("double")
        .alias("sqq"),
    )
    cv = F.sqrt(
        (
            F.col("sqq")
            - F.col("sq").cast("double") * F.col("sq") / F.col("nm")
        )
        / (F.col("nm") - 1)
    ) / (F.col("sq").cast("double") / F.col("nm"))
    xyz = v.select(
        "l_partkey",
        F.when(F.col("nm") < 2, "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count("*").alias("n_parts"),
            half_up(
                F.sum("cents").cast("double") / F.max("total_cents") * 1000000
            ).alias("revenue_share_micro"),
        )
        .orderBy("abc_class", "xyz_class")
    )
