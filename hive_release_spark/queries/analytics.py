"""Event-analytics queries over the ``events`` table: ordered funnel
conversion and cohort retention — the product-analytics shapes a
warehouse serves next to its OLAP workload (Hive users run these today
as multi-self-join SQL; here each is a SINGLE event-scan formulation).

Scale notes: both queries reduce the event stream to per-user state in
one partial-agged shuffle on user_id (high-cardinality, uniform), then
operate on bounded per-user arrays with JVM higher-order functions —
no self-joins, no window over the raw stream, no second scan. Per-user
array size is bounded by one user's activity; for pathological power
users the MatchPath PTF (``ptf_matchpath``) is the streaming-state
alternative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions.temporal import ts_valid
from hive_release_spark.operators.pairs import baskets, sorted_pairs
from hive_release_spark.operators.topk import bounded_sort
from hive_release_spark.queries.registry import register


@register(
    "funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
    u AS (SELECT DISTINCT user_id FROM events
          WHERE event_type IN ('view', 'click', 'purchase'))
    SELECT (SELECT count(*) FROM u) AS users_total,
           (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click_after_view,
           (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase over the events table —
    see :func:`funnel` for semantics and the scale shape."""
    return funnel(load_table(spark, sf_dir, "events"))


def funnel(
    events: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """Ordered N-step funnel: a user converts step i only with an event
    STRICTLY AFTER their step i-1 first-conversion event.

    The SQL idiom is one self-join per step (the oracle); here the
    event stream collapses to one sorted per-user array and each step
    is a higher-order ``filter`` + ``get`` over it — ONE scan, ONE
    shuffle (user_id groupBy, partial agg), then an (N+1)-counter
    global reduce regardless of funnel depth. Step timestamps are
    materialized in successive selects so each lambda captures an
    attribute, not a re-evaluated expression (the repo-wide
    expression-reuse trap). ``F.get`` (0-based) returns NULL on an
    empty filter result under ANSI too — ``element_at`` would throw on
    the driver's default session.

    Output: ``users_total``, then one count per step named ``n_<step>``
    for the first and ``n_<step>_after_<prev>`` for the rest (the
    3-step default keeps its historical column names)."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    ev = events.select("user_id", "ts", "event_type").filter(
        F.col("event_type").isin(*steps)
    )
    cur = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("seq")
    )
    # closure factories, not default-arg lambdas: PySpark derives the
    # higher-order-function arity from the Python signature, so a
    # `lambda s, st=step:` form would read as a 3-arg lambda
    def _first(st):
        return lambda s: s["event_type"] == st

    def _after(st, prev):
        return lambda s: (s["event_type"] == st) & (s["ts"] > prev)

    t_cols: list[str] = []
    for i, step in enumerate(steps):
        t_col = f"t{i + 1}"
        cond = _first(step) if i == 0 else _after(step, F.col(t_cols[-1]))
        cur = cur.select(
            "user_id",
            "seq",
            *t_cols,
            F.get(F.filter("seq", cond), 0)["ts"].alias(t_col),
        )
        t_cols.append(t_col)
    names = [f"n_{steps[0]}"] + [
        f"n_{s}_after_{p}" for p, s in zip(steps, steps[1:])
    ]
    return cur.agg(
        F.count("*").alias("users_total"),
        *[F.count(t).alias(n) for t, n in zip(t_cols, names)],
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH wks AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
                 FROM events),
    per_user AS (SELECT user_id, min(wk) AS cohort FROM wks GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, wk FROM wks)
    SELECT p.cohort,
           CAST(date_diff('day', p.cohort, a.wk) / 7 AS INTEGER) AS week_n,
           count(*) AS active_users
    FROM act a JOIN per_user p ON a.user_id = p.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by the week of their
    first event, counted in each subsequent week they were active.

    ONE scan + ONE user_id shuffle: per-user state is (min week,
    collect_set of active weeks) — both partial-agg friendly — then the
    set explodes (bounded: #distinct weeks per user) into the tiny
    (cohort, week_n) reduce. The SQL idiom (the oracle) scans events
    twice and joins on user_id; at 100 TB that is a second full read
    plus a fact-fact shuffle this plan never does. week_n arithmetic is
    exact: both operands are Monday-truncated dates, so the day
    difference is always a multiple of 7 (Spark and DuckDB both
    truncate weeks to Monday)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("wk").alias("cohort"), F.collect_set("wk").alias("wks")
    )
    # cohort week × week offset over the events' time span
    return bounded_sort(
        per_user.select("cohort", F.explode("wks").alias("wk"))
        .groupBy(
            "cohort",
            (F.datediff("wk", "cohort") / 7).cast("int").alias("week_n"),
        )
        .agg(F.count("*").alias("active_users")),
        "cohort", "week_n",
    )


@register(
    "events_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             date_diff('second',
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                 ts) AS gap_s
      FROM events)
    SELECT user_id,
           count(gap_s) AS n_gaps,
           CAST(min(gap_s) AS BIGINT) AS min_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s,
           CAST(sum(gap_s) AS BIGINT) AS total_gap_s
    FROM gaps GROUP BY user_id ORDER BY user_id
    """,
)
def events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics — the liveness/engagement
    profile behind session-gap tuning (the session window's gap
    parameter should sit between the intra-session and inter-session
    gap modes this reports). One lag window per user (unique
    (ts, event_id) ordering), then a per-user aggregate; integer-second
    gaps are exact in both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
            F.sum("gap_s").cast("long").alias("total_gap_s"),
        )
        .orderBy("user_id")
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), TIMESTAMP '1998-08-01') AS recency_d,
             count(*) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey, recency_d, frequency, monetary,
             ntile(4) OVER (ORDER BY recency_d, o_custkey)          AS r_inv,
             ntile(4) OVER (ORDER BY frequency DESC, o_custkey)     AS f_inv,
             ntile(4) OVER (ORDER BY monetary DESC, o_custkey)      AS m_inv
      FROM base)
    SELECT CAST(5 - r_inv AS INTEGER) AS r_score,
           CAST(5 - f_inv AS INTEGER) AS f_score,
           CAST(5 - m_inv AS INTEGER) AS m_score,
           count(*) AS n_customers,
           round(sum(monetary), 2) AS segment_value
    FROM scored
    GROUP BY 1, 2, 3
    ORDER BY r_score DESC, f_score DESC, m_score DESC
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles) — the
    canonical customer-analytics workload: per-customer aggregates, three
    ntile windows over the CUSTOMER frame (never the fact; the windows
    run on one row per customer), quartile codes 4=best, and a segment
    rollup. Determinism: every ntile ORDER BY carries the unique
    customer key as tie-break, and the reference date is fixed — both
    engines bucket identically by construction."""
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.datediff(F.lit("1998-08-01"), F.max("o_orderdate")).alias("recency_d"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    scored = base.select(
        "o_custkey",
        "monetary",
        F.ntile(4).over(W.orderBy("recency_d", "o_custkey")).alias("r_inv"),
        F.ntile(4).over(W.orderBy(F.col("frequency").desc(), "o_custkey")).alias("f_inv"),
        F.ntile(4).over(W.orderBy(F.col("monetary").desc(), "o_custkey")).alias("m_inv"),
    )
    return (
        scored.select(
            (F.lit(5) - F.col("r_inv")).cast("int").alias("r_score"),
            (F.lit(5) - F.col("f_inv")).cast("int").alias("f_score"),
            (F.lit(5) - F.col("m_inv")).cast("int").alias("m_score"),
            "monetary",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("monetary"), 2).alias("segment_value"))
        .orderBy(F.col("r_score").desc(), F.col("f_score").desc(), F.col("m_score").desc())
    )


@register(
    "basket_part_affinity",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey % 50 AS grp
                   FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    freq AS (SELECT grp, count(*) AS c FROM items GROUP BY grp),
    pairs AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS c_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.grp < b.grp
      GROUP BY 1, 2 HAVING count(*) >= 20)
    SELECT p.grp_a, p.grp_b, p.c_ab,
           round(p.c_ab * 1.0 * n.n_orders / (fa.c * 1.0 * fb.c), 6) AS lift
    FROM pairs p
    JOIN freq fa ON fa.grp = p.grp_a
    JOIN freq fb ON fb.grp = p.grp_b
    CROSS JOIN n
    ORDER BY grp_a, grp_b
    """,
)
def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part-group pairs co-occurring in the same
    order, with lift = P(ab)·N / (P(a)·P(b)) — the association-rule
    workload. Scale shape mirrors the dedup postings design: pair
    emission happens INSIDE each order's (tiny — ≤7 lines) item set via
    a collected-list HOF, never an items⋈items self-join of the fact
    (the SQL self-join lives only in the oracle); the lift join runs on
    the group-frequency frame (50 keys, broadcast)."""
    li = load_table(spark, sf_dir, "lineitem")
    # The BASKET frame (one row per order) persists, and the other two
    # consumers derive from it: the order count is its row count (every
    # order has >= 1 item group) riding as DATA via the threshold-attach
    # pattern (1-row broadcast crossJoin, the oracle's own `n` CTE
    # shape), and the group frequency re-explodes the per-order
    # distinct group lists — the oracle's (order, grp) item multiset.
    bs = baskets(
        li.withColumn("grp", F.col("l_partkey") % 50), "l_orderkey", "grp", "gs"
    )
    bs.persist()
    nn = bs.agg(F.count("*").alias("n_orders"))
    freq = (
        bs.select(F.explode("gs").alias("grp"))
        .groupBy("grp")
        .agg(F.count("*").alias("c"))
    )
    pairs = (
        sorted_pairs(
            bs, "gs", lambda x, y: F.struct(x.alias("grp_a"), y.alias("grp_b"))
        )
        .groupBy(F.col("p.grp_a").alias("grp_a"), F.col("p.grp_b").alias("grp_b"))
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= 20)
    )
    fa = freq.select(F.col("grp").alias("grp_a"), F.col("c").alias("ca"))
    fb = freq.select(F.col("grp").alias("grp_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(fa), "grp_a")
        .join(F.broadcast(fb), "grp_b")
        .crossJoin(F.broadcast(nn))
        .select(
            "grp_a",
            "grp_b",
            "c_ab",
            F.round(
                F.col("c_ab") * F.col("n_orders").cast("double")
                / (F.col("ca") * 1.0 * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy("grp_a", "grp_b")
    )


@register(
    "events_daily_anomaly",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
      FROM events GROUP BY 1),
    stats AS (SELECT avg(n * 1.0) AS mu, stddev_samp(n * 1.0) AS sd FROM daily)
    SELECT day, n, round((n - mu) / sd, 4) AS z,
           abs(n - mu) > 2 * sd AS is_anomaly
    FROM daily CROSS JOIN stats
    ORDER BY day
    """,
)
def events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly flags: each day's event count z-scored
    against the corpus-wide mean/stddev — the monitoring query every
    ingestion pipeline runs. The stats frame is ONE row attached by
    broadcast (the threshold-attach pattern); the daily frame is
    date-cardinality, never the fact."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    stats = daily.agg(
        F.avg(F.col("n") * 1.0).alias("mu"), F.stddev_samp(F.col("n") * 1.0).alias("sd")
    )
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            "day",
            "n",
            F.round((F.col("n") - F.col("mu")) / F.col("sd"), 4).alias("z"),
            (F.abs(F.col("n") - F.col("mu")) > 2 * F.col("sd")).alias("is_anomaly"),
        )
        .orderBy("day")
    )


@register(
    "orders_status_transitions",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderstatus,
             lag(o_orderstatus) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS prev_status
      FROM orders)
    SELECT prev_status, o_orderstatus AS next_status, count(*) AS n
    FROM seq WHERE prev_status IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def orders_status_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status-transition (Markov) counts over each customer's order
    sequence — the lifecycle-analysis shape (churn modeling, process
    mining). One lag window per customer with a unique (date, orderkey)
    ordering, then a tiny-keyspace transition aggregate."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_orderstatus", F.lag("o_orderstatus").over(w).alias("prev_status")
    )
    # at most 3 × 3 status pairs
    return bounded_sort(
        seq.filter(F.col("prev_status").isNotNull())
        .groupBy("prev_status", F.col("o_orderstatus").alias("next_status"))
        .agg(F.count("*").alias("n")),
        "prev_status", "next_status",
    )


@register(
    "supplier_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem GROUP BY l_suppkey),
    ranked AS (
      SELECT l_suppkey, revenue,
             CAST(row_number() OVER (ORDER BY revenue DESC, l_suppkey) AS INTEGER) AS rk,
             sum(revenue) OVER (ORDER BY revenue DESC, l_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
             sum(revenue) OVER () AS total_rev
      FROM rev)
    SELECT rk, l_suppkey, revenue,
           round(cum_rev / total_rev, 6) AS cum_share
    FROM ranked WHERE cum_rev / total_rev <= 0.5 OR rk <= 3
    ORDER BY rk
    """,
)
def supplier_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / concentration analysis: the smallest supplier set covering
    half of revenue (plus a top-3 floor) via a cumulative-share window.
    Same scale posture as vocab_coverage_cutoff: the cumsum runs on the
    per-supplier aggregate (supplier-cardinality), never the fact; ties
    broken by the unique supplier key."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    wo = W.orderBy(F.col("revenue").desc(), "l_suppkey")
    ranked = rev.select(
        "l_suppkey",
        "revenue",
        F.row_number().over(wo).alias("rk"),
        F.sum("revenue").over(wo.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum_rev"),
        F.sum("revenue").over(W.partitionBy()).alias("total_rev"),
    )
    return (
        ranked.filter(
            (F.col("cum_rev") / F.col("total_rev") <= 0.5) | (F.col("rk") <= 3)
        )
        .select(
            "rk",
            "l_suppkey",
            "revenue",
            F.round(F.col("cum_rev") / F.col("total_rev"), 6).alias("cum_share"),
        )
        .orderBy("rk")
    )


@register(
    "orders_backlog_curve",
    oracle="""
    WITH o AS (
      -- ts_valid ceiling (r12 temporal axis): the +30d close event of
      -- a far-future corrupt order overflows the calendar; the order
      -- has no position on the business-time axis — dropped scan-side
      -- on BOTH engines (functions/temporal.py)
      SELECT o_orderdate FROM orders
      WHERE o_orderdate < TIMESTAMP '2200-01-01 00:00:00'),
    deltas AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day, count(*) AS d
      FROM o GROUP BY 1
      UNION ALL
      SELECT CAST(date_trunc('day', o_orderdate + INTERVAL 30 DAY) AS TIMESTAMP),
             -count(*)
      FROM o GROUP BY 1),
    merged AS (SELECT day, CAST(sum(d) AS BIGINT) AS delta FROM deltas GROUP BY day)
    SELECT day, delta,
           CAST(sum(delta) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_orders
    FROM merged ORDER BY day
    """,
)
def orders_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting (orders 'open' for 30 days) via the
    DELTA-STREAM rewrite: +1 at each start day, -1 at each end day, one
    running sum — the classic interval-stabbing query WITHOUT the naive
    per-day × orders range join (quadratic) or a calendar cross join.
    The running sum operates on the date-cardinality delta frame; at
    100 TB the fact is read once and reduced map-side to two rows per
    day. Scan-side ts_valid guard (r12 temporal axis): the +30d close
    event of a far-future corrupt order overflows the calendar."""
    o = load_table(spark, sf_dir, "orders").filter(ts_valid("o_orderdate"))
    starts = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.count("*").alias("d")
    )
    ends = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("day")
    ).agg((-F.count("*")).alias("d"))
    merged = (
        starts.unionAll(ends).groupBy("day").agg(F.sum("d").cast("long").alias("delta"))
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return merged.select(
        "day", "delta", F.sum("delta").over(w).cast("long").alias("open_orders")
    ).orderBy("day")


@register(
    "events_hourly_seasonality",
    oracle="""
    SELECT CAST(extract('hour' FROM ts) AS BIGINT) AS hour_of_day,
           CAST(extract('isodow' FROM ts) AS BIGINT) AS iso_dow,
           count(*) AS n,
           round(avg(value), 4) AS avg_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week seasonality grid for purchases — the
    load-shaping profile behind capacity planning and anomaly baselines.
    Scan-side datetime extraction, one 168-key aggregation. ISO weekday
    numbering is pinned on both engines (Spark's dayofweek is
    Sunday-1, so the query derives ISO from date_format 'u')."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    # at most 24 hours × 7 weekdays
    return bounded_sort(
        ev.groupBy(
            F.hour("ts").cast("long").alias("hour_of_day"),
            ((F.dayofweek("ts") + 5) % 7 + 1).cast("long").alias("iso_dow"),
        )
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value")),
        "hour_of_day", "iso_dow",
    )


@register(
    "orders_priority_mix_shift",
    oracle="""
    WITH yearly AS (
      SELECT CAST(extract('year' FROM o_orderdate) AS BIGINT) AS yr,
             o_orderpriority, count(*) AS n
      FROM orders GROUP BY 1, 2),
    shares AS (
      SELECT yr, o_orderpriority, n,
             n * 1.0 / sum(n) OVER (PARTITION BY yr) AS raw_share
      FROM yearly)
    SELECT yr, o_orderpriority, n,
           round(raw_share, 6) AS share,
           round(raw_share - lag(raw_share)
                 OVER (PARTITION BY o_orderpriority ORDER BY yr), 6) AS share_delta
    FROM shares
    ORDER BY yr, o_orderpriority
    """,
)
def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift analysis: each priority class's share of yearly volume
    and its year-over-year delta — the composition-drift report behind
    'did demand change or just its mix'. Two windows over the
    (year × priority) aggregate frame (≤ 5 classes × years), never the
    fact."""
    o = load_table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"), "o_orderpriority"
    ).agg(F.count("*").alias("n"))
    share = F.col("n") * 1.0 / F.sum("n").over(W.partitionBy("yr"))
    wlag = W.partitionBy("o_orderpriority").orderBy("yr")
    return yearly.select(
        "yr",
        "o_orderpriority",
        "n",
        F.round(share, 6).alias("share"),
        F.round(share - F.lag(share).over(wlag), 6).alias("share_delta"),
    ).orderBy("yr", "o_orderpriority")


@register(
    "events_user_lifecycle",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS active_days,
           CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS span_s,
           min(event_id) AS first_event_id,
           max(event_id) AS last_event_id
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifecycle summary: activity span, distinct active days,
    event volume — the cohort-health scaffold retention analyses hang
    off. One partial-agged groupBy on the user key; span arithmetic is
    exact integer seconds in both engines."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct(F.date_trunc("day", "ts")).alias("active_days"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).cast("long").alias("span_s"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


@register(
    "region_nation_share",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             round(sum(o.o_totalprice), 2) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2)
    SELECT region, nation, revenue,
           round(revenue / sum(revenue) OVER (PARTITION BY region), 6)
               AS share_of_region,
           round(revenue / sum(revenue) OVER (), 6) AS share_of_total
    FROM rev ORDER BY region, nation
    """,
)
def region_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-within-parent hierarchy report (nation revenue as a share
    of its region and of the total) — the drill-down idiom every OLAP
    dashboard renders. Fact joins broadcast dims; both share windows
    run on the nation-cardinality aggregate frame."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    return rev.select(
        "region",
        "nation",
        "revenue",
        F.round(
            F.col("revenue") / F.sum("revenue").over(W.partitionBy("region")), 6
        ).alias("share_of_region"),
        F.round(F.col("revenue") / F.sum("revenue").over(W.partitionBy()), 6).alias(
            "share_of_total"
        ),
    ).orderBy("region", "nation")


@register(
    "part_type_hhi",
    oracle="""
    WITH rev AS (
      SELECT p.p_type, p.p_brand,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS r
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2),
    shares AS (
      SELECT p_type, r / sum(r) OVER (PARTITION BY p_type) AS s FROM rev)
    SELECT p_type,
           CAST(count(*) AS BIGINT) AS n_brands,
           round(sum(s * s), 6) AS hhi
    FROM shares GROUP BY p_type ORDER BY p_type
    """,
)
def part_type_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index per part type: the sum
    of squared brand revenue shares — monopoly-vs-fragmented market
    structure in one number (1/n_brands = uniform, 1.0 = single brand).
    The share window and HHI aggregation run on the (type × brand)
    frame; the fact is read once into that aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type", "p_brand")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"))
    )
    s = F.col("r") / F.sum("r").over(W.partitionBy("p_type"))
    shares = rev.select("p_type", s.alias("s"))
    # one row per part type; its window sees (type, brand) rows
    return bounded_sort(
        shares.groupBy("p_type")
        .agg(F.count("*").alias("n_brands"), F.round(F.sum(F.col("s") * F.col("s")), 6).alias("hhi")),
        "p_type",
    )
