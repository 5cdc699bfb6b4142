"""Time-series operators beyond the Hive surface: AS-OF join and
multi-resolution rollup (the hypertable / continuous-aggregate pattern).

Both are operators the reference engine's users reach for a specialized
system to get (kdb/QuestDB as-of joins, TimescaleDB continuous
aggregates); here they are Spark-native shapes over the events table.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.operators.asof import asof_join
from hive_release_spark.functions.numeric import cents, cents_sql, finite, half_up
from hive_release_spark.queries.registry import register


@register(
    "join_asof_orders",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1)
    SELECT e.event_id, e.user_id, e.ts, r.o_orderkey, r.o_totalprice
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    ORDER BY e.event_id
    """,
)
def join_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each event matched to the user's most recent order
    at-or-before the event time (the feature-store / backtest
    primitive). Spark lacks the operator; ``operators.asof.asof_join``
    is the union + carry-forward formulation — one key-partitioned
    exchange of both sides, no range explosion. DuckDB's native
    ``ASOF LEFT JOIN`` is the oracle, so the custom operator is gated
    against a first-class reference implementation. The right side is
    pre-deduped to one order per (custkey, orderdate) — max orderkey —
    in BOTH engines, making ties deterministic."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    orders_d = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            "o_orderkey",
            "o_totalprice",
        )
    )
    return asof_join(
        events,
        orders_d,
        on="user_id",
        left_t="ts",
        right_t="o_orderdate",
        right_payload=["o_orderkey", "o_totalprice"],
    ).orderBy("event_id")


@register(
    "join_salted_skew",
    oracle="""
    SELECT s.s_name,
           count(*) AS n,
           round(sum(l.l_quantity), 2) AS qty
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY s.s_name
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compile-time skew-salted join (`operators/skew.salted_join`,
    Hive's SkewJoinOptimizer analogue): the fact side's hot supplier
    keys scatter across 8 deterministic salts, the dim side replicates
    8x, the join runs on (key, salt). The oracle is the PLAIN join —
    proving the salting is semantically invisible. AQE's runtime skew
    split (also on) is the zero-code path; this is the operator users
    reach for when the skew is known up front and they want the scatter
    in the plan, not left to runtime heuristics."""
    from hive_release_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").alias("l_suppkey"), "s_name")
    )
    return (
        salted_join(li, supp, on="l_suppkey", n_salts=8)
        .groupBy("s_name")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy("s_name")
    )


@register(
    "rollup_multires",
    oracle="""
    SELECT 'day' AS grain,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'month' AS grain,
           CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket,
           event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 2, 3
    ORDER BY grain, bucket, event_type
    """,
)
def rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (hypertable continuous-aggregate
    pattern): hour buckets aggregate the raw stream ONCE; day and month
    levels RE-AGGREGATE the next-finer level instead of re-scanning the
    corpus. The oracle computes every level directly from raw events —
    proving re-aggregation is lossless for the additive measures
    (count, sum). Scale shape: the 100 TB scan happens exactly once
    (hourly frame persisted — plan shows InMemoryTableScan for both
    coarser levels); day aggregates #hours × #types rows, month
    aggregates #days × #types — corpus-size-independent."""
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    day = hourly.groupBy(
        F.date_trunc("day", "h").alias("bucket"), "event_type"
    ).agg(F.sum("n").alias("n"), F.round(F.sum("sv"), 2).alias("sum_value"))
    month = hourly.groupBy(
        F.date_trunc("month", "h").alias("bucket"), "event_type"
    ).agg(F.sum("n").alias("n"), F.round(F.sum("sv"), 2).alias("sum_value"))
    return (
        day.select(F.lit("day").alias("grain"), "bucket", "event_type", "n", "sum_value")
        .unionByName(
            month.select(
                F.lit("month").alias("grain"), "bucket", "event_type", "n", "sum_value"
            )
        )
        .orderBy("grain", "bucket", "event_type")
    )


@register(
    "join_range_bucketed",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts,
           count(v.event_id) AS n_views,
           CAST(coalesce(sum(v.event_id), 0) AS BIGINT) AS view_id_sum
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    GROUP BY 1, 2, 3
    ORDER BY purchase_id
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join, bucketed: views within the hour before
    each purchase by the same user — the attribution query every event
    store runs. The naive plan is an equi join on user_id whose range
    predicate is a post-join RESIDUAL over every same-user pair
    (quadratic in per-user activity); `range_join_bucketed` quantizes
    time into window-sized buckets and joins on (user, bucket), so
    candidates are only same-user ADJACENT-bucket pairs — each produced
    exactly once (the probe side has one home bucket). Batch twin of the
    watermarked stream-stream interval join. LEFT semantics (purchases
    with zero views survive) recovered by re-attaching the purchase set
    to the aggregated inner-join matches — cheaper than a bucketed outer
    join because the re-attach joins the (already tiny) aggregate."""
    from hive_release_spark.operators.rangejoin import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("vts")
    )
    matches = range_join_bucketed(
        purchases, views, key="user_id", left_ts="ts", right_ts="vts",
        window_seconds=3600,
    )
    per_purchase = matches.groupBy("purchase_id").agg(
        F.count("view_id").alias("n_views"),
        F.sum("view_id").alias("view_id_sum"),
    )
    return (
        purchases.join(per_purchase, "purchase_id", "left")
        .select(
            "purchase_id",
            "user_id",
            "ts",
            F.coalesce("n_views", F.lit(0)).alias("n_views"),
            F.coalesce("view_id_sum", F.lit(0).cast("long")).alias("view_id_sum"),
        )
        .orderBy("purchase_id")
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1),
    c AS (
      SELECT e.event_id, r.o_orderkey, r.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
               ORDER BY abs(epoch(e.ts) - epoch(r.o_orderdate)),
                        CASE WHEN r.o_orderdate <= e.ts THEN 0 ELSE 1 END,
                        r.o_orderkey) AS rn
      FROM events e JOIN r ON e.user_id = r.o_custkey
       AND abs(epoch(e.ts) - epoch(r.o_orderdate)) <= 2592000)
    SELECT e.event_id, e.user_id, e.ts, b.o_orderkey, b.o_totalprice
    FROM events e LEFT JOIN (SELECT * FROM c WHERE rn = 1) b USING (event_id)
    ORDER BY e.event_id
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join with a 30-day tolerance: each event
    matched to the user's CLOSEST order in either direction (pandas
    ``merge_asof(direction='nearest')``), ties resolved to the
    at-or-before row. One key exchange + two window passes over a
    single per-key sort — see operators/asof.asof_join_nearest; the
    oracle is the quadratic range-join + argmin formulation this
    operator exists to avoid (fine at oracle scale, a scale-killer at
    100 TB). Right side pre-deduped per (custkey, orderdate) in both
    engines."""
    from hive_release_spark.operators.asof import asof_join_nearest

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    orders_d = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            "o_orderkey",
            "o_totalprice",
        )
    )
    return asof_join_nearest(
        events,
        orders_d,
        on="user_id",
        left_t="ts",
        right_t="o_orderdate",
        tolerance_s=2592000,
        right_payload=["o_orderkey", "o_totalprice"],
    ).orderBy("event_id")


@register(
    "orders_monthly_percentiles",
    oracle="""
    -- finite device on the percentile args (r10 NaN axis): exact
    -- interpolation is only cross-engine-defined over finite values;
    -- max stays raw (NaN-greatest agrees between the engines)
    WITH f AS (SELECT o_orderdate, o_totalprice,
                      CASE WHEN isfinite(o_totalprice)
                           THEN o_totalprice END AS tp
               FROM orders)
    SELECT strftime(o_orderdate, '%Y-%m') AS mon,
           count(*) AS n_orders,
           round(quantile_cont(tp, 0.50), 4) AS p50,
           round(quantile_cont(tp, 0.90), 4) AS p90,
           round(quantile_cont(tp, 0.99), 4) AS p99,
           round(max(o_totalprice), 2) AS p100
    FROM f GROUP BY 1 ORDER BY 1
    """,
)
def orders_monthly_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly P50/P90/P99/max of order value — the latency-report
    shape (tail percentiles per time bucket) applied to money. EXACT
    linear-interpolation percentiles (Spark `percentile`, DuckDB
    `quantile_cont` — same definition) per month group: one partial-
    agged exchange on the month key; at 100 TB the exact per-group
    sort is bounded by a month's rows, and the approx path
    (`percentile_approx`, already covered by its own contract entry)
    swaps in with one function name when that bound breaks."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        # finite device (r10 NaN axis): percentile args only; max stays
        # raw (NaN-greatest agrees cross-engine)
        "tp", finite(F.col("o_totalprice"))
    )
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("mon"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.expr("percentile(tp, 0.50)"), 4).alias("p50"),
            F.round(F.expr("percentile(tp, 0.90)"), 4).alias("p90"),
            F.round(F.expr("percentile(tp, 0.99)"), 4).alias("p99"),
            F.round(F.max("o_totalprice"), 2).alias("p100"),
        )
        .orderBy("mon")
    )


@register(
    "timeseries_rolling_corr",
    oracle="""
    WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      sum(o_totalprice) AS rev
               FROM orders GROUP BY 1),
    e AS (SELECT CAST(ts AS DATE) AS day, sum(value) AS activity
          FROM events GROUP BY 1),
    j AS (SELECT o.day, o.rev AS x, e.activity AS y FROM o JOIN e USING (day)),
    s AS (
      SELECT day, x, y,
             count(*)   OVER w AS n,
             sum(x)     OVER w AS sx,
             sum(y)     OVER w AS sy,
             sum(x * x) OVER w AS sxx,
             sum(y * y) OVER w AS syy,
             sum(x * y) OVER w AS sxy
      FROM j
      WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT day, CAST(n AS BIGINT) AS n,
           CASE WHEN n < 3
                  OR (n * sxx - sx * sx) <= 0 OR (n * syy - sy * sy) <= 0
                THEN NULL
                ELSE round((n * sxy - sx * sy)
                     / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4)
           END AS corr_14d
    FROM s ORDER BY day
    """,
)
def timeseries_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING Pearson correlation (trailing 14 days) between two
    series — daily order revenue vs daily event activity — the
    relationship-drift monitor ("did marketing clicks decouple from
    sales this month"). Spark's corr() is frameless as a window
    function in practice, so the operator is COMPOSED from the five
    windowed sums the closed form needs (n, Σx, Σy, Σx², Σy², Σxy) —
    one pass, one frame, six aggregates sharing it; degenerate windows
    (n < 3 or zero variance) yield NULL rather than a 0/0. Both series
    collapse to day frames before the join, so the window input is
    day-cardinality at any corpus size; the joined frame is tiny and
    the day join broadcasts."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("x"))
    )
    e = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum("value").alias("y"))
    )
    j = o.join(F.broadcast(e), "day")
    w = W.orderBy("day").rowsBetween(-13, 0)
    n = F.count("*").over(w)
    sx, sy = F.sum("x").over(w), F.sum("y").over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return j.select(
        "day",
        n.cast("long").alias("n"),
        F.when(
            (n < 3) | (varx <= 0) | (vary <= 0), F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                (n * sxy - sx * sy) / (F.sqrt(varx) * F.sqrt(vary)), 4
            )
        )
        .alias("corr_14d"),
    ).orderBy("day")


@register(
    "timeseries_ewma",
    oracle=f"""
    WITH RECURSIVE m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               / 100.0 AS rev
      FROM orders GROUP BY 1 HAVING rev IS NOT NULL),
    idx AS MATERIALIZED (SELECT month, rev,
                   row_number() OVER (ORDER BY month) AS rn FROM m),
    r AS (
      SELECT rn, month, rev, rev AS s FROM idx WHERE rn = 1
      UNION ALL
      SELECT i.rn, i.month, i.rev, 0.3 * i.rev + 0.7 * r.s
      FROM idx i JOIN r ON i.rn = r.rn + 1)
    SELECT month, rev,
           floor(s * 100 + 0.5) / 100 AS ewma
    FROM r ORDER BY month
    """,
)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over the monthly revenue
    series (alpha = 0.3) — the classic smoother behind anomaly bands
    and naive forecasts.  EWMA is a true RECURSION (s_t = a*x_t +
    (1-a)*s_{t-1}), which no window frame expresses, so the operator
    is a HOF FOLD: the corpus collapses to month grain map-side (one
    partial-agg exchange), the ~tens-of-rows series is packed into a
    single sorted array (executor-side collect_list — bounded by the
    calendar, never by corpus size, and never on the driver), and
    F.aggregate threads the recurrence through it in one codegen'd
    pass, appending each state so the whole smoothed series comes back
    out via posexplode.  The oracle runs the identical recurrence as a
    recursive CTE (UNION ALL — DuckDB's supported recursion form), so
    the arithmetic is op-for-op the same (0.3*x + 0.7*s) and the match
    is exact, not approximate.  At 100 TB the input to the fold is
    still only n_months rows — the heavy lifting stays in the grouped
    partial aggregation."""
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(
            # BIGINT-cents discipline (the cohort-LTV rule): the monthly
            # sum is exact and engine-order-proof, so the recurrence in
            # both engines starts from bit-identical doubles.
            (
                F.sum(cents("o_totalprice"))
                / F.lit(100.0)
            ).alias("rev")
        )
        # no-signal periods (zero finite measurements -> NULL sum) are
        # dropped from the series: the fold recurrences must stay total
        # (struct-accumulator NULLs silently read back 0.0 — see
        # tests/test_empty_input.py struct-accumulator canary)
        .filter(F.col("rev").isNotNull())
    )
    packed = m.agg(
        F.sort_array(F.collect_list(F.struct("month", "rev"))).alias("series")
    )
    folded = packed.withColumn(
        "ewma",
        F.aggregate(
            F.col("series"),
            F.expr("CAST(array() AS ARRAY<DOUBLE>)"),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.when(F.size(acc) == 0, x["rev"]).otherwise(
                        F.lit(0.3) * x["rev"]
                        + F.lit(0.7) * F.element_at(acc, -1)
                    )
                ),
            ),
        ),
    )
    z = folded.select(
        F.explode(F.arrays_zip("series", "ewma")).alias("z")
    )
    return z.select(
        F.col("z.series.month").alias("month"),
        # rev is cents/100.0 — already decimal-exact, no round needed.
        F.col("z.series.rev").alias("rev"),
        (half_up(F.col("z.ewma") * 100) / 100).alias("ewma"),
    ).orderBy("month")


@register(
    "timeseries_theil_sen",
    oracle=f"""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               / 100.0 AS rev
      FROM orders GROUP BY 1 HAVING rev IS NOT NULL),
    i AS (SELECT year(month) * 12 + month(month) AS x, rev FROM m),
    p AS (
      SELECT (b.rev - a.rev) / (b.x - a.x) AS slope,
             CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
      FROM i a JOIN i b ON a.x < b.x),
    s AS (SELECT list_sort(list(slope)) AS ls,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(sgn) AS BIGINT) AS mk_s
          FROM p)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_months,
           n_pairs, mk_s,
           floor((ls[CAST((n_pairs + 1) // 2 AS INT)]
                  + ls[CAST(n_pairs // 2 + 1 AS INT)]) / 2
                 * 10000 + 0.5) / 10000 AS sen_slope
    FROM s
    """,
)
def timeseries_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend + MANN-KENDALL test statistic on the
    monthly revenue series — the outlier-proof alternative to OLS
    slope (breakdown point 29% vs 0%).  Both statistics are defined
    over ALL month pairs, which is quadratic — but only in the number
    of MONTHS: the corpus collapses to month grain in one partial-agg
    exchange, and the O(m^2) pair generation runs as index-aware HOFs
    (transform + slice) over a single packed array executor-side,
    bounded by the calendar forever.  Exactness discipline: month
    sums ride as BIGINT cents so both engines fold identical doubles;
    the Mann-Kendall S is an integer sign sum (exact); the Sen slope
    is the exact middle-element median of the sorted slope list
    (identical (lo+hi)/2 in both engines), floor-rounded so no
    decimal-repr rounding rule is involved.  x is the month serial
    (year*12+month), so missing calendar months would be handled
    correctly rather than assumed contiguous."""
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(
            (
                F.sum(cents("o_totalprice"))
                / F.lit(100.0)
            ).alias("rev")
        )
        # no-signal periods (zero finite measurements -> NULL sum) are
        # dropped from the series: the fold recurrences must stay total
        # (struct-accumulator NULLs silently read back 0.0 — see
        # tests/test_empty_input.py struct-accumulator canary)
        .filter(F.col("rev").isNotNull())
        .select(
            (F.year("month") * 12 + F.month("month")).alias("x"), "rev"
        )
    )
    packed = m.agg(
        F.sort_array(F.collect_list(F.struct("x", "rev"))).alias("series")
    )
    series = F.col("series")
    pairs = F.flatten(
        F.transform(
            series,
            lambda a, i: F.transform(
                F.slice(series, i + 2, F.size(series)),
                lambda b: F.struct(
                    ((b["rev"] - a["rev"]) / (b["x"] - a["x"])).alias(
                        "slope"
                    ),
                    F.when(b["rev"] > a["rev"], 1)
                    .when(b["rev"] < a["rev"], -1)
                    .otherwise(0)
                    .cast("long")
                    .alias("sgn"),
                ),
            ),
        )
    )
    withp = packed.select(
        F.size(series).cast("long").alias("n_months"),
        pairs.alias("pairs"),
    )
    slopes = F.array_sort(
        F.transform(F.col("pairs"), lambda p: p["slope"])
    )
    n_pairs = F.size("pairs").cast("long")
    lo = F.element_at(slopes, ((F.size("pairs") + 1) / 2).cast("int"))
    hi = F.element_at(slopes, (F.size("pairs") / 2 + 1).cast("int"))
    # CASE-guard the pair statistics: with ZERO month pairs (an empty
    # or single-month slice) the median index is 0 — an element_at
    # hard error — and the oracle's sum/list over no pairs is NULL,
    # not 0; CASE's lazy branch evaluation keeps the element_at from
    # ever running in that regime (values are identical whenever a
    # pair exists)
    has_pairs = F.size("pairs") > 0
    return withp.select(
        "n_months",
        n_pairs.alias("n_pairs"),
        F.when(
            has_pairs,
            F.aggregate(
                F.col("pairs"),
                F.lit(0).cast("long"),
                lambda acc, p: acc + p["sgn"],
            ),
        ).alias("mk_s"),
        F.when(
            has_pairs, half_up((lo + hi) / 2 * 10000) / 10000
        ).alias("sen_slope"),
    )


@register(
    "timeseries_holt",
    oracle=f"""
    WITH RECURSIVE m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               / 100.0 AS rev
      FROM orders GROUP BY 1 HAVING rev IS NOT NULL),
    idx AS MATERIALIZED (SELECT month, rev,
                   row_number() OVER (ORDER BY month) AS rn FROM m),
    r AS (
      SELECT rn, month, rev, rev AS l, CAST(0 AS DOUBLE) AS b
      FROM idx WHERE rn = 1
      UNION ALL
      SELECT i.rn, i.month, i.rev,
             0.3 * i.rev + 0.7 * (r.l + r.b),
             0.2 * ((0.3 * i.rev + 0.7 * (r.l + r.b)) - r.l) + 0.8 * r.b
      FROM idx i JOIN r ON i.rn = r.rn + 1)
    SELECT month, rev,
           floor(l * 100 + 0.5) / 100 AS level,
           floor(b * 100 + 0.5) / 100 AS trend,
           floor((l + b) * 100 + 0.5) / 100 AS forecast_next
    FROM r ORDER BY month
    """,
)
def timeseries_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT LINEAR (double exponential) smoothing on monthly revenue —
    the trend-aware step past timeseries_ewma, and the one-step-ahead
    forecaster behind every "naive + trend" baseline: level
    l_t = a*x_t + (1-a)*(l+b), trend b_t = g*(l_t - l) + (1-g)*b
    (a=0.3, g=0.2, b_1=0).  TWO coupled recurrences, so the fold
    state is an array of (l, b) STRUCTS threaded through one
    F.aggregate pass over the packed month series — the same
    calendar-bounded executor-side shape as the EWMA fold (the corpus
    collapses map-side to month grain; nothing beyond n_months rows
    ever folds).  The oracle runs the identical coupled recurrence as
    a two-state-column recursive CTE with op-for-op matching
    arithmetic; BIGINT-cents month sums and floor-based rounding keep
    the parity bit-exact (see timeseries_ewma for why round()
    diverges on identical doubles)."""
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(
            (
                F.sum(cents("o_totalprice"))
                / F.lit(100.0)
            ).alias("rev")
        )
        # no-signal periods (zero finite measurements -> NULL sum) are
        # dropped from the series: the fold recurrences must stay total
        # (struct-accumulator NULLs silently read back 0.0 — see
        # tests/test_empty_input.py struct-accumulator canary)
        .filter(F.col("rev").isNotNull())
    )
    packed = m.agg(
        F.sort_array(F.collect_list(F.struct("month", "rev"))).alias("series")
    )

    def step(acc, x):
        last = F.element_at(acc, -1)
        l_new = F.lit(0.3) * x["rev"] + F.lit(0.7) * (last["l"] + last["b"])
        b_new = (
            F.lit(0.2) * (l_new - last["l"]) + F.lit(0.8) * last["b"]
        )
        return F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) == 0,
                    F.struct(
                        x["rev"].alias("l"),
                        F.lit(0.0).alias("b"),
                    ),
                ).otherwise(
                    F.struct(l_new.alias("l"), b_new.alias("b"))
                )
            ),
        )

    folded = packed.withColumn(
        "states",
        F.aggregate(
            F.col("series"),
            F.expr("CAST(array() AS ARRAY<STRUCT<l: DOUBLE, b: DOUBLE>>)"),
            step,
        ),
    )
    z = folded.select(
        F.explode(F.arrays_zip("series", "states")).alias("z")
    )
    return z.select(
        F.col("z.series.month").alias("month"),
        F.col("z.series.rev").alias("rev"),
        (half_up(F.col("z.states.l") * 100) / 100).alias("level"),
        (half_up(F.col("z.states.b") * 100) / 100).alias("trend"),
        (
            half_up((F.col("z.states.l") + F.col("z.states.b")) * 100) / 100
        ).alias("forecast_next"),
    ).orderBy("month")


@register(
    "timeseries_gap_fill",
    oracle=f"""
    WITH base AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(sum({cents_sql("value")}) AS BIGINT) AS c
      FROM events
      WHERE event_type = 'purchase' AND value >= 190
      GROUP BY 1),
    b AS (SELECT min(hr) AS mn,
                 datediff('hour', min(hr), max(hr)) AS n FROM base),
    spine AS (
      SELECT unnest(generate_series(0, n)) AS i, mn FROM b),
    j AS (
      SELECT s.i, s.mn + to_hours(CAST(s.i AS BIGINT)) AS hr, base.c
      FROM spine s LEFT JOIN base
        ON base.hr = s.mn + to_hours(CAST(s.i AS BIGINT))),
    w AS (
      SELECT i, hr, c,
             last_value(c IGNORE NULLS) OVER
               (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS pv,
             last_value(CASE WHEN c IS NOT NULL THEN i END IGNORE NULLS)
               OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS pi,
             first_value(c IGNORE NULLS) OVER
               (ORDER BY i ROWS BETWEEN CURRENT ROW
                AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN c IS NOT NULL THEN i END IGNORE NULLS)
               OVER (ORDER BY i ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS ni
      FROM j)
    SELECT hr,
           CASE WHEN c IS NULL THEN 1 ELSE 0 END AS is_gap,
           floor(CAST(c AS DOUBLE) / 100 * 100 + 0.5) / 100 AS rev,
           floor(CAST(pv AS DOUBLE) / 100 * 100 + 0.5) / 100 AS rev_locf,
           CASE
             WHEN c IS NOT NULL THEN floor(CAST(c AS DOUBLE) + 0.5) / 100
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               floor((pv + (nv - pv) * (CAST(i AS DOUBLE) - pi) / (ni - pi))
                     + 0.5) / 100
             ELSE NULL END AS rev_interp
    FROM w ORDER BY hr
    """,
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR GAP FILLING — the time-series primitive every
    hypertable engine ships (`time_bucket_gapfill` + locf/interpolate)
    and Spark lacks: densify a sparse hourly series onto a complete
    hour spine, then repair gaps two ways — LOCF (last observation
    carried forward) and LINEAR interpolation between the surrounding
    observations.  The spine is generated from the series' own bounds
    with sequence+explode (no calendar table needed); its integer
    index i doubles as the interpolation time coordinate, so no epoch
    arithmetic or timezone rules are involved.  Both repairs are
    window idioms: pv/pi = ignore-nulls LAST over the preceding
    frame, nv/ni = ignore-nulls FIRST over the following frame;
    interp = pv + (nv-pv)*(i-pi)/(ni-pi).  The global-order window
    runs on the SPINE frame (719 hours here; calendar-bounded at any
    corpus scale — the corpus collapses to the hour grain first).
    Series values ride as BIGINT cents; edges with no left/right
    neighbor stay NULL (the standard's behavior, not zero)."""
    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 190))
        .groupBy(F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.sum(cents("value")).alias("c"))
    )
    bounds = base.agg(
        F.min("hr").alias("mn"),
        F.expr("timestampdiff(HOUR, min(hr), max(hr))").alias("n"),
    )
    spine = bounds.select(
        F.explode(F.sequence(F.lit(0), F.col("n"))).alias("i"), "mn"
    ).select("i", F.expr("timestampadd(HOUR, i, mn)").alias("hr"))
    j = spine.join(base, "hr", "left")
    before = W.orderBy("i").rowsBetween(W.unboundedPreceding, W.currentRow)
    after = W.orderBy("i").rowsBetween(W.currentRow, W.unboundedFollowing)
    known_i = F.when(F.col("c").isNotNull(), F.col("i"))
    w = j.select(
        "i",
        "hr",
        "c",
        F.last("c", ignorenulls=True).over(before).alias("pv"),
        F.last(known_i, ignorenulls=True).over(before).alias("pi"),
        F.first("c", ignorenulls=True).over(after).alias("nv"),
        F.first(known_i, ignorenulls=True).over(after).alias("ni"),
    )
    interp = (
        F.when(F.col("c").isNotNull(), half_up(F.col("c").cast("double")) / 100)
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            half_up(
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * (F.col("i").cast("double") - F.col("pi"))
                / (F.col("ni") - F.col("pi"))
            )
            / 100,
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return w.select(
        "hr",
        F.when(F.col("c").isNull(), 1).otherwise(0).alias("is_gap"),
        (half_up(F.col("c").cast("double") / 100 * 100) / 100).alias("rev"),
        (half_up(F.col("pv").cast("double") / 100 * 100) / 100).alias("rev_locf"),
        interp.alias("rev_interp"),
    ).orderBy("hr")


@register(
    "timeseries_backtest_naive",
    oracle=f"""
    WITH d AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS c
      FROM orders GROUP BY 1),
    l AS (
      SELECT day, c,
             lag(c, 1) OVER (ORDER BY day) AS f1,
             lag(c, 7) OVER (ORDER BY day) AS f7
      FROM d),
    e AS (
      SELECT 'naive_lag1' AS method, c, f1 AS f FROM l WHERE f1 IS NOT NULL
      UNION ALL
      SELECT 'seasonal_lag7', c, f7 FROM l WHERE f7 IS NOT NULL)
    SELECT method,
           CAST(count(*) AS BIGINT) AS n_forecasts,
           round(avg(abs(c - f)) / 100, 2) AS mae,
           round(sqrt(avg(pow(CAST(c - f AS DOUBLE) / 100, 2))), 2)
             AS rmse,
           round(avg(abs(CAST(c - f AS DOUBLE)) / c), 6) AS mape
    FROM e GROUP BY 1 ORDER BY 1
    """,
)
def timeseries_backtest_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-ORIGIN FORECAST BACKTEST of the two standard baselines
    every forecasting evaluation starts from — naive (yesterday's
    value) and seasonal-naive (same weekday last week) — scored with
    MAE / RMSE / MAPE over the daily revenue series.  Any proposed
    forecaster (e.g. timeseries_holt's level+trend) must beat this
    table to earn its complexity; backtesting the baselines is the
    evaluation harness half of the forecast family.  The corpus
    collapses to day grain map-side; the lag windows run on the
    CALENDAR-bounded day frame; forecast errors are exact integer
    cent differences, so every metric aggregates identical values in
    both engines (MAE is exact integer arithmetic until one final
    divide; RMSE/MAPE are closed forms on those integers).  Each
    method only scores days where its forecast exists (no partial-
    window bias)."""
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(cents("o_totalprice")).alias(
                "c"
            )
        )
    )
    w = W.orderBy("day")
    l = d.select(
        "c",
        F.lag("c", 1).over(w).alias("f1"),
        F.lag("c", 7).over(w).alias("f7"),
    )
    e = (
        l.filter(F.col("f1").isNotNull())
        .select(F.lit("naive_lag1").alias("method"), "c", F.col("f1").alias("f"))
        .unionByName(
            l.filter(F.col("f7").isNotNull()).select(
                F.lit("seasonal_lag7").alias("method"),
                "c",
                F.col("f7").alias("f"),
            )
        )
    )
    diff = F.col("c") - F.col("f")
    return (
        e.groupBy("method")
        .agg(
            F.count("*").alias("n_forecasts"),
            F.round(F.avg(F.abs(diff)) / 100, 2).alias("mae"),
            F.round(
                F.sqrt(F.avg(F.pow(diff.cast("double") / 100, 2))), 2
            ).alias("rmse"),
            F.round(
                F.avg(F.abs(diff.cast("double")) / F.col("c")), 6
            ).alias("mape"),
        )
        .orderBy("method")
    )


@register(
    "join_asof_forward",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'view' AND user_id % 11 = 0),
    p AS (
      SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id) AS rn
        FROM events WHERE event_type = 'purchase') WHERE rn = 1)
    SELECT v.event_id, v.user_id, v.ts,
           p.event_id AS purchase_id,
           CAST(datediff('second', v.ts, p.ts) AS BIGINT)
             AS secs_to_convert
    FROM v ASOF LEFT JOIN p
      ON v.user_id = p.user_id AND v.ts <= p.ts
    ORDER BY v.event_id
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — every view matched to the user's NEXT
    purchase at-or-after it: the time-to-conversion primitive (how
    long from intent to transaction), and the missing direction in
    the as-of family (backward `join_asof_orders`, nearest
    `join_asof_nearest`, now forward).  `operators/asof.
    asof_join_forward` is the exact mirror of the backward operator:
    same tagged union, same single key exchange, with an ignore-nulls
    FIRST over the following frame instead of LAST over the preceding
    one — "forward" costs nothing extra.  DuckDB's native forward
    ASOF (`v.ts <= p.ts`) is the oracle, the same first-class
    reference gate the backward entry uses; purchases pre-dedup to
    one per (user, ts) (min event_id) in BOTH engines so ties are
    deterministic.  Cohort filter bounds driver output; the
    seconds-to-convert column is exact integer arithmetic on
    microsecond timestamps."""
    from hive_release_spark.operators.asof import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(
        (F.col("event_type") == "view") & (F.col("user_id") % 11 == 0)
    ).select("event_id", "user_id", "ts")
    wp = W.partitionBy("user_id", "ts").orderBy("event_id")
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    j = asof_join_forward(
        views,
        purch,
        on="user_id",
        left_t="ts",
        right_t="p_ts",
        right_payload=["purchase_id", "p_ts"],
    )
    return j.select(
        "event_id",
        "user_id",
        "ts",
        "purchase_id",
        # datediff('second') counts BOUNDARY crossings — truncate each
        # timestamp to seconds before differencing (micros magnitudes
        # stay under 2^53, so the floor is exact)
        (
            F.floor(F.unix_micros(F.col("p_ts").cast("timestamp")) / 1_000_000)
            - F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        )
        .cast("long")
        .alias("secs_to_convert"),
    ).orderBy("event_id")


@register(
    "timeseries_croston",
    oracle="""
    WITH RECURSIVE dd AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(CASE WHEN isfinite(l_quantity)
                  THEN l_quantity END AS BIGINT)) AS BIGINT) AS d
      FROM lineitem WHERE l_partkey % 97 = 0
      GROUP BY 1 HAVING d IS NOT NULL),
    idx AS MATERIALIZED (SELECT day, d, row_number() OVER (ORDER BY day) AS rn FROM dd),
    r AS (
      SELECT rn, day, CAST(d AS DOUBLE) AS z, CAST(1.0 AS DOUBLE) AS p
      FROM idx WHERE rn = 1
      UNION ALL
      SELECT i.rn, i.day,
             CAST(0.2 AS DOUBLE) * i.d + CAST(0.8 AS DOUBLE) * r.z,
             CAST(0.2 AS DOUBLE) * date_diff('day', r.day, i.day)
               + CAST(0.8 AS DOUBLE) * r.p
      FROM idx i JOIN r ON i.rn = r.rn + 1)
    SELECT CAST(max(rn) AS BIGINT) AS n_demand_days,
           CAST(floor(max(CASE WHEN rn = mx THEN z END) * 1000 + 0.5)
                AS BIGINT) AS z_milli,
           CAST(floor(max(CASE WHEN rn = mx THEN p END) * 1000 + 0.5)
                AS BIGINT) AS p_milli,
           CAST(floor(max(CASE WHEN rn = mx THEN z / p END) * 1000 + 0.5)
                AS BIGINT) AS forecast_milli
    FROM r CROSS JOIN (SELECT max(rn) AS mx FROM r) m
    """,
)
def timeseries_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSTON'S METHOD for intermittent demand — the forecaster
    supply chains reach for when a series is MOSTLY ZEROS (spare
    parts, long-tail SKUs) and plain EWMA systematically lags: two
    coupled exponential smoothers (alpha 0.2), one over the nonzero
    demand SIZES and one over the INTER-DEMAND intervals, with the
    rate forecast z/p. Convention pinned here (and replayed by the
    oracle): state initializes at the first demand day with p = 1 and
    updates only on demand days, interval = calendar-day gap. Like
    the EWMA/Holt entries this is a true recursion no window frame
    expresses: the fact collapses to the sparse demand-day frame
    (part-filtered, ONE partial-agg exchange), the calendar-bounded
    series packs into one sorted array, and F.aggregate threads the
    two-smoother state through executor-side; the oracle runs the
    identical recurrence as a recursive CTE, so the final state —
    which depends on every step — is matched exactly. Output is the
    trained state + forecast; BIGINT demand sums keep both engines'
    recurrences starting from identical doubles."""
    dd = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 97 == 0)
        .groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(F.sum(finite(F.col("l_quantity")).cast("long")).alias("d"))
        # a day with zero finite quantities carries no demand signal —
        # dropped so the two-smoother fold stays total (see the
        # struct-accumulator canary)
        .filter(F.col("d").isNotNull())
    )
    packed = dd.agg(
        F.sort_array(F.collect_list(F.struct("day", "d"))).alias("series")
    )
    folded = packed.select(
        F.size("series").cast("long").alias("n_demand_days"),
        F.aggregate(
            F.col("series"),
            F.named_struct(
                F.lit("z"), F.lit(0.0),
                F.lit("p"), F.lit(0.0),
                F.lit("prev"), F.lit(None).cast("date"),
                F.lit("n"), F.lit(0).cast("long"),
            ),
            lambda acc, x: F.named_struct(
                F.lit("z"),
                F.when(acc["n"] == 0, x["d"].cast("double")).otherwise(
                    F.lit(0.2) * x["d"] + F.lit(0.8) * acc["z"]
                ),
                F.lit("p"),
                F.when(acc["n"] == 0, F.lit(1.0)).otherwise(
                    F.lit(0.2) * F.datediff(x["day"], acc["prev"])
                    + F.lit(0.8) * acc["p"]
                ),
                F.lit("prev"), x["day"],
                F.lit("n"), acc["n"] + 1,
            ),
        ).alias("st"),
    )
    # CASE-guard every output on a nonempty series: with ZERO demand
    # days there is no state to report (the oracle's recursive CTE
    # emits no rows, so its max() aggregates — including max(rn) — are
    # all NULL) and z/p would be an ANSI 0/0 abort; values are
    # identical whenever a demand day exists (p >= 1 there, so the
    # division is safe once the guard passes)
    has = F.col("n_demand_days") > 0
    return folded.select(
        F.when(has, F.col("n_demand_days")).alias("n_demand_days"),
        F.when(has, half_up(F.col("st.z") * 1000)).alias("z_milli"),
        F.when(has, half_up(F.col("st.p") * 1000)).alias("p_milli"),
        F.when(has, half_up(F.col("st.z") / F.col("st.p") * 1000))
        .alias("forecast_milli"),
    )


@register(
    "timeseries_holt_winters",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(CASE WHEN isfinite(l_quantity)
                  THEN l_quantity END AS BIGINT)) AS BIGINT) AS x
      FROM lineitem GROUP BY 1 HAVING x IS NOT NULL),
    idx AS MATERIALIZED (SELECT x, row_number() OVER (ORDER BY day) AS rn FROM d),
    init AS (
      SELECT avg(CASE WHEN rn <= 7 THEN CAST(x AS DOUBLE) END) AS m1,
             avg(CASE WHEN rn BETWEEN 8 AND 14
                      THEN CAST(x AS DOUBLE) END) AS m2
      FROM idx WHERE rn <= 14),
    s0 AS (
      SELECT list(CAST(x AS DOUBLE) - init.m1 ORDER BY rn) AS s
      FROM idx CROSS JOIN init WHERE rn <= 7),
    r AS (
      SELECT CAST(14 AS BIGINT) AS rn, init.m2 AS l,
             (init.m2 - init.m1) / 7 AS b, s0.s AS s
      FROM init CROSS JOIN s0
      UNION ALL
      SELECT i.rn,
             CAST(0.2 AS DOUBLE) * (i.x - r.s[CAST((i.rn - 1) % 7 AS INTEGER) + 1])
               + CAST(0.8 AS DOUBLE) * (r.l + r.b),
             CAST(0.05 AS DOUBLE)
               * (CAST(0.2 AS DOUBLE)
                    * (i.x - r.s[CAST((i.rn - 1) % 7 AS INTEGER) + 1])
                  + CAST(0.8 AS DOUBLE) * (r.l + r.b) - r.l)
               + CAST(0.95 AS DOUBLE) * r.b,
             list_transform(range(1, 8), j -> CASE
               WHEN j = CAST((i.rn - 1) % 7 AS INTEGER) + 1 THEN
                 CAST(0.1 AS DOUBLE)
                   * (i.x - (CAST(0.2 AS DOUBLE)
                               * (i.x - r.s[CAST((i.rn - 1) % 7 AS INTEGER) + 1])
                             + CAST(0.8 AS DOUBLE) * (r.l + r.b)))
                 + CAST(0.9 AS DOUBLE) * r.s[j]
               ELSE r.s[j] END)
      FROM idx i JOIN r ON i.rn = r.rn + 1),
    fin AS (SELECT * FROM r ORDER BY rn DESC LIMIT 1)
    SELECT rn AS n_days,
           CAST(floor(l * 1000 + 0.5) AS BIGINT) AS level_milli,
           CAST(floor(b * 1000 + 0.5) AS BIGINT) AS trend_milli,
           CAST(floor(s[CAST(rn % 7 AS INTEGER) + 1] * 1000 + 0.5)
                AS BIGINT) AS next_season_milli,
           CAST(floor((l + b + s[CAST(rn % 7 AS INTEGER) + 1]) * 1000
                      + 0.5) AS BIGINT) AS forecast_milli
    FROM fin
    """,
)
def timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE HOLT-WINTERS with weekly seasonality on daily shipped
    quantity — the capstone of the forecasting ladder (naive /
    seasonal-naive backtest, EWMA, Holt, Croston, now triple
    smoothing), and the hardest recursion the engine runs: the state
    is a STRUCT carrying level, trend, and a 7-slot seasonal ARRAY,
    one slot rewritten per step (alpha .2, beta .05, gamma .1;
    textbook two-week initialization — level = week-2 mean, trend =
    (week2-week1)/7, seasonals = week-1 deviations, recursion starts
    day 15). The calendar-bounded day series folds through one
    F.aggregate pass with the array updated via an index-matched
    transform; the oracle replays the identical recurrence as a
    recursive CTE carrying a LIST column (every literal CAST AS
    DOUBLE — the Croston decimal-literal lesson), so the final state
    and one-step forecast — which depend on every one of the ~2.5k
    steps — match exactly. Output: trained state + h=1 forecast."""
    d = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(F.sum(finite(F.col("l_quantity")).cast("long")).alias("x"))
        # no-finite-quantity days dropped — the triple-smoothing fold
        # must stay total (struct-accumulator canary)
        .filter(F.col("x").isNotNull())
    )
    packed = d.agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("sv")
    ).select(F.transform("sv", lambda t: t["x"].cast("double")).alias("xs"))

    # real averages (try_divide by the SLICE size, not a literal 7):
    # on a full two-week series the slices have exactly 7 elements and
    # sum/size == sum/7 bit-for-bit, but on a shorter slice the oracle's
    # avg(CASE WHEN rn ...) averages the rows that EXIST — sum/7 was a
    # silent divergence below 14 days, and on a sub-8-day series the
    # second window is empty so m2 (and the whole init state) is NULL
    # on both engines instead of a fabricated 0.0
    m1 = F.try_divide(
        F.aggregate(F.slice("xs", 1, 7), F.lit(0.0), lambda a, x: a + x),
        F.size(F.slice("xs", 1, 7)),
    )
    m2 = F.try_divide(
        F.aggregate(F.slice("xs", 8, 7), F.lit(0.0), lambda a, x: a + x),
        F.size(F.slice("xs", 8, 7)),
    )
    init = packed.select(
        "xs",
        m1.alias("m1"),
        m2.alias("m2"),
        F.size("xs").cast("long").alias("n_days"),
    ).select(
        "n_days",
        F.slice(
            F.transform("xs", lambda x: x - F.col("m1")), 1, 7
        ).alias("s0"),
        F.col("m2").alias("l0"),
        ((F.col("m2") - F.col("m1")) / 7).alias("b0"),
        F.slice("xs", 15, 1000000).alias("rest"),
    )
    mseq = lambda t: ((t - 1) % 7 + 1).cast("integer")  # noqa: E731

    def step(acc, x):
        t = acc["t"] + 1
        m = mseq(t)
        sm = F.element_at(acc["s"], m)
        lnew = F.lit(0.2) * (x - sm) + F.lit(0.8) * (acc["l"] + acc["b"])
        bnew = F.lit(0.05) * (lnew - acc["l"]) + F.lit(0.95) * acc["b"]
        snew = F.transform(
            acc["s"],
            lambda sj, j: F.when(
                (j + 1) == m,
                F.lit(0.1) * (x - lnew) + F.lit(0.9) * sj,
            ).otherwise(sj),
        )
        return F.named_struct(
            F.lit("l"), lnew,
            F.lit("b"), bnew,
            F.lit("s"), snew,
            F.lit("t"), t,
        )

    folded = init.select(
        "n_days",
        F.aggregate(
            F.col("rest"),
            F.named_struct(
                F.lit("l"), F.col("l0"),
                F.lit("b"), F.col("b0"),
                F.lit("s"), F.col("s0"),
                F.lit("t"), F.lit(14).cast("long"),
            ),
            step,
        ).alias("st"),
    )
    nxt = (F.col("st.t") % 7 + 1).cast("integer")
    # CASE-guard the state outputs on a nonempty series: on a ZERO-ROW
    # slice the seasonal array is empty (element_at would be an ANSI
    # index error) and the oracle's init averages are NULL, so every
    # milli column reads NULL; n_days deliberately stays st.t — the
    # oracle's recursion base pins rn = 14 even over an empty idx, and
    # both engines agree on that init artifact.  Values are identical
    # whenever the input has rows (the fixture's multi-year calendars).
    has = F.col("n_days") > 0
    return folded.select(
        F.col("st.t").alias("n_days"),
        F.when(has, half_up(F.col("st.l") * 1000)).alias("level_milli"),
        F.when(has, half_up(F.col("st.b") * 1000)).alias("trend_milli"),
        F.when(has, half_up(F.element_at(F.col("st.s"), nxt) * 1000))
        .alias("next_season_milli"),
        F.when(
            has,
            half_up(
                (F.col("st.l") + F.col("st.b") + F.element_at(F.col("st.s"), nxt))
                * 1000
            ),
        ).alias("forecast_milli"),
    )
