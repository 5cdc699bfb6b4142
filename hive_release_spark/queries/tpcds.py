"""TPC-DS-shaped plan-quality workloads (SURVEY.md §5.3: the reference's
suite corpus is TPC-DS/TPC-H style; columns here limited to the driver
schema — VERDICT r3 "Next round" #8).

The point of this family is PLAN shape, not new operator surface: each
query has a naive formulation that multiplies fact scans (N subqueries /
a self-join / a correlated re-read) and a single-scan formulation this
module pins — the difference between 8× and 1× of a 100 TB scan.

* ``ds_time_bucket_counts`` — TPC-DS q88 shape: 8 time-bucket counts
  that the spec writes as 8 self-joined subqueries, expressed as ONE
  scan with conditional aggregation.
* ``ds_frequent_buyers`` — q73/q34 shape: per-customer order counts
  with a HAVING band, joined back to the dimension; one fact scan +
  one broadcast of the (post-HAVING, tiny) aggregate.
* ``ds_week_over_week`` — q59 shape: week-over-week revenue that the
  spec writes as a year-offset self-join of the weekly aggregate,
  expressed as a lag window over ONE aggregated frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions.numeric import half_up, is_finite
from hive_release_spark.operators.topk import bounded_sort, global_topk
from hive_release_spark.queries.registry import register


@register(
    "ds_time_bucket_counts",
    oracle="""
    SELECT count(CASE WHEN h BETWEEN  0 AND  2 THEN 1 END) AS h00_02,
           count(CASE WHEN h BETWEEN  3 AND  5 THEN 1 END) AS h03_05,
           count(CASE WHEN h BETWEEN  6 AND  8 THEN 1 END) AS h06_08,
           count(CASE WHEN h BETWEEN  9 AND 11 THEN 1 END) AS h09_11,
           count(CASE WHEN h BETWEEN 12 AND 14 THEN 1 END) AS h12_14,
           count(CASE WHEN h BETWEEN 15 AND 17 THEN 1 END) AS h15_17,
           count(CASE WHEN h BETWEEN 18 AND 20 THEN 1 END) AS h18_20,
           count(CASE WHEN h BETWEEN 21 AND 23 THEN 1 END) AS h21_23
    FROM (SELECT extract('hour' FROM ts) AS h
          FROM events WHERE event_type = 'purchase' AND value >= 10)
    """,
)
def ds_time_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q88 shape: the spec's 8 cross-joined single-bucket
    subqueries (8 fact scans) collapsed into one scan + 8 conditional
    counts — the canonical multi-channel scan-reuse rewrite. Plan-pinned
    to exactly one events scan (tests/test_plans.py)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("value") >= 10)
    )
    h = F.hour("ts")

    def bucket(lo: int, hi: int, alias: str):
        return F.count(F.when(h.between(lo, hi), 1)).alias(alias)

    return ev.agg(
        bucket(0, 2, "h00_02"),
        bucket(3, 5, "h03_05"),
        bucket(6, 8, "h06_08"),
        bucket(9, 11, "h09_11"),
        bucket(12, 14, "h12_14"),
        bucket(15, 17, "h15_17"),
        bucket(18, 20, "h18_20"),
        bucket(21, 23, "h21_23"),
    )


@register(
    "ds_frequent_buyers",
    oracle="""
    WITH freq AS (
      SELECT o_custkey, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS total_spend
      FROM orders GROUP BY o_custkey HAVING count(*) BETWEEN 8 AND 40
    )
    SELECT c.c_custkey, c.c_name, c.c_mktsegment, f.n_orders, f.total_spend
    FROM freq f JOIN customer c ON c.c_custkey = f.o_custkey
    ORDER BY f.n_orders DESC, c.c_custkey
    LIMIT 100
    """,
)
def ds_frequent_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q73/q34 shape: per-customer fact counts banded by HAVING,
    joined back to the customer dimension for attributes. One orders
    scan; the post-HAVING aggregate is orders-of-magnitude smaller than
    the fact, so IT broadcasts into the dimension join (never the
    reverse — customer scales with SF). Top-k with a unique tie-break."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    freq = (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
        .filter(F.col("n_orders").between(8, 40))
    )
    return (
        c.join(F.broadcast(freq), c.c_custkey == freq.o_custkey)
        .select("c_custkey", "c_name", "c_mktsegment", "n_orders", "total_spend")
        .orderBy(F.col("n_orders").desc(), "c_custkey")
        .limit(100)
    )


@register(
    "ds_week_over_week",
    oracle="""
    WITH weekly AS (
      SELECT CAST(date_trunc('week', l_shipdate) AS TIMESTAMP) AS week_start,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1
    )
    SELECT week_start, revenue,
           lag(revenue) OVER (ORDER BY week_start) AS prev_revenue,
           round(revenue / lag(revenue) OVER (ORDER BY week_start), 4) AS wow
    FROM weekly
    ORDER BY week_start
    """,
)
def ds_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q59 shape: week-over-week revenue comparison. The spec
    formulates this as a self-join of the weekly aggregate against its
    date-shifted twin (two derivations of the same scan); a lag window
    over ONE aggregated frame is equivalent and halves the work — and
    the window runs on ~52 rows/year, not the fact. Plan-pinned to one
    lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    weekly = (
        li.groupBy(F.date_trunc("week", "l_shipdate").alias("week_start"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )
    w = W.orderBy("week_start")
    return (
        weekly.withColumn("prev_revenue", F.lag("revenue").over(w))
        .withColumn("wow", F.round(F.col("revenue") / F.col("prev_revenue"), 4))
        .orderBy("week_start")
    )


@register(
    "ds_topk_per_group",
    oracle="""
    WITH monthly AS (
      SELECT l_returnflag, date_trunc('month', l_shipdate) AS month_start,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, CAST(month_start AS TIMESTAMP) AS month_start,
           revenue, rk
    FROM (SELECT l_returnflag, month_start, revenue,
                 row_number() OVER (PARTITION BY l_returnflag
                     ORDER BY revenue DESC, month_start) AS rk
          FROM monthly)
    WHERE rk <= 3
    ORDER BY l_returnflag, rk
    """,
)
def ds_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q67 shape: best-3 revenue months per return flag — rank
    over an aggregate, filtered to k. The plan matters: Spark's
    WindowGroupLimit rewrites rank<=k into a per-partition top-k BEFORE
    the window exchange (partial limit map-side), so the shuffle carries
    ≤ k rows per group per partition instead of every aggregated row —
    plan-pinned in tests/test_plans.py. Unique tie-break (month_start)
    keeps the row set deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = (
        li.groupBy(
            "l_returnflag", F.date_trunc("month", "l_shipdate").alias("month_start")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = W.partitionBy("l_returnflag").orderBy(F.col("revenue").desc(), "month_start")
    return (
        monthly.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("l_returnflag", "rk")
    )


@register(
    "ds_year_over_year_spend",
    oracle="""
    SELECT o_custkey,
           round(sum(CASE WHEN extract('year' FROM o_orderdate) = 1996
                          THEN o_totalprice ELSE 0 END), 2) AS spend_1996,
           round(sum(CASE WHEN extract('year' FROM o_orderdate) = 1997
                          THEN o_totalprice ELSE 0 END), 2) AS spend_1997
    FROM orders
    WHERE extract('year' FROM o_orderdate) IN (1996, 1997)
    GROUP BY o_custkey
    HAVING sum(CASE WHEN extract('year' FROM o_orderdate) = 1996
                    THEN o_totalprice ELSE 0 END) > 0
       AND sum(CASE WHEN extract('year' FROM o_orderdate) = 1997
                    THEN o_totalprice ELSE 0 END)
         > sum(CASE WHEN extract('year' FROM o_orderdate) = 1996
                    THEN o_totalprice ELSE 0 END)
    ORDER BY o_custkey
    """,
)
def ds_year_over_year_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q74/q11 shape: customers whose spend grew year-over-year.
    The spec formulates this as two per-year CTEs self-joined on the
    customer key — two derivations of the same fact scan plus a join
    exchange; conditional aggregation computes both years in ONE scan
    and one groupBy, with the growth predicate as HAVING. Plan-pinned
    single orders scan."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1996, 1997)
    )
    spend = lambda yr: F.round(  # noqa: E731
        F.sum(F.when(F.year("o_orderdate") == yr, F.col("o_totalprice")).otherwise(0.0)),
        2,
    )
    return (
        o.groupBy("o_custkey")
        .agg(spend(1996).alias("spend_1996"), spend(1997).alias("spend_1997"))
        .filter((F.col("spend_1996") > 0) & (F.col("spend_1997") > F.col("spend_1996")))
        .orderBy("o_custkey")
    )


@register(
    "ds_channel_rollup",
    oracle="""
    WITH u AS (
      SELECT 'orders' AS channel,
             strftime(o_orderdate, '%Y-%m') AS mon,
             o_totalprice AS amount
      FROM orders
      UNION ALL
      SELECT 'returns' AS channel,
             strftime(l_shipdate, '%Y-%m') AS mon,
             l_extendedprice AS amount
      FROM lineitem WHERE l_returnflag = 'R')
    SELECT channel, mon,
           count(*) AS n_rows, round(sum(amount), 2) AS amount
    FROM u GROUP BY GROUPING SETS ((channel, mon), (channel), ())
    ORDER BY channel NULLS FIRST, mon NULLS FIRST
    """,
)
def ds_channel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q5/q77 shape: per-channel revenue rolled up across a
    UNION of heterogeneous fact sources (here: order intake vs returned
    line items), with grouping sets producing the per-(channel, month),
    per-channel, and grand-total levels in ONE pass. The spec idiom
    computes each channel's rollup separately and unions the
    aggregates; this form unions the (pruned, pre-projected) detail
    streams and lets a single Expand + partial agg serve every level —
    each fact is scanned once, and the union adds no shuffle (it is a
    physical concatenation). Both scans carry their filters/projections
    down (returns channel prunes on l_returnflag at the parquet scan).
    The month key is a string: a DATE-typed NULL rollup key reaches the
    driver's pandas canon as NaT while DuckDB's reaches it as None —
    same value, different representation (the r3 lesson class).
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.lit("orders").alias("channel"),
        F.date_format("o_orderdate", "yyyy-MM").alias("mon"),
        F.col("o_totalprice").alias("amount"),
    )
    r = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(
            F.lit("returns").alias("channel"),
            F.date_format("l_shipdate", "yyyy-MM").alias("mon"),
            F.col("l_extendedprice").alias("amount"),
        )
    )
    # two channels × months, plus the rollup rows
    return bounded_sort(
        o.unionByName(r)
        .groupingSets(
            [["channel", "mon"], ["channel"], []], "channel", "mon"
        )
        .agg(F.count("*").alias("n_rows"), F.round(F.sum("amount"), 2).alias("amount")),
        F.col("channel").asc_nulls_first(), F.col("mon").asc_nulls_first(),
    )


@register(
    "ds_late_delivery_chain",
    oracle="""
    SELECT p.p_brand, n.n_name,
           CAST(count(CASE WHEN l.l_shipdate > o.o_orderdate
                                + INTERVAL 30 DAY THEN 1 END)
                AS BIGINT) AS n_late,
           count(*) AS n_lines,
           round(count(CASE WHEN l.l_shipdate > o.o_orderdate
                                 + INTERVAL 30 DAY THEN 1 END)
                 * 1.0 / count(*), 4) AS late_ratio
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
                   AND extract('year' FROM o.o_orderdate) = 1997
    JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_size < 20
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def ds_late_delivery_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q72 shape (VERDICT r4 stretch #8): the fact riding a
    CHAIN of dimension joins with selective filters on three of them
    (order year, part size, region), counting late deliveries
    (ship > order + 30d). The 100 TB discipline the plan pins
    (tests/test_plans.py): exactly ONE shuffle-worthy join — the
    fact-fact lineitem⋈orders on orderkey — while part, supplier,
    nation, and region all ride BroadcastHashJoins (q72's spec plan
    degrades catastrophically when the optimizer shuffles the dim
    chain); the dim filters apply BEFORE their joins so broadcast
    sizes shrink; and the late/total counts are conditional aggregates
    over the joined frame, not a second pass. Column pruning keeps the
    fact scan at 4 columns."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_shipdate"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1997)
        .select("o_orderkey", "o_orderdate")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") < 20)
        .select("p_partkey", "p_brand")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 30 DAYS"
    )
    # brands × the region's nations
    return bounded_sort(
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("p_brand", "n_name")
        .agg(
            F.count(F.when(late, 1)).alias("n_late"),
            F.count("*").alias("n_lines"),
            F.round(
                F.count(F.when(late, 1)) * 1.0 / F.count("*"), 4
            ).alias("late_ratio"),
        ),
        "p_brand", "n_name",
    )


@register(
    "ds_spend_growth_pairs",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, extract('year' FROM o_orderdate) AS y,
             sum(o_totalprice) AS spend
      FROM orders GROUP BY 1, 2
    )
    SELECT CAST(a.y AS BIGINT) AS y1, CAST(b.y AS BIGINT) AS y2,
           count(*) AS n_customers,
           round(avg(b.spend / a.spend), 4) AS avg_growth
    FROM spend a
    JOIN spend b ON a.o_custkey = b.o_custkey AND b.y > a.y
                AND b.spend >= 1.5 * a.spend
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def ds_spend_growth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q64 shape (VERDICT r4 stretch #8): a multi-pass CTE —
    the per-(customer, year) spend frame is computed ONCE and
    self-joined across year PAIRS (every y2 > y1 with spend growth
    ≥ 1.5×, not just adjacent years — which is why the q74-style lag
    window used by `ds_year_over_year_spend` cannot express it; the
    pair join is genuinely needed). The 100 TB discipline: the CTE is
    persisted, so orders is scanned ONCE and both join inputs are
    InMemoryTableScans of the aggregated (cust × year) frame — the
    spec's naive plan recomputes the CTE per reference, i.e. 2 fact
    scans; the growth condition rides the join, and the output is the
    compact per-(y1, y2) cohort summary, not the pair blow-up. The
    persisted frame is |cust|×|years|, 3 orders of magnitude smaller
    than the fact."""
    from pyspark import StorageLevel

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey", F.year("o_orderdate").cast("long").alias("y")
        )
        .agg(F.sum("o_totalprice").alias("spend"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = spend.select(
        F.col("o_custkey").alias("ck"),
        F.col("y").alias("y1"),
        F.col("spend").alias("s1"),
    )
    b = spend.select(
        F.col("o_custkey").alias("ck2"),
        F.col("y").alias("y2"),
        F.col("spend").alias("s2"),
    )
    # one row per pair of order years
    return bounded_sort(
        a.join(
            b,
            (F.col("ck") == F.col("ck2"))
            & (F.col("y2") > F.col("y1"))
            & (F.col("s2") >= 1.5 * F.col("s1")),
        )
        .groupBy("y1", "y2")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg(F.col("s2") / F.col("s1")), 4).alias(
                "avg_growth"
            ),
        ),
        "y1", "y2",
    )


@register(
    "ds_hierarchy_rank",
    oracle="""
    WITH agg AS (
      SELECT n.n_name, c.c_mktsegment AS seg,
             CAST(GROUPING(n.n_name) + GROUPING(c.c_mktsegment)
                  AS BIGINT) AS lochierarchy,
             round(sum(o.o_totalprice), 2) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    )
    SELECT lochierarchy, n_name, seg, revenue,
           CAST(rank() OVER (
             PARTITION BY lochierarchy,
                          CASE WHEN lochierarchy = 0 THEN n_name END
             ORDER BY revenue DESC,
                      n_name ASC NULLS FIRST, seg ASC NULLS FIRST
           ) AS BIGINT) AS rank_in_parent
    FROM agg
    ORDER BY lochierarchy DESC, n_name NULLS FIRST, seg NULLS FIRST
    """,
)
def ds_hierarchy_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q36 shape (VERDICT r4 stretch #8): gross-revenue ranking
    WITHIN each level of a rollup hierarchy — segments ranked within
    their nation, nations ranked among themselves, one grand-total row
    — via rank() partitioned by (lochierarchy, parent key), where
    lochierarchy = grouping(n_name) + grouping(seg) (the exact q36
    idiom). Plan shape: ONE orders scan feeds Expand (3 rollup levels)
    → partial/final agg → a single window over the aggregated frame
    (dim-cardinality rows, trivially small at any SF); customer and
    nation ride broadcasts. Tie-breaks and NULL ordering are spelled
    out on both engines: Spark windows default NULLS FIRST ASC like
    Hive, DuckDB defaults the opposite, so the oracle pins them
    explicitly (the sort_null_ordering lesson)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    agg = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.col("c_mktsegment").alias("seg"),
            "o_totalprice",
        )
        .rollup("n_name", "seg")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            (F.grouping("n_name") + F.grouping("seg"))
            .cast("long")
            .alias("lochierarchy"),
        )
        .select("n_name", "seg", "lochierarchy", "revenue")
    )
    w = W.partitionBy(
        "lochierarchy",
        F.when(F.col("lochierarchy") == 0, F.col("n_name")),
    ).orderBy(
        F.col("revenue").desc(),
        F.col("n_name").asc_nulls_first(),
        F.col("seg").asc_nulls_first(),
    )
    return agg.select(
        "lochierarchy",
        "n_name",
        "seg",
        "revenue",
        F.rank().over(w).cast("long").alias("rank_in_parent"),
    ).orderBy(
        F.col("lochierarchy").desc(),
        F.col("n_name").asc_nulls_first(),
        F.col("seg").asc_nulls_first(),
    )


@register(
    "ds_worst_return_ratios",
    oracle="""
    WITH p AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                      THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS qty_ret,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_tot,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS amt_ret,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS amt_tot
      -- listwise deletion (r11 finite wave 2): a line with a
      -- non-finite quantity or amount carries no return measurement
      FROM lineitem
      WHERE isfinite(l_quantity) AND isfinite(l_extendedprice)
      GROUP BY 1
      HAVING count(*) >= 5),
    r AS (
      SELECT l_partkey,
             CAST(qty_ret AS DOUBLE) / qty_tot AS qty_ratio,
             CAST(amt_ret AS DOUBLE) / amt_tot AS amt_ratio,
             n_lines
      FROM p),
    rk AS (
      SELECT *,
             row_number() OVER (ORDER BY qty_ratio DESC, l_partkey)
               AS qty_rank,
             row_number() OVER (ORDER BY amt_ratio DESC, l_partkey)
               AS amt_rank
      FROM r)
    SELECT l_partkey, n_lines,
           round(qty_ratio, 6) AS qty_ratio,
           round(amt_ratio, 6) AS amt_ratio,
           qty_rank, amt_rank
    FROM rk WHERE qty_rank <= 10 OR amt_rank <= 10
    ORDER BY l_partkey
    """,
)
def ds_worst_return_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q49 shape — "worst return ratios": rank items by
    returned-to-sold ratio on BOTH the quantity and the currency axis,
    keep anything in either top-10.  The spec text computes the two
    rankings as separate channel subqueries UNIONed; the single-scan
    formulation pins one fact pass producing all four sums as
    conditional aggregates (returnflag = 'R' is the returns event in
    this schema), then runs both rank windows over the post-HAVING
    PART-grain frame — the fact is read once, the windows never see a
    fact row.  A >= 5-lines support floor keeps one-line parts from
    monopolizing the top of the ratio ranking (q49's AVG-window
    bound plays this role in the spec).  Quantities are integral and
    amounts ride as cents, so both ratios divide exact BIGINTs and
    the ranking order is engine-exact (ties broken by partkey)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        # listwise deletion (r11 finite wave 2) — see oracle note
        is_finite("l_quantity") & is_finite("l_extendedprice")
    )
    ret = F.col("l_returnflag") == "R"
    qty = F.col("l_quantity").cast("long")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    p = (
        li.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(ret, qty).otherwise(0)).alias("qty_ret"),
            F.sum(qty).alias("qty_tot"),
            F.sum(F.when(ret, cents).otherwise(0)).alias("amt_ret"),
            F.sum(cents).alias("amt_tot"),
        )
        .filter(F.col("n_lines") >= 5)
    )
    r = p.select(
        "l_partkey",
        "n_lines",
        (F.col("qty_ret").cast("double") / F.col("qty_tot")).alias(
            "qty_ratio"
        ),
        (F.col("amt_ret").cast("double") / F.col("amt_tot")).alias(
            "amt_ratio"
        ),
    )
    rk = r.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.desc("qty_ratio"), "l_partkey"))
        .alias("qty_rank"),
        F.row_number()
        .over(W.orderBy(F.desc("amt_ratio"), "l_partkey"))
        .alias("amt_rank"),
    )
    return (
        rk.filter((F.col("qty_rank") <= 10) | (F.col("amt_rank") <= 10))
        .select(
            "l_partkey",
            "n_lines",
            F.round("qty_ratio", 6).alias("qty_ratio"),
            F.round("amt_ratio", 6).alias("amt_ratio"),
            "qty_rank",
            "amt_rank",
        )
        .orderBy("l_partkey")
    )


@register(
    "ds_sales_deviation_rank",
    oracle="""
    WITH m AS (
      SELECT p.p_brand AS brand,
             CAST(date_trunc('month', l.l_shipdate) AS DATE) AS month,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      -- non-finite amounts carry no sales measurement (r11)
      WHERE isfinite(l.l_extendedprice)
      GROUP BY 1, 2),
    w AS (
      SELECT brand, month, cents,
             CAST(sum(cents) OVER (PARTITION BY brand, year(month))
                  AS BIGINT) AS yr_cents,
             CAST(count(*) OVER (PARTITION BY brand, year(month))
                  AS BIGINT) AS yr_months,
             lag(cents) OVER (PARTITION BY brand ORDER BY month)
               AS prev_cents,
             lead(cents) OVER (PARTITION BY brand ORDER BY month)
               AS next_cents
      FROM m),
    d AS (
      SELECT *,
             abs(cents - CAST(yr_cents AS DOUBLE) / yr_months)
               / (CAST(yr_cents AS DOUBLE) / yr_months) AS deviation
      FROM w WHERE yr_months >= 3)
    SELECT brand, month, round(cents / 100.0, 2) AS sales,
           round(deviation, 6) AS deviation,
           round(coalesce(prev_cents, 0) / 100.0, 2) AS prev_sales,
           round(coalesce(next_cents, 0) / 100.0, 2) AS next_sales,
           rk
    FROM (SELECT *, row_number() OVER
            (ORDER BY deviation DESC, brand, month) AS rk FROM d)
    WHERE rk <= 15 ORDER BY rk
    """,
)
def ds_sales_deviation_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q47 shape — largest monthly deviations from the yearly
    brand average, reported with the neighboring months' sales for
    context.  The spec formulation self-joins the monthly CTE THREE
    times (v1, v1_lag, v1_lead on consecutive months); the single-
    scan rewrite pins one fact pass to brand-month grain, then ALL
    FOUR derived quantities — yearly average (a partition window),
    both neighbors (lag/lead), and the deviation rank — as windows
    over that frame: the 3x CTE self-join collapses into window
    functions sharing the brand partitioning.  The >= 3-months guard
    mirrors q47's full-year filter at this fixture's calendar span.
    Part dim broadcasts; cents exact; rank tie-broken on (brand,
    month)."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    m = (
        # non-finite amounts carry no sales measurement (r11)
        li.where(is_finite("l_extendedprice"))
        .join(F.broadcast(pt), "l_partkey")
        .groupBy(
            "brand", F.trunc("l_shipdate", "month").alias("month")
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    wy = W.partitionBy("brand", F.year("month"))
    wm = W.partitionBy("brand").orderBy("month")
    w = m.select(
        "brand",
        "month",
        "cents",
        F.sum("cents").over(wy).alias("yr_cents"),
        F.count("*").over(wy).alias("yr_months"),
        F.lag("cents").over(wm).alias("prev_cents"),
        F.lead("cents").over(wm).alias("next_cents"),
    ).filter(F.col("yr_months") >= 3)
    avg_m = F.col("yr_cents").cast("double") / F.col("yr_months")
    d = w.withColumn("deviation", F.abs(F.col("cents") - avg_m) / avg_m)
    return (
        global_topk(d, 15, F.desc("deviation"), "brand", "month")
        .select(
            "brand",
            "month",
            F.round(F.col("cents") / 100.0, 2).alias("sales"),
            F.round("deviation", 6).alias("deviation"),
            F.round(F.coalesce(F.col("prev_cents"), F.lit(0)) / 100.0, 2).alias(
                "prev_sales"
            ),
            F.round(F.coalesce(F.col("next_cents"), F.lit(0)) / 100.0, 2).alias(
                "next_sales"
            ),
            "rk",
        )
        .orderBy("rk")
    )


@register(
    "ds_returns_adjusted_spend",
    oracle="""
    WITH net AS (
      SELECT l_orderkey,
             CAST(sum(CASE WHEN l_returnflag <> 'R'
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS net_cents,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS gross_cents,
             CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT)
               AS ret_lines
      -- non-finite amounts carry no spend measurement (r11)
      FROM lineitem WHERE isfinite(l_extendedprice) GROUP BY 1),
    c AS (
      SELECT o.o_custkey,
             CAST(sum(net_cents) AS BIGINT) AS net_cents,
             CAST(sum(gross_cents) AS BIGINT) AS gross_cents,
             CAST(sum(ret_lines) AS BIGINT) AS returned_lines
      FROM orders o JOIN net ON o.o_orderkey = net.l_orderkey
      GROUP BY 1)
    SELECT o_custkey, net_cents, gross_cents, returned_lines,
           CAST(row_number() OVER (ORDER BY net_cents DESC, o_custkey)
                AS BIGINT) AS rn
    FROM c ORDER BY rn LIMIT 10
    """,
)
def ds_returns_adjusted_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q93 shape (VERDICT r5 stretch #8) — "returns-adjusted
    sales": each customer's spend counted NET of returned items.  The
    spec joins store_sales to store_returns per (item, ticket) — a
    fact-FACT join whose returns side re-reads a second fact table;
    in this schema the returns ledger is folded into the fact
    (l_returnflag), so the net/gross/returned splits are conditional
    aggregates of ONE lineitem scan collapsed to order grain, and the
    only remaining fact-fact work is the natural lineitem⋈orders
    orderkey shuffle to reach customer grain.  Plan-pinned: each fact
    scanned exactly once (the spec plan reads sales twice).  Money
    rides as exact BIGINT cents end-to-end; top-10 with the custkey
    tie-break."""
    li = load_table(spark, sf_dir, "lineitem").where(
        # non-finite amounts carry no spend measurement (r11)
        is_finite("l_extendedprice")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    net = li.groupBy("l_orderkey").agg(
        F.sum(
            F.when(F.col("l_returnflag") != "R", cents).otherwise(0)
        ).alias("net_cents"),
        F.sum(cents).alias("gross_cents"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("ret_lines"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = (
        o.join(net, o.o_orderkey == net.l_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum("net_cents").alias("net_cents"),
            F.sum("gross_cents").alias("gross_cents"),
            F.sum("ret_lines").alias("returned_lines"),
        )
    )
    w = W.orderBy(F.col("net_cents").desc(), "o_custkey")
    return (
        c.select(
            "o_custkey",
            "net_cents",
            "gross_cents",
            "returned_lines",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 10)
        .orderBy("rn")
    )


@register(
    "ds_three_channel_ratio",
    oracle="""
    WITH ln AS (
      SELECT l_orderkey, l_suppkey % 3 AS channel,
             CAST(l_quantity AS BIGINT) AS qty
      -- non-finite quantities carry no channel signal (r11)
      FROM lineitem WHERE l_returnflag <> 'R'
        AND isfinite(l_quantity)),
    j AS (
      SELECT o.o_custkey,
             CAST(extract('year' FROM o.o_orderdate) AS BIGINT) AS yr,
             ln.channel, ln.qty
      FROM ln JOIN orders o ON ln.l_orderkey = o.o_orderkey),
    g AS (
      SELECT o_custkey, yr,
             CAST(sum(CASE WHEN channel = 0 THEN qty ELSE 0 END)
                  AS BIGINT) AS ch0_qty,
             CAST(sum(CASE WHEN channel = 1 THEN qty ELSE 0 END)
                  AS BIGINT) AS ch1_qty,
             CAST(sum(CASE WHEN channel = 2 THEN qty ELSE 0 END)
                  AS BIGINT) AS ch2_qty
      FROM j GROUP BY 1, 2
      HAVING ch0_qty > 0 AND (ch1_qty + ch2_qty) > 0)
    SELECT o_custkey, yr, ch0_qty, ch1_qty, ch2_qty,
           CAST(floor(CAST(ch0_qty AS DOUBLE) / (ch1_qty + ch2_qty)
                      * 1000000 + 0.5) AS BIGINT) AS ratio_micro,
           rn
    FROM (SELECT *, CAST(row_number() OVER (
            ORDER BY CAST(ch0_qty AS DOUBLE) / (ch1_qty + ch2_qty) DESC,
                     o_custkey, yr) AS BIGINT) AS rn
          FROM g)
    WHERE rn <= 20 ORDER BY rn
    """,
)
def ds_three_channel_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q78 shape (VERDICT r5 stretch #8) — per-customer-year
    cross-channel quantity ratio over UNRETURNED sales.  The spec
    computes three per-channel CTEs, each "sales LEFT JOIN returns
    WHERE return IS NULL" (an anti join), then FULL-joins the three —
    six fact reads and three anti-join exchanges; here the channels
    (the l_suppkey%3 split standing in for store/web/catalog) and the
    anti-join (the folded returns ledger: l_returnflag <> 'R') are a
    FILTER plus conditional aggregates over ONE lineitem scan, joined
    once to orders for the customer-year key — the 6-scan plan
    collapses to 2 scans and one fact-fact shuffle.  Quantities are
    integral, so the channel ratio divides exact BIGINTs (one micro
    fold) and the top-20 ranking is engine-exact with the
    (custkey, yr) tie-break."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        # non-finite quantities carry no channel signal (r11)
        (F.col("l_returnflag") != "R") & is_finite("l_quantity")
    )
    ln = li.select(
        "l_orderkey",
        (F.col("l_suppkey") % 3).alias("channel"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.year("o_orderdate").cast("long").alias("yr"),
    )
    ch = lambda c: F.sum(  # noqa: E731
        F.when(F.col("channel") == c, F.col("qty")).otherwise(0)
    )
    g = (
        ln.join(o, ln.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "yr")
        .agg(
            ch(0).alias("ch0_qty"),
            ch(1).alias("ch1_qty"),
            ch(2).alias("ch2_qty"),
        )
        .filter(
            (F.col("ch0_qty") > 0)
            & ((F.col("ch1_qty") + F.col("ch2_qty")) > 0)
        )
    )
    ratio = F.col("ch0_qty").cast("double") / (
        F.col("ch1_qty") + F.col("ch2_qty")
    )
    w = W.orderBy(ratio.desc(), "o_custkey", "yr")
    return (
        g.select(
            "o_custkey",
            "yr",
            "ch0_qty",
            "ch1_qty",
            "ch2_qty",
            half_up(ratio * 1000000).alias("ratio_micro"),
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 20)
        .orderBy("rn")
    )
