"""Window functions / PTF (SURVEY.md §2.D).

Hive counterparts: PTFOperator + WindowingTableFunction (upstream
``ql/exec/PTFOperator.java``, ``ql/udf/ptf/WindowingTableFunction.java``),
ranking/navigation UDAFs ``GenericUDAF{RowNumber,Rank,DenseRank,
PercentRank,CumeDist,NTile,Lead,Lag,FirstValue,LastValue}``, frame model
``ql/plan/ptf/WindowFrameDef`` with ROWS (TOK_WINDOWRANGE) and value-based
RANGE (TOK_WINDOWVALUES) boundaries.

Spark: ``Window.partitionBy().orderBy()`` + ``rowsBetween``/``rangeBetween``
— WindowExec sorts within partitions after a hash exchange on the partition
keys; at scale the partition key (suppkey/custkey) must be high-cardinality,
which these are.

Determinism: every ORDER BY includes a unique tie-break key; frame sums use
either integral doubles (exact) or 2-decimal money (true value never sits
on a rounding boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.functions.numeric import finite, half_up, is_finite
from hive_release_spark.queries.registry import register


@register(
    "window_ranking",
    oracle="""
    SELECT c_custkey,
           row_number()   OVER w AS rn,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           percent_rank() OVER w AS prnk,
           cume_dist()    OVER w AS cdist,
           ntile(4)       OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ranking family over a partitioned, uniquely-ordered window."""
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return cust.select(
        "c_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "window_lead_lag",
    oracle="""
    SELECT o_orderkey,
           lag(o_totalprice, 1, 0.0)  OVER w AS prev_price,
           lead(o_totalprice, 1, 0.0) OVER w AS next_price,
           lag(o_orderkey, 2)         OVER w AS prev2_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag with offset + default (Hive GenericUDAF{Lead,Lag})."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.lag("o_totalprice", 1, 0.0).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1, 0.0).over(w).alias("next_price"),
        F.lag("o_orderkey", 2).over(w).alias("prev2_key"),
    )


@register(
    "window_rows_frame",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           sum(l_quantity) OVER w3 AS qty_3row,
           count(*) OVER wu AS running_n,
           round(sum(l_extendedprice) OVER wu, 2) AS running_price
    FROM lineitem
    WINDOW w3 AS (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
                           l_quantity, l_extendedprice
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
           wu AS (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
                           l_quantity, l_extendedprice
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def window_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frames: sliding 3-row sum + running totals (Hive WindowFrameDef
    ROWS boundaries).

    Determinism: the driver fixture's lineitem is NOT unique on
    (l_orderkey, l_linenumber) — at sf0.1 one pair of rows even ties on
    the full (suppkey, shipdate, orderkey, linenumber) key with
    different quantities, which made the 3-row frame sum flip between
    runs (caught by the r4 end-of-round sweep, intermittent 66-vs-69).
    The ORDER BY therefore extends to l_partkey and, decisively, the
    summed measures themselves (l_quantity, l_extendedprice): any rows
    still tying under the full key carry equal measures, so every frame
    SUM is tie-order-invariant by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    order = [
        F.col("l_shipdate"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_partkey"),
        F.col("l_quantity"),
        F.col("l_extendedprice"),
    ]
    w = W.partitionBy("l_suppkey").orderBy(*order)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(w.rowsBetween(-2, 0)).alias("qty_3row"),
        F.count("*").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("running_n"),
        F.round(
            F.sum("l_extendedprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2
        ).alias("running_price"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey,
           count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                          RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1k,
           round(sum(o_totalprice) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                          RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW), 2) AS sum_within_1k
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame (Hive TOK_WINDOWVALUES + ValueBoundaryScanner
    family — numeric scanner)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, W.currentRow)
    )
    return orders.select(
        "o_orderkey",
        F.count("*").over(w).alias("n_within_1k"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_within_1k"),
    )


@register(
    "window_range_interval",
    oracle="""
    SELECT event_id,
           count(*) OVER w AS n_last_hour,
           round(sum(value) OVER w, 2) AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-interval RANGE frame (Hive ValueBoundaryScanner's timestamp
    scanner — SURVEY.md §2.D): per-user trailing-1-hour running
    count/sum over event time. This is the per-ROW sliding aggregate
    (every event sees its own trailing window) that ``window()``'s
    fixed bucket grid can't express — the other half of §2.K's sliding
    windows. One exchange on user_id; frame state is bounded by one
    hour of one user's events at any scale."""
    # the Python Window DSL's rangeBetween is numeric-only; the interval
    # frame goes through SQL expressions (no temp-view side effects)
    events = load_table(spark, sf_dir, "events")
    over = (
        "OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
    )
    return events.select(
        "event_id",
        F.expr(f"count(*) {over}").alias("n_last_hour"),
        F.expr(f"round(sum(value) {over}, 2)").alias("sum_last_hour"),
    ).orderBy("event_id")


@register(
    "window_first_last",
    oracle="""
    SELECT s_suppkey,
           first_value(s_name) OVER w AS richest,
           last_value(s_name)  OVER w AS poorest,
           nth_value(s_name, 2) OVER w AS runner_up
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value/nth_value over the full-partition frame (Hive
    GenericUDAF{FirstValue,LastValue})."""
    supp = load_table(spark, sf_dir, "supplier")
    w = (
        W.partitionBy("s_nationkey")
        .orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return supp.select(
        "s_suppkey",
        F.first("s_name").over(w).alias("richest"),
        F.last("s_name").over(w).alias("poorest"),
        F.nth_value("s_name", 2).over(w).alias("runner_up"),
    )


@register(
    "window_share_of_total",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice / sum(o_totalprice) OVER (PARTITION BY o_custkey), 6)
             AS share_of_cust,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS cust_total,
           count(*) OVER (PARTITION BY o_custkey) AS cust_n
    FROM orders
    """,
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary UDAF over an unordered window (Hive reuses GroupBy
    evaluators in streaming mode — SURVEY.md §2.D). sum+count instead of
    avg: avg of two 2-decimal values lands exactly on .xx5 rounding
    boundaries, where engines' round() half-cases disagree."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    return orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") / F.sum("o_totalprice").over(w), 6).alias(
            "share_of_cust"
        ),
        F.round(F.sum("o_totalprice").over(w), 2).alias("cust_total"),
        F.count("*").over(w).alias("cust_n"),
    )


@register(
    "window_ignore_nulls",
    oracle="""
    WITH base AS (
      SELECT o_custkey, o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END AS p
      FROM orders WHERE o_custkey < 40)
    SELECT o_custkey, o_orderkey, p,
           first_value(p IGNORE NULLS) OVER w AS first_nn,
           last_value(p IGNORE NULLS) OVER w AS carry_fwd,
           lag(p, 1 IGNORE NULLS) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderkey) AS prev_nn
    FROM base
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS windowing (Hive GenericUDAFFirstValue/LastValue/
    LagLead all accept the ignore-nulls flag — SURVEY.md §2.D): the
    carry-forward / last-known-value idiom over a sparsely-populated
    column. last_value IGNORE NULLS over an unbounded-preceding frame IS
    the gap-fill primitive the AS-OF join builds on (operators/asof.py
    uses exactly this)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 40)
    base = o.select(
        "o_custkey",
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(
            F.col("o_totalprice")
        ).alias("p"),
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return base.select(
        "o_custkey",
        "o_orderkey",
        "p",
        F.first("p", ignorenulls=True).over(w).alias("first_nn"),
        F.last("p", ignorenulls=True).over(w).alias("carry_fwd"),
        F.expr(
            "lag(p, 1) IGNORE NULLS OVER (PARTITION BY o_custkey ORDER BY o_orderkey)"
        ).alias("prev_nn"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "window_groups_frame",
    oracle="""
    WITH d AS (
      SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity, l_extendedprice,
             dense_rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity) AS g
      FROM lineitem WHERE l_suppkey % 100 = 0)
    SELECT a.l_orderkey, a.l_linenumber, a.l_suppkey, a.l_quantity,
           round((SELECT sum(b.l_extendedprice) FROM d b
                  WHERE b.l_suppkey = a.l_suppkey
                    AND b.g BETWEEN a.g - 2 AND a.g), 2) AS grp_sum,
           CAST((SELECT count(*) FROM d b
                 WHERE b.l_suppkey = a.l_suppkey
                   AND b.g BETWEEN a.g - 2 AND a.g) AS BIGINT) AS grp_rows
    FROM d a
    ORDER BY a.l_orderkey, a.l_linenumber
    """,
)
def window_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPS frames — the third SQL:2011 frame unit (peer groups of the
    ORDER BY value), which Spark does not implement (ROWS and RANGE
    only). Emulated losslessly in TWO window passes over ONE exchange:
    dense_rank assigns each peer group a consecutive index g, and a
    RANGE frame over g ([g-2, g]) is then *definitionally* GROUPS
    BETWEEN 2 PRECEDING AND CURRENT ROW — peers share g, so the value
    frame on the index IS the group frame on the rows. No peer-collapse
    groupBy, no fan-back join. DuckDB doesn't implement GROUPS either,
    so the oracle is the INDEPENDENT formulation: a correlated range
    aggregate over the dense_rank index — the definitionally-direct
    quadratic shape this emulation avoids.

    Scale: both windows ride the same suppkey partitioning and
    (quantity/g) sort — one exchange + one sort total; the frame
    aggregate is a running codegen window, never a self-join."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") % 100 == 0)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity", "l_extendedprice")
    )
    wq = W.partitionBy("l_suppkey").orderBy("l_quantity")
    ranked = li.withColumn("g", F.dense_rank().over(wq))
    wg = (
        W.partitionBy("l_suppkey")
        .orderBy("g")
        .rangeBetween(-2, W.currentRow)
    )
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_quantity",
        F.round(F.sum("l_extendedprice").over(wg), 2).alias("grp_sum"),
        F.count("*").over(wg).alias("grp_rows"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "window_exclude_current",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           -- finite device (r10 NaN axis): a non-finite price is
           -- ignored like NULL; the engine's sum-minus-current rewrite
           -- is only lossless over finite values (Inf - Inf = NaN)
           round(sum(CASE WHEN isfinite(l_extendedprice)
                          THEN l_extendedprice END) OVER (
               PARTITION BY l_suppkey ORDER BY l_quantity, l_orderkey,
                                               l_linenumber
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
               EXCLUDE CURRENT ROW), 2) AS peer_sum,
           CAST(count(*) OVER (
               PARTITION BY l_suppkey ORDER BY l_quantity, l_orderkey,
                                               l_linenumber
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
               EXCLUDE CURRENT ROW) AS BIGINT) AS peer_rows
    FROM lineitem WHERE l_suppkey % 100 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def window_exclude_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2011 frame exclusion (EXCLUDE CURRENT ROW) — the
    leave-one-out window behind peer-comparison features ("how do my
    neighbors average WITHOUT me", the target-encoding trick that
    avoids leakage). Spark has no EXCLUDE clause; the lossless rewrite
    subtracts the current row from the inclusive frame aggregate —
    same single window pass, two derived columns. DuckDB implements
    EXCLUDE natively, so (as with the as-of join) the emulation is
    gated against a first-class reference implementation. Unique
    (quantity, orderkey, linenumber) ordering keeps frames identical
    in both engines. Empty-frame contract: a single-row partition's
    excluded frame is EMPTY, and SQL:2011 (and DuckDB) define SUM over
    an empty frame as NULL — not the 0.0 the naive sum-minus-current
    rewrite yields — so the subtraction is guarded by the peer count
    (COUNT over the empty frame is 0 in both engines, no guard
    needed there)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") % 100 == 0)
        .select(
            "l_orderkey", "l_linenumber", "l_suppkey", "l_quantity",
            "l_extendedprice",
        )
    )
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_quantity", "l_orderkey", "l_linenumber")
        .rowsBetween(-3, 3)
    )
    # finite device (r10 NaN axis): the subtraction rewrite is only
    # lossless over finite values (a frame holding +Inf and -Inf sums
    # to NaN while DuckDB's native EXCLUDE sums the peers directly) —
    # non-finite prices are ignored like NULL on both engines.  The
    # NULL guard counts FINITE peers, not rows: when every peer is
    # non-finite the excluded sum is a sum of NULLs — NULL, exactly
    # what DuckDB's native EXCLUDE returns — and the row-count guard
    # alone would let the f_sum-minus-current cancellation emit 0.0
    fx = finite(F.col("l_extendedprice"))
    peer_finite = F.count(fx).over(w) - fx.isNotNull().cast("int")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            (F.count("*").over(w) - 1 == 0) | (peer_finite == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.sum(fx).over(w) - F.coalesce(fx, F.lit(0.0)),
                2,
            )
        )
        .alias("peer_sum"),
        (F.count("*").over(w) - 1).alias("peer_rows"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "window_exclude_group_ties",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           -- finite device (r10 NaN axis), same rationale as the
           -- EXCLUDE CURRENT ROW twin
           round(sum(CASE WHEN isfinite(l_extendedprice)
                          THEN l_extendedprice END) OVER (
               PARTITION BY l_suppkey ORDER BY l_quantity
               RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING
               EXCLUDE GROUP), 2) AS grp_excl_sum,
           CAST(count(*) OVER (
               PARTITION BY l_suppkey ORDER BY l_quantity
               RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING
               EXCLUDE GROUP) AS BIGINT) AS grp_excl_rows,
           round(sum(CASE WHEN isfinite(l_extendedprice)
                          THEN l_extendedprice END) OVER (
               PARTITION BY l_suppkey ORDER BY l_quantity
               RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING
               EXCLUDE TIES), 2) AS ties_excl_sum,
           CAST(count(*) OVER (
               PARTITION BY l_suppkey ORDER BY l_quantity
               RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING
               EXCLUDE TIES) AS BIGINT) AS ties_excl_rows
    FROM lineitem WHERE l_suppkey % 100 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def window_exclude_group_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining SQL:2011 frame-exclusion arms (r5, completing
    `window_exclude_current`): EXCLUDE GROUP drops the current row's
    whole PEER group from the frame, EXCLUDE TIES drops the peers but
    keeps the current row. Spark has no EXCLUDE clause; the lossless
    rewrite works because with a RANGE frame that spans offset 0 the
    peer group (identical ORDER BY value) always lies ENTIRELY inside
    the frame, so:  group-excluded agg = frame agg − peer-group agg
    (one extra window partitioned by (partition, order value)), and
    ties-excluded agg = that + the current row back. The same
    empty-frame contract as EXCLUDE CURRENT ROW applies: when the
    group-excluded frame has 0 rows its SUM is NULL (count stays 0) —
    DuckDB's native EXCLUDE implements exactly this, making the oracle
    a first-class reference again. NOTE this rewrite is only valid for
    RANGE (value-bounded) frames; under ROWS frames a peer can fall
    outside the frame and the subtraction overcounts — the docstring
    constraint a PTF implementation would enforce."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") % 100 == 0)
        .select(
            "l_orderkey", "l_linenumber", "l_suppkey", "l_quantity",
            "l_extendedprice",
        )
    )
    frame = (
        W.partitionBy("l_suppkey")
        .orderBy(F.col("l_quantity").cast("double"))
        .rangeBetween(-2, 2)
    )
    peers = W.partitionBy("l_suppkey", "l_quantity")
    # finite device (r10 NaN axis): the frame-minus-peer-group rewrite
    # is only lossless over finite values; a frame whose only finite
    # values sit outside the peer group must not be NULLed by a NULL
    # peer sum (hence the coalesces), and conversely a result whose
    # FINITE contributors number zero must be NULL — matching DuckDB's
    # native EXCLUDE summing only NULLs — not the 0.0 the subtraction
    # cancellation would emit, so the guards count finite values:
    # EXCLUDE GROUP contributes the non-peer finite values; EXCLUDE
    # TIES adds the current row back when it is finite
    fx = finite(F.col("l_extendedprice"))
    f_sum = F.sum(fx).over(frame)
    f_cnt = F.count("*").over(frame)
    p_sum = F.sum(fx).over(peers)
    p_cnt = F.count("*").over(peers)
    nonpeer_finite = F.count(fx).over(frame) - F.count(fx).over(peers)
    ties_finite = nonpeer_finite + fx.isNotNull().cast("int")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            (f_cnt - p_cnt == 0) | (nonpeer_finite == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(f_sum - F.coalesce(p_sum, F.lit(0.0)), 2))
        .alias("grp_excl_sum"),
        (f_cnt - p_cnt).alias("grp_excl_rows"),
        F.when(ties_finite == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                f_sum - F.coalesce(p_sum, F.lit(0.0))
                + F.coalesce(fx, F.lit(0.0)),
                2,
            )
        )
        .alias("ties_excl_sum"),
        (f_cnt - p_cnt + 1).alias("ties_excl_rows"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "window_regr_slope",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      -- non-measurable orders don't enter the trend series (r11)
      FROM orders WHERE o_custkey % 100 = 0
        AND isfinite(o_totalprice)),
    s AS (
      SELECT o_custkey, o_orderkey, rn,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(rn) OVER w AS BIGINT) AS sx,
             CAST(sum(cents) OVER w AS BIGINT) AS sy,
             CAST(sum(rn * cents) OVER w AS BIGINT) AS sxy,
             CAST(sum(rn * rn) OVER w AS BIGINT) AS sxx
      FROM o
      WINDOW w AS (PARTITION BY o_custkey ORDER BY rn
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
    SELECT o_custkey, o_orderkey, rn,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (n * sxx - sx * sx) / 100.0 * 1000 + 0.5)
                AS BIGINT) AS slope_milli
    FROM s WHERE rn >= 2
    ORDER BY o_custkey, rn
    """,
)
def window_regr_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING OLS SLOPE over a window — the per-entity trend signal
    ("is this customer's spend accelerating?") Hive/Spark can express
    as regr_slope ONLY as a grouped aggregate, not a moving one: the
    closed form (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) decomposes into FIVE
    windowed sums over the same trailing-5-order frame, the same
    sum-composition trick the moving-median and windowed-corr entries
    use for aggregates Spark rejects over frames. x is the per-
    customer order index (gap-proof), y is exact CENTS (round-to-
    integer of identical doubles is engine-safe), so all five sums
    stay BIGINT and the slope is ONE exact-long division folded at
    milli precision — zero accumulated-float drift. rn >= 2 keeps the
    two-point minimum (the rn=1 denominator is degenerate); the 1%
    customer cut bounds the output like the other window entries."""
    o = (
        load_table(spark, sf_dir, "orders")
        # non-measurable orders don't enter the trend series (r11)
        .filter((F.col("o_custkey") % 100 == 0) & is_finite("o_totalprice"))
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
            F.row_number()
            .over(
                W.partitionBy("o_custkey").orderBy(
                    "o_orderdate", "o_orderkey"
                )
            )
            .alias("rn"),
        )
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("rn")
        .rowsBetween(-4, W.currentRow)
    )
    s = o.select(
        "o_custkey",
        "o_orderkey",
        "rn",
        F.count("*").over(w).alias("n"),
        F.sum("rn").over(w).alias("sx"),
        F.sum("cents").over(w).alias("sy"),
        F.sum(F.col("rn") * F.col("cents")).over(w).alias("sxy"),
        F.sum(F.col("rn") * F.col("rn")).over(w).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.filter(F.col("rn") >= 2)
        .select(
            "o_custkey",
            "o_orderkey",
            "rn",
            half_up(num / den / F.lit(100.0) * 1000).alias("slope_milli"),
        )
        .orderBy("o_custkey", "rn")
    )
