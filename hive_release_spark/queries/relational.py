"""Core relational operators: scan/filter/project, aggregation (hash agg,
distinct aggs, grouping sets/rollup/cube, statistical UDAFs, percentiles,
collect), sort/limit/top-k/sampling, set operations.

Hive counterparts (SURVEY.md §2.A/§2.C/§2.E/§2.F; upstream
``ql/src/java/org/apache/hadoop/hive/ql/exec/``): TableScanOperator,
SelectOperator, FilterOperator, GroupByOperator (hash + streaming modes,
GroupByDesc.Mode partial/final), ReduceSinkOperator (→ Spark Exchange),
LimitOperator + TopNHash, UnionOperator, and the GenericUDAF* classes in
``ql/udf/generic/``. In Spark all physical strategy selection
(HashAggregate vs SortAggregate, partial/final split, TakeOrderedAndProject
for top-k) is Catalyst's job — these queries declare the logical plan only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table, register_views
from hive_release_spark.functions.numeric import cents, finite
from hive_release_spark.operators.topk import bounded_sort
from hive_release_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Scan / filter / project (TableScanOperator + FilterOperator + SelectOperator)
# ---------------------------------------------------------------------------


@register(
    "scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_quantity > 45
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate; both reach the parquet scan (PushedFilters /
    ReadSchema in .explain — Hive's ppd/PredicatePushDown + ColumnPruner are
    Catalyst built-ins, SURVEY.md §4.1).

    Row-level arithmetic is left unrounded: IEEE double ops are bit-identical
    across engines, while round() half-case behavior is not (engines differ at
    exact .xx5 boundaries, which money values hit)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_quantity") > 45))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
    )


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary (filter → hash agg → sort)
# ---------------------------------------------------------------------------

Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                       AS sum_qty,
       round(sum(l_extendedprice), 2)                                  AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                                       AS avg_qty,
       round(avg(l_extendedprice), 4)                                  AS avg_price,
       round(avg(l_discount), 4)                                       AS avg_disc,
       count(*)                                                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: the §2.A spine (scan → filter → partial agg
    → shuffle → final agg → sort). Hive: FilterOperator + GroupByOperator
    (PARTIAL1/MERGEPARTIAL) + ReduceSinkOperator."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # returnflag × linestatus: at most 6 rows
    return bounded_sort(
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        ),
        "l_returnflag", "l_linestatus",
    )


# ---------------------------------------------------------------------------
# Aggregation family (GroupByOperator + GenericUDAF*)
# ---------------------------------------------------------------------------


@register(
    "agg_stats",
    oracle="""
    -- finite device (r10 NaN axis): the variance/covariance family is
    -- only cross-engine-defined over finite values (DuckDB refuses Inf
    -- outright — "VARPOP is out of range" — while Spark yields NaN);
    -- non-finite measurements are ignored like NULL. min/max stay raw:
    -- NaN-greatest ordering agrees between the engines.
    WITH f AS (SELECT l_returnflag,
                      CASE WHEN isfinite(l_quantity) THEN l_quantity END AS q,
                      CASE WHEN isfinite(l_extendedprice)
                           THEN l_extendedprice END AS p,
                      l_extendedprice
               FROM lineitem)
    SELECT l_returnflag,
           round(var_pop(q), 4)                 AS qty_var_pop,
           round(var_samp(q), 4)                AS qty_var_samp,
           round(stddev_pop(q), 4)              AS qty_stddev_pop,
           round(stddev_samp(q), 4)             AS qty_stddev_samp,
           round(covar_pop(q, p), 2)  AS qp_covar_pop,
           round(covar_samp(q, p), 2) AS qp_covar_samp,
           round(corr(q, p), 4)   AS qp_corr,
           round(min(l_extendedprice), 2)                AS min_price,
           round(max(l_extendedprice), 2)                AS max_price
    FROM f
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical UDAF family (Hive GenericUDAF{Variance,Std,Covariance,
    Correlation} — SURVEY.md §2.C)."""
    li = load_table(spark, sf_dir, "lineitem")
    # finite device (r10 NaN axis) on the variance family — see oracle
    # note; min/max stay raw (NaN-greatest agrees cross-engine)
    q, p = finite(F.col("l_quantity")), finite(F.col("l_extendedprice"))
    return li.groupBy("l_returnflag").agg(
        F.round(F.var_pop(q), 4).alias("qty_var_pop"),
        F.round(F.var_samp(q), 4).alias("qty_var_samp"),
        F.round(F.stddev_pop(q), 4).alias("qty_stddev_pop"),
        F.round(F.stddev_samp(q), 4).alias("qty_stddev_samp"),
        F.round(F.covar_pop(q, p), 2).alias("qp_covar_pop"),
        F.round(F.covar_samp(q, p), 2).alias("qp_covar_samp"),
        F.round(F.corr(q, p), 4).alias("qp_corr"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey)           AS nd_parts,
           count(DISTINCT l_suppkey)           AS nd_supps,
           round(sum(DISTINCT l_quantity), 2)  AS sum_d_qty,
           count(*)                            AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation (Hive TOK_FUNCTIONDI +
    HiveExpandDistinctAggregatesRule; Catalyst RewriteDistinctAggregates)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_parts"),
        F.countDistinct("l_suppkey").alias("nd_supps"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_d_qty"),
        F.count("*").alias("n_rows"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS + grouping() markers (Hive TOK_GROUPING_SETS,
    GenericUDFGrouping — SURVEY.md §2.C). Uses Spark SQL to exercise the SQL
    surface; Catalyst expands to a single Expand+Aggregate."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grouping__id,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY grouping__id, l_returnflag, l_linestatus
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive's GROUPING__ID virtual column (TOK_GROUPING_SETS grammar,
    GenericUDFGrouping's bitmask sibling — SURVEY.md §2.C): the per-row
    bitmask identifying WHICH rollup level produced it, first column as
    the most-significant bit — the convention Spark's grouping_id() and
    DuckDB's GROUPING() share (verified by this oracle). The standard
    consumer pattern is filtering one level out of a cube materialization
    without re-aggregating."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id() AS grouping__id,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY grouping__id, l_returnflag, l_linestatus
        """
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@register(
    "agg_collect",
    oracle="""
    SELECT n_regionkey,
           -- coalesce: DuckDB's array_to_string yields NULL when no
           -- non-NULL element survives, Hive's concat_ws yields ''
           -- (engine side: collect_list skips NULLs, array_join of the
           -- empty array is '') — the Hive behavior is the contract
           coalesce(array_to_string(list_sort(list(n_name)), '|'), '')
               AS nations,
           coalesce(array_to_string(list_sort(list(DISTINCT n_name)), '|'), '')
               AS nations_set
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set (Hive GenericUDAFCollect{List,Set}).
    Sorted + joined to a string so the result is order-deterministic."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("nations"),
        F.array_join(F.sort_array(F.collect_set("n_name")), "|").alias("nations_set"),
    )


@register(
    "agg_percentile",
    oracle="""
    -- finite device (r10 NaN axis): percentiles are DEFINED over
    -- finite values only — the engines interpolate through specials
    -- divergently, and DuckDB's DECIMAL render refuses NaN outright;
    -- a non-finite measurement is ignored like NULL on both sides
    WITH f AS (
      SELECT l_linestatus,
             CASE WHEN isfinite(l_quantity) THEN l_quantity END AS q,
             CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS p,
             CASE WHEN isfinite(l_discount) THEN l_discount END AS d
      FROM lineitem)
    SELECT l_linestatus,
           round(quantile_cont(q, 0.5), 4)          AS qty_p50,
           round(quantile_cont(p, 0.25), 4)    AS price_p25,
           round(quantile_cont(p, 0.95), 4)    AS price_p95,
           round(median(d), 4)                      AS disc_median,
           array_to_string(list_transform(
             quantile_cont(q, [0.25, 0.5, 0.75]),
             x -> CAST(CAST(round(x, 4) AS DECIMAL(18,4)) AS VARCHAR)), ',')
                                                             AS qty_quartiles
    FROM f
    GROUP BY l_linestatus
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile (Hive GenericUDAFPercentile*; interpolated —
    matches DuckDB quantile_cont), including Hive's ARRAY-of-percentiles
    form (SURVEY.md §7.6 watch-list #4): ``percentile(col, array(...))``
    returns one array per group, rendered through DECIMAL(18,4) so the
    string is format-stable in both engines. percentile_approx is
    intentionally NOT oracle-gated (sketch-based, non-deterministic
    across engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    # finite device (r10 NaN axis): percentiles over finite values only
    # — non-finite measurements are ignored like NULL (see
    # functions/numeric.finite); genuine NULLs unaffected
    li = li.select(
        "l_linestatus",
        finite(F.col("l_quantity")).alias("q"),
        finite(F.col("l_extendedprice")).alias("p"),
        finite(F.col("l_discount")).alias("d"),
    )
    return li.groupBy("l_linestatus").agg(
        F.round(F.expr("percentile(q, 0.5)"), 4).alias("qty_p50"),
        F.round(F.expr("percentile(p, 0.25)"), 4).alias("price_p25"),
        F.round(F.expr("percentile(p, 0.95)"), 4).alias("price_p95"),
        F.round(F.expr("percentile(d, 0.5)"), 4).alias("disc_median"),
        F.expr(
            "array_join(transform(percentile(q, array(0.25D, 0.5D, 0.75D)),"
            " x -> cast(cast(round(x, 4) as decimal(18,4)) as string)), ',')"
        ).alias("qty_quartiles"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k / sample / distinct (§2.E)
# ---------------------------------------------------------------------------


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → Spark TakeOrderedAndProject (Hive TopNHash +
    LimitPushdownOptimizer — SURVEY.md §2.E). Tie-broken on the unique key
    for determinism."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "limit_offset_page",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    ORDER BY o_orderkey
    LIMIT 20 OFFSET 40
    """,
)
def limit_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination (Hive LimitOperator + TOK_OFFSET)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(40)
        .limit(20)
    )


@register(
    "sample_bucket",
    oracle="""
    SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price,
           count(DISTINCT l_orderkey) AS nd_orders
    FROM lineitem
    WHERE l_orderkey % 10 = 3
    """,
)
def sample_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bucket sampling: TABLESAMPLE(BUCKET 4 OUT OF 10 ON
    l_orderkey) semantics (Hive TOK_TABLEBUCKETSAMPLE, SplitSample —
    SURVEY.md §2.E) expressed as a key-modulo predicate so the oracle
    computes the identical bucket. (``df.sample`` exists for the
    probabilistic form but is RNG-based, hence not oracle-gated.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 10 == 3).agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.countDistinct("l_orderkey").alias("nd_orders"),
    )


@register(
    "distinct_rows",
    oracle="""
    SELECT DISTINCT c_mktsegment, c_nationkey
    FROM customer
    WHERE c_acctbal > 0
    """,
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT (Hive compiles to GroupByOperator on all cols)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.filter(F.col("c_acctbal") > 0).select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------------------
# Set operations (§2.F: UNION [ALL], INTERSECT [ALL], EXCEPT [ALL])
# ---------------------------------------------------------------------------


def _key_sets(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"))
    b = orders.filter(F.col("o_totalprice") > 50000).select(F.col("o_custkey").alias("k"))
    return a, b


_SETOP_A = "SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000"
_SETOP_B = "SELECT o_custkey AS k FROM orders WHERE o_totalprice > 50000"


@register(
    "setop_union",
    oracle=f"""
    SELECT k, count(*) AS n FROM ({_SETOP_A} UNION ALL {_SETOP_B}) GROUP BY k
    """,
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (Hive UnionOperator) + aggregate to stabilize multiplicity."""
    a, b = _key_sets(spark, sf_dir)
    return a.union(b).groupBy("k").agg(F.count("*").alias("n"))


@register(
    "setop_union_distinct",
    oracle=f"{_SETOP_A} UNION {_SETOP_B}",
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _key_sets(spark, sf_dir)
    return a.union(b).distinct()


@register(
    "setop_intersect",
    oracle=f"{_SETOP_A} INTERSECT {_SETOP_B}",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _key_sets(spark, sf_dir)
    return a.intersect(b)


@register(
    "setop_intersect_all",
    oracle=f"SELECT k, count(*) AS n FROM ({_SETOP_A} INTERSECT ALL {_SETOP_B}) GROUP BY k",
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _key_sets(spark, sf_dir)
    return a.intersectAll(b).groupBy("k").agg(F.count("*").alias("n"))


@register(
    "setop_except",
    oracle=f"{_SETOP_A} EXCEPT {_SETOP_B}",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _key_sets(spark, sf_dir)
    return a.subtract(b)


@register(
    "setop_except_all",
    oracle=f"SELECT k, count(*) AS n FROM ({_SETOP_A} EXCEPT ALL {_SETOP_B}) GROUP BY k",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _key_sets(spark, sf_dir)
    return a.exceptAll(b).groupBy("k").agg(F.count("*").alias("n"))


@register(
    "agg_min_max_by",
    oracle="""
    -- finite device (r10 NaN axis): the exact-cents comparison key is
    -- only castable for finite prices; a special-priced order is
    -- ignored by arg_max/arg_min like a NULL key on both engines
    -- (raw min/max stay raw: NaN-greatest agrees cross-engine)
    WITH t AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CASE WHEN isfinite(o_totalprice)
                  THEN CAST(round(o_totalprice * 100) AS BIGINT)
                       * 10000000 + o_orderkey END AS ck
      FROM orders)
    SELECT o_orderpriority,
           arg_max(o_orderkey, ck) AS priciest_order,
           arg_min(o_orderkey, ck) AS cheapest_order,
           round(max(o_totalprice), 2) AS max_price,
           round(min(o_totalprice), 2) AS min_price
    FROM t GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (Hive's GenericUDAFMaxByValue lineage, ANSI
    arg_max/arg_min): the row-attribute-of-the-extreme aggregate that
    otherwise costs a window + filter. Ties on the price are broken
    INSIDE the comparison key (cents-scaled price composed with the
    order key into one exact BIGINT — both engines compare the same
    integer), because engine tie behavior for plain arg_max is
    unspecified."""
    o = load_table(spark, sf_dir, "orders")
    ck = cents("o_totalprice") * F.lit(10000000) + F.col("o_orderkey")
    t = o.select("o_orderpriority", "o_orderkey", "o_totalprice", ck.alias("ck"))
    # one row per order priority
    return bounded_sort(
        t.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", F.col("ck")).alias("priciest_order"),
            F.min_by("o_orderkey", F.col("ck")).alias("cheapest_order"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
        ),
        "o_orderpriority",
    )
