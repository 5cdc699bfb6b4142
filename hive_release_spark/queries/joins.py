"""Join matrix (SURVEY.md §2.B) + subquery rewrites (§4.2).

Hive counterparts (upstream ``ql/src/java/org/apache/hadoop/hive/ql/``):
CommonJoinOperator/JoinOperator (shuffle join), MapJoinOperator (broadcast
hash join, auto-converted by ``hive.auto.convert.join``),
SMBMapJoinOperator, residual non-equi predicates on CommonJoinOperator,
HiveSemiJoinRule / HiveSubQueryRemoveRule / HiveRelDecorrelator for
semi/anti/subqueries. In Spark: ``df.join(..., how=...)`` with Catalyst
picking broadcast/sort-merge/shuffle-hash; AQE handles skew and runtime
re-planning (SURVEY.md §4.3).

Scale notes: every dim-side join here broadcasts (region/nation/part/
supplier/customer are tiny vs lineitem at any SF); fact-fact joins shuffle
on their keys with AQE coalescing. No collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table, register_views
from hive_release_spark.operators.hints import maybe_broadcast
from hive_release_spark.operators.topk import bounded_sort
from hive_release_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Broadcast (map) join — Hive MapJoinOperator
# ---------------------------------------------------------------------------


@register(
    "join_broadcast_part",
    oracle="""
    SELECT p.p_brand,
           round(sum(l.l_quantity), 2) AS sum_qty,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size >= 10
    GROUP BY p.p_brand
    """,
)
def join_broadcast_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast(dim): Hive's map join. ``F.broadcast`` pins the
    strategy (part is always dim-sized); at 100 TB the lineitem side streams
    with zero shuffle for this join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 10)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Multiway joins — TPC-H Q3 / Q5 shapes
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join → agg → top-k. customer broadcasts into
    orders when it fits the session threshold (size-conditional — at 100×
    scale it degrades to sort-merge instead of OOMing the executors).
    orders⋈lineitem is size-conditional too: the date-filtered orders
    side broadcasts while Catalyst's estimate is under
    ``spark.sql.autoBroadcastJoinThreshold`` (at sf0.1 a
    ``BroadcastHashJoin … BuildRight``, so the only shuffle is the partial
    aggregate on the group keys), and shuffles on orderkey past it."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way snowflake join. Fixed-size dims
    (nation/region) broadcast unconditionally; SF-scaling dims
    (customer/supplier) broadcast size-conditionally. The only shuffles are
    lineitem⋈orders (on orderkey) and the final agg — the plan a
    1000-executor cluster wants."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # one row per nation of the region
    return bounded_sort(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            maybe_broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        ),
        F.col("revenue").desc(), F.col("n_name"),
    )


# ---------------------------------------------------------------------------
# Outer joins
# ---------------------------------------------------------------------------

_LEFT_ORACLE = """
SELECT c.c_custkey,
       count(o.o_orderkey) AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0), 2) AS spent
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
"""


@register("join_left_outer", oracle=_LEFT_ORACLE)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER JOIN preserving customers with no orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spent"),
        )
    )


@register("join_right_outer", oracle=_LEFT_ORACLE)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER JOIN — mirror of the left query (same oracle), exercising
    how='right'."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spent"),
        )
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT coalesce(c.k, s.k) AS nationkey,
           coalesce(c.c_cnt, 0) AS n_customers,
           coalesce(s.s_cnt, 0) AS n_suppliers
    FROM (SELECT c_nationkey AS k, count(*) AS c_cnt FROM customer GROUP BY c_nationkey) c
    FULL JOIN (SELECT s_nationkey AS k, count(*) AS s_cnt FROM supplier GROUP BY s_nationkey) s
      ON c.k = s.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN of two aggregates (Hive TOK_FULLOUTERJOIN)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count("*").alias("c_cnt"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count("*").alias("s_cnt"))
    )
    return cust.join(supp, cust.ck == supp.sk, "full").select(
        F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
        F.coalesce(F.col("c_cnt"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("s_cnt"), F.lit(0)).alias("n_suppliers"),
    )


# ---------------------------------------------------------------------------
# Semi / anti / cross / theta
# ---------------------------------------------------------------------------


@register(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI JOIN (Hive TOK_LEFTSEMIJOIN / HiveSemiJoinRule)."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_nationkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI JOIN — Hive writes NOT IN/NOT EXISTS, rewritten by
    HiveSubQueryRemoveRule; Spark has it as a first-class how=."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_nationkey"
    )


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN (Hive TOK_CROSSJOIN; CrossProductCheck guard —
    Spark likewise requires the explicit crossJoin call)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


@register(
    "join_theta_residual",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s JOIN nation n
      ON s.s_nationkey = n.n_nationkey AND s.s_acctbal > 100.0 * n.n_nationkey
    """,
)
def join_theta_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi join + residual non-equi predicate — exactly how Hive's
    CommonJoinOperator handles theta conditions (SURVEY.md §2.B)."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cond = (supp.s_nationkey == nation.n_nationkey) & (
        supp.s_acctbal > 100.0 * nation.n_nationkey
    )
    return supp.join(F.broadcast(nation), cond).select("s_suppkey", "s_name", "n_name")


@register(
    "join_pure_theta",
    oracle="""
    SELECT a.r_regionkey AS k1, b.r_regionkey AS k2
    FROM region a JOIN region b ON a.r_regionkey < b.r_regionkey
    """,
)
def join_pure_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True theta join (no equi key) → Spark BroadcastNestedLoopJoin, a
    strict superset of Hive's capability (Hive requires equi keys)."""
    a = load_table(spark, sf_dir, "region").select(F.col("r_regionkey").alias("k1"))
    b = load_table(spark, sf_dir, "region").select(F.col("r_regionkey").alias("k2"))
    return a.join(b, a.k1 < b.k2)


# ---------------------------------------------------------------------------
# Subqueries (Calcite HiveSubQueryRemoveRule / HiveRelDecorrelator — §4.2)
# ---------------------------------------------------------------------------


@register(
    "subquery_in",
    oracle="""
    SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
    GROUP BY o_orderpriority
    """,
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated IN subquery → semi join (Catalyst RewritePredicateSubquery)."""
    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        GROUP BY o_orderpriority
        """
    )


@register(
    "subquery_scalar_correlated",
    oracle="""
    SELECT c_custkey, c_nationkey
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def subquery_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (Hive GenericUDFSQCountCheck guard;
    Catalyst RewriteCorrelatedScalarSubquery decorrelates to an agg+join)."""
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


@register(
    "subquery_not_in",
    oracle="""
    SELECT count(*) AS n_parts
    FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
    """,
)
def subquery_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN (null-aware anti join)."""
    register_views(spark, sf_dir, ("part", "lineitem"))
    return spark.sql(
        """
        SELECT count(*) AS n_parts
        FROM part
        WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
        """
    )
