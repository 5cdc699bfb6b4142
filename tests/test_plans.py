"""Plan-quality assertions (SURVEY.md §4 / §6 phase 6): the optimizations
Hive implements as dedicated Transform classes must appear in Catalyst's
physical plans — pushdown, pruning, broadcast, top-k. Analogue of Hive's
TestPerfCliDriver plan assertions (SURVEY.md §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE


def _plan(df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_filter_pushdown_reaches_scan(spark):
    df = REGISTRY["scan_filter_project"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "PushedFilters" in plan
    # quantity predicate is parquet-pushable
    assert "GreaterThan(l_quantity" in plan, plan[:2000]


def test_column_pruning(spark):
    """A 2-column projection must not read the full 11-column lineitem."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_q5_uses_broadcast_joins(spark):
    plan = _plan(REGISTRY["q5_local_supplier_volume"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_is_take_ordered(spark):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (Hive TopNHash
    analogue), not a global sort."""
    plan = _plan(REGISTRY["topk_orders"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_semi_join_strategy(spark):
    plan = _plan(REGISTRY["join_left_semi"].fn(spark, SF_SMOKE))
    assert "LeftSemi" in plan


def test_agg_has_partial_final_split(spark):
    """Map-side partial agg (Hive GroupByOperator PARTIAL1/MERGEPARTIAL)
    → two HashAggregate levels around the exchange."""
    plan = _plan(REGISTRY["q1_pricing_summary"].fn(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_active(spark):
    """codegen explain mode shows the WholeStageCodegen subtrees (the
    formatted mode hides them pre-AQE-finalization)."""
    plan = _plan(REGISTRY["q1_pricing_summary"].fn(spark, SF_SMOKE), mode="codegen")
    assert "WholeStageCodegen" in plan


def test_q6_predicates_all_push_to_scan(spark):
    """TPC-H Q6 is the pushdown litmus: all four conjuncts (two shipdate
    bounds, two discount bounds, quantity) must reach the parquet scan,
    and the plan must be scan → partial agg → exchange(1 row) → final agg
    with no other shuffle."""
    df = REGISTRY["q6_forecast_revenue"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert frag in plan, f"{frag} not pushed:\n{plan[:3000]}"
    # simple mode prints the tree once (formatted repeats nodes in the
    # detail section, inflating substring counts)
    assert _plan(df, mode="simple").count("Exchange") == 1


def test_q19_disjunction_pushes_to_both_sides(spark):
    """Q19's OR-of-ANDs spans both join sides; Catalyst must extract the
    per-side implications — the quantity hull [1,30] onto the lineitem
    scan and the brand/size union onto the part scan — so neither side
    reads unfiltered at 100 TB."""
    plan = _plan(REGISTRY["q19_disjunctive_revenue"].fn(spark, SF_SMOKE), mode="simple")
    li_scan = [ln for ln in plan.splitlines() if "lineitem" in ln and "DataFilters" in ln][0]
    assert "l_quantity" in li_scan, li_scan
    p_scan = [ln for ln in plan.splitlines() if "part.parquet" in ln and "DataFilters" in ln][0]
    assert "p_brand" in p_scan, p_scan
    assert "CartesianProduct" not in plan


def test_q21_decorrelation_scans_lineitem_once(spark):
    """Q21's EXISTS + NOT-EXISTS pair is decorrelated into a single pass:
    per-(order,supplier) agg + per-order window — lineitem is scanned
    exactly once, not four times as the naive correlated plan would (and
    not twice as a two-consumer stats-join formulation would)."""
    plan = _plan(REGISTRY["q21_waiting_suppliers"].fn(spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert "CartesianProduct" not in plan


def test_q7_nation_filter_applied_before_fact_join(spark):
    """Q7 restricts both trade sides to two nations; the IN-filter must
    reach the nation scan (pre-join reduction) so the supplier/customer
    sides broadcast instead of joining the full dims at scale."""
    plan = _plan(REGISTRY["q7_volume_shipping"].fn(spark, SF_SMOKE), mode="simple")
    nation_scans = [
        ln for ln in plan.splitlines() if "nation.parquet" in ln and "PushedFilters" in ln
    ]
    assert any("In(n_name" in ln for ln in nation_scans), nation_scans
    assert "CartesianProduct" not in plan


def test_q13_outer_join_double_agg_shape(spark):
    """Q13: LEFT OUTER join (zero-order customers survive) feeding two
    aggregation levels, each with a partial/final split."""
    plan = _plan(REGISTRY["q13_customer_distribution"].fn(spark, SF_SMOKE))
    assert "LeftOuter" in plan
    assert plan.count("HashAggregate") >= 4


def test_ds_time_bucket_counts_scans_events_once(spark):
    """TPC-DS q88 shape: the 8 bucket counts must come from ONE events
    scan (the spec's formulation is 8 cross-joined subqueries = 8 scans;
    at 100 TB that difference IS the query's cost)."""
    plan = _plan(REGISTRY["ds_time_bucket_counts"].fn(spark, SF_SMOKE))
    assert plan.count("events.parquet") == 1, plan.count("events.parquet")
    # the purchase/value filters must be pushed to that one scan
    assert "PushedFilters" in plan
    assert "EqualTo(event_type,purchase)" in plan, plan[:3000]


def test_ds_week_over_week_scans_lineitem_once(spark):
    """TPC-DS q59 shape: lag-window formulation must scan lineitem once —
    the spec's self-join of the weekly aggregate would scan (or at best
    re-derive) it twice."""
    plan = _plan(REGISTRY["ds_week_over_week"].fn(spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")


def test_ds_frequent_buyers_broadcasts_aggregate_not_dimension(spark):
    """q73/q34 shape: the post-HAVING per-customer aggregate (tiny) must
    be the broadcast side; customer (SF-scaling) must not broadcast."""
    plan = _plan(REGISTRY["ds_frequent_buyers"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert plan.count("orders.parquet") == 1


def test_ds_topk_per_group_uses_window_group_limit(spark):
    """q67 shape: rank<=k over the monthly aggregate must trigger
    WindowGroupLimit (partial per-partition top-k BEFORE the window
    exchange) so the shuffle carries <=k rows per group per partition."""
    plan = _plan(REGISTRY["ds_topk_per_group"].fn(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, plan[:3000]
    assert plan.count("lineitem.parquet") == 1


def test_ds_year_over_year_scans_orders_once(spark):
    """q74/q11 shape: both years' spends come from ONE conditional-agg
    scan, not the spec's two per-year CTEs self-joined (2 scans + a join
    exchange). The year-IN filter must reach the scan."""
    plan = _plan(REGISTRY["ds_year_over_year_spend"].fn(spark, SF_SMOKE))
    assert plan.count("orders.parquet") == 1, plan.count("orders.parquet")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_ds_cross_channel_scans_events_once(spark):
    """q38 shape: the INTERSECT chain's three scans collapse into one
    conditional-agg pass (the oracle IS the INTERSECT formulation, so
    the rewrite equivalence is oracle-verified)."""
    plan = _plan(REGISTRY["ds_cross_channel_customers"].fn(spark, SF_SMOKE))
    assert plan.count("events.parquet") == 1, plan.count("events.parquet")


def test_ds_late_delivery_chain_broadcasts_dim_chain(spark):
    """q72 shape: the ONLY shuffle join is the fact-fact
    lineitem⋈orders; part/supplier/nation/region must ALL ride
    BroadcastHashJoins, the year filter must reach the orders scan,
    and each table is scanned exactly once."""
    plan = _plan(REGISTRY["ds_late_delivery_chain"].fn(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4, plan.count("BroadcastHashJoin")
    for t in ("lineitem", "orders", "part", "supplier", "nation", "region"):
        assert plan.count(f"{t}.parquet") == 1, (t, plan.count(f"{t}.parquet"))
    # selective dim filters applied before the joins (pushed to scans)
    assert "LessThan(p_size,20)" in plan, plan[:3000]
    assert "EqualTo(r_name,ASIA)" in plan


def test_ds_spend_growth_pairs_reuses_persisted_cte(spark):
    """q64 shape: the per-(customer, year) spend CTE must be computed
    once — both self-join inputs are InMemoryTableScans of the
    persisted aggregate, so orders appears in the plan exactly once."""
    df = REGISTRY["ds_spend_growth_pairs"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") >= 2, plan.count("InMemoryTableScan")
    assert plan.count("orders.parquet") <= 1, plan.count("orders.parquet")


def test_ds_hierarchy_rank_single_expand_then_window(spark):
    """q36 shape: one orders scan feeds Expand (rollup) -> agg -> ONE
    window over the dim-cardinality aggregate; customer and nation ride
    broadcasts."""
    plan = _plan(REGISTRY["ds_hierarchy_rank"].fn(spark, SF_SMOKE))
    assert plan.count("orders.parquet") == 1
    assert "Expand" in plan
    assert plan.count("Window") >= 1
    assert plan.count("BroadcastHashJoin") >= 2


def test_bpe_rounds_reuse_persisted_vocab(spark):
    """bpe_train_merges: after the single corpus word-count, every
    round must read CACHED frames — the plan contains InMemoryTableScan
    and exactly one documents scan (an unpersisted implementation
    re-derives round i from scratch, i corpus scans)."""
    plan = _plan(REGISTRY["bpe_train_merges"].fn(spark, SF_SMOKE))
    assert "InMemoryTableScan" in plan
    assert plan.count("documents.parquet") <= 1, plan.count("documents.parquet")


def test_dsir_broadcasts_lm_not_corpus(spark):
    """sample_importance_dsir: the bucket LM (64 rows) must be the
    broadcast side of the score join, and the corpus tokenize pass must
    be cached (one documents scan feeds counts AND scores)."""
    plan = _plan(REGISTRY["sample_importance_dsir"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan
    assert plan.count("documents.parquet") <= 1, plan.count("documents.parquet")


def test_search_eval_reuses_broadcast_query_frame(spark):
    """search_eval_metrics: the corpus must never shuffle — queries and
    label frames broadcast; the only exchanges serve the per-query
    metric aggregates."""
    plan = _plan(REGISTRY["search_eval_metrics"].fn(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    assert "SortMergeJoin" not in plan


def test_ds_returns_adjusted_spend_single_fact_scans(spark):
    """q93 shape: the returns ledger is folded into the fact, so net
    and gross must come from ONE lineitem scan (the spec plan reads
    the sales fact twice via the returns join)."""
    plan = _plan(REGISTRY["ds_returns_adjusted_spend"].fn(spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert plan.count("orders.parquet") == 1, plan.count("orders.parquet")
    assert "CartesianProduct" not in plan


def test_ds_three_channel_ratio_collapses_six_scans(spark):
    """q78 shape: three channels x (sales + returns anti join) = six
    spec-plan fact reads; the conditional-agg formulation must be two
    scans (lineitem, orders) with the returnflag filter pushed to the
    lineitem scan."""
    plan = _plan(REGISTRY["ds_three_channel_ratio"].fn(spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert plan.count("orders.parquet") == 1, plan.count("orders.parquet")
    assert "Not(EqualTo(l_returnflag,R))" in plan, plan[:4000]


def test_jaccard_intersect_generate_barrier_holds(spark):
    """ADVICE r12-2: both exact-Jaccard verification paths rely on the
    Catalyst behavior that a predicate referencing a Generate's output
    is not pushed below the Generate — that is what makes the
    explode_outer(array(struct(...))) barrier evaluate the O(na+nb)
    array_intersect ONCE per candidate pair instead of re-inlining it
    into the pushed-down join condition (up to 4 evaluations, the r12
    before-plans). The behavior is an optimizer implementation detail,
    not a contract, so a Spark upgrade could silently collapse it:
    pin the single-evaluation shape here (perf-only tripwire — outputs
    are unchanged either way)."""
    for name in ("dedup_jaccard_prefix", "dedup_minhash_lsh"):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMOKE), mode="simple")
        n = plan.count("array_intersect")
        assert n == 1, (
            f"{name}: array_intersect appears {n}x in the simple-mode "
            "plan — the explode_outer Generate barrier collapsed and "
            "the intersect is being re-evaluated per predicate"
        )
        assert "Generate explode" in plan, f"{name}: barrier Generate missing"


@pytest.mark.parametrize(
    "name",
    [
        "ml_item_item_cf",
        "dedup_jaccard_pairs",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_jaccard_prefix",
        "dedup_containment_pairs",
        "source_overlap_matrix",
        "basket_part_affinity",
    ],
)
def test_pair_emission_builds_pair_array_once(spark, name):
    """Each direct caller of operators.pairs.sorted_pairs builds its pair
    array in one projection: ``flatten(`` appears once in the simple
    plan. An inner explode would add an inferred size-filter that
    copies the construction twice more. (The graph_* entries persist
    their pair frame, so the cached plan is echoed and the count is
    not 1 there.)"""
    spark.catalog.clearCache()
    plan = _plan(REGISTRY[name].fn(spark, SF_SMOKE), mode="simple")
    assert plan.count("flatten(") == 1, plan
