"""Plan pins for the r5 stats/retrieval/ANN additions — the same
plan-level discipline as test_scale_plans.py: a lost persist, a
surprise shuffle, or a degraded join strategy must fail a test, not
silently multiply scans at 100 TB."""

from __future__ import annotations

from hive_release_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE


def _plan(df, mode: str = "simple") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_sq8_query_side_broadcasts_and_windows_share_one_exchange(spark):
    """The SQ8 candidate join must be the broadcast nested-loop of the
    tiny query side (never a CartesianProduct), and the shortlist +
    rerank windows must share ONE query_id exchange — the corpus is
    hash-shuffled exactly once, for the per-query top-k."""
    plan = _plan(REGISTRY["sim_ann_sq8"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    n = plan.count("Exchange hashpartitioning(query_id")
    assert n == 1, f"expected one shared query_id exchange, got {n}\n{plan}"


def test_tfidf_cosine_reuses_persisted_tf_and_weight_frames(spark):
    """search_tfidf_cosine persists only the tf frame (it feeds
    df/n_docs, the doc-norm weights and the scoring join); the weight
    frame streams and is never cached (test_tfidf_weight_matrix_not_cached).
    The tf consumers must read it as InMemoryTableScan, not re-run the
    tokenize explode per consumer."""
    plan = _plan(REGISTRY["search_tfidf_cosine"].fn(spark, SF_SMOKE))
    n = plan.count("InMemoryTableScan")
    assert n >= 2, f"expected >=2 cached reads, got {n}\n{plan}"


def test_regr_slope_windows_share_one_customer_exchange(spark):
    """The order-index window and the five-sum frame window both
    partition by o_custkey — they must ride ONE hash exchange (the
    final presentation sort is a range exchange, not counted)."""
    plan = _plan(REGISTRY["window_regr_slope"].fn(spark, SF_SMOKE))
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"expected one customer exchange, got {n}\n{plan}"


def test_ks_statistic_has_one_fact_shuffle(spark):
    """stats_ks_two_sample touches the fact with exactly one
    partial-agg shuffle (the per-price collapse); the ECDF windows run
    single-partition on the collapsed frame."""
    plan = _plan(REGISTRY["stats_ks_two_sample"].fn(spark, SF_SMOKE))
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"expected one value-collapse exchange, got {n}\n{plan}"


def test_values_inline_dim_is_local_and_broadcast(spark):
    """sql_values_inline must read NO second table: the VALUES dim is a
    LocalTableScan folded into a broadcast hash join against the one
    orders scan."""
    plan = _plan(REGISTRY["sql_values_inline"].fn(spark, SF_SMOKE))
    assert "LocalTableScan" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_autocorr_lags_reuse_persisted_day_frame(spark):
    """Both sides of the ACF rn-offset self-join must read the
    persisted day frame (InMemoryTableScan x2) — one fact collapse,
    not two."""
    plan = _plan(REGISTRY["timeseries_autocorr"].fn(spark, SF_SMOKE))
    n = plan.count("InMemoryTableScan")
    assert n >= 2, f"expected both join sides cached, got {n}\n{plan}"


def test_item_cf_degrees_ride_broadcast_joins(spark):
    """ml_item_item_cf must attach popularity via broadcast hash joins
    of the skinny degree frame — a SortMergeJoin on the pair frame
    would shuffle the candidate set twice for no reason."""
    plan = _plan(REGISTRY["ml_item_item_cf"].fn(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_naive_bayes_reuses_persisted_token_frames(spark):
    """ml_naive_bayes_langid persists the train token counts (feeds
    totals/vocab/postings) and the test doc-term frame (feeds lengths
    and hits) — both must read back as InMemoryTableScan, not re-run
    the tokenize explode per consumer."""
    plan = _plan(REGISTRY["ml_naive_bayes_langid"].fn(spark, SF_SMOKE))
    n = plan.count("InMemoryTableScan")
    assert n >= 3, f"expected >=3 cached reads, got {n}\n{plan}"


def test_naive_bayes_document_count_explodes_no_token(spark):
    """The documents-per-language prior counts training documents with
    non-NULL text: outside the two persisted token frames (leaves of
    the plan tree), no operator explodes a token."""

    def generates(node) -> int:
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            node = node.initialPlan()
        cs = node.children()
        return (node.getClass().getSimpleName() == "GenerateExec") + sum(
            generates(cs.apply(i)) for i in range(cs.size())
        )

    df = REGISTRY["ml_naive_bayes_langid"].fn(spark, SF_SMOKE)
    assert generates(df._jdf.queryExecution().executedPlan()) == 0, _plan(df)


def test_markov_model_is_broadcast_onto_test(spark):
    """The fitted 5-row transition model must broadcast onto the test
    transitions; the lead window is the only user-shaped exchange."""
    plan = _plan(REGISTRY["ml_markov_next_event"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan


def test_select_except_prunes_scan_schema(spark):
    """sql_select_except's entire point at 100 TB is that the star-
    minus projection reaches the scan: the excluded columns must NOT
    appear in the parquet ReadSchema."""
    plan = _plan(
        REGISTRY["sql_select_except"].fn(spark, SF_SMOKE), mode="formatted"
    )
    import re

    m = re.search(r"ReadSchema: (.+)", plan)
    assert m, plan
    schema = m.group(1)
    assert "o_orderstatus" not in schema, schema
    assert "o_totalprice" not in schema, schema
    assert "o_orderkey" in schema, schema


def test_kfold_cv_reuses_persisted_fold_moments(spark):
    """ml_regression_kfold_cv computes fold moments ONCE: the global
    sums and the per-fold training stats must both read the persisted
    fold frame (InMemoryTableScan), never re-scan the fact."""
    plan = _plan(REGISTRY["ml_regression_kfold_cv"].fn(spark, SF_SMOKE))
    n = plan.count("InMemoryTableScan")
    assert n >= 2, f"expected cached fold-moment reuse, got {n}\n{plan}"
    # (the plan text also shows the cache's stored build lineage, so a
    # raw FileScan count over-counts; the two InMemoryTableScans are
    # the actual executed reads)


def test_incremental_dedup_returns_checkpointed_ledger(spark):
    """pipeline_incremental_dedup (r10: pipeline_scope adoption) builds
    the survivor frame once under a scoped persist — serving the count
    action and the membership join at call time — and eagerly
    checkpoints the one-row ledger, so the RETURNED plan is a
    checkpoint scan with zero exchanges and the cache is already
    empty. Reuse + lifecycle pinned by
    test_cache_scope.py::test_remaining_pipeline_entries_are_cache_clean."""
    spark.catalog.clearCache()
    plan = _plan(
        REGISTRY["pipeline_incremental_dedup"].fn(spark, SF_SMOKE)
    )
    assert "Scan ExistingRDD" in plan, plan
    assert "Exchange" not in plan, plan
    assert "FileScan" not in plan, plan


def test_assortativity_degrees_ride_broadcasts(spark):
    """graph_assortativity attaches endpoint degrees via two broadcast
    joins of the skinny degree frame — a SortMergeJoin on the edge
    list would shuffle it twice."""
    plan = _plan(REGISTRY["graph_assortativity"].fn(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_boosted_stumps_round2_reads_cached_cells(spark):
    """ml_boosted_stumps's second round must read the persisted
    histogram-cell frame, not re-scan the fact — the one-pass claim
    is the entry's entire scale story."""
    plan = _plan(REGISTRY["ml_boosted_stumps"].fn(spark, SF_SMOKE))
    n = plan.count("InMemoryTableScan")
    assert n >= 2, f"expected cell-frame reuse across rounds, got {n}\n{plan}"
