"""Plan pins for the round-5 operators: the shuffle/broadcast/persist
shapes SCALE.md claims for them, asserted the way test_scale_plans.py
pins the earlier rounds' operators. A lost persist or a join that
degrades to a cartesian shows up here, not as a silent slow plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan(df, mode: str = "simple") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def _entry(spark, name):
    from hive_release_spark.queries import REGISTRY

    return REGISTRY[name].fn(spark, SF_SMOKE)


def test_attribution_position_single_corpus_scan(spark):
    """The journey-segmented frame feeds both the view and purchase
    legs; it must be persisted (one events scan + one journey window),
    and journey segmentation must be a window, never a range join."""
    plan = _plan(_entry(spark, "events_attribution_position"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both legs read the cache (the FileScan text inside the cached
    # subtree is the cache-fill plan, not a second corpus read)
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_record_linkage_collapses_before_joining(spark):
    """Both self-join sides must read the persisted name-cardinality
    frame — the part corpus is collapsed once, and levenshtein runs on
    block-mate pairs only (an equi join on the block key, no
    cartesian)."""
    plan = _plan(_entry(spark, "dedup_record_linkage"))
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_simhash_banded_never_self_joins(spark):
    """The banded path's pair emission is inline over the postings
    list; the quadratic signature self-join exists only in the DuckDB
    oracle."""
    plan = _plan(_entry(spark, "dedup_simhash_banded"))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 1, plan


def test_fold_series_entries_shuffle_once(spark):
    """EWMA / Holt / Theil-Sen collapse the corpus to month grain in
    ONE hash exchange; the fold itself runs on a single packed row
    (one SinglePartition exchange), never a per-row window or join."""
    for name in ("timeseries_ewma", "timeseries_holt", "timeseries_theil_sen"):
        plan = _plan(_entry(spark, name))
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_abc_classification_windows_on_part_frame(spark):
    """The global-order window must run AFTER the part-grain collapse
    (one hash exchange for the part aggregate, one SinglePartition for
    the ordered window) — never a total sort of the fact table."""
    plan = _plan(_entry(spark, "orders_abc_classification"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_query_likelihood_single_tokenize_pass(spark):
    """r13: every statistic (doc lengths, per-doc query-term tfs, the
    token total, collection frequencies) rides ONE doc-grain
    conditional aggregate over ONE tokenize pass — the former shape
    re-ran scan→split→explode four times (dl / tot / cf / tf
    subtrees). The per_doc frame persists, so BOTH consumers (the
    1-row stats rollup and the scored pass) read the cache — the
    tokenize pipeline executes once. The 1-row stats frame broadcasts;
    the top-20 is a TakeOrderedAndProject, never a global window over
    the corpus."""
    # cache-sensitive counts: an earlier test running this entry
    # outside pipeline_scope leaves per_doc (or a parent frame)
    # cached, which reshapes the echoed subtrees (precedent:
    # test_stats_plans.py)
    spark.catalog.clearCache()
    df = _entry(spark, "search_query_likelihood")
    simple = _plan(df, "simple")
    # every consumer of per_doc hits the cache: exactly the two
    # InMemoryTableScans, and no documents scan OUTSIDE a cached
    # subtree (each InMemoryTableScan echoes the cached plan once, so
    # parquet mentions == cache scans)
    assert simple.count("InMemoryTableScan") == 2, simple
    assert simple.count("documents.parquet") == simple.count(
        "InMemoryTableScan"
    ), simple
    plan = _plan(df, "formatted")
    assert plan.count("BroadcastExchange") >= 1, plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # the conditional tf counters reference the query terms inline
    assert "spark" in plan and "query" in plan


def test_bm25_single_tokenize_pass(spark):
    """r13: same one-pass recipe as query likelihood — doc lengths,
    per-doc query-term tfs, corpus stats AND document frequencies all
    ride ONE doc-grain conditional aggregate over ONE tokenize pass
    (the former shape re-ran scan→split→explode four times: dl fed
    stats + the scored join, tf fed df + scored). per_doc persists, so
    both consumers read the cache; the 1-row stats frame broadcasts;
    the top-20 is a TakeOrderedAndProject."""
    spark.catalog.clearCache()
    df = _entry(spark, "search_bm25_rank")
    simple = _plan(df, "simple")
    assert simple.count("InMemoryTableScan") == 2, simple
    assert simple.count("documents.parquet") == simple.count(
        "InMemoryTableScan"
    ), simple
    plan = _plan(df, "formatted")
    assert plan.count("BroadcastExchange") >= 1, plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cuped_single_user_collapse(spark):
    """All six sufficient statistics ride one user-grain aggregate;
    the readout adds only the 2-row arm rollup — two hash exchanges
    total, no joins, nothing user-shaped in a second shuffle."""
    plan = _plan(_entry(spark, "events_ab_cuped"))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan, plan


def test_column_profile_single_scan_single_aggregate(spark):
    """The multi-distinct profile must plan as ONE scan + one Expand
    aggregate — per-column scans would read orders five times."""
    plan = _plan(_entry(spark, "dq_column_profile"))
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_binary_ann_corpus_never_shuffles_before_rank(spark):
    """Codes pack scan-side and the query side broadcasts, so the only
    exchanges are the per-query rank windows — the corpus must not
    hash-shuffle before the broadcast join."""
    plan = _plan(_entry(spark, "sim_ann_binary"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    # the ONE hash exchange is the per-query rank window (both windows
    # share the query_id partitioning); the corpus never hash-shuffles
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_hhi_single_fact_pass(spark):
    """Both dims broadcast; the only hash exchanges are the
    (nation, supplier) collapse and the nation rollup."""
    plan = _plan(_entry(spark, "supplier_concentration_hhi"))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_business_rules_single_aggregate(spark):
    """Five rules must plan as ONE aggregate over ONE joined pass —
    a per-rule union would multiply fact scans."""
    plan = _plan(_entry(spark, "dq_business_rules"))
    assert plan.count("Scan parquet") == 2, plan  # lineitem + orders once


def test_threshold_sweep_reuses_persisted_pairs(spark):
    """Five thresholds ride the persisted pair list — the shingle
    postings pass must not replay per threshold."""
    plan = _plan(_entry(spark, "dedup_threshold_sweep"))
    # NOTE: no scan-count assert here — the pair frame's lineage is
    # shared with the graph_* entries, so in a full-suite run the cache
    # manager may serve a cache whose stored fill-plan text differs
    # (more embedded FileScan mentions). The load-bearing fact is that
    # the threshold join reads the cache at all.
    assert "InMemoryTableScan" in plan, plan


def test_tfidf_weight_matrix_not_cached(spark):
    """r13: the full (doc, term) tf-idf weight matrix W streams ONCE
    into the doc-norm aggregate — it is never persisted (the old shape
    cached the corpus-token-cardinality W to serve a 3-query-term
    read). The scoring branch is postings-pruned instead: the query
    term IN-filter lands directly on the cached tf scan."""
    spark.catalog.clearCache()
    df = _entry(spark, "search_tfidf_cosine")
    plan = _plan(df, "formatted")
    # no cached relation carries the weight column
    for line in plan.splitlines():
        if "InMemoryRelation" in line:
            assert "wt" not in line, line
    # the scoring branch reads the tf cache already filtered to the
    # query terms (filter pushed into the cache scan, next to the
    # doc-norm join's null guard)
    assert "IN (spark,table,query), isnotnull(doc_id" in plan, plan
