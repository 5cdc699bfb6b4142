"""pipeline_scope (operators/cache.py, VERDICT r7 #5): call-time
persists issued by registry operators are released at scope exit,
without touching caches created outside the scope."""

from __future__ import annotations

from conftest import SF_SMOKE, _release_dropped_blocks

from hive_release_spark.operators.cache import pipeline_scope


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _storage_rdd_count(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_scoped_run_leaves_cache_empty(spark):
    """The VERDICT-named contract: running cache-using registry
    entries inside the scope leaves both the CacheManager (plan
    substitution) and executor storage (memory) empty on exit."""
    from hive_release_spark.queries import REGISTRY

    spark.catalog.clearCache()
    _release_dropped_blocks(spark)
    assert _cache_manager(spark).isEmpty()

    with pipeline_scope() as tracked:
        # both entries persist shared frames at CALL time (graph edge
        # list / minhash signature base) and return lazy results
        rows = REGISTRY["graph_adamic_adar"].fn(spark, SF_SMOKE).collect()
        assert rows
        rows = REGISTRY["dedup_minhash_lsh"].fn(spark, SF_SMOKE).collect()
        assert rows is not None
        assert tracked, "expected call-time persists to be tracked"
        assert not _cache_manager(spark).isEmpty()

    assert _cache_manager(spark).isEmpty()
    assert _storage_rdd_count(spark) == 0


def test_outside_caches_survive_the_scope(spark):
    """Unlike spark.catalog.clearCache(), the scope releases ONLY what
    was persisted inside it."""
    spark.catalog.clearCache()
    outside = spark.range(100).persist()
    outside.count()
    try:
        with pipeline_scope():
            inside = spark.range(50).persist()
            assert inside.count() == 50
        assert outside.storageLevel.useMemory, "outside cache was released"
        assert inside.storageLevel.useMemory is False
    finally:
        outside.unpersist(blocking=True)
    assert _cache_manager(spark).isEmpty()


def test_persist_methods_restored_after_exception(spark):
    from pyspark.sql import DataFrame

    orig_persist = DataFrame.persist
    orig_cache = DataFrame.cache
    leaked = spark.range(10)
    try:
        with pipeline_scope():
            leaked = leaked.persist()
            leaked.count()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert DataFrame.persist is orig_persist
    assert DataFrame.cache is orig_cache
    # the failed pipeline's cache was still released
    assert leaked.storageLevel.useMemory is False


def test_unpersist_inside_scope_is_fine(spark):
    _release_dropped_blocks(spark)
    with pipeline_scope():
        df = spark.range(20).persist()
        df.count()
        df.unpersist(blocking=True)
    # exit-time second unpersist is a no-op, no error
    assert _storage_rdd_count(spark) == 0


def test_nested_scopes_chain(spark):
    """Nesting is SUPPORTED by chaining (ADVICE r8-4 adjudication: the
    VERDICT r8 #6 adoption puts a scoped registry entry inside the
    scoped bench harness, so nesting must work, not raise): an inner
    persist is tracked by BOTH scopes — released early at inner exit,
    re-released as a no-op at outer exit — and an outer-only persist
    survives the inner scope."""
    spark.catalog.clearCache()
    _release_dropped_blocks(spark)
    with pipeline_scope() as outer_tracked:
        outer_df = spark.range(70).persist()
        outer_df.count()
        with pipeline_scope() as inner_tracked:
            inner_df = spark.range(30).persist()
            inner_df.count()
        assert len(inner_tracked) == 1
        # inner exit released the inner persist only
        assert inner_df.storageLevel.useMemory is False
        assert outer_df.storageLevel.useMemory
        # ... and the inner persist chained into the outer list too
        assert len(outer_tracked) == 2
    assert outer_df.storageLevel.useMemory is False
    assert _cache_manager(spark).isEmpty()
    assert _storage_rdd_count(spark) == 0


def test_foreign_thread_persist_not_tracked(spark):
    """The scope protects ONE pipeline: a persist issued by another
    thread during the block is not captured (ADVICE r8-4 — the old
    behavior silently released caches the scope never owned)."""
    import threading

    spark.catalog.clearCache()
    _release_dropped_blocks(spark)
    foreign: list = []

    def other_pipeline():
        df = spark.range(40).persist()
        df.count()
        foreign.append(df)

    with pipeline_scope() as tracked:
        mine = spark.range(10).persist()
        mine.count()
        t = threading.Thread(target=other_pipeline)
        t.start()
        t.join()
    assert len(tracked) == 1
    assert mine.storageLevel.useMemory is False
    try:
        assert foreign[0].storageLevel.useMemory, (
            "foreign thread's cache was released by a scope it never entered"
        )
    finally:
        foreign[0].unpersist(blocking=True)
    assert _storage_rdd_count(spark) == 0


def test_neardedup_entry_is_cache_clean(spark):
    """VERDICT r8 #6 done-criterion: the first production adopter —
    pipeline_neardedup_corpus runs its whole pair-graph phase inside
    pipeline_scope, so after CALLING the entry (before any caller
    action) executor storage and the CacheManager are already empty,
    and the returned frame still collects correctly from the
    checkpointed loser set."""
    from conftest import SF_SMOKE

    from hive_release_spark.queries import REGISTRY

    spark.catalog.clearCache()
    df = REGISTRY["pipeline_neardedup_corpus"].fn(spark, SF_SMOKE)
    # the CacheManager is empty: no persisted DataFrame survives the
    # call, so no later plan can silently substitute an
    # InMemoryRelation.  (Raw localCheckpoint RDD blocks for the
    # still-referenced loser frame remain in storage until the
    # ContextCleaner drops them — those are lineage anchors, not plan-
    # substituting caches, so they are exactly what getRDDStorageInfo
    # may legitimately show here.)
    assert _cache_manager(spark).isEmpty()
    assert len(df.collect()) > 0
    assert _cache_manager(spark).isEmpty()


def test_remaining_pipeline_entries_are_cache_clean(spark):
    """VERDICT r9 #5 done-criterion: the two remaining composite
    pipeline entries with call-time persists — pipeline_corpus_build
    (shared feature-scan persist) and pipeline_incremental_dedup
    (survivor persist + two count actions) — now run scoped with an
    eager final checkpoint, so executor cache is empty the moment the
    entry returns AND after the caller's collect.
    pipeline_quality_ablation is adjudicated out: it holds no persist
    at all (scan-side flags + one broadcast), so there is nothing for
    a scope to release — asserted here by the same cache-empty check
    without a scope in its kernel."""
    from conftest import SF_SMOKE

    from hive_release_spark.queries import REGISTRY

    for name in (
        "pipeline_corpus_build",
        "pipeline_incremental_dedup",
        "pipeline_quality_ablation",
    ):
        spark.catalog.clearCache()
        df = REGISTRY[name].fn(spark, SF_SMOKE)
        assert _cache_manager(spark).isEmpty(), f"{name} leaked a cache"
        assert len(df.collect()) > 0, name
        assert _cache_manager(spark).isEmpty(), f"{name} leaked post-collect"
