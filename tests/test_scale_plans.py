"""Scale-mechanism tests: salted joins, bucketed shuffle-free joins,
dynamic partition pruning, AQE knobs, virtual columns. These are the
§2.B/§4 mechanisms a 100 TB deployment leans on — asserted at the plan
level, the same way Hive's TestPerfCliDriver asserts plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_release_spark.catalog import load_table
from hive_release_spark.operators.skew import salted_join
from tests.conftest import SF_SMOKE


def _plan(df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_suppkey", "l_quantity")
    supp = load_table(spark, SF_SMOKE, "supplier").select("s_suppkey", "s_name")
    supp = supp.withColumnRenamed("s_suppkey", "l_suppkey")
    plain = (
        li.join(supp, "l_suppkey")
        .groupBy("s_name")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    salted = (
        salted_join(li, supp, on="l_suppkey", n_salts=4)
        .groupBy("s_name")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_aqe_skew_knobs_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    """Two tables bucketed+sorted the same way on the join key (Hive
    CLUSTERED BY ... SORTED BY ... INTO 4 BUCKETS)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt_db")
    a = spark.range(0, 1000).withColumn("va", F.col("id") * 2)
    b = spark.range(0, 1000).withColumn("vb", F.col("id") * 3)
    for name, df in (("ba", a), ("bb", b)):
        (
            df.write.format("parquet")
            .mode("overwrite")
            .bucketBy(4, "id")
            .sortBy("id")
            .option("path", str(tmp_path / name))
            .saveAsTable(f"bkt_db.{name}")
        )
    yield "bkt_db.ba", "bkt_db.bb"
    spark.sql("DROP DATABASE IF EXISTS bkt_db CASCADE")


def test_bucketed_join_has_no_shuffle(spark, bucketed_pair):
    """Co-bucketed join must not exchange either side — Hive's bucket-map
    /SMB join (SMBMapJoinOperator), Spark's bucketed scan."""
    ta, tb = bucketed_pair
    a, b = spark.table(ta), spark.table(tb)
    joined = a.join(b.hint("merge"), "id").filter(F.col("va") >= 0)
    plan = _plan(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert joined.count() == 1000


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP (Hive AppMasterEventOperator / SparkPartitionPruningSink —
    SURVEY.md §2.A): a partitioned fact joined to a filtered dim must
    prune fact partitions at runtime."""
    fact_path = str(tmp_path / "fact")
    facts = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 10).cast("string").alias("ds")
    )
    facts.write.partitionBy("ds").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.range(0, 10).select(
        F.col("id").cast("string").alias("ds"), F.lit("x").alias("attr")
    ).filter(F.col("ds") == "3")
    joined = fact.join(dim, "ds")
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(ds" in plan, plan
    assert joined.count() == 100


def test_virtual_column_input_file_name(spark):
    """Hive virtual column INPUT__FILE__NAME (TableScanOperator —
    SURVEY.md §2.A) → input_file_name()."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    r = li.select(F.input_file_name().alias("f")).limit(1).collect()[0]
    assert "lineitem.parquet" in r.f


def test_small_file_compaction(spark, tmp_path):
    """ALTER TABLE ... CONCATENATE analogue: coalesce-rewrite many small
    files into few (Hive AbstractFileMergeOperator — SURVEY.md §2.A)."""
    p = str(tmp_path / "many")
    spark.range(0, 100).repartition(20).write.parquet(p)
    import glob

    assert len(glob.glob(f"{p}/part-*")) >= 20
    compacted = str(tmp_path / "few")
    spark.read.parquet(p).coalesce(2).write.parquet(compacted)
    assert len(glob.glob(f"{compacted}/part-*")) <= 2
    assert spark.read.parquet(compacted).count() == 100

def test_simhash_pairs_plan_has_no_self_join(spark):
    """SimHash near-dup uses the postings-list shape (r01 VERDICT #3): the
    signature pipeline is computed once and pairs are generated inline per
    bucket — no join of two full signature pipelines, one shuffle on the
    (chunk, value) bucket plus the final distinct."""
    from hive_release_spark.llm import dedup

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(dedup.simhash_pairs(docs), mode="simple")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 3, plan


def test_minhash_lsh_reuses_persisted_base(spark):
    """MinHash-LSH scans + shingles the corpus ONCE (r01 VERDICT #2): the
    shingle+signature base is persisted and reused by banding and both
    verify sides — the plan shows in-memory table scans, and at most one
    parquet scan of documents."""
    from hive_release_spark.llm import dedup

    docs = load_table(spark, SF_SMOKE, "documents")
    df = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4)
    plan = _plan(df, mode="simple")
    # all three consumers (banding, verify-a, verify-b) read the cache;
    # the parquet scan inside each InMemoryRelation printout is the cache's
    # fill plan, which executes once
    assert plan.count("InMemoryTableScan") >= 3, plan

def test_size_conditional_broadcast_degrades_to_sort_merge(spark):
    """r01 VERDICT #4: fact-side dim broadcasts must be size-conditional.
    At the default threshold customer broadcasts; with the threshold forced
    to 0 the SAME query code must fall back to a non-broadcast join instead
    of pinning a broadcast that would OOM at 100x scale."""
    from hive_release_spark.queries.joins import q3_shipping_priority

    plan_default = _plan(q3_shipping_priority(spark, SF_SMOKE), mode="simple")
    assert "BroadcastHashJoin" in plan_default, plan_default

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "0")
        plan_zero = _plan(q3_shipping_priority(spark, SF_SMOKE), mode="simple")
        assert "BroadcastHashJoin" not in plan_zero, plan_zero
        assert "SortMergeJoin" in plan_zero or "ShuffledHashJoin" in plan_zero, plan_zero
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_scalar_threshold_queries_scan_lineitem_once(spark):
    """Q2/Q11/Q15/Q17/Q20 decorrelate their scalar/correlated thresholds
    as window functions over the single aggregated (or semi-reduced)
    frame. The agg-and-join-back form re-scans lineitem per consumer
    (branch reuse does NOT dedupe lineage; measured 2× corpus scans) —
    at 100 TB that doubles the dominant cost, so one parquet scan of
    lineitem is pinned here."""
    import re

    from hive_release_spark.queries import REGISTRY

    for name in (
        "q2_min_cost_supplier",
        "q11_important_parts",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q20_excess_suppliers",
    ):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMOKE), mode="simple")
        n = len(re.findall(r"FileScan parquet.*lineitem", plan))
        assert n == 1, f"{name}: {n} lineitem scans\n{plan}"


def _table_scan_counts(plan: str) -> dict:
    import collections
    import re

    c: dict = collections.Counter()
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            m = re.search(r"(\w+)\.parquet", line)
            if m:
                c[m.group(1)] += 1
    return dict(c)


def test_corpus_operators_scan_documents_once(spark):
    """The corpus-pipeline operators read documents exactly once per
    logical role — the scan is the dominant cost at 100 TB, so a second
    lineage execution (branch reuse does not dedupe it) doubles the job.
    decontaminate's floor is 2 (eval + train are disjoint roles of the
    same table); tfidf persists its tf frame, so consumers must show
    InMemoryTableScan rather than a second FileScan lineage."""
    from hive_release_spark.queries import REGISTRY

    for name, want in (
        ("q18_large_orders", {"lineitem": 1, "orders": 1, "customer": 1}),
        ("text_repetition_score", {"documents": 1}),
        ("pipeline_dedup_quality", {"documents": 1}),
        ("decontaminate_ngram", {"documents": 2}),
        ("text_ngrams_top", {"documents": 1}),
        ("funnel_conversion", {"events": 1}),
        ("retention_cohorts", {"events": 1}),
        ("vocab_coverage_cutoff", {"documents": 1}),
        ("source_overlap_matrix", {"documents": 1}),
    ):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMOKE), mode="simple")
        got = _table_scan_counts(plan)
        assert got == want, f"{name}: {got}\n{plan}"
    tfidf = _plan(REGISTRY["text_tfidf_top_terms"].fn(spark, SF_SMOKE), mode="simple")
    assert tfidf.count("InMemoryTableScan") == 2, tfidf
    # span dedup: winner election + probe side must both read the
    # persisted chunk frame (the FileScan lines under each
    # InMemoryRelation are the cache DEFINITION, not a second execution)
    span = _plan(REGISTRY["dedup_span_chunks"].fn(spark, SF_SMOKE), mode="simple")
    assert span.count("InMemoryTableScan") == 2, span
    # multi-res rollup: day AND month levels re-aggregate the persisted
    # hourly frame — the raw events scan must not execute twice
    roll = _plan(REGISTRY["rollup_multires"].fn(spark, SF_SMOKE), mode="simple")
    assert roll.count("InMemoryTableScan") == 2, roll


def test_runtime_bloom_filter_join_activates(spark):
    """Spark's runtime bloom-filter join (the Hive bloom-filter RUNTIME
    role, COVERAGE §2.C) injects a might_contain pre-filter on the fact
    scan, built from the filtered dim side. The 10 GB application-side
    threshold means it only triggers at scale — lower it to prove the
    mechanism is live in this session's config, so the claim isn't
    resting on a conf flag alone."""
    from hive_release_spark.catalog import load_table

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    thr = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    old_thr = spark.conf.get(thr)
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(thr, "0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = _plan(j, mode="simple")
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        spark.conf.set(thr, old_thr)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_asof_join_plan_is_single_key_exchange(spark):
    """The as-of join must be the union + carry-forward window — ONE hash
    exchange on the join key for the unioned stream (plus the small
    right-side dedup exchange), never a non-equi range join
    (CartesianProduct / BroadcastNestedLoopJoin explode per key)."""
    from hive_release_spark.queries import REGISTRY

    plan = _plan(REGISTRY["join_asof_orders"].fn(spark, SF_SMOKE), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_hash_ex = plan.count("Exchange hashpartitioning")
    assert n_hash_ex == 2, f"expected union-window + dedup exchanges, got {n_hash_ex}\n{plan}"
    assert "WindowGroupLimit" in plan  # right-side dedup pushes top-1 below its shuffle


def test_ivf_bcast_plan_size_constant_in_n_cells(spark):
    """VERDICT r3 #4: ivf_topk carries its centroids as a packed
    broadcast ROW and assigns corpus cells in an Arrow kernel, never as
    plan literals, so its plan must NOT grow with n_cells."""
    from hive_release_spark.llm.similarity import ivf_topk

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)

    def plan_len(n_cells):
        return len(_plan(ivf_topk(q, emb, k=3, n_cells=n_cells, n_probe=2), "extended"))

    bc8, bc32 = plan_len(8), plan_len(32)
    assert bc32 < bc8 * 1.2, f"ivf_topk plan grew with n_cells: {bc8} -> {bc32}"


def test_ivf_bcast_corpus_side_has_no_shuffle_before_probe_join(spark):
    """The corpus reaches cell assignment through the Arrow kernel and
    the queries attach the centroid row by a broadcast nested-loop join
    (no Exchange): one corpus scan, zero corpus shuffles until the
    per-query rank window."""
    from hive_release_spark.llm.similarity import ivf_topk

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    plan = _plan(ivf_topk(q, emb, k=3, n_cells=8, n_probe=2))
    assert "MapInArrow" in plan
    assert "BroadcastNestedLoopJoin" in plan
    # the only hash exchange allowed is the rank window's query_id partition
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert all(e.startswith("query_id") for e in exchanges), exchanges


def test_blas_pairs_broadcast_only_the_block_grid(spark):
    """cosine_pairs_blas pairs its packed blocks by equi-joins against a
    driver-local (blk_a, blk_b) grid. No nested-loop join is planned,
    and no broadcast carries packed corpus rows: broadcasting them
    would collect the whole corpus to the driver."""
    import re

    from hive_release_spark.llm.similarity import cosine_pairs_blas
    from hive_release_spark.operators.cache import pipeline_scope

    emb = load_table(spark, SF_SMOKE, "embeddings")
    with pipeline_scope():
        plan = _plan(cosine_pairs_blas(emb, threshold=0.4))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    inputs = re.findall(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert inputs, plan
    assert not any("rows" in cols for cols in inputs), inputs


def test_lm_score_reuses_persisted_bigram_base(spark):
    """text_lm_score's bigram frame feeds three consumers (bigram counts,
    history counts, scoring probe); all three must read the persisted
    base (InMemoryTableScan), not re-execute the scan→split→explode
    lineage — otherwise the corpus is read 4x (the tfidf lesson)."""
    from hive_release_spark.queries import REGISTRY

    df = REGISTRY["text_lm_score"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_corpus_build_returns_checkpointed_report(spark):
    """pipeline_corpus_build runs its whole chain — shared feature
    persist feeding the yield counts AND the dedup leg — INSIDE the
    scope and eagerly checkpoints the tiny (lang, source) report, so
    the RETURNED plan is a checkpoint scan with zero exchanges (the
    shuffles ran at call time while the base was cached) and no cache
    survives the call. The scan-once reuse
    itself is pinned by the cache-scope test
    (test_cache_scope.py::test_remaining_pipeline_entries_are_cache_clean)
    plus this checkpoint-root assertion: a plan that re-derived the
    corpus would show scans/exchanges here."""
    from hive_release_spark.queries import REGISTRY

    spark.catalog.clearCache()
    df = REGISTRY["pipeline_corpus_build"].fn(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert "Scan ExistingRDD" in plan, plan
    assert "Exchange" not in plan, plan
    assert "FileScan" not in plan, plan


def test_range_join_bucketed_equals_naive_theta(spark):
    """The bucketed range join must produce exactly the pairs the naive
    equi+residual formulation produces — bucketing only prunes
    candidates, never pairs — and each pair exactly once (the probe side
    has a single home bucket, so no distinct step exists to hide dupes)."""
    from hive_release_spark.operators.rangejoin import range_join_bucketed

    ev = load_table(spark, SF_SMOKE, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", "ts"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"), "user_id", F.col("ts").alias("vts")
    )
    bucketed = range_join_bucketed(
        p, v, key="user_id", left_ts="ts", right_ts="vts", window_seconds=3600
    ).select("pid", "vid")
    naive = p.join(v, "user_id").filter(
        (F.col("vts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("vts") <= F.col("ts"))
    ).select("pid", "vid")
    b = sorted(map(tuple, bucketed.collect()))
    n = sorted(map(tuple, naive.collect()))
    assert b == n and len(b) == len(set(b))


def test_range_join_bucketed_rejects_sub_window_buckets(spark):
    """Finer-than-window buckets explode more rows without pruning — the
    operator must refuse them."""
    import pytest

    from hive_release_spark.operators.rangejoin import range_join_bucketed

    ev = load_table(spark, SF_SMOKE, "events").limit(1)
    with pytest.raises(ValueError, match="bucket_seconds"):
        range_join_bucketed(
            ev, ev, key="user_id", left_ts="ts", right_ts="ts",
            window_seconds=3600, bucket_seconds=60,
        )


def test_incremental_dedup_bucket_deploy_is_shuffle_free_on_corpus(
    spark, tmp_path
):
    """pipeline_incremental_dedup's 100 TB claim made runnable (ADVICE
    r6): the survivor hash set deployed as a table BUCKETED on the
    content key makes the daily membership join shuffle-free on the
    corpus side — only the (small) batch side exchanges. The entry
    itself demos the query shape at fixture scale; this pins the
    deployment mechanics the docstring promises."""
    docs = load_table(spark, SF_SMOKE, "documents")
    surv = docs.filter(F.col("doc_id") % 10 != 0).groupBy(
        F.md5("text").alias("h")
    ).agg(F.min("doc_id").alias("survivor_id"))
    name = "surv_bucketed_r6"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        surv.write.bucketBy(8, "h").sortBy("h")
        .option("path", str(tmp_path / name))
        .saveAsTable(name)
    )
    try:
        corpus = spark.table(name)
        batch = docs.filter(F.col("doc_id") % 10 == 0).select(
            F.md5("text").alias("h"), "doc_id"
        )
        joined = batch.join(corpus.hint("merge"), "h", "left")
        plan = _plan(joined)
        # exactly one exchange node: the batch side; the bucketed
        # corpus scan feeds the join directly
        import re

        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange == 1, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == batch.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
