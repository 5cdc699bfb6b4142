"""Operator-inventory queries (SURVEY.md §2), registered on import."""

from hive_release_spark.queries.registry import REGISTRY, Query, register  # noqa: F401

# Importing the modules populates REGISTRY.
from hive_release_spark.queries import (  # noqa: F401,E402
    relational,
    joins,
    windows,
    functions_sql,
    llm,
    streaming_batch,
    extensions,
    coverage,
    coverage2,
    llm2,
    llm3,
    llm4,
    tpch_more,
    tpch_full,
    tpcds,
    analytics,
    analytics3,
    graphs,
    timeseries,
    stats_tests,
    ml_sql,
)


# The driver's correctness gate records only the FIRST 50 entries of
# ``queries()`` (dict order): DRIVER_WINDOW, then the rest of the
# registry.  The window is chosen by hand; every entry outside it is
# still verified by tools/check.py and the oracle-parity tests.

DRIVER_WINDOW = [
    "sim_ann_lsh",
    "corpus_token_stats",
    "stream_dedup_first",
    "fn_parse_url",
    "stream_stream_join",
    "multimodal_frame_sample",
    "dedup_jaccard_prefix",
    "stream_stream_full_join",
    "ptf_matchpath",
    "sample_reservoir_group",
    "text_script_profile",
    "stream_session",
    "ds_cross_channel_customers",
    "agg_hll_union",
    "ds_topk_per_group",
    "q6_forecast_revenue",
    "join_shuffle_hash_hint",
    "text_context_ngrams",
    "fn_string2",
    "fn_numeric_repr",
    "text_normalize",
    "text_pii_scrub",
    "shuffle_shard_assign",
    "sample_stratified",
    "vocab_coverage_cutoff",
    "source_overlap_matrix",
    "q14_promo_effect",
    "q7_volume_shipping",
    "q8_market_share",
    "q15_top_supplier",
    "q16_supplier_cnt",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q22_dormant_customers",
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q20_excess_suppliers",
    "funnel_conversion",
    "retention_cohorts",
    "agg_grouping_id",
    "window_range_interval",
    "window_ignore_nulls",
    "udtf_explode_map",
    "search_query_likelihood",
    "search_bm25_rank",
    "search_tfidf_cosine",
    "text_rake_phrases",
    "emb_matryoshka_recall",
    "sim_rrf_fusion",
    "events_markov_stationary",
]


def _ordered():
    window = [REGISTRY[n] for n in DRIVER_WINDOW]
    rest = [q for n, q in REGISTRY.items() if n not in set(DRIVER_WINDOW)]
    return window + rest


def queries():
    return {q.name: q.fn for q in _ordered()}


def oracle_sql():
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}
