"""Call-time shuffle audit for the pipeline_scope entries.

The static Exchange ledger (tools/plan_exchange_ledger.json +
tests/test_registry_plan_sweep.py) counts Exchange nodes in the
RETURNED plan — and the two scoped pipelines, pipeline_corpus_build
and pipeline_incremental_dedup, each return a scan of their final
eager checkpoint, so their ledger rows read 0 while the real shuffles
run eagerly at CALL time, invisible to the plan sweep. This test
restores machine detection on the EXECUTION side: it counts the
shuffle-map stages that actually wrote shuffle data during one
call+collect, via the live AppStatusStore (the same store the UI reads
— `sc.statusStore` is Scala package-private, which compiles to a
public method, so py4j reaches it without any JVM plumbing).

The pinned numbers are counts at sf0.001 under the test session
(local[4], 4 shuffle partitions, AQE on):

* pipeline_corpus_build = 3 — the persisted feature-scan's two
  consumers: md5-dedup exchange + its (lang, source) rollup on the
  kept leg, and the (lang, source) counts exchange on the other; the
  broadcast report join adds none, and the final report sort runs in
  one task (``bounded_sort``), so it writes no range shuffle.
* pipeline_incremental_dedup = 5 — the batch-size count's partial
  count; the survivor frame's md5 groupBy (the persist); the survivor
  count's partial counts over the persisted frame; the batch's md5
  groupBy; and the ledger's global aggregate. The membership join
  broadcasts the cached survivor side, so it writes no shuffle.

A GROWN count here is a silent shuffle regression inside the scope
(e.g. the shared persist stops being shared and a consumer re-scans,
or a broadcast degrades to a shuffled join) — exactly the class a
checkpointed return makes invisible to the ledger. A SHRUNK count is
an improvement: re-pin it consciously. Counts are asserted as ranges
only where AQE could legitimately elide an empty-side exchange; both
entries measured stable across repeated calls (two trials each at pin
time).
"""

from __future__ import annotations

import pytest

from tests.conftest import _executed_shuffle_stages


# entry -> executed shuffle-map stages per call at sf0.001 (see module
# docstring for the per-stage attribution)
#
# The two CHECKPOINTED iterative entries are pinned too: their eager
# localCheckpoints truncate the returned plan, so the static Exchange
# ledger is blind to their per-round exchanges (a returned PageRank
# plan shows only the exchanges after its last checkpoint, however
# many rounds ran before it). Executed-stage counts at sf0.001,
# local[4], stable across two trials each at pin time:
#
# * graph_pagerank = 9 — edge symmetrize-distinct + degree groupBy,
#   then per round (×3): the edges⋈ranks join exchange + the
#   contribution groupBy (the deg reattach is node-sized and rides the
#   same exchanges, carried in the rank state), plus the output sort.
# * dedup_connected_components = 8 — shingle postings + candidate pair
#   emission + exact-verify exchanges feeding the label frame, then the
#   min-label rounds (converging in one round at this fixture's
#   duplicate density) + the survivor aggregation.
#
# Bounded ORDER BY (``operators/topk.py::bounded_sort``): the final sort
# of a small aggregate runs in one task, with no range exchange, so its
# aggregate stage no longer writes a range shuffle:
#
# * q1_pricing_summary = 1 — the (returnflag, linestatus) partial
#   aggregate's exchange (was 2: + the range exchange).
# * q13_customer_distribution = 2 — the per-customer exchange and the
#   c_count exchange above it (was 3: + the range exchange).
PINNED = {
    "q1_pricing_summary": 1,
    "q13_customer_distribution": 2,
    "pipeline_corpus_build": 3,
    "pipeline_incremental_dedup": 5,
    "graph_pagerank": 9,
    "dedup_connected_components": 8,
}


@pytest.mark.parametrize("name", sorted(PINNED))
def test_scoped_pipeline_call_time_shuffles(spark, name):
    from hive_release_spark.queries import REGISTRY

    spark.catalog.clearCache()
    fn = REGISTRY[name].fn
    n = _executed_shuffle_stages(
        spark, lambda: fn(spark, "/root/testdata/sf0.001").collect()
    )
    assert n <= PINNED[name], (
        f"{name} executed {n} shuffle-writing stages at call time, "
        f"pinned {PINNED[name]} — a shuffle GREW inside the scope "
        "(shared persist no longer shared? broadcast degraded?). "
        "Diagnose before re-pinning."
    )
    assert n >= 1, (
        f"{name} executed no shuffle-writing stages — the instrument "
        "is broken (statusStore API drift?), not the pipeline"
    )
    if n < PINNED[name]:
        pytest.fail(
            f"{name} executed {n} < pinned {PINNED[name]} shuffle "
            "stages — an improvement; re-pin PINNED consciously"
        )
