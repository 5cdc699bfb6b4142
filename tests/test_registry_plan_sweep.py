"""Registry-wide physical-plan anti-pattern sweep.

ONE pass builds every registry entry's formatted plan at sf0.001 and
checks the repo-wide NEGATIVE guarantees the scale story rests on.
The per-entry plan/property tests pin the POSITIVE shapes
(broadcasts, pushdowns, partial aggs); this sweep catches a
regression in ANY of the 361 entries — including ones no targeted
plan test covers. Building 361 plans costs ~2 min (a handful of
entries run driver-loop jobs at plan-build time); that is the price
of the blanket guarantee.

Checks:

- ``CartesianProduct`` — an un-broadcast cross join; O(n*m) row pairs
  with no pruning. The repo's cross-join entries ride
  BroadcastNestedLoopJoin (tiny side broadcast) instead; the one
  entry whose SEMANTICS are a cross join (join_cross) is allowlisted
  for the day Catalyst's size estimates tip it over — everything else
  appearing here is a bug.
- ``BatchEvalPython`` — a row-at-a-time (non-Arrow) Python UDF, the
  10-100x slow path. The package's Python escape hatches are all
  Arrow-batched (mapInArrow / applyInArrow for the vector kernels,
  pandas_udf / mapInPandas / applyInPandas elsewhere, which plan as
  MapInArrow / FlatMapGroupsInArrow / ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas);
  udtf_python is the deliberate Python-UDTF extension-surface demo
  (Spark 4 plans UDTFs as BatchEvalPythonUDTF — there is no Arrow
  UDTF mode) and is the only allowed hit.
- **Full-width scans of wide tables** — a parquet scan whose
  ReadSchema lists EVERY column of a >4-column fixture table means
  column pruning failed; at 100 TB that is the difference between
  reading the whole table and reading the projected slice. One
  legitimate hit: pipeline_dedup_quality consumes all 5 documents
  columns by construction (md5+tokens over text, lang/source
  projection, n_chars quality gate).
- **Exchange-count growth** vs tools/plan_exchange_ledger.json — each
  Exchange is a shuffle; an entry whose plan gained one regressed the
  operative scale cost even if results stay correct. After a
  DELIBERATE plan change, regenerate the ledger with
  ``python tools/gen_exchange_ledger.py`` so the growth is a
  conscious, reviewed decision, never a silent one. (Counts shrinking
  passes — strictly better.)
- **A scan under ``Coalesce 1``** — ``operators/topk.py::bounded_sort``
  sorts a bounded aggregate in one task. Walking the physical plan
  tree below every ``CoalesceExec(1)``, each branch must cross an
  ``Exchange`` or ``BroadcastExchange`` before it reaches a scan leaf;
  otherwise the helper collapsed a scan stage onto one task. The walk
  rides this pass instead of building every plan a second time.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pyarrow.parquet as pq

from hive_release_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# entry -> findings it is allowed to produce, with the reasons above
ALLOWED = {
    "udtf_python": {"BatchEvalPython"},
    "join_cross": {"CartesianProduct"},
    "pipeline_dedup_quality": {"fullscan:documents"},
}

PATTERNS = ("CartesianProduct", "BatchEvalPython")
SCAN_RX = re.compile(
    r"Scan parquet.*?Location:.*?/(\w+)\.parquet.*?ReadSchema: struct<(.*?)>",
    re.S,
)
EXCHANGE_RX = re.compile(r"\(\d+\) Exchange")
STAGE_BOUNDARIES = {"ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec"}
LEDGER = Path(__file__).resolve().parent.parent / "tools" / "plan_exchange_ledger.json"


def _scans_under_coalesce_one(node, below=False) -> list[str]:
    """Scan leaves reached from a ``CoalesceExec(1)`` without crossing
    an exchange (the AQE initial plan, as the formatted explain shows)."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _scans_under_coalesce_one(node.initialPlan(), below)
    if below and name in STAGE_BOUNDARIES:
        below = False
    if name == "CoalesceExec" and node.numPartitions() == 1:
        below = True
    cs = node.children()
    kids = [cs.apply(i) for i in range(cs.size())]
    if below and not kids and "Scan" in name and name != "LocalTableScanExec":
        return [name]
    return [s for c in kids for s in _scans_under_coalesce_one(c, below)]


def test_registry_plan_sweep(spark):
    ncols = {
        t: len(pq.read_schema(f"{SF_SMOKE}/{t}.parquet").names)
        for t in TABLES
    }
    ledger = json.loads(LEDGER.read_text())
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    violations: dict[str, list[str]] = {}
    scans_matched = 0
    coalesced = 0
    for name, q in REGISTRY.items():
        # CacheManager substitutes any LIVE cached subtree into new plans
        # (several entries persist frames at call time and never unpersist
        # — session-lifetime caches), which changes Exchange counts with
        # whatever ran before. Clear per entry so every count is the
        # clean-session plan — cache-state- and test-order-independent.
        spark.catalog.clearCache()
        qe = q.fn(spark, SF_SMOKE)._jdf.queryExecution()
        plan = qe.explainString(mode)
        findings = [p for p in PATTERNS if p in plan]
        if "Coalesce" in plan:
            coalesced += 1
            for scan in _scans_under_coalesce_one(qe.executedPlan()):
                findings.append(f"scan-under-coalesce-1:{scan}")
        for m in SCAN_RX.finditer(plan):
            tbl, schema = m.group(1), m.group(2)
            if tbl not in ncols:
                continue
            scans_matched += 1
            read = len(re.findall(r"\w+:", schema)) if schema.strip() else 0
            if read >= ncols[tbl] > 4:
                findings.append(f"fullscan:{tbl}")
        n_ex = len(EXCHANGE_RX.findall(plan))
        if name not in ledger:
            findings.append("no-ledger-row (run tools/gen_exchange_ledger.py)")
        elif n_ex > ledger[name]:
            findings.append(
                f"exchanges-grew:{ledger[name]}->{n_ex} "
                "(shuffle regression — if deliberate, regenerate the ledger)"
            )
        bad = [f for f in set(findings) if f not in ALLOWED.get(name, set())]
        if bad:
            violations[name] = sorted(bad)
    # a deleted/renamed entry leaves a dead ledger row the growth check
    # never reads — flag it so the ledger is regenerated, not left stale
    for dead in sorted(set(ledger) - set(REGISTRY)):
        violations[dead] = ["stale-ledger-row (run tools/gen_exchange_ledger.py)"]
    # the scan regex matching nothing would make the pruning check
    # vacuous — the registry reads parquet hundreds of times
    assert scans_matched > 300, scans_matched
    # bounded_sort's callers: an empty walk would make that check vacuous
    assert coalesced >= 40, coalesced
    assert not violations, (
        "plan anti-patterns found (un-broadcast cross join, row-at-a-time "
        "Python UDF, unpruned wide-table scan, shuffle growth, or a scan "
        f"collapsed under Coalesce 1): {violations}"
    )
