"""Regenerate PLANS.md: physical-plan snapshots for the headline queries
(plan-quality evidence — pushdown, broadcast, partial agg, no stray
shuffles). Run: python tools/dump_plans.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HEADLINE  # noqa: E402
from hive_release_spark.queries import REGISTRY  # noqa: E402
from hive_release_spark.session import get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_session(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical plans of the headline queries\n",
        "Generated by `tools/dump_plans.py` (sf0.01, AQE on — plans shown",
        "pre-finalization). What to look for: PushedFilters/ReadSchema at",
        "every FileScan, BroadcastHashJoin for dim sides, two-level",
        "HashAggregate (partial/final), TakeOrderedAndProject for top-k,",
        "`Coalesce 1` → `Sort` for bounded ORDER BY (no range exchange),",
        "no CartesianProduct anywhere.\n",
    ]
    for name in HEADLINE:
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        out.append(f"\n## {name}\n\n```\n{plan.strip()}\n```\n")
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
