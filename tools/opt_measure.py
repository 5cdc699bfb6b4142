"""Optimization measurement harness: measure first.

Times individual registry entries in isolation with the noop sink
(min/median of N), labels jobs, and dumps `.explain("formatted")` to
.opt-measure-plans/<name>_<tag>.txt (git-ignored) so before/after plan
claims can be compared on disk.

Usage:
    python tools/opt_measure.py before q21_waiting_suppliers ml_item_item_cf
    python tools/opt_measure.py after  ml_item_item_cf
    SPARK_GRAFT_OPT_REPS=5 python tools/opt_measure.py probe <name>

The tag is only a filename suffix; `probe` skips the plan dump.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hive_release_spark.operators.cache import pipeline_scope  # noqa: E402
from hive_release_spark.queries import REGISTRY  # noqa: E402
from hive_release_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
REPS = int(os.environ.get("SPARK_GRAFT_OPT_REPS", "3"))
PLANS = Path(__file__).resolve().parent.parent / ".opt-measure-plans"


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    spark = get_session(
        app_name="opt_measure",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # session warmup (uncounted) so the first named query isn't charged
    # JVM/codegen warmup
    REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    for name in names:
        fn = REGISTRY[name].fn
        times = []
        with pipeline_scope():
            for i in range(REPS):
                spark.sparkContext.setJobDescription(f"{name} rep{i}")
                t0 = time.time()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                times.append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
            if tag != "probe":
                PLANS.mkdir(parents=True, exist_ok=True)
                df = fn(spark, SF_DIR)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                (PLANS / f"{name}_{tag}.txt").write_text(plan)
        ts = ", ".join(f"{t:.3f}" for t in times)
        print(
            f"{name}: min={min(times):.3f} med={sorted(times)[len(times)//2]:.3f}"
            f" [{ts}]",
            flush=True,
        )


if __name__ == "__main__":
    main()
