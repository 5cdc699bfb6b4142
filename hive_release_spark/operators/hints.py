"""Size-conditional join hints.

Hive auto-converts shuffle joins to map joins by comparing the small side
against ``hive.auto.convert.join.noconditionaltask.size``
(``optimizer/ConvertJoinMapJoin`` — SURVEY.md §2.B). Spark does the same
with ``spark.sql.autoBroadcastJoinThreshold``, but a hard-coded
``F.broadcast(dim)`` hint OVERRIDES the size check: correct at bench SFs,
an executor-OOM at 100× scale once the dim outgrows the broadcast ceiling
(e.g. customer ≈ 15 GB at 100 TB-equivalent).

``maybe_broadcast`` makes the hint honest: it consults Catalyst's own size
estimate and only pins the broadcast when the frame fits under the
session's threshold — otherwise the frame is returned unhinted and
Catalyst/AQE pick the strategy (sort-merge, or a runtime broadcast if AQE's
measured size allows). The same query code is then safe at any scale
factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def maybe_broadcast(df: DataFrame) -> DataFrame:
    """Broadcast hint only if Catalyst's size estimate for ``df`` is under
    the session's ``spark.sql.autoBroadcastJoinThreshold``; unhinted
    otherwise (and always unhinted when the threshold is <= 0, i.e.
    broadcasting is disabled). The threshold is read as the session's
    own parsed long, so every byte-conf spelling ('10m', '1g', '-1')
    means what it means to Spark."""
    jss = df.sparkSession._jsparkSession
    threshold = jss.sessionState().conf().autoBroadcastJoinThreshold()
    if threshold <= 0:
        return df
    estimate = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    return F.broadcast(df) if estimate <= threshold else df
