"""Unit tests for the shared query helpers in ``hive_release_spark.operators``:
``global_topk`` (ranked top-k) and ``sorted_pairs`` (postings pair
emission). The registry entries built on them are covered by the oracle
and plan suites; these pin the helpers' own contracts on tiny frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_release_spark.operators.pairs import sorted_pairs
from hive_release_spark.operators.topk import global_topk


def _plan(df, mode: str = "simple") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


# score has ties on the leading key; id is the unique trailing key
_SCORED = [(1, 5.0), (2, 9.0), (3, 5.0), (4, 7.0), (5, 9.0), (6, 1.0), (7, 5.0)]


def _scored(spark):
    return spark.createDataFrame(_SCORED, "id INT, score DOUBLE").repartition(3)


def _expected(k):
    full = sorted(_SCORED, key=lambda r: (-r[1], r[0]))
    return [(i, s, rk) for rk, (i, s) in enumerate(full[:k], start=1)]


def _rows(df):
    return [(r.id, r.score, r.rk) for r in df.orderBy("rk").collect()]


def test_global_topk_matches_full_sort_with_ties(spark):
    out = global_topk(_scored(spark), 4, F.desc("score"), "id")
    # the 4th place is a three-way tie on score, cut by id
    assert _rows(out) == _expected(4) == [
        (2, 9.0, 1),
        (5, 9.0, 2),
        (4, 7.0, 3),
        (1, 5.0, 4),
    ]


def test_global_topk_k_above_row_count(spark):
    out = global_topk(_scored(spark), 50, F.desc("score"), "id")
    assert _rows(out) == _expected(50)
    assert [r[2] for r in _rows(out)] == list(range(1, len(_SCORED) + 1))


def test_global_topk_empty_frame(spark):
    empty = spark.createDataFrame([], "id INT, score DOUBLE")
    out = global_topk(empty, 5, F.desc("score"), "id")
    assert out.collect() == []
    assert out.columns == ["id", "score", "rk"]


def _baskets(spark):
    return spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [4]), (3, []), (4, None), (5, [5, 6])],
        "k INT, items ARRAY<INT>",
    )


def _pair(x, y):
    return F.struct(x.alias("a"), y.alias("b"))


def test_sorted_pairs_emits_each_i_lt_j_pair_once(spark):
    out = sorted_pairs(_baskets(spark), "items", _pair)
    assert out.columns == ["p"]
    got = sorted((r.p.a, r.p.b) for r in out.collect())
    assert got == [(1, 2), (1, 3), (2, 3), (5, 6)]


def test_sorted_pairs_builds_pair_array_once(spark):
    """The pair array lives in its own projection and is exploded with
    explode_outer, so no inferred size-filter copies its construction:
    the plan shows ``flatten(`` exactly once."""
    plan = _plan(sorted_pairs(_baskets(spark), "items", _pair))
    assert plan.count("flatten(") == 1, plan
