"""Unit tests for the shared query helpers: ``global_topk`` (ranked
top-k), ``bounded_sort`` (single-task sort of a bounded result),
``baskets`` and ``sorted_pairs`` (basket building and postings pair
emission), ``exact_moment`` (exact integer second moments) and
``half_up`` (the fixed-point output fold). The registry entries built
on them are covered by the oracle and plan suites; these pin the
helpers' own contracts on tiny frames. The last tests keep the idioms
from being pasted back inline."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from hive_release_spark.functions.numeric import exact_moment, half_up
from hive_release_spark.operators.pairs import baskets, sorted_pairs
from hive_release_spark.operators.topk import bounded_sort, global_topk

PKG = Path(__file__).resolve().parent.parent / "hive_release_spark"


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


# k has ties and NULLs; (k, v) is unique
_KV = [(2, "b"), (None, "x"), (1, "c"), (2, "a"), (1, None), (3, "a"), (None, "y")]


def _kv(spark):
    return spark.createDataFrame(_KV, "k INT, v STRING").repartition(3)


def test_bounded_sort_matches_orderby(spark):
    def got(*order):
        return [(r.k, r.v) for r in bounded_sort(_kv(spark), *order).collect()]

    # ascending puts NULLs first, descending last; ties on k are cut by v
    assert got("k", "v") == [
        (None, "x"), (None, "y"), (1, None), (1, "c"), (2, "a"), (2, "b"), (3, "a"),
    ]
    assert got(F.desc("k"), "v") == [
        (3, "a"), (2, "a"), (2, "b"), (1, None), (1, "c"), (None, "x"), (None, "y"),
    ]
    assert got(F.asc_nulls_last("k"), F.desc_nulls_first("v")) == [
        (1, None), (1, "c"), (2, "b"), (2, "a"), (3, "a"), (None, "y"), (None, "x"),
    ]


def test_bounded_sort_empty_frame(spark):
    empty = spark.createDataFrame([], "k INT, v STRING")
    out = bounded_sort(empty, "k")
    assert out.collect() == []
    assert out.columns == ["k", "v"]


def test_bounded_sort_plans_no_range_exchange(spark):
    """One global Sort over ``Coalesce 1``: no range exchange, so no
    sampling job for its bounds."""
    agg = _kv(spark).groupBy("k").agg(F.count("*").alias("n"))
    plan = _plan(bounded_sort(agg, F.desc("n"), "k"))
    assert "rangepartitioning" not in plan, plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert "Coalesce 1" in plan, plan


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


def _orders(spark):
    # order 1 repeats part 3; order 2 has a single part
    return spark.createDataFrame(
        [(1, 3), (1, 1), (1, 3), (1, 2), (2, 9), (3, 5), (3, 4), (3, 5)],
        "o INT, part INT",
    )


def test_baskets_dedups_and_sorts_each_key(spark):
    out = baskets(_orders(spark).repartition(3), "o", "part", "parts")
    assert out.columns == ["o", "parts"]
    got = sorted((r.o, r.parts) for r in out.collect())
    assert got == [(1, [1, 2, 3]), (2, [9]), (3, [4, 5])]


def test_baskets_crosses_one_key_exchange(spark):
    """The distinct and the groupBy reuse the key repartition: the plan
    has exactly one Exchange, a hash partitioning on the key."""
    plan = _plan(baskets(_orders(spark), "o", "part", "parts"))
    exchanges = [ln for ln in plan.splitlines() if "Exchange " in ln]
    assert len(exchanges) == 1, plan
    assert re.search(r"Exchange hashpartitioning\(o#\d+, ", exchanges[0]), plan


def test_exact_moment_sums_past_long(spark):
    # each square (9e18) fits in a long; their sum (2.7e19) does not
    y = 3_000_000_000
    df = spark.createDataFrame([(y,)] * 3, "y BIGINT")
    got = df.select(exact_moment("y", "y").alias("syy")).first().syy
    assert 3 * y * y > 2**63
    assert got == float(3 * y * y) == 2.7e19


def test_exact_moment_product_overflow_raises_under_ansi(spark):
    """The precondition |a*b| < 2**63 is the caller's: only an ANSI
    session turns a violation into an error."""
    df = spark.createDataFrame([(4_000_000_000,)], "y BIGINT")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            df.select(exact_moment("y", "y")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_half_up_rounds_the_binary_double_toward_plus_inf(spark):
    df = spark.createDataFrame(
        [(1, 2.5), (2, -2.5), (3, 1.005), (4, None)], "k INT, x DOUBLE"
    )
    got = df.select(
        "k",
        half_up(F.col("x")).alias("h"),
        F.round("x").alias("r"),
        half_up(F.col("x") * 100).alias("h100"),
        F.round("x", 2).alias("r2"),
    )
    rows = {r.k: r for r in got.collect()}
    # ties go toward +inf; F.round takes -2.5 away from zero
    assert (rows[1].h, rows[2].h, rows[2].r) == (3, -2, -3.0)
    # the double 1.005 lies below 1.005, so its x100 product lies below
    # 100.5; F.round rounds the decimal repr "1.005" up instead
    assert (rows[3].h100, rows[3].r2) == (100, 1.01)
    assert rows[4].h is None and rows[4].h100 is None


def test_half_up_of_a_decimal_is_bigint(spark):
    df = spark.range(1).select(F.lit("12.34").cast("decimal(10,2)").alias("d"))
    out = df.select(half_up(F.col("d") * 10).alias("h"))
    assert out.schema["h"].dataType.simpleString() == "bigint"
    assert out.first().h == 123


# (pattern, the only files allowed to contain it)
_IDIOMS = {
    "exact moment": (
        re.compile(r'\.cast\("decimal\(38,\s*0\)"\)'),
        {"functions/numeric.py"},
    ),
    "basket chain": (
        re.compile(r"\.repartition\([^()]*\)\s*\.distinct\(\)"),
        {"operators/pairs.py"},
    ),
    "whitespace split": (
        re.compile(r'F\.split\(\s*[^,]+?,\s*" "\s*\)'),
        {"llm/text.py", "queries/functions_sql.py"},
    ),
    # a coalesce(1) that feeds a write (streaming/pipelines.py) is not a sort
    "bounded sort": (
        re.compile(r"\.coalesce\(\s*1\s*\)\s*\.(?:orderBy|sort)\("),
        {"operators/topk.py"},
    ),
    "neighbor rank tail": (
        re.compile(r'partitionBy\("query_id"\)\.orderBy\(\s*F\.col\("sim"\)\.desc\(\)'),
        {"llm/similarity.py"},
    ),
}
_EXCEPTIONS = {
    # splits a part name, not corpus text
    ("queries/llm.py", 'F.split("p_name", " ")'),
    # emb_matryoshka_recall and sim_rrf_fusion rank one pair frame under
    # two geometries and keep bare ids, not the rounded-sim tail
    ("queries/llm3.py", 'partitionBy("query_id").orderBy(\n        F.col("sim").desc()'),
}


def _is_half(n: ast.expr) -> bool:
    """``0.5`` or ``F.lit(0.5)``."""
    if (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "lit"
        and len(n.args) == 1
    ):
        n = n.args[0]
    return isinstance(n, ast.Constant) and n.value == 0.5


def _half_up_folds(tree: ast.AST) -> list[ast.Call]:
    """Every ``F.floor(<x> + 0.5)`` / ``F.floor(<x> + F.lit(0.5))``."""
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "floor"
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "F"
        and len(n.args) == 1
        and isinstance(n.args[0], ast.BinOp)
        and isinstance(n.args[0].op, ast.Add)
        and (_is_half(n.args[0].left) or _is_half(n.args[0].right))
    ]


def test_shared_idioms_are_not_inlined():
    """Exact moments go through ``exact_moment``, basket building
    through ``baskets``, whitespace tokenization of text through
    ``text.tokens``, the single-task sort through ``bounded_sort``, the
    per-query neighbor rank tail through ``rank_neighbors`` and the
    half-up output fold through ``half_up``;
    ``functions_sql`` keeps Hive's own split UDTF showcase. The fold is
    found by an ast walk, not a regex, because its argument often spans
    lines."""
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        tree = ast.parse(src)
        own = set()
        if rel == "functions/numeric.py":
            (fn,) = [f for f in tree.body if getattr(f, "name", "") == "half_up"]
            own = {id(n) for n in ast.walk(fn)}
        for n in _half_up_folds(tree):
            if id(n) not in own:
                stray.append(f"half-up fold: {rel}:{n.lineno}: use half_up")
        for name, (rx, allowed) in _IDIOMS.items():
            for m in rx.finditer(src):
                if rel not in allowed and (rel, m.group(0)) not in _EXCEPTIONS:
                    line = src.count("\n", 0, m.start()) + 1
                    stray.append(f"{name}: {rel}:{line}: {m.group(0)}")
    assert not stray, "\n".join(stray)

    numeric = (PKG / "functions/numeric.py").read_text()
    (only,) = _IDIOMS["exact moment"][0].finditer(numeric)
    line = numeric.count("\n", 0, only.start()) + 1
    (fn,) = [
        f
        for f in ast.parse(numeric).body
        if isinstance(f, ast.FunctionDef) and f.lineno <= line <= f.end_lineno
    ]
    assert fn.name == "exact_moment"
    pairs = (PKG / "operators/pairs.py").read_text()
    assert len(_IDIOMS["basket chain"][0].findall(pairs)) == 1
    assert len(_half_up_folds(ast.parse(numeric))) == 1
    topk = (PKG / "operators/topk.py").read_text()
    assert len(_IDIOMS["bounded sort"][0].findall(topk)) == 1
    sim = (PKG / "llm/similarity.py").read_text()
    assert len(_IDIOMS["neighbor rank tail"][0].findall(sim)) == 1
