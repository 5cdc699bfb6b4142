"""Unit tests for the shared query helpers: ``global_topk`` (ranked
top-k), ``bounded_sort`` (single-task sort of a bounded result),
``baskets`` and ``sorted_pairs`` (basket building and postings pair
emission), ``term_counts`` and ``query_term_stats`` (corpus token
counts), ``exact_moment`` (exact integer second moments),
``half_up`` (the fixed-point output fold) and ``arrow_fns`` (the vector
kernels' Arrow boundary). The registry entries built
on them are covered by the oracle and plan suites; these pin the
helpers' own contracts on tiny frames. The last tests keep the idioms
from being pasted back inline."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from hive_release_spark.functions.numeric import exact_moment, half_up
from hive_release_spark.llm.similarity import arrow_fns
from hive_release_spark.llm.text import query_term_stats, term_counts
from hive_release_spark.operators.pairs import baskets, sorted_pairs
from hive_release_spark.operators.topk import bounded_sort, global_topk

PKG = Path(__file__).resolve().parent.parent / "hive_release_spark"
REPO = PKG.parent


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


def _docs(spark):
    # doc 2 has NULL text; doc 3's "" splits to one empty token
    return spark.createDataFrame(
        [(1, "x", "a b a"), (2, "x", None), (3, "y", ""), (4, "y", "b")],
        "doc_id INT, k STRING, text STRING",
    )


def test_term_counts_per_key_grain(spark):
    whole = term_counts(_docs(spark))
    assert whole.columns == ["term", "n"]
    assert sorted(tuple(r) for r in whole.collect()) == [("", 1), ("a", 2), ("b", 2)]
    by_k = term_counts(_docs(spark), "k")
    assert by_k.columns == ["k", "term", "n"]
    assert sorted(tuple(r) for r in by_k.collect()) == [
        ("x", "a", 2), ("x", "b", 1), ("y", "", 1), ("y", "b", 1),
    ]
    by_doc = term_counts(_docs(spark), "doc_id", "k")
    assert by_doc.columns == ["doc_id", "k", "term", "n"]
    assert sorted(tuple(r) for r in by_doc.collect()) == [
        (1, "x", "a", 2), (1, "x", "b", 1), (3, "y", "", 1), (4, "y", "b", 1),
    ]


def test_term_counts_splits_once(spark):
    """The explode's input is the split itself, so no inferred size
    filter copies it: the plan shows ``split(`` exactly once."""
    plan = _plan(term_counts(_docs(spark), "k"))
    assert plan.count("split(") == 1, plan


def test_query_term_stats_counts_per_document(spark):
    stats = query_term_stats(_docs(spark), ("a", "z"))
    try:
        assert stats.columns == ["doc_id", "dlen", "tf_0", "tf_1"]
        # doc 1 has "a" twice; docs 3 and 4 have neither term; doc 2
        # (NULL text) has no row
        assert sorted(tuple(r) for r in stats.collect()) == [
            (1, 3, 2, 0), (3, 1, 0, 0), (4, 1, 0, 0),
        ]
        assert stats.storageLevel.useMemory and stats.storageLevel.useDisk
    finally:
        stats.unpersist()


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
    # explode(tokens(...)) selected straight into a groupBy
    "term count": (
        re.compile(
            r"explode(?:_outer)?\(\s*[\w.]*\btokens\([^()]*\)\s*\)"
            r"(?:\.alias\([^()]*\))?\s*\)\s*\.groupBy\("
        ),
        {"llm/text.py"},
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
    ``text.tokens``, corpus token counts through ``text.term_counts``,
    the single-task sort through ``bounded_sort``, the
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


# The Hive statement surface keeps options that no caller in the repo
# sets: they are the DDL/format knobs of the dialect it mirrors.
_HIVE_SURFACE = {"ddl.py", "functions/hive.py", "sources/formats.py", "cli.py"}
_CALLERS = ("hive_release_spark", "tests", "tools", "perfbench", "bench.py",
            "__spark_entry__.py")


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position, name) of every parameter of ``fn`` with a default;
    keyword-only parameters have position None."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return [(i, p.arg) for i, p in enumerate(pos) if i >= first] + [
        (None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _dict_binding(name: str, scope: ast.AST) -> dict | None:
    """The keyword values of ``name = dict(k=v, ...)`` or ``name = {"k": v}``
    in ``scope``; None when ``name`` is bound some other way."""
    for n in ast.walk(scope):
        if not (isinstance(n, ast.Assign) and len(n.targets) == 1):
            continue
        if not (isinstance(n.targets[0], ast.Name) and n.targets[0].id == name):
            continue
        v = n.value
        is_dict_call = isinstance(v, ast.Call) and getattr(v.func, "id", "") == "dict"
        if is_dict_call and not v.args and all(k.arg for k in v.keywords):
            return {k.arg: k.value for k in v.keywords}
        if isinstance(v, ast.Dict) and all(
            isinstance(k, ast.Constant) and isinstance(k.value, str) for k in v.keys
        ):
            return {k.value: x for k, x in zip(v.keys, v.values)}
    return None


def _read_call(call: ast.Call, scope: ast.AST):
    """(callee name, positional args, {keyword: value}, opaque) of
    ``call``; opaque when a ``*args`` or an unresolvable ``**kw`` may set
    any parameter. ``functools.partial(f, ...)`` is read as a call of
    ``f``."""
    name = getattr(call.func, "id", getattr(call.func, "attr", None))
    args, kws, opaque = list(call.args), {}, False
    if name == "partial" and args:
        name = getattr(args[0], "id", getattr(args[0], "attr", None))
        args = args[1:]
    for k in call.keywords:
        if k.arg is not None:
            kws[k.arg] = k.value
            continue
        bound = None
        if isinstance(k.value, ast.Name):
            bound = _dict_binding(k.value.id, scope)
        if bound is None:
            opaque = True
        else:
            kws.update(bound)
    return name, args, kws, opaque or any(isinstance(a, ast.Starred) for a in args)


def _unset_options() -> list[str]:
    """Defaulted parameters of ``hive_release_spark`` functions that no
    call in the repo sets. A call that only passes an enclosing
    function's own defaulted parameter through sets the callee's
    parameter only if the enclosing one is set; callees are matched by
    name, so a call to any same-named function counts."""
    defs = []  # (file, function)
    calls: dict[str, list] = {}  # callee name -> (args, kws, opaque, scope)

    def visit(rel, node, scope):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.append((rel, ch))
                visit(rel, ch, ch)
                continue
            if isinstance(ch, ast.Call):
                name, *read = _read_call(ch, scope)
                calls.setdefault(name, []).append((*read, scope))
            visit(rel, ch, scope)

    for root in _CALLERS:
        path = REPO / root
        for f in [path] if path.is_file() else sorted(path.rglob("*.py")):
            tree = ast.parse(f.read_text())
            visit(f.relative_to(REPO).as_posix(), tree, tree)

    def passed_through(value, scope):
        """The (function, parameter) whose value ``value`` passes on, if
        it is a defaulted parameter of the enclosing function."""
        if isinstance(value, ast.Name) and isinstance(scope, ast.FunctionDef):
            if value.id in {p for _, p in _defaulted(scope)}:
                return (id(scope), value.id)
        return None

    # (id(function), parameter) -> the setters of that parameter, each
    # None (a value) or the enclosing (function, parameter) it passes on
    setters: dict[tuple[int, str], list] = {}
    where: dict[tuple[int, str], str] = {}
    for rel, fn in defs:
        for i, p in _defaulted(fn):
            key = (id(fn), p)
            where[key] = f"{rel}:{fn.lineno}: {fn.name}({p})"
            setters[key] = []
            for args, kws, opaque, scope in calls.get(fn.name, []):
                values = [kws[p]] if p in kws else []
                if i is not None and i < len(args):
                    values.append(args[i])
                if opaque:
                    setters[key].append(None)
                setters[key] += [passed_through(v, scope) for v in values]
    is_set: set[tuple[int, str]] = set()
    changed = True
    while changed:
        changed = False
        for key, ss in setters.items():
            if key not in is_set and any(s is None or s in is_set for s in ss):
                is_set.add(key)
                changed = True
    pkg = "hive_release_spark/"
    return sorted(
        w
        for key, w in where.items()
        if key not in is_set
        and w.startswith(pkg)
        and w[len(pkg):].split(":")[0] not in _HIVE_SURFACE
    )


def test_no_option_goes_unset():
    """Every defaulted parameter of a library function is set by some
    caller in the repo. A parameter that only ever takes its default is
    a constant: name the value in the function body instead."""
    unset = _unset_options()
    assert not unset, "\n".join(unset)


def test_matrix_reads_a_sliced_vector_column():
    """``matrix`` is the (n, d) float64 matrix of a list column, also
    for a batch that is a slice of a larger one and for float vectors."""
    matrix, append = arrow_fns()
    vecs = pa.array([[0.0, 1.0], [2.0, 3.0], [4.0, 5.0]], pa.list_(pa.float32()))
    batch = pa.RecordBatch.from_arrays([pa.array([7, 8, 9]), vecs], names=["id", "v"])
    X = matrix(batch.slice(1), "v")
    assert X.dtype == np.float64 and X.tolist() == [[2.0, 3.0], [4.0, 5.0]]
    out = append(batch, cell=np.array([1, 2, 3], dtype="int32"))
    assert out.schema.names == ["id", "v", "cell"]
    # the incoming columns pass through uncopied: same buffers
    assert [b.address for b in out.column("v").buffers() if b] == [
        b.address for b in vecs.buffers() if b
    ]
    assert out.schema.field("cell").type == pa.int32()


@pytest.mark.parametrize(
    "rows", [[[1.0, 2.0], [3.0]], [[1.0, 2.0], None]], ids=["ragged", "null"]
)
def test_matrix_refuses_ragged_or_null_vectors(rows):
    """A ragged or NULL ``list<double>`` row has no place in an (n, d)
    matrix: ``matrix`` raises ``ValueError`` naming the column instead
    of reshaping the flattened values into wrong rows."""
    matrix, _ = arrow_fns()
    batch = pa.RecordBatch.from_arrays([pa.array(rows, pa.list_(pa.float64()))], names=["emb"])
    with pytest.raises(ValueError, match="'emb'"):
        matrix(batch, "emb")


_ARROW_KERNEL_MODULES = ("llm/clustering.py", "llm/similarity.py", "queries/llm2.py")


@pytest.mark.parametrize("rel", _ARROW_KERNEL_MODULES)
def test_vector_kernels_stay_on_arrow(rel):
    """The vector kernels cross the Python boundary as Arrow batches.
    Their modules neither call ``mapInPandas`` / ``applyInPandas`` nor
    import pandas, so a numpy matrix is never rebuilt row by row from a
    pandas object column."""
    tree = ast.parse((PKG / rel).read_text())
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ("mapInPandas", "applyInPandas"):
            found.append(f"{node.attr} at line {node.lineno}")
        elif isinstance(node, ast.Import):
            found += [f"import {a.name} at line {node.lineno}" for a in node.names
                      if a.name.split(".")[0] == "pandas"]
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "pandas":
            found.append(f"from {node.module} import at line {node.lineno}")
    assert not found, f"{rel}: {found}"
