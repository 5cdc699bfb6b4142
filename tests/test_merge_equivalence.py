"""``merge_into`` against a pure-Python model of its documented semantics,
row for row, over every combination of its options. NULL keys and NULL
data columns sit on both sides; the target holds a duplicate key and, for
the unscoped MERGE, a key matched in two partitions."""

from __future__ import annotations

import itertools
from collections import Counter

import pytest
from pyspark.sql import functions as F

from hive_release_spark.operators import dml

TARGET_SCHEMA = "id BIGINT, grp STRING, name STRING, val DOUBLE"
TARGET = [
    (1, "a", "x", 1.0),
    (2, "a", None, 2.0),
    (2, "a", "y", None),
    (3, "a", "z", 3.0),
    (None, "a", "n", 4.0),
    (6, "a", None, None),
    (3, "b", "q", None),
    (5, "b", "w", 5.0),
]
SOURCE_SCHEMA = "id BIGINT, grp STRING, name STRING, val DOUBLE, op STRING, tier STRING"
SOURCE = [
    (1, "a", "X", None, "U", "gold"),
    (2, "a", None, 20.0, "D", None),
    (3, "a", "Z", 30.0, None, "silver"),
    (None, "a", "N", 40.0, "U", "bronze"),
    (7, "a", None, None, "D", "gold"),
    (8, "a", "E", 80.0, None, None),
]


def clauses():
    """``matched_update`` and ``matched_delete`` as Spark columns."""
    update = {
        "val": F.coalesce(F.col("src.val"), F.col("tgt.val")),
        "name": F.col("src.name"),
        "tier": F.col("src.tier"),  # a target column only when evolved
    }
    return update, F.col("src.op") == "D"


# the same clauses over Python dicts of the tgt and src rows
UPDATE = {
    "val": lambda t, s: s["val"] if s["val"] is not None else t["val"],
    "name": lambda t, s: s["name"],
    "tier": lambda t, s: s["tier"],
}


def DELETE(t, s):
    return s["op"] == "D"  # a NULL op is not TRUE: the row stays


def _dicts(rows, schema):
    cols = [c.split()[0] for c in schema.split(", ")]
    return [dict(zip(cols, r)) for r in rows], cols


def model(update: bool, delete: bool, insert: bool, evolve: bool, scoped: bool):
    """(columns, rows) the MERGE must leave, from its docstring: SQL
    equality on the keys (NULL matches nothing), matched rows deleted when
    the condition is TRUE, else updated through ``matched_update`` only,
    unmatched source rows inserted with their values; ``evolve_schema``
    appends the source-only columns, NULL on existing rows; a scoped
    MERGE leaves rows outside ``partition_filter`` as they are."""
    target, tcols = _dicts(TARGET, TARGET_SCHEMA)
    source, scols = _dicts(SOURCE, SOURCE_SCHEMA)
    assert max(Counter(s["id"] for s in source).values()) == 1
    cols = tcols + ([c for c in scols if c not in tcols] if evolve else [])
    matched_src: set[int] = set()
    out = []
    for t in target:
        t = {c: t.get(c) for c in cols}
        hits = [i for i, s in enumerate(source) if t["id"] is not None and s["id"] == t["id"]]
        if (scoped and t["grp"] != "a") or not hits:
            out.append(t)
            continue
        s = source[hits[0]]
        matched_src.add(hits[0])
        if delete and DELETE(t, s):
            continue
        if update:
            t = {c: UPDATE[c](t, s) if c in UPDATE else v for c, v in t.items()}
        out.append(t)
    if insert:
        out += [
            {c: s.get(c) for c in cols} for i, s in enumerate(source) if i not in matched_src
        ]
    return cols, out


def _sorted(rows):
    return sorted(rows, key=repr)


@pytest.mark.parametrize(
    "update, delete, insert, evolve, scoped", list(itertools.product((False, True), repeat=5))
)
def test_merge_matches_model(spark, tmp_path, update, delete, insert, evolve, scoped):
    path = str(tmp_path / "t")
    target = spark.createDataFrame(TARGET, TARGET_SCHEMA)
    (target.write.partitionBy("grp") if scoped else target.write).parquet(path)
    matched_update, matched_delete = clauses()
    dml.merge_into(
        spark, path, spark.createDataFrame(SOURCE, SOURCE_SCHEMA), on=["id"],
        matched_update=matched_update if update else None,
        matched_delete=matched_delete if delete else None,
        not_matched_insert=insert,
        evolve_schema=evolve,
        **(dict(partition_filter=F.col("grp") == "a", partition_cols=["grp"]) if scoped else {}),
    )
    cols, want = model(update, delete, insert, evolve, scoped)
    got = spark.read.option("mergeSchema", "true").parquet(path)
    assert sorted(got.columns) == sorted(cols)
    assert _sorted(tuple(r[c] for c in cols) for r in got.collect()) == _sorted(
        tuple(r[c] for c in cols) for r in want
    )
