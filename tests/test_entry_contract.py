"""Driver-contract smoke: __spark_entry__ loaded standalone (the way the
driver does) must expose entry/queries/oracle_sql consistently."""

from __future__ import annotations

import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _load():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", str(REPO / "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows_with_stable_schema(spark):
    mod = _load()
    df = mod.entry(spark)
    assert df.columns == [
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge", "avg_qty", "avg_price",
        "avg_disc", "count_order",
    ]
    assert len(df.collect()) > 0


def test_oracle_keys_subset_of_queries(spark):
    mod = _load()
    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 90
    # every callable takes (spark, sf_dir)
    import inspect

    for fn in qs.values():
        assert len(inspect.signature(fn).parameters) == 2


def test_driver_window_is_queries_prefix():
    """The driver records only the first 50 queries() entries: they are
    DRIVER_WINDOW, 50 distinct registry names, mostly oracle-gated."""
    from hive_release_spark.queries import DRIVER_WINDOW, REGISTRY, queries

    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    assert set(DRIVER_WINDOW) <= set(REGISTRY)
    assert list(queries())[:50] == DRIVER_WINDOW
    oracled = sum(1 for n in DRIVER_WINDOW if REGISTRY[n].oracle is not None)
    assert oracled >= 42
