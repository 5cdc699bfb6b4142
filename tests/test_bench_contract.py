"""bench.py contract: every headline name resolves in the registry and
the set stays free of rows-only entries (a bench query must be one the
correctness gate also covers)."""

from __future__ import annotations


def test_headline_names_resolve_and_are_oracled():
    from bench import HEADLINE
    from hive_release_spark.queries import REGISTRY

    missing = [n for n in HEADLINE if n not in REGISTRY]
    assert not missing, missing
    unoracled = [n for n in HEADLINE if REGISTRY[n].oracle is None]
    assert not unoracled, unoracled
    assert len(set(HEADLINE)) == len(HEADLINE)


def test_final_summary_line_fits_driver_tail():
    """r5: the r4 detail line outgrew the driver's stdout-tail window
    (BENCH_r04 "parsed": null), so bench.py now prints a compact
    summary as the FINAL line. Pin its worst-case size well under a
    conservative tail budget so adding headline queries can't silently
    regrow it past the parser again."""
    import json

    from bench import HEADLINE, REMEASURE_LEG

    worst = json.dumps(
        {
            "metric": "headline_queries_total_sec",
            "value": 9999.999,
            "unit": "sec",
            "queries": {n: 999.99 for n in HEADLINE},
            "sf": 0.1,
            "n_queries": len(HEADLINE),
            "rotating_total_sec": 9999.999,
            "n_rotating": len(REMEASURE_LEG),
            "skew": {"plain": 999.999, "salted": 999.999, "aqe": 999.999},
            "skew_max_rows": {
                "plain": 99999999, "salted": 99999999, "aqe": 99999999
            },
        },
        separators=(",", ":"),
    )
    assert len(worst) < 1600, len(worst)


def test_skew_leg_contract(spark):
    """skew_leg returns (wall_clock_by_arm, profile_by_arm) with the
    three arms and the r8 partition-row proxy fields, restores every
    conf it touches, and leaves no cache behind — a broken bench
    harness records parsed:null at the driver gate, so its contract is
    pinned at sf0.001 (cheap: ~400 rows per arm)."""
    from bench import skew_leg

    conf_keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    before = {k: spark.conf.get(k) for k in conf_keys}
    wall, detail = skew_leg(spark, "/root/testdata/sf0.001")
    assert set(wall) == {"plain", "salted", "aqe"}
    assert all(v > 0 for v in wall.values())
    assert set(detail) == {"plain", "salted", "aqe"}
    for prof in detail.values():
        assert prof["max_partition_rows"] > 0
        assert prof["n_partitions"] > 0
        assert isinstance(prof["skew_split_fired"], bool)
    # the salted scatter must shrink the hot partition even at tiny SF
    assert (
        detail["salted"]["max_partition_rows"]
        < detail["plain"]["max_partition_rows"]
    )
    after = {k: spark.conf.get(k) for k in conf_keys}
    assert after == before
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == 0


def test_rotating_leg_names_resolve_disjoint_from_headline():
    from bench import HEADLINE, REMEASURE_LEG
    from hive_release_spark.queries import REGISTRY

    missing = [n for n in REMEASURE_LEG if n not in REGISTRY]
    assert not missing, missing
    assert len(set(REMEASURE_LEG)) == len(REMEASURE_LEG)
    unoracled = [n for n in REMEASURE_LEG if REGISTRY[n].oracle is None]
    assert not unoracled, unoracled
    overlap = set(REMEASURE_LEG) & set(HEADLINE)
    assert not overlap, overlap
