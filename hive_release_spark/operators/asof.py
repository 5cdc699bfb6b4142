"""Distributed AS-OF join: match each left row to the most recent right
row at-or-before its timestamp, per key.

The time-series / CDC primitive every feature store and backtest needs
(pandas ``merge_asof``, DuckDB/QuestDB ``ASOF JOIN``) that neither Hive
2.3 nor Spark ships as an operator. The naive SQL form is a non-equi
range join (each left row × all earlier right rows, then argmax) —
quadratic per key, a scale-killer. This implementation is the
union + sorted carry-forward formulation:

1. tag both sides and UNION them into one (key, t, is_left) stream —
   map-side, no join;
2. ONE exchange on key, per-key sort on (t, is_left) — right rows sort
   BEFORE left rows at equal t, giving ``t_left >= t_right`` (at-or-
   before) semantics;
3. ``last(right_payload, ignoreNulls=True)`` over an unbounded-preceding
   running window carries the most recent right row forward;
4. keep the left rows.

Cost: one shuffle of (|L| + |R|) skinny rows on the join key — the same
exchange a plain equi-join would do — and a per-key sort. No range
explosion, no per-row probe. Skew: per-key state is the larger of the
two series for that key; pathological hot keys split like any window
(salt the key into time ranges and stitch, documented below).

At 100 TB: both sides prune to (key, t, payload) columns at the scan;
the window is `WholeStageCodegen`-able JVM expressions (no Python);
output cardinality == |L| exactly (left-outer semantics: unmatched left
rows carry NULLs).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def _asof(
    fn: str,
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_t: str,
    right_t: str,
    right_payload: list[str] | None,
    r_struct: Callable[[list[str]], Column],
    match: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The body every as-of join shares: tag both sides into one
    (__k, __t, __is_left, __l, __r) stream, let ``match`` give each left
    row the ``__match`` payload struct it joins, and unpack ``__l`` and
    ``__match`` into the output columns.

    ``r_struct(payload)`` builds the right side's ``__r`` struct; each
    side carries the other side's struct as a typed NULL, so the union
    lines up by name. ``match(unioned)`` returns the left rows only."""
    if right_payload is None:
        right_payload = [c for c in right.columns if c not in (on, right_t)]
    lcols = list(left.columns)
    clash = set(lcols) & set(right_payload)
    if clash:
        raise ValueError(
            f"{fn} output would duplicate columns {sorted(clash)}; "
            "rename or restrict right_payload"
        )
    l_struct, rs = F.struct(*lcols), r_struct(right_payload)

    def null_of(df: DataFrame, struct: Column) -> Column:
        return F.lit(None).cast(df.select(struct.alias("s")).schema["s"].dataType)

    l_tag = left.select(
        F.col(on).alias("__k"),
        F.col(left_t).alias("__t"),
        F.lit(1).alias("__is_left"),
        l_struct.alias("__l"),
        null_of(right, rs).alias("__r"),
    )
    r_tag = right.select(
        F.col(on).alias("__k"),
        F.col(right_t).alias("__t"),
        F.lit(0).alias("__is_left"),
        null_of(left, l_struct).alias("__l"),
        rs.alias("__r"),
    )
    return match(l_tag.unionByName(r_tag)).select(
        *[F.col("__l")[c].alias(c) for c in lcols],
        *[F.col("__match")[c].alias(c) for c in right_payload],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_t: str,
    right_t: str,
    right_payload: list[str] | None = None,
) -> DataFrame:
    """AS-OF LEFT join: every ``left`` row gains the ``right_payload``
    columns of the latest ``right`` row with ``right[right_t] <=
    left[left_t]`` and equal ``on`` key (NULLs when no right row
    precedes it).

    ``right`` should be deterministic per (key, t) — if several right
    rows share a timestamp, pre-dedup to one (e.g. max id) or the
    carried row is the last in the per-key sort order, which this
    function makes deterministic by sorting the payload struct.
    """

    def match(unioned: DataFrame) -> DataFrame:
        # right rows (is_left=0) sort before left rows at equal __t, then
        # by the payload struct for a deterministic winner among
        # same-t rights
        w = (
            W.partitionBy("__k")
            .orderBy("__t", "__is_left", F.col("__r").asc_nulls_last())
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return unioned.withColumn(
            "__match", F.last("__r", ignorenulls=True).over(w)
        ).filter(F.col("__is_left") == 1)

    return _asof(
        "asof_join", left, right, on, left_t, right_t, right_payload, F.struct, match
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_t: str,
    right_t: str,
    tolerance_s: int,
    right_payload: list[str] | None = None,
) -> DataFrame:
    """NEAREST as-of LEFT join: every ``left`` row gains the payload of
    the right row (same ``on`` key) whose timestamp is CLOSEST in either
    direction, within ``tolerance_s`` seconds; NULLs when nothing is in
    range. Equal distances resolve to the at-or-before row (pandas
    ``merge_asof(direction='nearest')`` semantics).

    Same union + one-key-exchange shape as :func:`asof_join` — the sort
    that carries the latest-preceding right row forward ALSO yields the
    earliest-following one (a first() over the mirrored frame), so
    "nearest" costs the same single shuffle as "backward": two window
    passes over one per-key sort, no range join, no second exchange.
    Right rows must be unique per (key, t) — same pre-dedup contract as
    asof_join.
    """

    def r_struct(payload: list[str]) -> Column:
        return F.struct(F.col(right_t).alias("__rt"), F.struct(*payload).alias("p"))

    def match(unioned: DataFrame) -> DataFrame:
        order = W.partitionBy("__k").orderBy("__t", "__is_left")
        prev_w = order.rowsBetween(W.unboundedPreceding, W.currentRow)
        next_w = order.rowsBetween(W.currentRow, W.unboundedFollowing)
        # rights sort before lefts at equal __t, so an exact-t right lands
        # in the PREV window (distance 0) and never in NEXT — no double
        # match
        both = unioned.select(
            "*",
            F.last("__r", ignorenulls=True).over(prev_w).alias("__prev"),
            F.first("__r", ignorenulls=True).over(next_w).alias("__next"),
        ).filter(F.col("__is_left") == 1)

        # unix_micros over an NTZ->TZ cast, not unix_timestamp: whole-second
        # truncation would misrank prev/next (and mis-apply the tolerance)
        # by up to ~1s on sub-second timestamps. The NTZ->BIGINT cast is
        # rejected outright; the NTZ->TIMESTAMP cast is value-exact because
        # the session tz is pinned UTC.
        def _us(c):
            return F.unix_micros(c.cast("timestamp"))

        t = _us(F.col("__t"))
        d_prev = t - _us(F.col("__prev.__rt"))
        d_next = _us(F.col("__next.__rt")) - t
        tol_us = int(tolerance_s * 1_000_000)
        prev_ok = F.col("__prev").isNotNull() & (d_prev <= tol_us)
        next_ok = F.col("__next").isNotNull() & (d_next <= tol_us)
        # equal distance -> the at-or-before row wins (<=, not <)
        nearest = F.when(d_prev <= d_next, F.col("__prev.p")).otherwise(
            F.col("__next.p")
        )
        return both.withColumn(
            "__match",
            F.when(prev_ok & next_ok, nearest)
            .when(prev_ok, F.col("__prev.p"))
            .when(next_ok, F.col("__next.p")),
        )

    return _asof(
        "asof_join_nearest", left, right, on, left_t, right_t, right_payload,
        r_struct, match,
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_t: str,
    right_t: str,
    right_payload: list[str] | None = None,
) -> DataFrame:
    """AS-OF FORWARD left join: every ``left`` row gains the
    ``right_payload`` columns of the EARLIEST ``right`` row with
    ``right[right_t] >= left[left_t]`` and equal ``on`` key (NULLs when
    nothing follows) — the time-to-next-event primitive (kdb's forward
    aj; pandas ``merge_asof(direction='forward')``).

    Exact mirror of :func:`asof_join`: one union of the tagged streams,
    one key exchange, and a carry-BACKWARD window (ignore-nulls FIRST
    over the current-row..following frame) instead of carry-forward
    LAST.  At equal timestamps the right row sorts AFTER left rows, so
    a simultaneous right event matches (>= is inclusive) via the frame
    including the current row's followers; ties among same-t right rows
    resolve by the ascending payload struct — deterministic.

    Same dedup contract as the backward form: pre-dedup ``right`` to
    one row per (key, t) for a stable match.
    """

    def match(unioned: DataFrame) -> DataFrame:
        # __is_left DESC orders left rows BEFORE right rows at equal __t,
        # so the frame (current..following) of a left row includes
        # same-t rights; same-t rights pick the smallest payload struct
        # first.
        w = (
            W.partitionBy("__k")
            .orderBy("__t", F.col("__is_left").desc(), F.col("__r").asc_nulls_last())
            .rowsBetween(W.currentRow, W.unboundedFollowing)
        )
        return unioned.withColumn(
            "__match", F.first("__r", ignorenulls=True).over(w)
        ).filter(F.col("__is_left") == 1)

    return _asof(
        "asof_join_forward", left, right, on, left_t, right_t, right_payload,
        F.struct, match,
    )
