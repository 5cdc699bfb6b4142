"""Numeric robustness helpers (r10 NaN/Inf axis).

A 100 TB corpus carries IEEE specials (NaN, +/-Inf) from upstream
division and sensor noise. Cross-engine exact statistics are only
DEFINED over finite values — Spark and DuckDB diverge on specials in
percentiles (DuckDB's quantile_cont/disc interpolate through them
non-obviously), DuckDB's variance family refuses Inf outright, and the
engines render specials differently as strings ('NaN'/'Infinity' in
Spark and Hive vs 'nan'/'inf' in DuckDB).

The adjudicated contract (tests/test_empty_input.py §nan-axis):
statistics aggregate over FINITE measurements; a non-finite value is
treated exactly like SQL NULL inside the aggregate argument — ignored
by the aggregate, without disturbing row counts or genuine NULL
semantics. ``finite(c)`` is the Spark side of that device; its DuckDB
oracle twin is ``CASE WHEN isfinite(x) THEN x END``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_INF = float("inf")


def is_finite(c: Column | str) -> Column:
    """Boolean: ``c`` is non-NULL and finite. Oracle twin:
    ``isfinite(x)`` (DuckDB's isfinite is NULL-in-NULL-out, and a NULL
    predicate filters the row the same as false). Used for LISTWISE
    deletion where the semantic unit is a multi-column observation —
    a regression/stat row with ANY non-finite member carries no
    usable signal, and dropping only the bad cell would let the
    moment sums disagree with the row count."""
    c = F.col(c) if isinstance(c, str) else c
    return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != F.lit(_INF))


def finite(c: Column | str) -> Column:
    """``c`` when finite, else NULL.

    NULL in -> NULL out (the ``when`` condition is NULL for NULL
    input), so wrapping an aggregate argument changes nothing for
    NULL-bearing data — only NaN/Inf rows stop poisoning the
    aggregate. Oracle twin: ``CASE WHEN isfinite(x) THEN x END``.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.when(~F.isnan(c) & (F.abs(c) != F.lit(_INF)), c)


# DuckDB renders double specials as 'nan'/'inf'/'-inf'; Hive (and
# Spark) render Java's 'NaN'/'Infinity'/'-Infinity'. Oracles that cast
# doubles to strings wrap the cast in this to pin the HIVE rendering.
# Safe textually: no finite double's decimal rendering contains the
# substring 'inf' or 'nan'. Sign-bit NaN (e.g. inf + -inf, -0.0/0.0 on
# some paths) renders as '-nan' in DuckDB while Java renders EVERY NaN
# as 'NaN' regardless of sign bit — the innermost replace normalizes
# the sign away first (ADVICE r10-2).
HIVE_RENDER_SQL = (
    "replace(replace(replace(CAST({x} AS VARCHAR), '-nan', 'nan'), "
    "'inf', 'Infinity'), 'nan', 'NaN')"
)


def hive_render(x: str) -> str:
    """DuckDB SQL fragment rendering double expression ``x`` as Hive
    would ('NaN'/'Infinity'/'-Infinity')."""
    return HIVE_RENDER_SQL.format(x=x)


def cents(c: Column | str) -> Column:
    """The exact-integer micro-fold (``round(x*100)::BIGINT``),
    specials-proof (r11 finite() wave 2).

    The BIGINT-cents discipline makes money sums exact and
    engine-order-proof, but under ANSI the cast refuses NaN/Inf with
    CAST_OVERFLOW (DuckDB's cast refuses the same way), so the raw
    fold turns one bad upstream division into a whole-query crash at
    100 TB. ``finite()`` inside the fold makes a non-finite measurement
    contribute exactly like SQL NULL — ignored by the enclosing sum —
    while finite rows fold bit-identically to the raw device.
    Oracle twin: :func:`cents_sql`.
    """
    return F.round(finite(c) * 100).cast("long")


def cents_sql(x: str) -> str:
    """DuckDB twin of :func:`cents` — textual SQL fragment."""
    return (
        f"CAST(round(CASE WHEN isfinite({x}) THEN {x} END"
        " * 100) AS BIGINT)"
    )


def half_up(c: Column) -> Column:
    """``floor(c + 0.5)``: the fixed-point output fold. Callers scale
    first, e.g. ``half_up(diff * 1000000)`` for micro-units.

    It rounds the binary double half-up, toward +inf at a tie (-2.5
    gives -2), exactly as the DuckDB oracles'
    ``CAST(floor(x * k + 0.5) AS BIGINT)`` does. ``F.round`` is not
    used: it rounds the shortest decimal repr, so it can flip at a
    ``.xx5`` boundary (``round(1.005, 2)`` is 1.01 while the double
    ``1.005 * 100`` lies below 100.5). NULL in gives NULL out. The
    result is always BIGINT: the double literal promotes any numeric
    ``c``, decimals included, to double, and Spark's ``floor`` of a
    double is BIGINT.
    """
    return F.floor(c + F.lit(0.5))


def exact_moment(a: str, b: str) -> Column:
    """``sum(a*b)`` over BIGINT columns, exact, as a DOUBLE: the
    second-moment device of the closed-form statistics entries.

    The per-row multiply runs in LONG and only the sum runs as
    DECIMAL(38,0), the one step that needs more than 64 bits (a sum of
    squared price cents passes 2**63 at sf0.1). Both routes hold exact
    integers, so the sum is bit-identical to a DECIMAL multiply, which
    costs a Decimal128 multiply per row. The final cast rounds the
    exact integer to the nearest double, as DuckDB's HUGEINT cast does.

    Precondition: every ``|a*b| < 2**63``. The caller guarantees it by
    bounding its inputs. Nothing here checks it: in an ANSI session an
    overflowing product raises ARITHMETIC_OVERFLOW, but the default
    ``get_session(hive_parity=True)`` runs with ANSI off, where the
    product silently wraps to a wrong sum.
    """
    return F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)")).cast("double")
