"""Shared Spark-side expression helpers for the query registry.

Exact money arithmetic lives here and runs on 64-bit integers (see
ARCHITECTURE §4.1).  A double that carries ``s`` decimals becomes its
unscaled integer with ``units``; per-row products multiply those
integers in ``long`` (scales add: 2dp x 2dp is a 4dp integer); ``lsum``
adds a ``long`` expression exactly and hands back ``decimal(38,s)``
once per group (per output row for a window sum), so a group sum builds
no per-row ``BigDecimal``.
The DuckDB twins (``registry.dsum_sql`` and the inline ``CAST(... AS
DECIMAL)`` oracle SQL) stay in decimals: they are the independent
definition of the answer.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, WindowSpec, functions as F

LIMB_BITS = 20
LIMB_MASK = (1 << LIMB_BITS) - 1


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def units(c: Column | str, scale: int) -> Column:
    """Exact unscaled ``long`` of a double that has ``scale`` decimals:
    ``floor(c * 10^scale + 0.5)``, equal to the unscaled value of
    ``CAST(c AS DECIMAL(p, scale))`` for every such double.

    Caller contract: ``c`` is the nearest double to a ``scale``-decimal
    value whose unscaled integer is below 2^50 in magnitude.  Then
    ``c * 10^scale`` lies within far less than 0.5 of that integer, so
    the half-up floor lands on it whatever the double's binary error.  A *computed* double
    (a product, ``0.6 * price``) is not on that grid: round it first
    with ``F.round(x, scale)``, which applies the cast's HALF_UP rounding
    to the same shortest decimal string, and pass the rounded column.
    Null in, null out."""
    return F.floor(_col(c) * float(10 ** scale) + 0.5)


def lsum(x: Column, scale: int, w: WindowSpec | None = None) -> Column:
    """Exact sum of a ``long`` expression of ``scale``-decimal units, as
    ``decimal(38, scale)`` (over the window ``w`` when given).

    The rows are summed as two 64-bit limbs, ``x >> 20`` and
    ``x & (2^20 - 1)`` (so ``x == hi * 2^20 + lo`` with ``0 <= lo <
    2^20``), and the limbs meet once per group in ``decimal(38,0)``.
    Exact for any group of fewer than 2^43 rows whose per-row ``|x|`` is
    below 2^40; past that a limb overflows ``long`` and Spark's ANSI
    arithmetic raises instead of wrapping.  Null rows are skipped; an
    all-null group sums to null."""
    agg = F.sum if w is None else (lambda e: F.sum(e).over(w))
    hi = agg(F.shiftright(x, LIMB_BITS))
    lo = agg(x.bitwiseAND(F.lit(LIMB_MASK)))
    whole = hi.cast("decimal(38,0)") * (1 << LIMB_BITS) + lo
    return whole * F.lit(Decimal(1).scaleb(-scale))


def dsum(c: Column | str, scale: int = 2,
         w: WindowSpec | None = None) -> Column:
    """Deterministic sum over a double column with ``scale`` decimals:
    ``lsum`` over ``units``, cast to double once (twin of
    registry.dsum_sql, ``CAST(SUM(CAST(c AS DECIMAL(18,s))) AS
    DOUBLE)``).  Both sides hold the same exact decimal before the one
    correctly rounded conversion, so values agree digit for digit."""
    return lsum(units(c, scale), scale, w).cast("double")


def davg(c: Column | str, scale: int = 2) -> Column:
    """Deterministic avg over a double column (exact sum / count)."""
    col = _col(c)
    return dsum(col, scale) / F.count(col)


def revenue_units() -> Column:
    """TPC-H revenue ``l_extendedprice * (1 - l_discount)`` as an exact
    ``long`` of 4-decimal units (2dp price x 2dp discount).  Its oracle
    twin is ``CAST(l_extendedprice AS DECIMAL(12,2)) * (1 -
    CAST(l_discount AS DECIMAL(4,2)))``."""
    return units("l_extendedprice", 2) * (100 - units("l_discount", 2))
