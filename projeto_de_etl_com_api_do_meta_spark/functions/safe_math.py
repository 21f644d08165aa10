"""Safe math expression helpers.

``safe_div`` pins the reference's division semantics (reference
transform.py:82-87): ratios computed with a 0 or null denominator — or a null
numerator — yield **0.0**, never null/inf/NaN (pandas produced inf then
``replace([inf,-inf],0).fillna(0)``).

``dec`` / ``dec_sum`` are the exact-aggregation helpers used by every
oracle-checked monetary aggregate: cast to decimal *before* summing so the
sum is exact and order-independent (distributed partial aggregation reorders
float additions), then cast the final value back to double.  This makes the
Spark result bit-identical to a DuckDB oracle computing the same decimal sum.

All helpers are ANSI-safe: division is guarded by a WHEN so it never raises
under ``spark.sql.ansi.enabled=true``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Decimal type wide enough for any fixture monetary value, 4 frac digits.
DEC = "decimal(18,4)"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def safe_div(num: Column | str, den: Column | str, default: float = 0.0) -> Column:
    """x/0 -> default, 0/0 -> default, null/x -> default (reference D1)."""
    num, den = _col(num), _col(den)
    return F.coalesce(
        F.when(den.isNotNull() & (den != F.lit(0)), num / den),
        F.lit(default),
    )


def safe_div_sql(num: str, den: str, default: float = 0.0) -> str:
    """``safe_div`` as SQL text over two SQL expressions, for projections
    built with one ``selectExpr``."""
    return (
        f"coalesce(CASE WHEN {den} IS NOT NULL AND {den} != 0 "
        f"THEN {num} / {den} END, {float(default)!r}D)"
    )


def dec(c: Column | str, typ: str = DEC) -> Column:
    """Cast to exact decimal for order-independent aggregation."""
    return _col(c).cast(typ)


def dec2d(sum_col: Column, digits: int = 2) -> Column:
    """Decimal aggregate -> double, bit-identical across engines.

    Direct decimal->double casts are correctly rounded on the JVM
    (BigDecimal.doubleValue) but NOT in every engine — DuckDB 1.0 is off by
    one ulp at ~1e9 magnitudes, which broke a q1 oracle at sf0.1.  Portable
    path: round the exact decimal to ``digits``, scale to an integer (exact
    while |value|·10^digits < 2^53), convert — int64->double is a correctly
    rounded hardware op everywhere — and divide once (single IEEE rounding).
    """
    scale = 10**digits
    return (F.round(sum_col, digits) * scale).cast("long").cast("double") / scale


def dec_sum(c: Column | str, typ: str = DEC, digits: int = 2) -> Column:
    """Exact decimal sum, returned as a cent-precision double (bit-stable
    across engines — see :func:`dec2d`)."""
    return dec2d(F.sum(dec(c, typ)), digits)
