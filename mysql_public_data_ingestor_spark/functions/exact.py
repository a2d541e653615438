"""Cross-engine exact aggregation of floating-point measures.

Problem: ``round(sum(double_expr), 2)`` is NOT reproducible across
engines — summation order differs (partitioned partial aggregation vs
single-threaded), leaving ~1e-9 noise, and Spark's round (BigDecimal via
Double.toString, HALF_UP) disagrees with DuckDB's float rounding exactly
at half boundaries. Computed measures like ``price * (1 - discount)``
have 4+ decimal digits, so half-boundaries are common and value-hash
comparisons flip.

Fix: quantize per row, aggregate integers.

    per-row:  CAST(floor(expr * 10^k + 0.5) AS BIGINT)
    agg:      SUM(...)  -- exact int64 arithmetic, order-independent
    output:   scaled_sum / 10^k  -- identical double on both engines

``floor`` on bitwise-identical doubles is bitwise identical (both
engines evaluate the same IEEE-754 expression tree over the same parquet
doubles), so every step is reproducible. int64 headroom: at scale 4 a
1e5-magnitude measure leaves room for ~9e9 rows per group; use the
smallest scale that preserves the measure's true decimals.

The DuckDB twin of ``exact_sum(e, k)``:
    ``sum(CAST(floor(e * 10000.0 + 0.5) AS BIGINT)) / 10000.0``
(`sql_exact_sum` renders it).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantize(expr: Column, scale: int) -> Column:
    """Per-row fixed-point quantization -> int64."""
    return F.floor(expr * F.lit(float(10**scale)) + F.lit(0.5)).cast("long")


def exact_sum(expr: Column, scale: int = 4) -> Column:
    """Order-independent SUM of a double measure, exact across engines."""
    return F.sum(quantize(expr, scale)) / F.lit(float(10**scale))


def exact_sum_window(expr: Column, window, scale: int = 4) -> Column:
    """Windowed exact sum (e.g. running totals)."""
    return F.sum(quantize(expr, scale)).over(window) / F.lit(float(10**scale))


def sql_exact_sum(sql_expr: str, scale: int = 4) -> str:
    """DuckDB twin of ``exact_sum`` for oracle SQL strings."""
    m = f"{float(10 ** scale)!r}"
    return f"sum(CAST(floor(({sql_expr}) * {m} + 0.5) AS BIGINT)) / {m}"


def round_int_ratio(num: Column, den: Column, dp: int = 6) -> Column:
    """Exact half-up rounding of an integer ratio ``num/den`` to ``dp``
    decimals, bit-identical across engines.

    ``F.round(k / n, dp)`` on a count ratio is a latent oracle-hash
    flake: k/n with small integers can land exactly ON a decimal
    boundary (e.g. 41/640 = 0.0640625), where Spark (BigDecimal
    HALF_UP over the shortest decimal form of the double) and DuckDB
    (libm rounding of the actual binary value) disagree — the sf0.1
    parity sweep caught this on cume_dist. The fix is integer
    arithmetic end-to-end: half-up(num/den at dp) ==
    (2*10^dp*num + den) div (2*den), with div done as
    ``(a - a mod b) / b`` so the final double division is exactly
    divisible (hence exact), then one exact power-of-ten division.

    The DuckDB twin (``sql_round_int_ratio``):
        ``((2*10^dp*num + den) // (2*den)) / 10^dp.0``

    Negative numerators round away from zero (|num| path re-signed),
    matching both BigDecimal HALF_UP and DuckDB round semantics —
    integer ``%``/``//`` differ between the engines on negative
    dividends, so the magnitude is computed on abs() only.

    Preconditions: den > 0, both integral; 2*10^dp*|num| must fit
    int64 (|num| < ~4.6e12 at dp=6 — at larger scales widen to
    decimal(38,0) first).
    """
    s = 10**dp
    a = F.lit(2 * s) * F.abs(num) + den
    b = F.lit(2) * den
    mag = (a - a % b) / b
    return F.when(num < 0, -mag).otherwise(mag) / F.lit(float(s))


def sql_round_int_ratio(num: str, den: str, dp: int = 6) -> str:
    """DuckDB twin of :func:`round_int_ratio` (integer ``//`` on the
    absolute value, re-signed)."""
    s = 10**dp
    mag = f"(({2 * s}::BIGINT*abs({num}) + ({den})) // (2*({den})))"
    return f"(CASE WHEN ({num}) < 0 THEN -{mag} ELSE {mag} END) / {float(s)}"


def round_big_int_ratio(num: Column, den: Column, dp: int = 6) -> Column:
    """Decimal-domain twin of :func:`round_int_ratio` for numerators too
    large for the int64/double path: 2*10^dp*|num| must only fit
    decimal(38,0), not int64, and the (a - a mod b)/b step runs in exact
    decimal arithmetic (the quotient is integral, so the decimal division
    is exact) before the one power-of-ten float divide. Use for ratios
    over money-sums rather than counts — cents-sums at 100 TB dwarf the
    ~4.6e12 ceiling of the int64 path (ADVICE r5)."""
    s = 10**dp
    a = (
        F.lit(2 * s).cast("decimal(38,0)") * F.abs(num).cast("decimal(38,0)")
        + den.cast("decimal(38,0)")
    )
    b = F.lit(2).cast("decimal(38,0)") * den.cast("decimal(38,0)")
    mag = ((a - a % b) / b).cast("long")
    return F.when(num < 0, -mag).otherwise(mag) / F.lit(float(s))


def sql_round_big_int_ratio(num: str, den: str, dp: int = 6) -> str:
    """DuckDB twin of :func:`round_big_int_ratio` — HUGEINT (int128)
    arithmetic so cents-scale numerators cannot overflow where the
    BIGINT twin would raise."""
    s = 10**dp
    mag = f"(({2 * s}::HUGEINT*abs({num}) + ({den})) // (2::HUGEINT*({den})))"
    return f"CAST(CASE WHEN ({num}) < 0 THEN -{mag} ELSE {mag} END AS BIGINT) / {float(s)}"


def order_cents() -> Column:
    """``o_totalprice`` in whole cents (half-up), a long — the per-row
    quantization every order-value aggregate sums."""
    return F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")


def dec38(c: Column) -> Column:
    """Cast to decimal(38,0), the exact-integer domain of the
    ``*_halfup_div`` and ``round_big_int_ratio`` helpers."""
    return c.cast("decimal(38,0)")


def halfup_div(num: Column, den: Column) -> Column:
    """Half-up integer division of decimal columns (den > 0), re-signed
    like :func:`round_big_int_ratio` but returning the INTEGER quotient
    as decimal(38,0) (for further exact arithmetic, not display)."""
    a = F.lit(2).cast("decimal(38,0)") * dec38(F.abs(num)) + dec38(den)
    b = F.lit(2).cast("decimal(38,0)") * dec38(den)
    mag = (a - a % b) / b
    return dec38(F.when(num < 0, -mag).otherwise(mag))


def sql_halfup_div(num: str, den: str) -> str:
    """DuckDB twin of :func:`halfup_div` (HUGEINT ``//`` on the absolute
    value, re-signed)."""
    mag = f"((2::HUGEINT*abs({num}) + ({den})) // (2::HUGEINT*({den})))"
    return f"(CASE WHEN ({num}) < 0 THEN -{mag} ELSE {mag} END)"
