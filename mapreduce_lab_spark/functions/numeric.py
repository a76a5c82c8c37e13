"""Exact fixed-point aggregation helpers.

The money/measure columns in this schema carry fixed-decimal data
(2 dp) stored as doubles. Summing doubles is order-dependent, and
engines disagree systematically when a true value sits exactly on a
rounding boundary (Java rounds the shortest decimal representation,
DuckDB rounds the scaled binary value) — observed as ±1-in-the-last-
digit hash mismatches on window averages.

The fix used engine-wide: scale each value to integer units per row
(order-free, identical IEEE ops in any engine reading the same
parquet), aggregate the exact integers, and only convert back to
double at the very end — a division of identical integers, hence an
identical double, no rounding step at all.

Per-row paths never call ``F.round`` to get those units: Spark
evaluates ``round`` on a DOUBLE as ``BigDecimal.valueOf(x).setScale(0,
HALF_UP)``, one BigDecimal (and its decimal string) per row, and that
object churn bounded the map side of every fixed-point aggregate.
``to_units`` gets the same integers from ``rint`` (one machine
instruction) plus a fix-up for exact ties; its docstring has the
argument. Every per-row double → integer rounding in the package goes
through it, and ``tests/test_plan_hygiene.py`` keeps it that way.

Ratios (averages, shares) use ``floor(a / b)`` on exact integers at a
fixed output scale: both engines perform the same exact-integer
double division and the same binary floor, so results are
bit-identical. floor (not DIV/``//``) because Spark's DIV truncates
toward zero while DuckDB's ``//`` floors — they disagree on negative
numerators.

Magnitude bounds: cross-engine parity holds whenever the summed unit
values fit int64 (Spark's BIGINT sum wraps past 2^63; DuckDB promotes
to HUGEINT — the one remaining divergence). Results are additionally
exact-to-the-unit while intermediates stay below 2^53, where int →
double conversion is lossless. At oracle scale (sf0.01) the largest
intermediate is ~4e15. At true 100 TB scale these helpers would
switch the accumulator to DECIMAL(38, s) (Spark sums decimals
exactly); fixed-point-in-long is the fast path, decimal the wide
path.

A typing trap this module exists to avoid: dividing a BIGINT by a
FLOAT LITERAL (``sum(x) / 100.0``) types as DECIMAL(27,6) in Spark
but DOUBLE in DuckDB. Every helper therefore casts to DOUBLE
explicitly and divides by integer literals, so shared Spark+DuckDB
SQL produces the same column type in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_units(col: Column | str, scale: int) -> Column:
    """Per-row conversion of fixed-decimal doubles to exact integer units.

    The result is ``round(col * scale)`` half away from zero (HALF_UP),
    as a long, without ``F.round``'s per-row BigDecimal. With
    ``x = col * scale`` and ``r = rint(x)`` (nearest integer, ties to
    even), ``x - r`` is exact in binary floating point, so
    ``|x - r| == 0.5`` holds exactly on the ties and nowhere else;
    there ``x + signum(x) * 0.5`` is the away-from-zero integer, also
    exact (ties only exist below 2^52, where every k + 1 is
    representable). This equals Spark's ``round``: that rounds the
    shortest decimal string of ``x``, which can only read k.5 when
    ``x`` is exactly k.5. It also equals DuckDB's ``round`` (C
    ``round()`` on the binary value), so ``oracle_units`` stays the
    twin. The final cast is unchanged: NULL stays NULL, and NaN, ±inf
    and out-of-range values raise ANSI ``CAST_OVERFLOW`` as before.
    """
    c = F.col(col) if isinstance(col, str) else col
    x = c * F.lit(scale)
    r = F.rint(x)
    return (
        F.when(F.abs(x - r) == 0.5, x + F.signum(x) * 0.5)
        .otherwise(r)
        .cast("long")
    )


def exact_sum(col: Column | str, scale: int) -> Column:
    """Aggregate: exact sum of fixed-decimal data, returned as double."""
    return F.sum(to_units(col, scale)).cast("double") / F.lit(scale)


def exact_ratio(num_units: Column, den_units: Column, out_scale: int = 1_000_000) -> Column:
    """Ratio at fixed output scale: floor(double(num)*out/den)/out.

    The numerator is cast to double BEFORE the out_scale multiply: the
    previous all-BIGINT ``num * out_scale`` silently wraps past 2^63
    (~9.2e12 in summed units at out_scale=1e6) while DuckDB's HUGEINT
    does not — an engine divergence at large scale factors. int64 →
    double conversion and the subsequent multiply are identical IEEE
    ops in both engines, so parity now holds for any unit sum that
    fits int64; floor is additionally the true floor while
    num*out_scale < 2^53.
    """
    return F.floor(num_units.cast("double") * F.lit(out_scale) / den_units) / F.lit(
        float(out_scale)
    )


def exact_avg(sum_units: Column, n: Column, scale: int, out_scale: int = 1_000_000) -> Column:
    """Average of fixed-decimal data from its exact unit-sum and count.

    Same double-before-multiply shape as exact_ratio (see there for the
    2^63 rationale).
    """
    return F.floor(sum_units.cast("double") * F.lit(out_scale) / (n * F.lit(scale))) / F.lit(
        float(out_scale)
    )


def oracle_units(expr: str, scale: int) -> str:
    """DuckDB twin of to_units()."""
    return f"CAST(round(({expr}) * {scale}) AS BIGINT)"


def oracle_exact_sum(expr: str, scale: int) -> str:
    """DuckDB twin of exact_sum().

    The shape matters because this string is sometimes executed by BOTH
    engines (shared-SQL queries in operators/subqueries.py). The naive
    ``sum(bigint) / 100.0`` types as DECIMAL(27,6) in Spark but DOUBLE
    in DuckDB — a schema/hash divergence the driver catches. Casting
    the exact integer sum to DOUBLE first, then dividing by an INTEGER
    literal, types as DOUBLE in both engines and performs the identical
    IEEE division.
    """
    return f"(CAST(sum({oracle_units(expr, scale)}) AS DOUBLE) / {int(scale)})"


def oracle_exact_ratio(num: str, den: str, out_scale: int = 1_000_000) -> str:
    """DuckDB twin of exact_ratio()."""
    return (
        f"(floor(CAST(({num}) AS DOUBLE) * {out_scale} / ({den}))"
        f" / {float(out_scale)})"
    )


def oracle_exact_avg(sum_units: str, n: str, scale: int, out_scale: int = 1_000_000) -> str:
    """DuckDB twin of exact_avg()."""
    return (
        f"(floor(CAST(({sum_units}) AS DOUBLE) * {out_scale} / (({n}) * {scale}))"
        f" / {float(out_scale)})"
    )
