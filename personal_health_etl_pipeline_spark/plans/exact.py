"""Order-independent float aggregation helpers (oracle-exact math).

Double summation is order-dependent, and Spark's partitioned sums visit
rows in a different order than a single-threaded oracle — so a raw
``SUM(double)`` can differ in the last bits and flip a rounding
boundary. The engine's contract for value-hash parity:

1. cast each *input column* to ``DECIMAL(18,2)`` (the synthetic data is
   generated at 2-decimal precision; the cast is deterministic and
   identical in Spark and DuckDB because .xx5 boundaries are not exactly
   representable in binary doubles),
2. do the row arithmetic in decimal (exact),
3. ``SUM`` decimals (exact, order-independent),
4. cast the exact total to double and ``ROUND`` for display.

Both engines then produce bit-identical doubles. Averages are exact-sum
/ count rather than ``AVG(double)``.

This costs a little vs a native double sum, but stays whole-stage
codegen on the JVM; at true scale flip the queries to plain double sums
when bit-parity with a serial oracle is not a requirement.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

IN_DECIMAL = "decimal(18,2)"


def d2(col: Column | str) -> Column:
    """Decimalize a generated-at-2dp double column (exact row value)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(IN_DECIMAL)


def exact_sum(expr: Column, round_to: int = 2) -> Column:
    """Order-independent ``SUM`` of a decimal expression, as rounded double."""
    return F.round(F.sum(expr).cast("double"), round_to)


# --- DuckDB oracle-side renderings (same math, same rounding) --------

def od2(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(18,2))"


def oracle_sum(expr: str, round_to: int = 2) -> str:
    return f"ROUND(CAST(SUM({expr}) AS DOUBLE), {round_to})"


def oracle_avg(expr: str, round_to: int = 6) -> str:
    return f"ROUND(CAST(SUM({expr}) AS DOUBLE) / COUNT({expr}), {round_to})"


# --- integer-scaled fast path -----------------------------------------
#
# Decimal aggregation is exact but ~3-4x slower than long arithmetic in
# codegen (Decimal128 adds/multiplies per row). Since every input
# column is generated at 2 decimal places, each row value is an exact
# integer number of "cents": accumulate Σ as BIGINT (one long add per
# row), then rebuild the decimal ONCE per group and cast to double —
# the same rational number reaches the same correctly-rounded double as
# the all-decimal recipe, so oracle hash-parity is preserved.
#
# Overflow envelope (long max ≈ 9.2e18): a 2-factor product term is
# ~1e9 per row (sum fits to ~1e9 rows), a 3-factor term ~1e11 per row
# (fits to ~1e7 rows per group). Past that, fall back to the decimal
# recipe above — at 100 TB you'd also shard the sum (partial aggregates
# already do) so the envelope applies per-partition total, not per row
# count globally.

def cents(col: Column | str, dp: int = 2) -> Column:
    """A 2-dp double column as exact integer cents (bigint)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast("double") * (10 ** dp), 0).cast("bigint")


def exact_sum_cents(expr: Column, scale_pow: int, round_to: int = 2) -> Column:
    """Order-independent sum of a bigint-scaled expression, rendered as
    the same rounded double the decimal recipe produces.

    ``scale_pow`` = total decimal places carried by ``expr`` (2 per
    2-dp factor multiplied in). The one decimal division per *group*
    replaces a decimal multiply+add per *row*."""
    exact = F.sum(expr).cast("decimal(38,0)") / F.lit(10 ** scale_pow).cast(
        "decimal(20,0)"
    )
    return F.round(exact.cast("double"), round_to)


def exact_avg_cents(expr: Column, scale_pow: int, round_to: int = 6) -> Column:
    """Exact mean from bigint-scaled sums (sum / count, decimal once)."""
    exact = F.sum(expr).cast("decimal(38,0)") / F.lit(10 ** scale_pow).cast(
        "decimal(20,0)"
    )
    return F.round(exact.cast("double") / F.count(expr), round_to)


def cents_to_double(col: Column, scale_pow: int) -> Column:
    """Render an already-summed bigint cents value as the correctly-
    rounded double of the exact rational ``col / 10^scale_pow`` (for
    window sums and post-agg columns)."""
    return (
        col.cast("decimal(38,0)") / F.lit(10 ** scale_pow).cast("decimal(20,0)")
    ).cast("double")


def cents_sum_double(expr: Column, scale_pow: int) -> Column:
    """Unrounded double of an exact bigint-scaled sum — for ratio
    queries whose oracle divides two ``CAST(SUM(decimal) AS DOUBLE)``
    values before the final display rounding. The exact rational
    ``Σ/10^scale_pow`` reaches the same correctly-rounded double in
    both engines."""
    exact = F.sum(expr).cast("decimal(38,0)") / F.lit(10 ** scale_pow).cast(
        "decimal(20,0)"
    )
    return exact.cast("double")
