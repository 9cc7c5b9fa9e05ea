"""Statistics primitives with oracle-exact semantics.

Two concerns drive this module (SURVEY.md §4 "hard parts"):

1. **Order-independent exact aggregation.** Double summation is not
   associative, so a distributed sum differs in low bits run-to-run and
   engine-to-engine. Casting to decimal before summing makes the aggregate
   exact and order-independent — the same technique TPC-H kits use — so a
   1000-executor run hash-matches a single-threaded oracle. All testdata
   doubles carry <=4 decimal digits, so ``decimal(38, s)`` casts are lossless.

2. **Sample-adjusted moment statistics.** The reference uses pandas
   ``skew()``/``kurtosis()`` (bias-corrected G1/G2 — `data_analysis.ipynb`
   cell a708373b); Spark's ``F.skewness``/``F.kurtosis`` are population-form.
   We compute G1/G2 from raw power sums, which also makes them
   order-independent via the decimal trick.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


# Limb split point for the fast exact-sum path: balanced around sqrt(2^53)
# so both limb magnitudes stay < 1e8, keeping long accumulators overflow-safe
# through ~9e10 rows per aggregation group (ANSI mode turns a violation into
# a loud error, never silent wraparound; beyond that scale, pre-aggregate
# per partition-chunk or use wide=True).
_LIMB = 100_000_000


def dec_sum(c: Column, scale: int = 4, wide: bool = False) -> Column:
    """Exact, order-independent sum of a double column.

    Semantically ``CAST(SUM(CAST(c AS DECIMAL(38,scale))) AS DOUBLE)`` — the
    oracle-parity form — but the default path avoids per-row BigDecimal
    (~8x slower than long math in the aggregate hot loop): the HALF_UP-scaled
    integer ``round(c * 10^scale)`` is split into two <1e8 limbs summed as
    plain codegen'd longs, then recombined in decimal once per group.

    Fast-path contract: ``|c| * 10^scale <= ~1e14`` so the scaled double is
    exact to well under 0.5 ulp and rounding matches the decimal cast
    digit-for-digit. Every money/quantity column and 2-3-way product in the
    testdata satisfies this; pass ``wide=True`` (or scale > 8, e.g. x³/x⁴
    moment sums) to force the BigDecimal path for larger magnitudes.

    Scale must cover the true decimal precision of the data (4 covers every
    raw testdata column; use 6-8 for 2-3-way products of 2-decimal values).
    """
    if wide or scale > 8:
        return F.sum(c.cast(f"decimal(38,{scale})")).cast("double")
    u = F.round(c * F.lit(float(10**scale))).cast("long")
    lo = u % F.lit(_LIMB)
    hi = ((u - lo) / F.lit(float(_LIMB))).cast("long")  # exact: quotient is an integer < 2^53
    total = F.sum(hi).cast("decimal(38,0)") * F.lit(_LIMB) + F.sum(lo).cast("decimal(38,0)")
    return (total * F.lit(Decimal(1).scaleb(-scale))).cast("double")


def dec_avg(c: Column, scale: int = 4) -> Column:
    """Exact-numerator mean: decimal sum / count, evaluated in double."""
    return dec_sum(c, scale) / F.count(c)


def power_sums(c: Column, scale: int = 4, upto: int = 4) -> list[Column]:
    """[n, Σx, Σx², Σx³, Σx⁴] with exact decimal accumulation.

    Powers are formed by explicit double multiplication (``x*x``, ``x*x*x``)
    so the per-row value is bit-identical to any engine doing the same —
    then decimal-summed so the reduction order doesn't matter. The decimal
    scale grows with the power (xᵖ of a scale-s value has p·s true decimal
    digits) so the cast stays lossless.
    """
    out = [F.count(c).cast("double")]
    p = c
    for i in range(1, upto + 1):
        if i > 1:
            p = p * c
        # powers >= 2 exceed the limb fast path's magnitude contract
        out.append(dec_sum(p, scale * i, wide=i > 1))
    return out


def sample_variance(n: Column, s1: Column, s2: Column) -> Column:
    """Unbiased sample variance from power sums (identical FP steps in the
    DuckDB oracle SQL — see plans/profiling.py)."""
    return (s2 - s1 * s1 / n) / (n - F.lit(1.0))


def skewness_g1(n: Column, s1: Column, s2: Column, s3: Column) -> Column:
    """Bias-corrected sample skewness G1 (pandas ``skew`` semantics)."""
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * mean * mean * mean
    # m2^1.5 as m2*sqrt(m2): * and sqrt are IEEE-exact in every engine,
    # pow() implementations differ in the last ulp
    g1 = m3 / (m2 * F.sqrt(m2))
    return g1 * F.sqrt(n * (n - F.lit(1.0))) / (n - F.lit(2.0))


def kurtosis_g2(n: Column, s1: Column, s2: Column, s3: Column, s4: Column) -> Column:
    """Bias-corrected excess kurtosis G2 (pandas ``kurtosis`` semantics)."""
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * mean * mean * (s2 / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    return ((n + F.lit(1.0)) * g2 + F.lit(6.0)) * (n - F.lit(1.0)) / ((n - F.lit(2.0)) * (n - F.lit(3.0)))


# ---------------------------------------------------------------------------
# Oracle-side (DuckDB) SQL snippet builders. Keeping the snippet text next to
# the Column builders guarantees both sides do the *same* double arithmetic
# on the *same* exact decimal sums, so results match bit-for-bit.
# ---------------------------------------------------------------------------


def sql_dec_sum(expr: str, scale: int = 4) -> str:
    # VARCHAR route, deliberately: DuckDB's decimal->double cast is the
    # two-step unscaled_int->double / 10^scale (two IEEE roundings), while
    # Spark's BigDecimal.doubleValue is the correctly-rounded single step —
    # they differ in the last ulp once the unscaled total exceeds 2^53
    # (first seen at sf0.1 on q01's sum_charge). decimal->VARCHAR is exact
    # digits and VARCHAR->double is correctly-rounded strtod, so this form
    # matches Spark bit-for-bit at every magnitude.
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,{scale}))) AS VARCHAR) AS DOUBLE)"
