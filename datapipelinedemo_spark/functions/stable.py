"""Cross-engine-deterministic numeric helpers.

The driver's correctness gate hash-compares Spark results against a
DuckDB oracle. Two sources of cross-engine drift have to be engineered
away:

1. Floating-point SUM is order-dependent, and Spark's shuffle order
   differs from DuckDB's scan order.
2. double→DECIMAL casts round differently at representational ties
   (Spark uses the exact binary expansion + HALF_UP; DuckDB scales in
   double space), so even per-row decimal conversion can differ by one
   ulp-of-scale.

Both vanish if each value is snapped to an integer grid with pure IEEE
double ops (multiply, add, floor — bit-identical in every engine) and
summed as exact BIGINTs. ``dec_sum(c, scale=4)`` computes
``SUM(FLOOR(x*10^4 + 0.5)) / 10^4`` — an exact, order-independent,
engine-independent fixed-point sum presented as a double.

Products/ratios *within* one row are deterministic IEEE ops and need
no special handling.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _scaled(c, scale: int) -> Column:
    """FLOOR(x * 10^scale + 0.5) as BIGINT — the deterministic grid snap.
    (floor(x+0.5), not HALF_UP: differs only for negative ties, which is
    fine — the oracle twin uses the identical expression.)"""
    factor = float(10**scale)
    return F.floor(_col(c).cast("double") * F.lit(factor) + F.lit(0.5)).cast("long")


def dec_sum(c, alias: str, scale: int = 4) -> Column:
    """Order- and engine-independent SUM of a double column.

    DuckDB oracle twin (see ``plans.relational._dsum``):
    ``CAST(SUM(CAST(FLOOR(x * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4``.
    """
    factor = float(10**scale)
    return (F.sum(_scaled(c, scale)).cast("double") / F.lit(factor)).alias(alias)


def dec_avg(c, alias: str, scale: int = 4) -> Column:
    """Order/engine-independent AVG: fixed-point sum / (count * 10^scale)."""
    c = _col(c)
    factor = float(10**scale)
    return (
        F.sum(_scaled(c, scale)).cast("double")
        / (F.count(c).cast("double") * F.lit(factor))
    ).alias(alias)


def smoothed_mean(value, weight) -> Column:
    """The reference's smoothed weighted mean (A2/A3, demo.py:255-306):
    Σ value·(weight+1) / (Σ weight + 1) — every row weighted in the
    numerator, the +1 smoothing added once per group in the
    denominator. The numerator is a 1e-6 fixed-point sum, so the value
    is order- and engine-independent.

    DuckDB oracle twin: ``(CAST(SUM(CAST(FLOOR(v * (w + 1) * 1000000.0
    + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / CAST(SUM(w) + 1 AS
    DOUBLE)``.
    """
    value, weight = _col(value), _col(weight)
    num = F.sum(_scaled(value * (weight + 1), 6)).cast("double") / F.lit(1e6)
    return num / (F.sum(weight) + F.lit(1)).cast("double")


def md5_long(c, chars: int = 15) -> Column:
    """Deterministic 60-bit integer hash both engines can compute:
    first ``chars`` hex digits of md5, parsed base-16. 15 hex digits
    < 2^60 fits a signed BIGINT in both engines.

    DuckDB: ``CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)``.

    Used instead of ``F.hash`` (murmur3) wherever the hash value itself
    is part of an oracle-checked result (MinHash, SimHash, fingerprints).
    For Spark-internal bucketing, prefer ``F.xxhash64`` (cheaper).
    """
    return F.conv(F.substring(F.md5(_col(c)), 1, chars), 16, 10).cast("long")


def round6(c, alias: str | None = None) -> Column:
    """Round a continuous (non-cent-aligned) double to 6 decimals for
    presentation. For genuinely continuous values the probability that
    cross-engine ULP noise straddles a rounding boundary is ~1e-10 per
    row; cent-aligned money must use dec_sum instead."""
    out = F.round(_col(c), 6)
    return out.alias(alias) if alias else out
