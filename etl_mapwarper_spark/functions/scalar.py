"""Scalar column expressions re-expressing the reference's per-record
helpers as Catalyst expressions (reference: /root/reference/mapwarper.js).

All pure column expressions — no UDFs, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_decimals(value: Column, decimals: int) -> Column:
    """Round to fixed decimals; reference mapwarper.js:348-351."""
    return F.round(value, decimals)


def sorted_array_quantile(vals: Column, n: Column, q: float) -> Column:
    """Linear-interpolated quantile over a pre-sorted array column.

    DuckDB ``quantile_cont``'s exact formula — pos = q·(n−1),
    v_lo + (v_hi − v_lo)·frac — over ``vals`` (ascending, 1-indexed
    by ``element_at``) with ``n`` its length. Shared by
    q35_price_percentiles and q89_approx_quantiles so the
    interpolation semantics (int casts, frac handling) cannot drift
    between the two engines' exact sides.
    """
    pos = F.lit(q) * (n - 1)
    lo = F.floor(pos).cast("int")
    hi = F.ceil(pos).cast("int")
    v_lo = F.element_at(vals, lo + 1)
    v_hi = F.element_at(vals, hi + 1)
    return v_lo + (v_hi - v_lo) * (pos - F.floor(pos))
