"""Expression-tree helpers shared by the column-function modules."""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def let_bind(value: Column, body: Callable[[Column], Column]) -> Column:
    """Let-binding for expression trees: evaluate ``value`` once per row
    and pass it to ``body`` as a lambda variable (O(1) lookup per
    reference). Spark's interpreted expression evaluation has no
    common-subexpression elimination inside higher-order-function
    lambdas, so an expression referenced N times is computed N times —
    binding via a single-element ``transform`` caps that at once.
    Nesting is fine (inner lambdas may reference outer variables).
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def finite(c: Column) -> Column:
    """``c`` when it is a FINITE number, else NULL — the guard every
    statistic aggregate in this package feeds numeric inputs through.

    Why it exists (NaN-adversarial hardening, r12): Spark's ``avg`` /
    ``stddev`` / ``min`` / ``max`` skip NULLs but NOT NaN — one NaN
    poisons the whole aggregate (mean=NaN -> every z-score NaN -> under
    Spark's NaN-is-greatest ordering EVERY row compares ``> threshold``
    as true), and ``max`` returns NaN/Infinity as the greatest value,
    so a single bad reference row silently collapses histogram bounds.
    Routing the STATISTIC input through ``finite`` keeps the summary
    sane while the operator decides separately how to treat the
    non-finite rows themselves (usually: flag as anomalous or clamp to
    an edge bin). Non-floating inputs pass through unchanged (integers
    are never NaN/Inf); the magnitude check casts to double so ANSI
    ``abs`` can never overflow-throw on Long.MinValue.
    """
    return F.when(
        (~F.isnan(c)) & (F.abs(c.cast("double")) < F.lit(float("inf"))),
        c,
    )


#: lgConfigK range ``hll_sketch_agg`` accepts (DataSketches HLL)
_HLL_LG_K_MIN, _HLL_LG_K_MAX = 4, 21


def hll_lg_k(rsd: float) -> int:
    """Smallest DataSketches HLL ``lgConfigK`` whose relative standard
    error ``1.04 / sqrt(2**k)`` is at most ``rsd`` — rsd 0.01 maps to 14,
    the register count Spark's HLL++ uses at the same rsd. Raises
    ``ValueError`` when that k falls outside [4, 21] (rsd above ~0.37 or
    below ~0.0007), the range the sketch supports."""
    k = 0
    while k <= _HLL_LG_K_MAX and 1.04 / 2 ** (k / 2) > rsd:
        k += 1
    if not _HLL_LG_K_MIN <= k <= _HLL_LG_K_MAX:
        raise ValueError(
            f"rsd={rsd!r} needs an HLL lgConfigK outside "
            f"[{_HLL_LG_K_MIN}, {_HLL_LG_K_MAX}]"
        )
    return k


def approx_distinct(
    cols: Sequence[str | Column], rsd: float, scope: Column | None = None
) -> Column:
    """Approximate ``COUNT(DISTINCT cols...)`` as a DataSketches HLL
    aggregate: ``hll_sketch_estimate(hll_sketch_agg(h, hll_lg_k(rsd)))``
    over one 64-bit ``xxhash64`` of the key per row.

    ``h`` is NULL when the row is out of ``scope`` (a NULL scope counts
    as out) or any key part is NULL, and the sketch skips NULLs — SQL
    multi-column DISTINCT semantics, as the exact ``count_distinct``
    path. ``xxhash64`` hashes -0.0 as 0.0 and every NaN alike, the same
    normalization the exact path's grouping applies. Empty input
    estimates 0.

    Why not ``approx_count_distinct``: Spark's HLL++ keeps every register
    word as its own aggregate-buffer attribute (1,639 longs at rsd 0.01),
    a fixed CPU cost per task to set up and merge whatever the task's
    row count; the sketch is one binary buffer. Below ~3/4 * 2^(k-3)
    distinct keys (1,536 at k=14) it is still a coupon list/set whose
    estimate is exact at small counts.
    """
    lg_k = hll_lg_k(rsd)
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    keep = scope
    for c in cs:
        keep = c.isNotNull() if keep is None else (keep & c.isNotNull())
    return F.hll_sketch_estimate(
        F.hll_sketch_agg(F.when(keep, F.xxhash64(*cs)), lg_k)
    )
