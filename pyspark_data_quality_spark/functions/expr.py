"""Expression-tree helpers shared by the column-function modules."""

from __future__ import annotations

import math
from typing import Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..plans.compile import and_sql, ident

#: decimal places of every reported statistic: each operator rounds its
#: output once, with ``F.round(x, DIGITS)`` — the oracles' ``round(x, 6)``
DIGITS = 6


def _round_like_spark(arr, nd: int):
    """Replicate ``F.round`` on doubles for values rounded in Python
    (the streaming faces' display columns, driver-side ratios): Java
    rounds HALF_UP over the SHORTEST-DECIMAL representation
    (``BigDecimal.valueOf(double)``). ``np.round`` and Python ``round``
    are half-to-even, and the ``floor(abs*scale+0.5)`` trick rounds the
    BINARY value (0.285*100 = 28.4999... → 0.28 where Spark shows 0.29)
    — all diverge from F.round at decimal half-boundaries. Python
    ``repr(float)`` is the same shortest round-trip decimal as
    ``Double.toString``, so ``Decimal(repr(x))`` + ``ROUND_HALF_UP``
    (ties away from zero, like Java) reproduces F.round exactly.
    Per-element Decimal, deliberately: the inputs are bounded (metric
    streams, one-row reports), and parity with the JVM face beats
    vectorizing a cosmetic column."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-nd)
    out = np.empty(len(arr), dtype=float)
    for i, v in enumerate(arr):
        fv = float(v)
        out[i] = (
            fv
            if math.isnan(fv) or math.isinf(fv)
            else float(Decimal(repr(fv)).quantize(q, rounding=ROUND_HALF_UP))
        )
    return out


def _round_value(x: float) -> float:
    """One driver-side value rounded to :data:`DIGITS` as ``F.round``
    rounds it (see :func:`_round_like_spark`)."""
    return float(_round_like_spark([x], DIGITS)[0])


def let_bind(value: Column, body: Callable[[Column], Column]) -> Column:
    """Let-binding for expression trees: evaluate ``value`` once per row
    and pass it to ``body`` as a lambda variable (O(1) lookup per
    reference). Spark's interpreted expression evaluation has no
    common-subexpression elimination inside higher-order-function
    lambdas, so an expression referenced N times is computed N times —
    binding via a single-element ``transform`` caps that at once.
    Nesting is fine (inner lambdas may reference outer variables).

    Expressions composed as SQL text bind the same way with a SQL
    lambda, ``element_at(transform(array(v), x -> ...), 1)`` — one
    parse instead of a py4j round trip per operator
    (:func:`..operators.dedup._jaccard_sql`).
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
    cols: Sequence[str], rsd: float, scope: str | None = None
) -> str:
    """Approximate ``COUNT(DISTINCT cols...)`` as DataSketches HLL
    aggregate SQL text:
    ``hll_sketch_estimate(hll_sketch_agg(h, hll_lg_k(rsd)))`` over one
    64-bit ``xxhash64`` of the key per row. Text like every rule
    aggregate (``plans/compile``): the fused metrics pass parses it
    in its one ``selectExpr``; Column callers wrap it in ``F.expr``.

    ``h`` is NULL when the row is out of ``scope`` (SQL text; a NULL
    scope counts as out) or any key part is NULL, and the sketch skips
    NULLs — SQL multi-column DISTINCT semantics, as the exact
    ``count(DISTINCT ...)`` path. ``xxhash64`` hashes -0.0 as 0.0 and
    every NaN alike, the same normalization the exact path's grouping
    applies. Empty input estimates 0.

    Why not ``approx_count_distinct``: Spark's HLL++ keeps every register
    word as its own aggregate-buffer attribute (1,639 longs at rsd 0.01),
    a fixed CPU cost per task to set up and merge whatever the task's
    row count; the sketch is one binary buffer. Below ~3/4 * 2^(k-3)
    distinct keys (1,536 at k=14) it is still a coupon list/set whose
    estimate is exact at small counts.
    """
    lg_k = hll_lg_k(rsd)
    keys = [ident(c) for c in cols]
    nonnull = [f"{k} IS NOT NULL" for k in keys]
    keep = and_sql(nonnull if scope is None else [scope, *nonnull])
    return (
        f"hll_sketch_estimate(hll_sketch_agg("
        f"CASE WHEN {keep} THEN xxhash64({', '.join(keys)}) END, {lg_k}))"
    )
