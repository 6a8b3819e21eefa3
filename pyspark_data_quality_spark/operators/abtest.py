"""Two-variant experiment readout: Welch's t and the two-proportion z.

The reference framework (``src/pyspark_data_quality/checks/*.py``) stops at
per-column ratios; production data platforms also gate releases on
experiment metrics ("did the new pipeline change mean latency / the
conversion rate beyond noise?"). This operator is that readout as one
distributed aggregate plus closed-form math:

- **Welch's unequal-variance t** on a numeric metric:
  ``t = (m_a − m_b) / √(v_a/n_a + v_b/n_b)`` with Welch–Satterthwaite
  degrees of freedom.
- **Two-proportion pooled z** on a boolean success indicator:
  ``z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b))``.

Scale (100 TB): the data is touched ONCE by a map-side-combinable
``groupBy(variant)`` (count / mean / sample variance / success sum);
everything after runs on that ≤2-row frame, which is localCheckpoint-ed
so the min/max-variant split does not recompute the scan (the repo's
single-scan contract, tests/test_telemetry.py). No windows, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expr import DIGITS


def ab_test_report(
    df: DataFrame,
    variant_col: str | Column,
    metric_col: str,
    success_col: str | Column | None = None,
    *,
    critical: float = 1.96,
) -> DataFrame:
    """One-row A/B report comparing EXACTLY two variants.

    ``variant_col`` may be a column name or an expression (e.g. a bucket
    of a user id); the lexicographically smaller label is reported as
    ``variant_a``. NULL metric values are excluded from n/mean/variance
    (their count is visible as ``n_a + n_b`` vs the caller's row count);
    NULL variants are dropped. More or fewer than two distinct variants
    raises ``ValueError`` loudly — a silent pairwise matrix would hide an
    experiment-assignment bug, the thing this operator exists to catch.

    Output columns: ``variant_a variant_b n_a n_b mean_a mean_b
    mean_diff welch_t welch_df`` (plus ``rate_a rate_b rate_diff
    prop_z`` when ``success_col`` is given), always ending with a
    ``significant`` flag on ``|welch_t| > critical`` (NULL when t is
    undefined — zero variance or a single-sample arm).
    """
    from ..functions.expr import finite

    v = F.col(variant_col) if isinstance(variant_col, str) else variant_col
    # FINITE metric values only (SCALE.md invariant 8): one NaN metric
    # row would make the arm's mean/variance NaN, and a NaN Welch t
    # compares greater than any critical value — a guaranteed false
    # 'significant'. NaN metric rows drop from n/mean/var exactly like
    # NULL rows; conversion proportions still count every assigned row.
    x = finite(F.col(metric_col).cast("double"))
    aggs = [
        F.count(x).alias("n"),
        F.avg(x).alias("mean"),
        F.var_samp(x).alias("var"),
    ]
    if success_col is not None:
        s = F.col(success_col) if isinstance(success_col, str) else success_col
        # proportions run over ALL assigned rows (a NULL metric row still
        # converted or didn't), means only over non-null metric rows
        aggs += [
            F.sum(s.cast("int")).alias("succ"),
            F.count(F.lit(1)).alias("n_rows"),
        ]
    g = (
        df.filter(v.isNotNull())
        .groupBy(v.alias("variant"))
        .agg(*aggs)
        .localCheckpoint()
    )
    n_variants = g.count()
    if n_variants != 2:
        raise ValueError(
            f"ab_test_report needs exactly 2 variants, got {n_variants}"
        )
    side_cols = ["variant", "n", "mean", "var"] + (
        ["succ", "n_rows"] if success_col is not None else []
    )
    a = g.orderBy("variant").limit(1).select(
        *[F.col(c).alias(f"{c}_a") for c in side_cols]
    )
    b = g.orderBy(F.col("variant").desc()).limit(1).select(
        *[F.col(c).alias(f"{c}_b") for c in side_cols]
    )
    j = a.crossJoin(b)  # 1-row × 1-row
    # try_divide throughout: a zero-variance experiment (se2 = 0) or a
    # single-sample arm (n-1 = 0) reports NULL t/df, not an ANSI
    # DIVIDE_BY_ZERO that kills the job
    se2 = F.try_divide(F.col("var_a"), F.col("n_a")) + F.try_divide(
        F.col("var_b"), F.col("n_b")
    )
    welch_t = F.try_divide(
        F.col("mean_a") - F.col("mean_b"),
        F.when(se2 > 0, F.sqrt(se2)),
    )
    welch_df = F.try_divide(
        se2 * se2,
        F.when(
            (F.col("n_a") > 1) & (F.col("n_b") > 1),
            F.pow(F.col("var_a") / F.col("n_a"), 2) / (F.col("n_a") - 1)
            + F.pow(F.col("var_b") / F.col("n_b"), 2) / (F.col("n_b") - 1),
        ),
    )
    out = [
        F.col("variant_a"),
        F.col("variant_b"),
        F.col("n_a"),
        F.col("n_b"),
        F.round("mean_a", DIGITS).alias("mean_a"),
        F.round("mean_b", DIGITS).alias("mean_b"),
        F.round(F.col("mean_a") - F.col("mean_b"), DIGITS).alias(
            "mean_diff"
        ),
        F.round(welch_t, DIGITS).alias("welch_t"),
        F.round(welch_df, DIGITS).alias("welch_df"),
    ]
    if success_col is not None:
        p_a = F.col("succ_a") / F.col("n_rows_a")
        p_b = F.col("succ_b") / F.col("n_rows_b")
        pool = (F.col("succ_a") + F.col("succ_b")) / (
            F.col("n_rows_a") + F.col("n_rows_b")
        )
        # pool 0 or 1 (no or all conversions in BOTH arms) is a valid
        # readout: z is undefined -> NULL, never a divide-by-zero
        z_den = pool * (1 - pool) * (
            1.0 / F.col("n_rows_a") + 1.0 / F.col("n_rows_b")
        )
        z = F.try_divide(p_a - p_b, F.when(z_den > 0, F.sqrt(z_den)))
        out += [
            F.round(p_a, DIGITS).alias("rate_a"),
            F.round(p_b, DIGITS).alias("rate_b"),
            F.round(p_a - p_b, DIGITS).alias("rate_diff"),
            F.round(z, DIGITS).alias("prop_z"),
        ]
    out.append((F.abs(welch_t) > F.lit(critical)).alias("significant"))
    return j.select(*out)
