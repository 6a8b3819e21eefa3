"""Distribution-drift detection between two table snapshots.

The standard training-pipeline question the reference had no answer to:
"does this batch look like the data the model saw last time?" Two
operators over a *current* and a *reference* DataFrame:

- :func:`categorical_drift` — per-(column, value) frequency comparison
  with the PSI contribution of each value; many columns in ONE shuffle
  per side via the exploded column->value map (same trick as
  profile.top_values).
- :func:`psi_summary` — one row per column with the total Population
  Stability Index (rule of thumb: <0.1 stable, 0.1-0.25 moderate shift,
  >0.25 action).

Scale shape: each side aggregates to (column, value, ratio) — tiny after
aggregation regardless of input size — then a full outer join on the
histogram keys. No UDFs; ``ln`` and the smoothing clamp are expressions.
Zero-frequency bins are clamped to ``eps`` (the standard PSI smoothing)
so a value present on only one side contributes a finite term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expr import DIGITS
from ..plans.local import local_frame

DEFAULT_EPS = 1e-6


def _tagged_counts(
    cur_rows: DataFrame,
    ref_rows: DataFrame,
    keys: list[str],
    a: str,
    b: str,
) -> DataFrame:
    """THE two-sided fusion convention (r11), shared by every cur-vs-ref
    operator in this module: one-hot side tags + union + per-key groupBy
    collapse BOTH sides' counts in a SINGLE map-side-combined shuffle.
    This replaces the per-side aggregation + null-safe full-outer-join
    shape — the union aligns the histograms by construction (a key
    missing on one side simply counts 0 there), NULL keys group like
    any other key, and changing the missing-side convention has exactly
    one place to land."""
    tagged = (
        cur_rows.withColumn("_a", F.lit(1)).withColumn("_b", F.lit(0))
        .unionByName(
            ref_rows.withColumn("_a", F.lit(0)).withColumn("_b", F.lit(1))
        )
    )
    return tagged.groupBy(*keys).agg(
        F.sum("_a").alias(a), F.sum("_b").alias(b)
    )


def categorical_drift(
    cur: DataFrame,
    ref: DataFrame,
    columns: list[str],
    *,
    eps: float = DEFAULT_EPS,
) -> DataFrame:
    """Per-(column, value) drift detail:
    ``(column, value, p_cur, p_ref, psi_term)`` where ``psi_term =
    (p_cur - p_ref) * ln(p_cur / p_ref)`` with both ratios clamped to at
    least ``eps``. Values absent on a side get ratio 0 (clamped).

    Scale shape (r11, same fusion as :func:`psi_by_group`): the sides
    union ONCE with a one-hot tag, so both histograms materialize in a
    SINGLE exploded-map shuffle with map-side combine — the tagged
    groupBy aligns the two sides by construction, replacing the former
    per-side aggregations + null-safe full-outer join; per-column
    totals ride a window over the same hash partitioning. Map values
    keep real NULLs (no 'NULL'-string sentinel): a genuine NULL bucket
    can never collide with a literal 'NULL' value."""
    return _categorical_drift(cur, ref, columns, eps, DIGITS)


def _categorical_drift(
    cur: DataFrame,
    ref: DataFrame,
    columns: list[str],
    eps: float,
    digits: int,
) -> DataFrame:
    """:func:`categorical_drift` rounded to ``digits`` decimals —
    :func:`psi_summary` sums the terms at 12 so the total does not
    accumulate per-term rounding."""

    def side(df: DataFrame) -> DataFrame:
        return df.select(
            F.explode(
                F.create_map(
                    *[
                        x
                        for c in columns
                        for x in (F.lit(c), F.col(c).cast("string"))
                    ]
                )
            ).alias("column", "value")
        )

    counts = _tagged_counts(
        side(cur), side(ref), ["column", "value"], "_nc", "_nr"
    )
    w = Window.partitionBy("column")
    # try_divide: a column present on only one side has a zero total on
    # the other -> NULL ratio; coalesce 0.0 reproduces the old full-
    # outer-join's missing-side semantics before the eps clamp.
    joined = counts.select(
        "column",
        "value",
        F.coalesce(
            F.try_divide(F.col("_nc"), F.sum("_nc").over(w)), F.lit(0.0)
        ).alias("p_cur"),
        F.coalesce(
            F.try_divide(F.col("_nr"), F.sum("_nr").over(w)), F.lit(0.0)
        ).alias("p_ref"),
    )
    pc = F.greatest(F.col("p_cur"), F.lit(eps))
    pr = F.greatest(F.col("p_ref"), F.lit(eps))
    return joined.select(
        "column",
        "value",
        F.round("p_cur", digits).alias("p_cur"),
        F.round("p_ref", digits).alias("p_ref"),
        F.round((pc - pr) * F.log(pc / pr), digits).alias("psi_term"),
    )


def numeric_drift(
    cur: DataFrame,
    ref: DataFrame,
    col: str,
    *,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    eps: float = DEFAULT_EPS,
) -> DataFrame:
    """Binned PSI for a numeric column: both sides histogrammed with the
    SAME bounds (explicit ``lo``/``hi``, else the REFERENCE side's
    min/max — the convention that makes "new data escaped the old range"
    show up as mass in the clamped edge bins), then the categorical PSI
    formula per bin. Output: ``(bin, p_cur, p_ref, psi_term)``.
    """
    from ..plans.cache import pin
    from .profile import histogram

    if lo is None or hi is None:
        # bounds ride from a 1-row agg via broadcast; persisted (LAZY,
        # lineage-recomputable) so its two histogram consumers don't
        # each re-scan ref — localCheckpoint would trigger an eager job
        # at construction time and break on executor loss. finite()
        # bounds: Spark max returns NaN/Infinity as the GREATEST value,
        # so one bad reference row would collapse the histogram width
        # to NaN and every bin with it — masking the very drift this
        # measures (measured, r12); non-finite data rows still clamp
        # into the edge bins below.
        from ..functions.expr import finite

        b = pin(
            ref.agg(
                F.min(finite(F.col(col))).cast("double").alias("_blo"),
                F.max(finite(F.col(col))).cast("double").alias("_bhi"),
            )
        )
        h_ref = _hist_with_bounds(ref, col, bins, b)
        h_cur = _hist_with_bounds(cur, col, bins, b)
    else:
        h_ref = histogram(ref, col, bins=bins, lo=lo, hi=hi)
        h_cur = histogram(cur, col, bins=bins, lo=lo, hi=hi)
    tot = Window.partitionBy()
    c = h_cur.select(
        "bin", (F.col("count") / F.sum("count").over(tot)).alias("p_cur")
    )
    r = h_ref.select(
        "bin", (F.col("count") / F.sum("count").over(tot)).alias("p_ref")
    )
    joined = c.join(r, "bin", "full_outer").select(
        "bin",
        F.coalesce("p_cur", F.lit(0.0)).alias("p_cur"),
        F.coalesce("p_ref", F.lit(0.0)).alias("p_ref"),
    )
    pc = F.greatest(F.col("p_cur"), F.lit(eps))
    pr = F.greatest(F.col("p_ref"), F.lit(eps))
    return joined.select(
        "bin",
        F.round("p_cur", DIGITS).alias("p_cur"),
        F.round("p_ref", DIGITS).alias("p_ref"),
        F.round((pc - pr) * F.log(pc / pr), DIGITS).alias("psi_term"),
    ).orderBy("bin")


def _hist_with_bounds(df: DataFrame, col: str, bins: int, bounds: DataFrame):
    # NaN rows are missing data for a histogram (no position on the
    # line); ±Inf rows KEEP counting in the edge bins — the shared
    # conventions now live in operators/hist.clamped_bin
    from .hist import clamped_bin

    x = F.col(col)
    base = df.filter(x.isNotNull() & ~F.isnan(x.cast("double"))).join(
        F.broadcast(bounds)
    )
    bin_c = clamped_bin(
        x.cast("double"), F.col("_blo"), F.col("_bhi"), bins
    )
    return base.select(bin_c.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("count")
    )


def ks_statistic(
    cur: DataFrame,
    ref: DataFrame,
    col: str,
    *,
    quantize: int | None = None,
    method: str = "partitioned",
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic: max |ECDF_cur - ECDF_ref|
    over the combined support. One row: (ks, n_cur, n_ref).

    Each side collapses to (value, count) first, so the cumulative pass
    runs over DISTINCT values only. Two exact strategies:

    - ``method='partitioned'`` (default): distributed prefix sum. The
      (value, count) rows are range-partitioned on the value, each
      partition computes its LOCAL cumulative sums with a window keyed by
      the partition id, and the global offset each partition must add is
      derived from the tiny per-partition totals table (one row per
      partition) via a broadcast triangular self-join — no unpartitioned
      window anywhere, so no single task ever sees the full support. This
      is the shape that survives a high-cardinality double column at
      100x scale.
    - ``method='single_task'``: the classic one-window formulation
      (``Window.orderBy(x)``, unpartitioned). Fewer stages; fine — and
      slightly cheaper — when the support is known to be bounded (an
      enum-ish column, or ``quantize`` aggressively coarse), pathological
      otherwise. Kept as the small-support escape hatch.

    Both produce identical values (the prefix sum is exact, not binned);
    ``quantize`` (decimal places) optionally coarsens the support first.
    """
    x = F.col(col)

    def side(df: DataFrame) -> DataFrame:
        # NaN excluded like NULL: it has no place in an ECDF ordering
        # (Spark sorts it greatest; a NaN support value would make the
        # KS statistic itself NaN)
        v = F.round(x, quantize) if quantize is not None else x
        return df.filter(
            x.isNotNull() & ~F.isnan(x.cast("double"))
        ).select(v.alias("x"))

    # one tagged union-groupBy materializes BOTH sides' histograms in a
    # single shuffle (map-side combine) — the former per-side groupBys +
    # full-outer join, fused (_tagged_counts)
    j = _tagged_counts(side(cur), side(ref), ["x"], "n_a", "n_b")

    if method == "single_task":
        cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
        tot = Window.partitionBy()
        cdf_a = F.try_divide(F.sum("n_a").over(cum), F.sum("n_a").over(tot))
        cdf_b = F.try_divide(F.sum("n_b").over(cum), F.sum("n_b").over(tot))
        return (
            j.select(
                F.abs(cdf_a - cdf_b).alias("_d"),
                F.col("n_a").alias("_na"),
                F.col("n_b").alias("_nb"),
            )
            .agg(
                F.round(F.max("_d"), DIGITS).alias("ks"),
                F.sum("_na").alias("n_cur"),
                F.sum("_nb").alias("n_ref"),
            )
        )
    if method != "partitioned":
        raise ValueError(f"ks_statistic: unknown method {method!r}")

    # --- distributed prefix sum -------------------------------------------
    # Pinned across its two consumers (local prefix sums + the
    # per-partition totals): materializes the collapsed (value, count)
    # histogram ONCE — without a pin the union-groupBy + range-exchange
    # subtree executes twice, and the range boundaries would be
    # re-sampled per consumer (same fix as ks_by_group, r11). Never the
    # corpus — only its distinct support. Lifetime: plans/cache.py.
    from ..plans.cache import pin

    ranged = pin(
        j.repartitionByRange(F.col("x").asc()).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.select(
        "x",
        "n_a",
        "n_b",
        "_pid",
        F.sum("n_a").over(w_local).alias("_ca_loc"),
        F.sum("n_b").over(w_local).alias("_cb_loc"),
    )
    totals = ranged.groupBy("_pid").agg(
        F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb")
    )
    # offsets + grand totals in ONE pass over the totals table, which has
    # one row per shuffle partition — both windows below run over <= P
    # rows (bounded by spark.sql.shuffle.partitions, NOT by the data), so
    # no task ever materializes the full support; consuming `totals` once
    # keeps the expensive support aggregation a single shared subtree
    w_prior = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offsets = totals.select(
        "_pid",
        F.coalesce(F.sum("_ta").over(w_prior), F.lit(0)).alias("_oa"),
        F.coalesce(F.sum("_tb").over(w_prior), F.lit(0)).alias("_ob"),
        F.sum("_ta").over(w_all).alias("_ga"),
        F.sum("_tb").over(w_all).alias("_gb"),
    )
    cdf_a = F.try_divide(F.col("_ca_loc") + F.col("_oa"), F.col("_ga"))
    cdf_b = F.try_divide(F.col("_cb_loc") + F.col("_ob"), F.col("_gb"))
    return (
        local.join(F.broadcast(offsets), "_pid")
        .select(
            F.abs(cdf_a - cdf_b).alias("_d"),
            F.col("n_a").alias("_na"),
            F.col("n_b").alias("_nb"),
        )
        .agg(
            F.round(F.max("_d"), DIGITS).alias("ks"),
            F.sum("_na").alias("n_cur"),
            F.sum("_nb").alias("n_ref"),
        )
    )


def ks_by_group(
    cur: DataFrame,
    ref: DataFrame,
    col: str,
    group_col: str,
    *,
    quantize: int | None = None,
    sort: bool = True,
) -> DataFrame:
    """Per-SEGMENT two-sample KS: one row per group with the KS
    statistic of ``col`` WITHIN that segment, cur vs ref — the numeric
    complement of :func:`psi_by_group` (categorical). One row per
    group: ``(group, ks, n_cur, n_ref)``; a segment present on only one
    side reports KS 1.0 (its other-side ECDF is empty), and the NULL
    segment is a segment.

    Scale shape: the sides union ONCE with a side tag and collapse to
    (group, value, n_cur, n_ref) counts in a single shuffle (map-side
    combine — the fused form of ks_statistic's per-side groupBys + full
    outer join); cumulative counts run as the distributed prefix sum
    keyed by (partition, group) with a small (group, partition)-offsets
    broadcast, so no task ever windows a whole segment's support even
    when one segment dominates the corpus. The range-partitioned
    histogram is pinned across its two consumers (local prefix sums
    + per-partition totals): without the pin the count+range subtree
    executes twice, and — worse — the range boundaries would be
    re-SAMPLED independently for each consumer, so a boundary flip
    between the two runs could misalign the offset join. The pin holds
    the collapsed (group, value) histogram, never the input rows;
    lifetime per plans/cache.py. ``sort=False`` skips the final global
    sort for composites that re-sort the union themselves
    (pipelines/segment_health.py).
    """
    from ..plans.cache import pin

    x = F.col(col)
    v = F.round(x, quantize) if quantize is not None else x
    g = F.col(group_col).cast("string")

    def side(df: DataFrame) -> DataFrame:
        # NaN excluded like NULL (ks_statistic convention)
        return df.filter(
            x.isNotNull() & ~F.isnan(x.cast("double"))
        ).select(
            g.alias("grp"), v.alias("x")
        )

    j = _tagged_counts(side(cur), side(ref), ["grp", "x"], "n_a", "n_b")
    ranged = pin(
        j.repartitionByRange(
            F.col("grp").asc_nulls_first(), F.col("x").asc()
        ).withColumn("_pid", F.spark_partition_id())
    )
    w_local = (
        Window.partitionBy("_pid", "grp")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.select(
        "grp",
        "n_a",
        "n_b",
        "_pid",
        F.sum("n_a").over(w_local).alias("_ca_loc"),
        F.sum("n_b").over(w_local).alias("_cb_loc"),
    )
    totals = ranged.groupBy("grp", "_pid").agg(
        F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb")
    )
    w_prior = (
        Window.partitionBy("grp")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_allp = (
        Window.partitionBy("grp")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offsets = totals.select(
        F.col("grp").alias("_ogrp"),
        F.col("_pid").alias("_opid"),
        F.coalesce(F.sum("_ta").over(w_prior), F.lit(0)).alias("_oa"),
        F.coalesce(F.sum("_tb").over(w_prior), F.lit(0)).alias("_ob"),
        F.sum("_ta").over(w_allp).alias("_ga"),
        F.sum("_tb").over(w_allp).alias("_gb"),
    )
    # try_divide: a one-sided segment has a zero total on the other
    # side -> its ECDF is NULL; coalesce treats it as 0 so the KS max
    # (over the PRESENT side's full mass) reaches 1.0 instead of NULL
    cdf_a = F.coalesce(
        F.try_divide(F.col("_ca_loc") + F.col("_oa"), F.col("_ga")),
        F.lit(0.0),
    )
    cdf_b = F.coalesce(
        F.try_divide(F.col("_cb_loc") + F.col("_ob"), F.col("_gb")),
        F.lit(0.0),
    )
    out = (
        local.join(
            F.broadcast(offsets),
            F.col("grp").eqNullSafe(F.col("_ogrp"))
            & (F.col("_pid") == F.col("_opid")),
        )
        .select(
            "grp",
            F.abs(cdf_a - cdf_b).alias("_d"),
            F.col("n_a").alias("_na"),
            F.col("n_b").alias("_nb"),
        )
        .groupBy("grp")
        .agg(
            F.round(F.max("_d"), DIGITS).alias("ks"),
            F.sum("_na").alias("n_cur"),
            F.sum("_nb").alias("n_ref"),
        )
    )
    return out.orderBy(F.col("grp").asc_nulls_first()) if sort else out


def wasserstein_1d(
    cur: DataFrame,
    ref: DataFrame,
    col: str,
    *,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Binned 1-D Wasserstein-1 (earth-mover) distance between the two
    distributions of ``col``: W1 = bin_width * sum_b |CDF_cur(b) -
    CDF_ref(b)| over the shared histogram. One row: (w1, n_cur, n_ref).

    Complements KS (max CDF gap, scale-free) with the integrated gap in
    the column's units — the drift metric that distinguishes "one bin is
    off" from "the whole distribution slid sideways". Exact on the binned
    support; bounds default to the REFERENCE side's min/max (same
    convention as :func:`numeric_drift`, so escaped mass clamps into the
    edge bins).

    Scale shape: both sides collapse to ``bins`` rows before anything
    ordered happens; the cumulative window runs over at most ``bins``
    rows (bounded by the parameter, not the data), so unlike the naive
    per-value ECDF there is no high-cardinality single task — at any data
    scale this is two histogram aggregates plus O(bins) of driver-free
    window work.
    """
    if lo is None or hi is None:
        # persisted (LAZY, lineage-recomputable): the 1-row bounds agg
        # has three consumers (both histograms + the final width join)
        # — without the cache each re-scans ref for min/max. Lifetime:
        # plans/cache.py.
        from ..functions.expr import finite
        from ..plans.cache import pin

        b = pin(
            ref.agg(
                F.min(finite(F.col(col))).cast("double").alias("_blo"),
                F.max(finite(F.col(col))).cast("double").alias("_bhi"),
            )
        )
    else:
        b = local_frame(
            cur.sparkSession,
            [(float(lo), float(hi))],
            "_blo double, _bhi double",
        )
    h_cur = _hist_with_bounds(cur, col, bins, b)
    h_ref = _hist_with_bounds(ref, col, bins, b)
    # dense bin spine: a bin empty on BOTH sides still carries the CDF gap
    # across it (the gap is flat, not zero, over empty bins), so it must
    # contribute a W1 term — a histogram-only outer join would drop it
    spine = cur.sparkSession.range(bins).select(
        F.col("id").cast("int").alias("bin")
    )
    j = (
        spine.join(h_cur.withColumnRenamed("count", "n_a"), "bin", "left")
        .join(h_ref.withColumnRenamed("count", "n_b"), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cdf_a = F.try_divide(F.sum("n_a").over(cum), F.sum("n_a").over(tot))
    cdf_b = F.try_divide(F.sum("n_b").over(cum), F.sum("n_b").over(tot))
    width = (F.col("_bhi") - F.col("_blo")) / F.lit(float(bins))
    return (
        j.select(
            F.abs(cdf_a - cdf_b).alias("_d"),
            F.col("n_a").alias("_na"),
            F.col("n_b").alias("_nb"),
        )
        .join(F.broadcast(b))
        .agg(
            F.round(F.sum(F.col("_d") * width), DIGITS).alias("w1"),
            F.sum("_na").alias("n_cur"),
            F.sum("_nb").alias("n_ref"),
        )
    )


def psi_summary(
    cur: DataFrame,
    ref: DataFrame,
    columns: list[str],
    *,
    eps: float = DEFAULT_EPS,
    threshold: float = 0.25,
) -> DataFrame:
    """One row per column: total PSI and a drifted flag at ``threshold``.

    The unrounded per-value terms are re-derived and summed so the total
    doesn't accumulate per-term rounding."""
    detail = _categorical_drift(cur, ref, columns, eps, 12)
    return (
        detail.groupBy("column")
        .agg(F.round(F.sum("psi_term"), DIGITS).alias("psi"))
        .withColumn("drifted", F.col("psi") > threshold)
    )


def psi_by_group(
    cur: DataFrame,
    ref: DataFrame,
    columns: list[str],
    group_col: str,
    *,
    eps: float = DEFAULT_EPS,
    threshold: float = 0.25,
    sort: bool = True,
) -> DataFrame:
    """Per-SEGMENT PSI: one row per (group, column) with the PSI of that
    column's value mix WITHIN the segment, cur vs ref — drift that is
    localized to one source/tenant/partition hides inside a healthy
    global PSI exactly the way localized missingness hides inside a
    global completeness ratio (the segment-level face of
    :func:`psi_summary`, same shape as profile.completeness_by_group).

    A segment present on only one side still reports: the missing
    side's ratios clamp to ``eps``, so an appeared/vanished segment
    shows up as maximal drift rather than silently dropping out. The
    NULL segment is a segment, and a real NULL value stays a distinct
    bucket from the string ``'NULL'`` (NULL group/value keys aggregate
    like any other key under groupBy semantics).

    Scale shape: the sides union ONCE with a one-hot side tag, so both
    reduce to (group, column, value, n_cur, n_ref) counts in a SINGLE
    exploded-map shuffle (map-side combine; the shuffle carries
    segment x vocabulary, never the corpus). The union replaces the
    former per-side aggregations + null-safe full-outer join — the
    tagged groupBy aligns the two histograms by construction — and the
    per-(group, column) totals ride a window over the same hash
    partitioning, so the whole operator is two shuffles instead of
    five regardless of how many columns it profiles. ``sort=False``
    skips the final global sort for composites that re-sort the union
    themselves (pipelines/segment_health.py).
    """
    if not columns:
        raise ValueError("psi_by_group: columns must be non-empty")

    def side(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(group_col).cast("string").alias("grp"),
            F.explode(
                F.create_map(
                    *[
                        x
                        for c in columns
                        for x in (F.lit(c), F.col(c).cast("string"))
                    ]
                )
            ).alias("column", "value"),
        )

    counts = _tagged_counts(
        side(cur), side(ref), ["grp", "column", "value"], "_nc", "_nr"
    )
    w = Window.partitionBy("grp", "column")
    # try_divide: a (group, column) present on only one side has a zero
    # total on the other -> NULL ratio; coalesce 0.0 reproduces the old
    # full-outer-join's missing-side semantics before the eps clamp.
    joined = counts.select(
        "grp",
        "column",
        F.coalesce(
            F.try_divide(F.col("_nc"), F.sum("_nc").over(w)), F.lit(0.0)
        ).alias("p_cur"),
        F.coalesce(
            F.try_divide(F.col("_nr"), F.sum("_nr").over(w)), F.lit(0.0)
        ).alias("p_ref"),
    )
    pc = F.greatest(F.col("p_cur"), F.lit(eps))
    pr = F.greatest(F.col("p_ref"), F.lit(eps))
    out = (
        joined.withColumn("_term", (pc - pr) * F.log(pc / pr))
        .groupBy("grp", "column")
        .agg(F.round(F.sum("_term"), DIGITS).alias("psi"))
        .withColumn("drifted", F.col("psi") > threshold)
    )
    return out.orderBy("grp", "column") if sort else out


def quantile_drift(
    cur: DataFrame,
    ref: DataFrame,
    col: str,
    *,
    quantiles: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Quantile-shift drift report: EXACT interpolated quantiles of both
    sides at each requested level, with absolute and relative shifts —
    the distribution-shape complement to PSI (bin mix) and KS (max ECDF
    gap): it answers WHERE the distribution moved ("p90 latency grew
    18%"), which the scalar statistics cannot.

    Both sides' quantiles come from ONE distributed value-histogram
    prefix sum (:func:`..operators.profile.value_histogram_stats` — no
    Expand, no percentile buffers, no single-task window): the sides
    union into a two-column frame (each side's values in its own
    column, NULL-padded — the stats pass drops nulls per column), so
    one scan + one histogram shuffle serves both, instead of a full
    pipeline per side. Output: one row per level — (q, ref_q, cur_q,
    shift, rel_shift), rel_shift NULL when ref_q is 0.
    """
    from .profile import value_histogram_stats

    v = F.col(col).cast("double")
    pad = F.lit(None).cast("double")
    combined = cur.select(
        v.alias("_v_cur"), pad.alias("_v_ref")
    ).unionByName(ref.select(pad.alias("_v_cur"), v.alias("_v_ref")))
    stats = value_histogram_stats(
        combined, ["_v_cur", "_v_ref"], quantiles=quantiles
    ).filter(F.col("stat") != "distinct_count")
    # conditional-agg pivot, NOT a self-join of the stats frame — a join
    # would duplicate the whole histogram subtree in the plan
    out = stats.groupBy("stat").agg(
        F.max(F.when(F.col("column") == "_v_cur", F.col("value"))).alias(
            "cur_q"
        ),
        F.max(F.when(F.col("column") == "_v_ref", F.col("value"))).alias(
            "ref_q"
        ),
    )
    q_level = F.substring("stat", 2, 32).cast("double")
    return out.select(
        q_level.alias("q"),
        F.round("ref_q", DIGITS).alias("ref_q"),
        F.round("cur_q", DIGITS).alias("cur_q"),
        F.round(F.col("cur_q") - F.col("ref_q"), DIGITS).alias("shift"),
        F.round(
            F.try_divide(F.col("cur_q") - F.col("ref_q"), F.abs("ref_q")),
            DIGITS,
        ).alias("rel_shift"),
    ).orderBy("q")


def quantile_shift_by_group(
    cur: DataFrame,
    ref: DataFrame,
    col: str,
    group_col: str,
    *,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-SEGMENT quantile-shift drift via mergeable KLL sketches: one
    row per (group, q) with each side's quantile estimate and the
    absolute/relative shift — "p90 latency grew 18% FOR THIS TENANT",
    which corpus-level quantile_drift averages away. Completes the
    per-segment drift family (psi_by_group categorical, ks_by_group
    ECDF, this one distribution location).

    Sketch-based where quantile_drift is exact: per-segment exact
    histograms multiply the prefix-sum cost by |segments|, while a KLL
    sketch per (segment, side) is a few KB with ~1.7% RANK error (the
    dq_sketch_tol-certified tolerance) and folds map-side — the right
    trade at segment granularity. One aggregation per side, groups
    merged on a null-safe spine (the NULL segment is a segment; a
    segment present on one side reports with the other side NULL,
    never dropped). ``rel_shift`` is NULL when ref_q is 0.
    """
    if not quantiles:
        raise ValueError("quantile_shift_by_group: quantiles must be non-empty")
    x = F.col(col)
    g = F.col(group_col).cast("string")

    def side(df: DataFrame, tag: str) -> DataFrame:
        per = (
            df.filter(x.isNotNull())
            .groupBy(g.alias("grp"))
            .agg(
                F.kll_sketch_agg_double(x.cast("double")).alias("_sk"),
                F.count(F.lit(1)).alias(f"n_{tag}"),
            )
        )
        return per.select(
            "grp",
            f"n_{tag}",
            *[
                F.kll_sketch_get_quantile_double(
                    "_sk", F.lit(float(q))
                ).alias(f"_{tag}_{i}")
                for i, q in enumerate(quantiles)
            ],
        )

    c = side(cur, "cur").alias("cv")
    r = side(ref, "ref").alias("rv")
    joined = c.join(
        r, F.col("cv.grp").eqNullSafe(F.col("rv.grp")), "full_outer"
    ).select(
        F.coalesce(F.col("cv.grp"), F.col("rv.grp")).alias("grp"),
        "n_cur",
        "n_ref",
        *[f"_cur_{i}" for i in range(len(quantiles))],
        *[f"_ref_{i}" for i in range(len(quantiles))],
    )
    long = joined.select(
        "grp",
        "n_cur",
        "n_ref",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"),
                        F.col(f"_cur_{i}").alias("cur_q"),
                        F.col(f"_ref_{i}").alias("ref_q"),
                    )
                    for i, q in enumerate(quantiles)
                ]
            )
        ).alias("_s"),
    ).select("grp", "_s.q", "_s.cur_q", "_s.ref_q", "n_cur", "n_ref")
    return long.select(
        "grp",
        "q",
        F.round("cur_q", DIGITS).alias("cur_q"),
        F.round("ref_q", DIGITS).alias("ref_q"),
        F.round(F.col("cur_q") - F.col("ref_q"), DIGITS).alias("shift"),
        F.round(
            F.try_divide(F.col("cur_q") - F.col("ref_q"), F.abs("ref_q")),
            DIGITS,
        ).alias("rel_shift"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
    ).orderBy(F.col("grp").asc_nulls_first(), "q")


def corpus_divergence(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group KL divergence of the unigram token distribution against
    the WHOLE corpus — "which source/language/shard reads differently from
    the rest?", the corpus-mix health check before training-data blending.

    ``kl_vs_corpus = Σ_t p_g(t) · ln(p_g(t) / p_all(t))`` over the group's
    tokens. Every group token is by construction in the corpus vocabulary
    (the corpus includes the group), so no smoothing is needed and KL is
    finite and >= 0.

    Shape: ONE explode + (group, token) count groupBy, PERSISTED — the
    counted frame feeds four consumers (corpus reduction, group totals,
    grand total, final join); without the cache the corpus-sized
    explode subtree re-executes per consumer (measured: 4 source scans
    for one report, r11). The cache holds distinct (group, token)
    pairs — vocabulary x groups, never the corpus; lifetime per
    plans/cache.py.
    The corpus distribution reduces the cached frame by token; totals
    join back hash-keyed; the grand total broadcasts from a 1-row agg.
    Output one row per group:
    (group, n_tokens, n_distinct_tokens, kl_vs_corpus).
    """
    from ..functions.text import tokenize
    from ..plans.cache import pin

    pairs = pin(
        df.select(F.col(group_col),
                  F.explode(tokenize(text_col)).alias("_t"))
        .groupBy(group_col, "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    from ..plans.joins import join_null_safe

    corpus = pairs.groupBy("_t").agg(F.sum("_c").alias("_ct"))
    # null-safe totals join so a NULL group key is a segment of its own
    # (same convention as normalize_columns/impute/distinctive_terms)
    totals = pairs.groupBy(group_col).agg(F.sum("_c").alias("_gt"))
    grand = pairs.agg(F.sum("_c").alias("_n"))
    return (
        join_null_safe(pairs.join(corpus, "_t"), totals, [group_col])
        .crossJoin(F.broadcast(grand))
        .withColumn(
            "_term",
            (F.col("_c") / F.col("_gt"))
            * F.log(
                (F.col("_c") / F.col("_gt"))
                / (F.col("_ct") / F.col("_n"))
            ),
        )
        .groupBy(group_col)
        .agg(
            F.max("_gt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.round(F.sum("_term"), DIGITS).alias("kl_vs_corpus"),
        )
        .orderBy(group_col)
    )


def embedding_drift(
    cur: DataFrame,
    ref: DataFrame,
    vec_col: str,
) -> DataFrame:
    """Embedding-space drift between two vector corpora: did the
    representation of the data move? The batch-level complement to the
    scalar drift family — a re-embedded corpus, an upstream model bump,
    or a population shift all move the CENTROID long before any single
    scalar column looks different.

    One summary row: ``(n_cur, n_ref, centroid_cosine, centroid_shift_l2,
    centroid_norm_cur, centroid_norm_ref)`` — cosine between the two
    mean vectors (1.0 = same direction), the L2 distance between them,
    and each centroid's norm (a norm ratio far from 1 catches
    un-normalized re-embeds even when the direction holds).

    Shape: each side collapses via ONE posexplode -> groupBy(dim) mean —
    map-side combine reduces the shuffle to |dim| rows per partition, so
    100 TB of vectors exchange a few KB — then a |dim|-row join computes
    the metrics as expressions. Per-dim means are rounded to the output
    precision (``functions.expr.DIGITS``) BEFORE combining so the result
    is reduction-order stable (engine-portable, same contract as the
    scalar drift oracles).
    """
    def _dims(df: DataFrame, mean_name: str, n_name: str):
        # posexplode_OUTER so the row count rides the same scan as the
        # means: a NULL/empty vector emits one NULL-dim row, every other
        # row emits its dims, so n_rows = count(dim 0) + count(dim NULL)
        # — identical to the old separate count(*) pass, which re-scanned
        # the corpus (r11). The D+1-row result persists (LAZY,
        # lineage-recomputable, plans/cache.py lifetime) for its two
        # consumers; the mean excludes the NULL-dim bucket.
        from ..plans.cache import pin

        all_dims = pin(
            df.select(
                F.posexplode_outer(F.col(vec_col)).alias("dim", "_v")
            )
            .groupBy("dim")
            .agg(
                F.round(F.avg("_v"), DIGITS).alias(mean_name),
                F.count(F.lit(1)).alias("_n"),
            )
        )
        d = all_dims.filter(F.col("dim").isNotNull()).drop("_n")
        n = all_dims.agg(
            (
                F.coalesce(
                    F.max(F.when(F.col("dim") == 0, F.col("_n"))),
                    F.lit(0),
                )
                + F.coalesce(
                    F.max(F.when(F.col("dim").isNull(), F.col("_n"))),
                    F.lit(0),
                )
            ).alias(n_name)
        )
        return d, n

    cdim, cn = _dims(cur, "_mc", "n_cur")
    rdim, rn = _dims(ref, "_mr", "n_ref")
    joined = cdim.join(rdim, "dim", "inner")
    sums = joined.agg(
        F.sum(F.col("_mc") * F.col("_mr")).alias("_dot"),
        F.sum(F.col("_mc") * F.col("_mc")).alias("_cc"),
        F.sum(F.col("_mr") * F.col("_mr")).alias("_rr"),
        F.sum(
            (F.col("_mc") - F.col("_mr")) * (F.col("_mc") - F.col("_mr"))
        ).alias("_dd"),
    )
    return (
        cn.crossJoin(F.broadcast(rn))
        .crossJoin(F.broadcast(sums))
        .select(
            "n_cur",
            "n_ref",
            F.round(
                F.try_divide(
                    F.col("_dot"), F.sqrt("_cc") * F.sqrt("_rr")
                ),
                DIGITS,
            ).alias("centroid_cosine"),
            F.round(F.sqrt("_dd"), DIGITS).alias("centroid_shift_l2"),
            F.round(F.sqrt("_cc"), DIGITS).alias("centroid_norm_cur"),
            F.round(F.sqrt("_rr"), DIGITS).alias("centroid_norm_ref"),
        )
    )


def value_set_drift(
    cur: DataFrame,
    ref: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Categorical VALUE-SET drift: which enum values appeared or
    vanished between two snapshots, per column. PSI answers "did the
    MIX move"; this answers the schema-adjacent question "did the
    DOMAIN move" — an upstream enum rename or a new status code shows
    up here as a new/gone value long before it shifts enough mass to
    trip a PSI threshold.

    One row per column: ``(column, n_cur_values, n_ref_values, n_new,
    n_gone, jaccard)`` — jaccard of the two distinct-value sets.

    Shape (r11, the psi_by_group fusion): the sides union ONCE with a
    one-hot tag through ONE exploded column->value pass (the
    top_values/skew_report trick: all columns in one shuffle), and a
    single (column, value) groupBy with max() one-hots replaces the
    former per-side distinct()s + null-safe full-outer join — the
    shuffle carries vocabulary, never the corpus, exactly once. NULL
    is tracked as a value in its own right (a real NULL groupBy key)
    so it can never collide with a literal ``'NULL'`` string.
    """
    if not cols:
        raise ValueError("value_set_drift: cols must be non-empty")

    def _values(df: DataFrame) -> DataFrame:
        # array-of-structs, not create_map: both carry real NULL values
        # (see top_values/column_entropy for the map shape), but here we
        # need one (column, value) ROW per cell — a map would require
        # explode(map) anyway, and the struct array exploded once is the
        # same single shuffle with fewer steps.
        pair = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
        return df.select(pair).select("p.column", "p.value")

    present = _tagged_counts(
        _values(cur), _values(ref), ["column", "value"], "_ic", "_ir"
    )
    in_cur = F.col("_ic") > 0
    in_ref = F.col("_ir") > 0
    return (
        present.groupBy("column")
        .agg(
            F.sum(in_cur.cast("long")).alias("n_cur_values"),
            F.sum(in_ref.cast("long")).alias("n_ref_values"),
            F.sum((in_cur & ~in_ref).cast("long")).alias("n_new"),
            F.sum((~in_cur & in_ref).cast("long")).alias("n_gone"),
            F.round(
                F.try_divide(
                    F.sum((in_cur & in_ref).cast("long")),
                    F.count(F.lit(1)),
                ),
                DIGITS,
            ).alias("jaccard"),
        )
        .orderBy("column")
    )


def _md5_rff_weights(num_features: int, d: int, g: float, seed: int):
    """Engine-replayable RFF weights: Box–Muller gaussians and uniform
    phases from md5-derived uniforms ``(int(md5(tag)[:6], 16) + 0.5) /
    2^24`` (the +0.5 keeps ln() off exact 0). Driver-side cost is
    num_features x dim md5 calls — parameter-bounded, never data-scale.
    Every step (md5 prefix int, ln, cos, sqrt) exists in DuckDB, so a
    SQL oracle can rebuild W and b bit-for-bit (libm-level)."""
    import math as _math

    import numpy as np

    from ..functions.vectors import md5_uniform

    sd = _math.sqrt(2.0 * g)
    W = np.empty((num_features, d), dtype=np.float64)
    for i in range(num_features):
        for j in range(d):
            u1 = md5_uniform(f"w1|{seed}|{i}|{j}")
            u2 = md5_uniform(f"w2|{seed}|{i}|{j}")
            # multiplication ORDER is part of the certified contract:
            # the dq_mmd oracle SQL evaluates sd * sqrt(...) * cos(...)
            # LEFT-TO-RIGHT, and float multiply is not associative —
            # folding sqrt*cos first moves ~35% of weights by an ulp
            # and silently thins the round-6 margin (so no md5_gauss
            # here, which scales by sd AFTER the product)
            W[i, j] = sd * _math.sqrt(-2.0 * _math.log(u1)) * _math.cos(
                2.0 * _math.pi * u2
            )
    b = np.array(
        [2.0 * _math.pi * md5_uniform(f"b|{seed}|{i}") for i in range(num_features)]
    )
    return W, b


def mmd_drift(
    cur: DataFrame,
    ref: DataFrame,
    vec_col: str,
    *,
    num_features: int = 256,
    gamma: float | None = None,
    dim: int | None = None,
    seed: int = 42,
    weights: str = "rng",
) -> DataFrame:
    """Kernel two-sample test between two embedding corpora: the squared
    Maximum Mean Discrepancy under a Gaussian RBF kernel, estimated with
    random Fourier features (Rahimi & Recht 2007, public) so it runs in
    ONE linear pass per side instead of the O(n²) pairwise-kernel sums.

    Why alongside :func:`embedding_drift`: the centroid comparison is
    blind to any shift that preserves the mean — a corpus splitting into
    two symmetric clusters, a variance blow-up, a mode collapse all keep
    the centroid still. MMD with a characteristic kernel responds to ANY
    distribution change, and the RFF estimate converges to the exact
    kernel MMD as ``num_features`` grows (error ~ 1/sqrt(D)).

    Math: ``z(x) = sqrt(2/D) * cos(W x + b)`` with ``W ~ N(0, 2*gamma)``
    rows and ``b ~ U[0, 2*pi)`` (so ``E[z(x)·z(y)] = exp(-gamma*
    ||x-y||²)``); ``mmd2 = || mean_z(cur) - mean_z(ref) ||²`` (biased
    estimator, >= 0 by construction). ``gamma`` defaults to ``1/dim``
    (the standard scale-free default); W and b are seeded —
    deterministic across runs and engines.

    ``weights`` picks the W/b source: ``'rng'`` (numpy default_rng —
    fast, but only replayable by numpy) or ``'md5'`` (Box–Muller over
    md5-derived uniforms ``u = (int(md5(tag)[:6],16)+0.5)/2^24`` with
    tags ``w1|seed|i|j`` / ``w2|seed|i|j`` / ``b|seed|i``) — the md5
    form is replayable by ANY engine with md5/ln/cos, which is what
    lets a SQL oracle certify the whole MMD pipeline exactly rather
    than floors-only. Same estimator quality: Box–Muller over md5
    uniforms is i.i.d. N(0,1) for this purpose.

    Scale shape: W is ``num_features × dim`` floats generated on the
    DRIVER (parameter-bounded, ships in the UDF closure); each side maps
    vectors to z in one Arrow pass, then collapses via posexplode →
    groupBy(feature) mean — map-side combine reduces the shuffle to
    ``num_features`` rows per partition, so 100 TB of vectors exchange
    KBs (same reduction shape as embedding_drift). ``dim`` skips the
    one-row probe when known. Output one row:
    ``(n_cur, n_ref, num_features, gamma, mmd2, mmd)``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.vectors import vector_dim

    if num_features < 1:
        raise ValueError("mmd_drift: num_features must be >= 1")
    d = vector_dim(cur, vec_col, dim) or vector_dim(ref, vec_col, dim)
    if d is None:
        raise ValueError("mmd_drift: no non-null vectors on either side")
    g = gamma if gamma is not None else 1.0 / d
    if g <= 0:
        raise ValueError("mmd_drift: gamma must be > 0")
    if weights == "rng":
        rng = np.random.default_rng(seed)
        W = rng.normal(0.0, np.sqrt(2.0 * g), size=(num_features, d))
        b = rng.uniform(0.0, 2.0 * np.pi, size=num_features)
    elif weights == "md5":
        W, b = _md5_rff_weights(num_features, d, g, seed)
    else:
        raise ValueError(
            f"mmd_drift: weights must be 'rng' or 'md5', got {weights!r}"
        )
    scale = np.sqrt(2.0 / num_features)

    def z(v):
        mats = np.vstack(v.to_numpy())  # batch × dim
        feats = scale * np.cos(mats @ W.T + b)  # batch × D
        return pd.Series(list(feats))

    z.__annotations__ = {"v": pd.Series, "return": pd.Series}
    # deterministic in fact; marked so Catalyst never duplicates the
    # kernel around pushed filters (see vectors.hyperplane_keys_np)
    rff = pandas_udf(z, "array<double>").asNondeterministic()

    def _side(df: DataFrame, mean_name: str, n_name: str):
        # the vector count rides the SAME feature groupBy as the means
        # (each vector emits exactly one row per feature index, so any
        # feature's row count IS the vector count) and the D-row result
        # persists (LAZY, lineage-recomputable, plans/cache.py
        # lifetime) — one Arrow z-pass per side total, where a separate
        # count() consumer used to re-run it (r11)
        from ..plans.cache import pin

        vecs = df.filter(F.col(vec_col).isNotNull()).select(
            rff(F.col(vec_col)).alias("_z")
        )
        means = pin(
            vecs.select(F.posexplode("_z").alias("feature", "_v"))
            .groupBy("feature")
            .agg(
                F.avg("_v").alias(mean_name),
                F.count(F.lit(1)).alias("_n"),
            )
        )
        n = means.agg(
            F.coalesce(F.max("_n"), F.lit(0)).alias(n_name)
        )
        return means.drop("_n"), n

    cmean, cn = _side(cur, "_mc", "n_cur")
    rmean, rn = _side(ref, "_mr", "n_ref")
    sums = cmean.join(rmean, "feature", "inner").agg(
        F.sum(
            (F.col("_mc") - F.col("_mr")) * (F.col("_mc") - F.col("_mr"))
        ).alias("_mmd2")
    )
    return (
        cn.crossJoin(F.broadcast(rn))
        .crossJoin(F.broadcast(sums))
        .select(
            "n_cur",
            "n_ref",
            F.lit(num_features).alias("num_features"),
            F.round(F.lit(float(g)), DIGITS).alias("gamma"),
            F.round(F.col("_mmd2"), DIGITS).alias("mmd2"),
            # guard the NULL case (one side empty of vectors when `dim`
            # was passed, so the loud probe never ran): greatest() SKIPS
            # NULLs, so sqrt(greatest(NULL, 0)) would report mmd=0.0 —
            # the strongest "no drift" signal — from a comparison with
            # no data; propagate NULL instead
            F.round(
                F.when(
                    F.col("_mmd2").isNotNull(),
                    F.sqrt(F.greatest(F.col("_mmd2"), F.lit(0.0))),
                ),
                DIGITS,
            ).alias("mmd"),
        )
    )


def classifier_drift(
    cur: DataFrame,
    ref: DataFrame,
    text_col: str,
    id_col: str,
    *,
    train_fraction: float = 0.5,
    num_buckets: int | None = None,
    smoothing: float = 1.0,
    min_count: int = 1,
    threshold: float = 0.6,
    salt: str = "clsdrift",
) -> DataFrame:
    """Classifier two-sample drift test (public: Lopez-Paz & Oquab
    2017, "Revisiting classifier two-sample tests"): train a classifier
    to tell ``cur`` from ``ref``; if it can beat coin-flipping on held
    out data, the corpora differ — in ANY text property the features
    see, which is what makes this the catch-all drift monitor when you
    don't know which marginal to watch (PSI/KS audit one column at a
    time; this audits the joint).

    Protocol, fully deterministic: rows get side labels and a
    ``md5(uid||salt)`` hash split into fit/eval (``train_fraction``);
    an NB classifier (operators/classify.py — two groupBys to train,
    explode + broadcast join to score) fits on the fit rows; eval rows
    score a margin = log-score(cur) − log-score(ref); AUC over the
    margins via the tied-rank Mann-Whitney statistic. Output one row:
    ``n_fit``, ``n_eval_cur``, ``n_eval_ref``, ``auc``, ``drifted``
    (auc ≥ threshold). Identical corpora → AUC ≈ 0.5; AUC NULL when an
    eval side is empty.

    Scale shape: training and scoring are the certified NB shapes; the
    one new exchange is the rank window over EVAL MARGINS — a global
    sort of (uid, margin) pairs, ~16 bytes/row on the eval fraction
    only. At extreme scale, eval on a deterministic sub-fraction (feed
    smaller frames); the statistic only needs enough rows to separate
    AUC from 0.5.

    ``id_col`` values must be unique WITHIN each side; sides are
    disambiguated internally, so cur/ref may share ids.
    """
    from .classify import score_nb_classifier, train_nb_classifier
    from .split import split_assignment

    if not 0 < train_fraction < 1:
        raise ValueError(
            "classifier_drift: train_fraction must be in (0, 1)"
        )
    sides = []
    for name, df_ in (("cur", cur), ("ref", ref)):
        if id_col not in df_.columns or text_col not in df_.columns:
            raise ValueError(
                f"classifier_drift: {id_col!r}/{text_col!r} missing "
                f"from the {name} side"
            )
        sides.append(
            df_.select(
                F.concat(F.lit(name[0]), F.col(id_col).cast("string"))
                .alias("_uid"),
                F.col(text_col).alias("_text"),
                F.lit(name).alias("_side"),
            )
        )
    from ..plans.cache import pin

    # persisted: the tagged/split union is re-derived by four source-
    # level consumers (NB training reads the fit rows twice — token
    # counts + class priors —, scoring reads the eval rows, and the
    # n_fit count reads fit again); without the cache each one re-scans
    # BOTH input tables (measured: 16 scans for one report, r11). The
    # cache holds the pruned (uid, text, side, part) projection only;
    # lifetime per plans/cache.py.
    both = pin(
        sides[0].unionByName(sides[1])
        .withColumn(
            "_part",
            split_assignment(
                "_uid",
                {"fit": train_fraction, "eval": 1 - train_fraction},
                salt=salt,
            ),
        )
    )
    fit = both.filter(F.col("_part") == "fit")
    ev = both.filter(F.col("_part") == "eval")
    model = train_nb_classifier(
        fit, "_text", "_side",
        num_buckets=num_buckets, smoothing=smoothing, min_count=min_count,
    )
    scored = score_nb_classifier(ev, model, "_text", ["_uid", "_side"])
    # margins are ROUNDED before ranking: a doc's log-score sums in
    # nondeterministic partial-agg order, so unrounded low bits would
    # break ties differently run to run (and engine to engine in the
    # oracle replay); at the output precision equal-content docs tie
    # exactly and the midrank correction applies deterministically
    margins = scored.groupBy("_uid", "_side").agg(
        F.round(
            F.max(F.when(F.col("label") == "cur", F.col("score")))
            - F.max(F.when(F.col("label") == "ref", F.col("score"))),
            DIGITS,
        ).alias("_margin")
    )
    # tied-rank Mann-Whitney AUC: rank() gives the tie group's minimum
    # rank; averaging in (tie_count-1)/2 yields midranks, the standard
    # ties correction
    w = Window.orderBy("_margin")
    ties = Window.partitionBy("_margin")
    ranked = margins.select(
        "_side",
        (
            F.rank().over(w).cast("double")
            + (F.count(F.lit(1)).over(ties) - 1) / 2.0
        ).alias("_r"),
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("_side") == "cur", F.col("_r"))).alias("_rsum"),
        F.sum((F.col("_side") == "cur").cast("long")).alias("n_eval_cur"),
        F.sum((F.col("_side") == "ref").cast("long")).alias("n_eval_ref"),
    )
    n_fit = fit.groupBy().agg(F.count(F.lit(1)).alias("n_fit"))
    nc, nr = F.col("n_eval_cur"), F.col("n_eval_ref")
    auc = F.round(
        F.try_divide(
            F.col("_rsum") - nc * (nc + 1) / 2.0, (nc * nr).cast("double")
        ),
        DIGITS,
    )
    return (
        agg.crossJoin(F.broadcast(n_fit))
        .select(
            "n_fit", "n_eval_cur", "n_eval_ref",
            auc.alias("auc"),
            (auc >= threshold).alias("drifted"),
        )
    )


def drift_screen(
    cur: DataFrame,
    ref: DataFrame,
    columns: list[str],
    *,
    bins: int = 32,
    alpha: float = 0.05,
    eps: float = DEFAULT_EPS,
) -> DataFrame:
    """Wide-table drift SCREENING: binned KS + PSI for MANY numeric
    columns in ONE data shuffle, with Benjamini–Hochberg false-discovery
    control across the column family. One row per column:
    ``(column, n_cur, n_ref, ks, psi, p_value, bh_rank, bh_crit,
    drifted)``.

    The per-column operators (:func:`ks_statistic`,
    :func:`numeric_drift`) answer "did THIS column drift?" exactly; at
    100 TB a monitoring job asks the different question "which of these
    200 columns drifted?", where per-column exact passes mean 200
    shuffles and 200 uncorrected tests mean ~10 false alarms per run at
    alpha=0.05. This operator is the screening shape for that job:

    - **One shuffle for the whole family.** Both sides explode to
      ``(column, value)`` rows (the profile.top_values map trick), the
      reference-side bounds broadcast-join in, and a single tagged
      groupBy on ``(column, bin)`` materializes every column's paired
      histogram with map-side combine — ≤ ``len(columns) * bins`` rows
      out of the exchange regardless of input size. All ordered work
      (CDFs, ranks) happens on that bounded table.
    - **Binned KS is a lower bound** on the exact statistic (the max is
      taken over bin edges only), so the derived p-value is
      conservative: the screen under-flags, never over-flags, relative
      to the exact test — the correct direction for a triage pass whose
      hits get the exact single-column treatment next.
    - **BH step-up across columns**: p-values (one-term asymptotic
      two-sample tail ``min(1, 2*exp(-2*D^2*n_eff))``,
      ``n_eff = n_cur*n_ref/(n_cur+n_ref)``) are ranked ascending and
      compared to ``rank/m * alpha``; every column at or below the
      largest passing rank is flagged. Deterministic tie-break on
      (p, column).

    Binning follows the :func:`numeric_drift` conventions: bounds are
    the REFERENCE side's finite min/max per column (escaped current
    mass clamps into the edge bins), NULL/NaN values drop out of that
    column's histogram (they have no position on the line), ±Inf clamps
    to the edges, and a constant reference column (width 0) degenerates
    to a single bin — KS 0, PSI 0, p 1, never a divide error.
    """
    from ..plans.cache import pin
    from .hist import (
        clamped_bin,
        explode_values,
        finite_bounds,
        unpivot_bounds,
    )

    if not columns:
        raise ValueError("drift_screen: columns must be non-empty")

    # one reference pass for every column's finite bounds -> unpivot the
    # 1-row wide agg to (column, _blo, _bhi); tiny, broadcast below
    bounds = pin(unpivot_bounds(finite_bounds(ref, columns), columns))

    def side(df: DataFrame, a: int) -> DataFrame:
        return explode_values(df, columns).withColumn("_a", F.lit(a))

    bin_c = clamped_bin(
        F.col("_v"), F.col("_blo"), F.col("_bhi"), bins
    )
    counts = (
        side(cur, 1)
        .unionByName(side(ref, 0))
        .join(F.broadcast(bounds), "column")
        .select("column", bin_c.alias("bin"), "_a")
        # NULL bin = NULL/NaN value: no place in this column's histogram
        .filter(F.col("bin").isNotNull())
        .groupBy("column", "bin")
        .agg(
            F.sum("_a").alias("n_a"),
            F.sum(F.lit(1) - F.col("_a")).alias("n_b"),
        )
    )

    # all ordered work below runs on <= len(columns)*bins rows. No bin
    # spine needed: a bin empty on BOTH sides carries a flat CDF gap
    # (the max is unchanged) and a 0-0 PSI term of exactly 0.
    cum = (
        Window.partitionBy("column")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("column")
    cdf_a = F.try_divide(F.sum("n_a").over(cum), F.sum("n_a").over(tot))
    cdf_b = F.try_divide(F.sum("n_b").over(cum), F.sum("n_b").over(tot))
    pc = F.greatest(
        F.coalesce(
            F.try_divide(F.col("n_a"), F.sum("n_a").over(tot)), F.lit(0.0)
        ),
        F.lit(eps),
    )
    pr = F.greatest(
        F.coalesce(
            F.try_divide(F.col("n_b"), F.sum("n_b").over(tot)), F.lit(0.0)
        ),
        F.lit(eps),
    )
    per_col = (
        counts.select(
            "column",
            "n_a",
            "n_b",
            F.abs(F.coalesce(cdf_a, F.lit(0.0)) - F.coalesce(cdf_b, F.lit(0.0))).alias("_d"),
            ((pc - pr) * F.log(pc / pr)).alias("_term"),
        )
        .groupBy("column")
        .agg(
            F.sum("n_a").alias("n_cur"),
            F.sum("n_b").alias("n_ref"),
            F.max("_d").alias("_ks"),
            F.sum("_term").alias("_psi"),
        )
    )
    # column spine: an all-NULL/empty column produces NO histogram rows
    # and would silently vanish from the report — exactly the column a
    # drift monitor most needs to surface. Re-seat it with zero counts
    # so it reports (ks 0, psi 0, p 1, drifted False) instead.
    spine = local_frame(
        cur.sparkSession, [(c,) for c in columns], "column string"
    )
    # broadcast the aggregated side (one row per column): a left-outer
    # join can only build its RIGHT side, and an aggregate's size
    # estimate is its input's (data-scale), so the planner would pick
    # a SortMergeJoin — 2 exchanges + 2 sorts for a len(columns)-row
    # join (r15-opt). The spine itself is a local relation with exact
    # stats.
    per_col = spine.join(F.broadcast(per_col), "column", "left").select(
        "column",
        F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
        "_ks",
        "_psi",
    )
    # multiply in DOUBLE: n_cur*n_ref as long overflows (ANSI: throws)
    # past ~3e9 rows per side — exactly this operator's target scale
    n_eff = F.try_divide(
        F.col("n_cur").cast("double") * F.col("n_ref").cast("double"),
        (F.col("n_cur") + F.col("n_ref")).cast("double"),
    )
    p_raw = F.least(
        F.lit(1.0),
        F.lit(2.0) * F.exp(F.lit(-2.0) * F.col("_ks") * F.col("_ks") * n_eff),
    )
    # NULL stats (empty column) coalesce to KS/PSI 0, p 1 — never a NULL
    # that would poison the BH ordering
    scored = per_col.select(
        "column",
        "n_cur",
        "n_ref",
        F.coalesce("_ks", F.lit(0.0)).alias("_ks"),
        F.coalesce("_psi", F.lit(0.0)).alias("_psi"),
        F.coalesce(p_raw, F.lit(1.0)).alias("_p"),
    )
    m = F.count(F.lit(1)).over(Window.partitionBy())
    rk = F.row_number().over(Window.orderBy("_p", "column"))
    ranked = scored.select(
        "*",
        rk.alias("bh_rank"),
        (rk.cast("double") / m * F.lit(alpha)).alias("_crit"),
    )
    w_all = Window.partitionBy()
    k_max = F.max(
        F.when(F.col("_p") <= F.col("_crit"), F.col("bh_rank"))
    ).over(w_all)
    return ranked.select(
        "column",
        "n_cur",
        "n_ref",
        F.round("_ks", DIGITS).alias("ks"),
        F.round("_psi", DIGITS).alias("psi"),
        F.round("_p", DIGITS).alias("p_value"),
        "bh_rank",
        F.round("_crit", DIGITS).alias("bh_crit"),
        F.coalesce(
            F.col("bh_rank") <= k_max, F.lit(False)
        ).alias("drifted"),
    )
