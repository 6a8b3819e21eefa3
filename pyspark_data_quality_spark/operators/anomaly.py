"""Anomaly detection over metric time series.

Completes the DQ loop the reference left open: its checks produced
point-in-time metrics with static thresholds; real monitoring compares
each new metric value against its own history. These operators take ANY
metric DataFrame (one row per period, e.g. the output of the windowed
event checks or a metrics-sink history) and flag anomalous periods.

The four trailing detectors are pure window expressions — one shuffle
keyed by the series (partition columns), then a per-partition sort; no
UDFs, no driver-side state. At scale the partition key is the series
id, so a billion-period history shards by series and each series'
window scan is linear. :func:`metrics_regression` is the join-based
fifth: it judges a NEW run's metrics against a separate history frame
(one window pass + one aggregate over the history, then a key join to
the current run — still metric-row scale only).

- :func:`zscore_anomalies` — rolling mean/stddev over the TRAILING
  ``lookback`` periods (current excluded, so an anomaly can't mask
  itself); flags |x - mean| > threshold * stddev.
- :func:`iqr_anomalies` — Tukey fences from the trailing window's exact
  quartiles; robust to outliers in the history itself.
- :func:`rate_of_change_anomalies` — |x / lag(x) - 1| > max_change;
  catches cliffs that a wide z-score window smooths over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expr import DIGITS

#: Minimum trailing points before a verdict is attempted; earlier rows
#: get is_anomaly = false (not enough history to judge).
DEFAULT_MIN_PERIODS = 3


def _trailing(
    partition_cols: list[str] | None, order_cols: list[str], lookback: int
):
    w = Window.partitionBy(*(partition_cols or [])).orderBy(
        *[F.col(c) for c in order_cols]
    )
    return w.rowsBetween(-lookback, -1)


def zscore_anomalies(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    *,
    partition_cols: list[str] | None = None,
    lookback: int = 7,
    threshold: float = 3.0,
    min_periods: int = DEFAULT_MIN_PERIODS,
) -> DataFrame:
    """Flag values more than ``threshold`` trailing standard deviations
    from the trailing mean. Adds columns: baseline_mean, baseline_stddev,
    zscore, is_anomaly. A zero/undefined stddev yields a null zscore and
    no flag (a flat history then any value is "infinitely" surprising —
    callers wanting that use rate_of_change)."""
    from ..functions.expr import finite

    tw = _trailing(partition_cols, order_cols, lookback)
    x = F.col(value_col)
    # baseline over FINITE trailing values only (SCALE.md invariant 8):
    # one NaN metric would otherwise poison the trailing mean for the
    # next `lookback` rows — and NaN z-scores compare greater than any
    # threshold, flagging that whole stretch. The NaN row itself still
    # scores NaN against the clean baseline and is flagged: correct.
    xf = finite(x)
    mean = F.avg(xf).over(tw)
    std = F.stddev_samp(xf).over(tw)
    n = F.count(xf).over(tw)
    z = F.try_divide(x - mean, std)
    return (
        df.withColumn("baseline_mean", F.round(mean, DIGITS))
        .withColumn("baseline_stddev", F.round(std, DIGITS))
        .withColumn("zscore", F.round(z, DIGITS))
        .withColumn(
            "is_anomaly",
            F.coalesce(
                (n >= min_periods) & (F.abs(z) > threshold), F.lit(False)
            ),
        )
    )


def iqr_anomalies(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    *,
    partition_cols: list[str] | None = None,
    lookback: int = 14,
    k: float = 1.5,
    min_periods: int = DEFAULT_MIN_PERIODS,
) -> DataFrame:
    """Tukey-fence outliers: x outside [q1 - k*iqr, q3 + k*iqr] of the
    trailing window's exact quartiles. Adds fence_lo, fence_hi,
    is_anomaly."""
    from ..functions.expr import finite

    tw = _trailing(partition_cols, order_cols, lookback)
    x = F.col(value_col)
    # fences from FINITE trailing values (invariant 8): a NaN in the
    # window would make both fences NaN, and under Spark's NaN-is-
    # greatest comparisons every finite x reads x < NaN as true
    xf = finite(x)
    q1 = F.percentile(xf, F.lit(0.25)).over(tw)
    q3 = F.percentile(xf, F.lit(0.75)).over(tw)
    iqr = q3 - q1
    lo, hi = q1 - F.lit(k) * iqr, q3 + F.lit(k) * iqr
    n = F.count(xf).over(tw)
    return (
        df.withColumn("fence_lo", F.round(lo, DIGITS))
        .withColumn("fence_hi", F.round(hi, DIGITS))
        .withColumn(
            "is_anomaly",
            F.coalesce((n >= min_periods) & ((x < lo) | (x > hi)), F.lit(False)),
        )
    )


def rate_of_change_anomalies(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    *,
    partition_cols: list[str] | None = None,
    max_change: float = 0.5,
) -> DataFrame:
    """Flag period-over-period changes beyond ``max_change`` (fractional:
    0.5 = ±50%). Adds prev_value, change_ratio, is_anomaly. The first
    period of a series (no prev) is never flagged; a zero previous value
    with a nonzero current one is always flagged (undefined ratio =
    infinite change)."""
    w = Window.partitionBy(*(partition_cols or [])).orderBy(
        *[F.col(c) for c in order_cols]
    )
    x = F.col(value_col)
    prev = F.lag(x).over(w)
    ratio = F.try_divide(x - prev, prev)
    return (
        df.withColumn("prev_value", prev)
        .withColumn("change_ratio", F.round(ratio, DIGITS))
        .withColumn(
            "is_anomaly",
            F.coalesce(
                F.when(prev.isNull(), F.lit(False))
                .when(prev == 0, x != 0)
                .otherwise(F.abs(ratio) > max_change),
                F.lit(False),  # null current value: unscored, not null flag
            ),
        )
    )


def metrics_regression(
    history: DataFrame,
    current: DataFrame,
    *,
    key_cols: list[str],
    value_col: str = "value",
    order_col: str = "run_seq",
    lookback: int = 30,
    threshold: float = 3.0,
    min_periods: int = DEFAULT_MIN_PERIODS,
    direction: str = "both",
    broadcast: bool = True,
) -> DataFrame:
    """Run-over-run DQ metric regression monitor — the Deequ
    anomaly-constraint shape the reference's MetricResult design points
    at but never built (reference core/models.py:6-20 stores one run's
    metrics; this judges THIS run against the trailing run history).

    ``history`` holds prior runs' metric rows (one row per metric series
    per run, e.g. a :func:`..sinks.metrics.read_metrics` frame);
    ``current`` holds the new run's rows for the same series keys. Each
    current metric is z-scored against the trailing ``lookback`` runs of
    its own series:

    - ``status='regression'`` when |z| > ``threshold`` (``direction``
      restricts to ``'down'``/``'up'`` moves — completeness dropping 3σ
      is a page, completeness improving 3σ is not);
    - a FLAT baseline (stddev 0 over >= ``min_periods`` runs) treats any
      deviation as a regression — a constant-for-30-runs metric that
      moves at all is the clearest possible signal, and a z-score would
      silently null it out;
    - ``status='insufficient_history'`` below ``min_periods`` baseline
      points (never flagged);
    - otherwise ``'ok'``.

    Adds ``baseline_mean``, ``baseline_stddev``, ``n_baseline``,
    ``zscore``, ``prev_value`` (latest history value), ``change_ratio``
    (vs prev), ``status``, ``is_regression``.

    Scale shape: ONE window pass keyed by the series (rank runs, keep
    the trailing ``lookback``), ONE map-side-combining aggregate to a
    single baseline row per series, then a key-equi join to the current
    run — all shuffles move metric rows (runs x series), never data-scale
    rows, and the baseline/current sides are both bounded by the rule
    count so AQE broadcasts them. ``broadcast=True`` (default) hints
    the aggregated baseline side explicitly (the planner cannot size a
    fresh aggregate and fell back to a sort-merge join of two tiny
    frames — r15); pass ``broadcast=False`` when ``key_cols`` are
    per-entity high-cardinality series whose baseline would not fit an
    executor.
    Baselines use FINITE history values
    only (SCALE.md invariant 8: one NaN run would poison the mean and
    flag the next ``lookback`` runs)."""
    from ..functions.expr import finite

    if direction not in ("both", "down", "up"):
        raise ValueError(
            f"metrics_regression: direction must be 'both', 'down' or "
            f"'up', got {direction!r}"
        )
    if lookback < 1:
        raise ValueError("metrics_regression: lookback must be >= 1")
    if "_rn" in history.columns:
        raise ValueError("metrics_regression: column '_rn' is reserved")
    # the join would make these ambiguous (or the final drop would eat
    # them); round-tripping this function's own output is the natural
    # collision, so fail loudly instead of AnalysisException-ing deep
    # inside Catalyst
    out_cols = {
        "_mean", "_std", "n_baseline", "prev_value", "baseline_mean",
        "baseline_stddev", "zscore", "change_ratio", "status",
        "is_regression",
    }
    clash = sorted(out_cols & set(current.columns))
    if clash:
        raise ValueError(
            f"metrics_regression: current frame already has output "
            f"column(s) {clash} — rename or drop them first"
        )

    # value_col desc tiebreaker: with duplicate order_col rows
    # straddling the lookback cut (the documented double-written-sink
    # case), which duplicates enter the baseline must not depend on
    # partition visit order — greatest-value-first matches the struct-
    # max determinism used for prev_value below
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), F.col(value_col).desc()
    )
    recent = history.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= lookback
    )
    xf = finite(F.col(value_col))
    base = recent.groupBy(*key_cols).agg(
        F.avg(xf).alias("_mean"),
        F.stddev_samp(xf).alias("_std"),
        F.count(xf).alias("n_baseline"),
        # latest FINITE history value. Deterministic under duplicate
        # order_col rows (a double-written sink): struct max is
        # lexicographic, so ties on the order column resolve to the
        # GREATEST value — max_by would flap with partition visit order
        F.max(
            F.when(xf.isNotNull(), F.struct(F.col(order_col).alias("o"),
                                            xf.alias("v")))
        )["v"].alias("prev_value"),
    )

    x = F.col(value_col)
    z = F.try_divide(x - F.col("_mean"), F.col("_std"))
    sided_z = {
        "both": F.abs(z),
        "down": -z,  # flags only drops (z < -threshold)
        "up": z,
    }[direction]
    moved = {
        "both": x != F.col("_mean"),
        "down": x < F.col("_mean"),
        "up": x > F.col("_mean"),
    }[direction]
    flagged = F.when(F.col("_std") > 0, sided_z > threshold).otherwise(moved)
    change = F.try_divide(x - F.col("prev_value"), F.col("prev_value"))
    status = (
        F.when(
            F.coalesce(F.col("n_baseline"), F.lit(0)) < min_periods,
            F.lit("insufficient_history"),
        )
        .when(F.coalesce(flagged, F.lit(False)), F.lit("regression"))
        .otherwise(F.lit("ok"))
    )
    return (
        # broadcast: ONE aggregated baseline row per series (series =
        # distinct DQ metric streams, bounded by rules x columns, never
        # data rows) — the planner sized the aggregate side unknown and
        # planned a SortMergeJoin of two tiny frames (r15-opt)
        current.join(
            F.broadcast(base) if broadcast else base,
            on=list(key_cols), how="left",
        )
        .withColumn("baseline_mean", F.round(F.col("_mean"), DIGITS))
        .withColumn("baseline_stddev", F.round(F.col("_std"), DIGITS))
        .withColumn("n_baseline", F.coalesce("n_baseline", F.lit(0)))
        .withColumn("zscore", F.round(z, DIGITS))
        .withColumn("change_ratio", F.round(change, DIGITS))
        .withColumn("status", status)
        .withColumn("is_regression", status == "regression")
        .drop("_mean", "_std")
    )


def seasonal_anomalies(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    *,
    period: int,
    partition_cols: list[str] | None = None,
    phase_col=None,
    lookback_cycles: int = 4,
    threshold: float = 3.0,
    min_cycles: int = 2,
) -> DataFrame:
    """Seasonality-aware z-score: each value is judged against the SAME
    PHASE of previous cycles (Monday vs past Mondays, 3am vs past 3ams)
    instead of the trailing window. Operational metrics — row counts,
    event volumes, latencies — breathe with daily/weekly cycles;
    :func:`zscore_anomalies` over such a series flags every peak hour as
    anomalous and smooths real drops into its wide baseline. Comparing
    phase-to-phase removes the cycle without estimating it (the
    seasonal-naive baseline of classical forecasting).

    Pass ``phase_col`` (a Column expression, e.g.
    ``F.hour("window_start")`` or ``pmod(epoch, 86400) / 3600``) to
    derive the phase from the DATA — the robust choice, immune to gaps
    in the series. Without it, phase = row position within the series
    modulo ``period``, which is only correct for a GAPLESS series (one
    row per period per series): a single missing period shifts every
    later row's phase by one, silently mis-baselining the rest of the
    series — and windowed-count outputs DO have gaps (a zero-event
    window emits no row), so prefer ``phase_col`` whenever the order
    column is time-derived. ``period`` is in rows (24 for hourly data
    with a daily cycle, 7 for daily with a weekly cycle) and, with
    ``phase_col``, only documents intent — the phase values themselves
    partition.

    The baseline is the trailing ``lookback_cycles`` same-phase values
    (current excluded, so an anomaly can't mask itself; same contract
    as the other detectors). Adds ``baseline_mean``,
    ``baseline_stddev``, ``seasonal_zscore``, ``is_anomaly``; fewer
    than ``min_cycles`` prior same-phase points or a zero/undefined
    stddev yields a null zscore and no flag.

    Scale shape: (at most) two window passes over the same series-keyed
    sort — the phase index, then the per-(series, phase) trailing stats
    — one shuffle keyed by the series, no UDFs (same contract as the
    rest of this module).
    """
    if period < 2:
        raise ValueError("seasonal_anomalies: period must be >= 2")
    if lookback_cycles < 1:
        raise ValueError("seasonal_anomalies: lookback_cycles must be >= 1")
    if not 1 <= min_cycles <= lookback_cycles:
        raise ValueError(
            "seasonal_anomalies: min_cycles must be in [1, "
            "lookback_cycles] — above the lookback no row can ever "
            "score (silently-never-flagging detector)"
        )
    for c in ("_phase",):
        if c in df.columns:
            raise ValueError(f"seasonal_anomalies: column {c!r} is reserved")
    if phase_col is not None:
        phase = F.col(phase_col) if isinstance(phase_col, str) else phase_col
        with_phase = df.withColumn("_phase", phase)
    else:
        series = Window.partitionBy(*(partition_cols or [])).orderBy(
            *[F.col(c) for c in order_cols]
        )
        with_phase = df.withColumn(
            "_phase", (F.row_number().over(series) - 1) % period
        )
    pw = _trailing(
        [*(partition_cols or []), "_phase"], order_cols, lookback_cycles
    )
    from ..functions.expr import finite

    x = F.col(value_col)
    # same-phase baseline over FINITE values (invariant 8)
    xf = finite(x)
    mean = F.avg(xf).over(pw)
    std = F.stddev(xf).over(pw)
    n = F.count(xf).over(pw)
    z = F.try_divide(x - mean, std)
    scored = F.when((n >= min_cycles) & (std > 0), z)
    return (
        with_phase.withColumn("baseline_mean", F.round(mean, DIGITS))
        .withColumn("baseline_stddev", F.round(std, DIGITS))
        .withColumn("seasonal_zscore", F.round(scored, DIGITS))
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(scored) > threshold, F.lit(False)),
        )
        .drop("_phase")
    )
