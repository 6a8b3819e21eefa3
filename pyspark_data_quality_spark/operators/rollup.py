"""Multi-resolution time rollups (hypertable-style continuous aggregates).

One pass produces the SAME aggregate at several time granularities
(hour/day/month/...) via GROUPING SETS: Catalyst's Expand emits one row
per (input row × grouping set) into a single hash aggregation — one
shuffle for every resolution, vs one full job per granularity when
naively looping. At 100 TB the Expand multiplies map-side rows by
len(levels), but partial aggregation collapses them before the exchange,
so the shuffle carries |distinct windows| rows per level — the same as
the loop, minus the repeated scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expr import DIGITS

#: granularities accepted by date_trunc in both Spark and DuckDB
SUPPORTED_LEVELS = ("minute", "hour", "day", "week", "month", "quarter", "year")


def time_rollup(
    df: DataFrame,
    ts_col: str,
    *,
    levels: tuple[str, ...] = ("hour", "day", "month"),
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Aggregate ``df`` at every granularity in ``levels`` in ONE job.

    Output: ``level`` (granularity name), ``window_start`` (truncated
    timestamp), the ``group_cols``, then the aggregates (default:
    ``count(1) as n``). Uses GROUPING SETS — the ``grouping()`` bit, not
    value-nullness, identifies each row's level, so null timestamps
    don't misattribute rows.
    """
    for lvl in levels:
        if lvl not in SUPPORTED_LEVELS:
            raise ValueError(f"time_rollup: unsupported level {lvl!r}")
    gcols = group_cols or []
    aggs = aggs if aggs is not None else [F.count(F.lit(1)).alias("n")]

    trunc_names = [f"_{lvl}" for lvl in levels]
    base = df.select(
        *[
            F.date_trunc(lvl, F.col(ts_col)).alias(name)
            for lvl, name in zip(levels, trunc_names)
        ],
        *[c for c in df.columns],
    )
    sets = [[name, *gcols] for name in trunc_names]
    level = None
    for lvl, name in zip(levels, trunc_names):
        cond = F.grouping(name) == 0
        level = F.when(cond, lvl) if level is None else level.when(cond, lvl)
    agged = base.groupingSets(sets, *trunc_names, *gcols).agg(
        level.alias("level"),
        F.coalesce(*[F.col(n) for n in trunc_names]).alias("window_start"),
        *aggs,
    )
    out_aggs = [
        c
        for c in agged.columns
        if c not in (*trunc_names, *gcols, "level", "window_start")
    ]
    return agged.select("level", "window_start", *gcols, *out_aggs)


def rolling_stats(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    group_cols: list[str] | None = None,
    window: str = "1 hour",
) -> DataFrame:
    """Time-based trailing-window statistics per row: count / mean /
    stddev of ``value_col`` over the last ``window`` of event time within
    each group — the moving-baseline every streaming-metric alert
    compares against, computed batch-side with a RANGE frame.

    The window partitions by ``group_cols`` (keyed — state per task is
    one group's rows inside one frame, never the table; an unpartitioned
    rolling window would funnel everything through one task, so
    ``group_cols=None`` is rejected rather than silently funneling).
    The RANGE frame orders by epoch seconds, so rows with equal
    timestamps share a frame (deterministic, engine-stable — matches SQL
    ``RANGE BETWEEN INTERVAL ... PRECEDING AND CURRENT ROW``).

    Output: input columns + ``n_window`` / ``mean_window`` /
    ``stddev_window``.
    """
    from pyspark.sql.window import Window

    if not group_cols:
        raise ValueError(
            "rolling_stats: group_cols is required — an unpartitioned "
            "rolling window funnels the whole table through one task"
        )
    parts = window.split()
    if len(parts) != 2 or not parts[0].isdigit():
        raise ValueError(
            f"rolling_stats: window must look like '15 minutes', got {window!r}"
        )
    unit_seconds = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
        "day": 86400, "days": 86400,
    }
    if parts[1] not in unit_seconds:
        raise ValueError(f"rolling_stats: unsupported unit {parts[1]!r}")
    span = int(parts[0]) * unit_seconds[parts[1]]

    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(ts_col).cast("timestamp").cast("long"))
        .rangeBetween(-span, 0)
    )
    return (
        df.withColumn("n_window", F.count(value_col).over(w))
        .withColumn("mean_window", F.round(F.avg(value_col).over(w), DIGITS))
        .withColumn(
            "stddev_window",
            F.round(F.stddev_samp(value_col).over(w), DIGITS),
        )
    )


def group_top_k(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    *,
    k: int = 3,
    ascending: bool = False,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Top-``k`` rows per group by ``order_col`` — the per-partition leader
    board (longest documents per language, biggest orders per customer).

    Rank is ``row_number`` over a window partitioned BY GROUP, so the sort
    is per-group after one hash shuffle — never a global sort. Ties break
    on ``tiebreak_col`` (asc) to make the rank total and engine-stable;
    it defaults to ``order_col`` alone, which is only deterministic when
    the order column is unique within each group — pass an id column for
    oracle-grade determinism.

    At 100 TB: cost is the one shuffle on the grouping key plus a
    per-group in-memory sort; a skewed group sorts on one task, so for
    heavy-hitter groups pre-filter with an approximate per-group
    threshold first (see ``vocab_top_k`` for the TakeOrdered global
    variant).
    """
    from pyspark.sql.window import Window

    direction = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    order = [direction]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(*group_cols, "rank")
    )


def trend_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group ordinary-least-squares trend: is this segment's metric
    drifting up or down, and how linearly? One row per group with
    ``n`` (pairs where both sides are non-NULL), ``slope``,
    ``intercept`` and ``r2`` — the monitoring primitive behind "daily
    volume is decaying 2%/day in segment X" alerts, fit over whatever
    ``x`` the caller supplies (day index, batch number, a numeric
    feature).

    Pure SQL-standard aggregates (``regr_slope`` / ``regr_intercept`` /
    ``regr_r2`` / ``regr_count``) — single hash aggregation, partial
    map-side combine, shuffle carries one sufficient-statistics row per
    group; no window, no second pass, NULL-pair rows ignored per the
    standard. Standard semantics carry the edge cases: a group with a
    constant ``x`` has no defined slope (NULL), a perfectly flat ``y``
    fits with r2 = 1.

    Timestamps/dates for ``x``: cast upstream (``unix_date`` /
    epoch seconds) — the fit needs a real number, and the caller knows
    which unit the slope should be "per" of.

    Reference parity: no counterpart in the reference rule framework
    (src/pyspark_data_quality has no regression surface); extension
    operator for segment-health monitoring, SQL-replayable 1:1 (DuckDB
    ships the same regr_* family).
    """
    dtypes = dict(df.dtypes)
    for c in (x_col, y_col):
        if c not in dtypes:
            raise ValueError(f"trend_fit: column {c!r} not in df")
        if dtypes[c].startswith(("timestamp", "date", "string")):
            raise ValueError(
                f"trend_fit: column {c!r} has type {dtypes[c]}; cast to "
                "a numeric x/y upstream (unix_date / epoch seconds) so "
                "the slope unit is explicit"
            )
    y, x = F.col(y_col), F.col(x_col)
    out = (
        df.groupBy(*(group_cols or []))
        .agg(
            F.regr_count(y, x).alias("n"),
            F.round(F.regr_slope(y, x), DIGITS).alias("slope"),
            F.round(F.regr_intercept(y, x), DIGITS).alias("intercept"),
            F.round(F.regr_r2(y, x), DIGITS).alias("r2"),
        )
    )
    return out.orderBy(*(group_cols or [])) if group_cols else out


def interarrival_stats(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Per-key inter-arrival statistics: gap mean / sample stddev /
    coefficient of variation / max over consecutive event gaps — the
    traffic-shape signal behind bot detection (CV ≈ 0 = metronomic
    scraper; CV > 1 = bursty human/incident traffic) and feed-health
    monitoring (max_gap = the worst silent window).

    One key-partitioned lag window (the sort each key's gaps need
    anyway) + one groupBy. Tied timestamps are safe: gaps depend only
    on the SORTED multiset of timestamps, so tie order cannot change
    any output (a tie contributes a 0-gap either way). Keys with < 2
    events report ``n_gaps = 0`` and NULL gap stats; NULL timestamps
    are ignored.

    Output: key cols + ``n_events``, ``n_gaps``, ``mean_gap_s``,
    ``sd_gap_s`` (sample stddev; NULL when n_gaps < 2), ``cv`` =
    sd/mean (NULL when mean is 0), ``max_gap_s``. Seconds as doubles
    (sub-second timestamps keep their fraction).

    Reference parity: no arrival-shape surface in the reference;
    extension alongside rolling_stats (value shape over time) and
    sequence_gaps (id-space holes).
    """
    if not key_cols:
        raise ValueError("interarrival_stats: key_cols must be non-empty")
    sec = (
        F.col(ts_col).cast("timestamp").cast("double")
    )
    w = Window.partitionBy(*key_cols).orderBy(F.col("_s").asc())
    # filter on the CASTED value: a raw value that casts to NULL must
    # be ignored like a NULL timestamp, not counted as an event
    gapped = (
        df.select(*key_cols, sec.alias("_s"))
        .filter(F.col("_s").isNotNull())
        .withColumn("_gap", F.col("_s") - F.lag("_s").over(w))
    )
    return (
        gapped.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("_gap").alias("n_gaps"),
            F.round(F.avg("_gap"), DIGITS).alias("mean_gap_s"),
            F.round(F.stddev_samp("_gap"), DIGITS).alias("sd_gap_s"),
            F.round(
                F.try_divide(
                    F.stddev_samp("_gap"),
                    F.when(F.avg("_gap") != 0.0, F.avg("_gap")),
                ),
                DIGITS,
            ).alias("cv"),
            F.round(F.max("_gap"), DIGITS).alias("max_gap_s"),
        )
        .orderBy(*[F.col(k).asc_nulls_first() for k in key_cols])
    )


def acf_profile(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    *,
    lags: list[int] | None = None,
    bucket_seconds: int = 3600,
    value_col: str | None = None,
    agg: str = "sum",
) -> DataFrame:
    """Per-key autocorrelation of the event-count series — does this
    feed have a real periodicity (daily ACF spike), sticky load
    (slow-decaying ACF), or white-noise arrivals (ACF ≈ 0)? The batch
    complement of the streaming seasonal monitor: a seasonality you can
    SEE before you pick its period.

    The default series is the per-bucket EVENT COUNT (``bucket =
    ⌊epoch / bucket_seconds⌋``) — integer-exact, so the only float
    arithmetic is the final centered products and the statistic
    reproduces bit-stably from any aggregation order after rounding.
    ``value_col`` switches the series to the per-bucket ``agg``
    (``sum``/``avg``/``min``/``max``) of a metric instead — the ACF of
    a LEVEL, not a rate (NULL metric values are ignored by the
    aggregate; a bucket whose values are ALL NULL is removed from the
    series entirely — same treatment as an empty bucket, so
    ``n_buckets``, the moments, and the lag pairs all see the same
    non-null series; a NULL level left in would inflate the variance
    denominator and bias acf toward 0). Float caveat applies:
    summed doubles are aggregation-order-sensitive at the ulp level,
    which the 6-decimal output rounding absorbs in practice but is not
    bit-certifiable the way counts are. For each requested lag k:

        acf_k = Σ_t (x_t − μ)(x_{t+k} − μ) / Σ_t (x_t − μ)²

    with μ and the denominator over the key's FULL series (the standard
    biased estimator) and the numerator over bucket pairs (t, t+k) that
    BOTH exist — empty buckets are gaps, not zeros, and ``n_pairs``
    reports how much support each lag actually had (a lag no pair
    survives, e.g. beyond the series span, emits no row).

    Scale: one groupBy shrinks events to |keys|×|buckets| count rows;
    per-key moments are a second tiny agg broadcast back; the lag match
    is an equi-join on (key, bucket+k) after exploding the lag list —
    every shuffle is keyed by (key, bucket) over the ALREADY-aggregated
    frame, never the raw events. No windows over raw data, no UDFs.

    Output: key cols + ``(lag, n_buckets, n_pairs, acf)``; ``acf`` is
    NULL for a constant series (zero variance).

    Reference parity: no temporal surface in the reference (see
    ``dq_manager.py:14-50`` — batch ratios only); extension alongside
    interarrival_stats and the streaming seasonal monitor.
    """
    if lags is None:
        lags = [1, 2, 3]
    if any(k <= 0 for k in lags):
        raise ValueError("acf_profile: lags must be positive")
    # dedup: a repeated lag would double _num/n_pairs in the merged
    # (key, lag) group and silently emit 2x the true autocorrelation
    lags = sorted({int(k) for k in lags})
    if agg not in ("sum", "avg", "min", "max"):
        raise ValueError(f"acf_profile: unsupported agg {agg!r}")
    bkt = F.floor(
        F.col(ts_col).cast("timestamp").cast("double") / F.lit(float(bucket_seconds))
    ).cast("long")
    if value_col is None:
        level = F.count(F.lit(1)).cast("double").alias("_x")
        cols = [bkt.alias("_b")]
    else:
        level = getattr(F, agg)(F.col("_v")).cast("double").alias("_x")
        cols = [bkt.alias("_b"), F.col(value_col).alias("_v")]
    # the bucket-level frame feeds THREE consumers (moments, lag side,
    # lead side): checkpoint it so raw events are scanned exactly once
    # (single-scan contract, tests/test_telemetry.py)
    hourly = (
        df.select(*key_cols, *cols)
        .filter(F.col("_b").isNotNull())
        .groupBy(*key_cols, "_b")
        .agg(level)
        # an all-NULL bucket (value_col mode) is a GAP, not a level:
        # drop it here so every consumer (n_buckets, moments, both lag
        # sides) sees the identical non-null series — keeping it would
        # oversize the _ss denominator and count unpairable lag slots
        .filter(F.col("_x").isNotNull())
        .localCheckpoint()
    )
    stats = hourly.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.avg("_x").alias("_mu"),
        F.sum(F.pow(F.col("_x"), 2)).alias("_sx2"),
        F.sum("_x").alias("_sx"),
    )
    # Σ(x−μ)² = Σx² − (Σx)²/n, all terms from the one stats row
    stats = stats.withColumn(
        "_ss", F.col("_sx2") - F.col("_sx") * F.col("_sx") / F.col("n_buckets")
    )
    lag_df = hourly.withColumn(
        "lag", F.explode(F.array(*[F.lit(int(k)) for k in lags]))
    )
    lead = hourly.select(
        *[F.col(c).alias(f"_r_{c}") for c in key_cols],
        F.col("_b").alias("_rb"),
        F.col("_x").alias("_rx"),
    )
    join_cond = [F.col(c) == F.col(f"_r_{c}") for c in key_cols] + [
        F.col("_b") + F.col("lag") == F.col("_rb")
    ]
    pairs = lag_df.join(lead, join_cond, "inner")
    num = pairs.join(F.broadcast(stats), key_cols).groupBy(
        *key_cols, "lag"
    ).agg(
        F.max("n_buckets").alias("n_buckets"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            (F.col("_x") - F.col("_mu")) * (F.col("_rx") - F.col("_mu"))
        ).alias("_num"),
        F.max("_ss").alias("_ss"),
    )
    return num.select(
        *key_cols,
        "lag",
        "n_buckets",
        "n_pairs",
        F.round(
            F.try_divide(F.col("_num"), F.when(F.col("_ss") > 0, F.col("_ss"))),
            DIGITS,
        ).alias("acf"),
    ).orderBy(*key_cols, "lag")
