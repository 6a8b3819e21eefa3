"""Column profiler: per-column statistics and value histograms.

The Deequ-style profiling pass the reference never had (its only
statistics were the completeness/uniqueness ratios). Two operators:

- :func:`profile_columns` — ONE fused ``df.agg`` computes every stat for
  every profiled column (completeness, distinct, numeric moments,
  quantiles) in a single pass over the data; the 1-row result is
  unpivoted to long format with pure expressions. Map-side partial
  aggregation, one reduce of a single row — the same shape as the DQ
  engine's fused metrics pass (plans/analysis.py).
- :func:`top_values` — value histograms for MANY columns with ONE
  shuffle: explode a column->value map, count (column, value) groups,
  rank within column. The naive per-column ``groupBy`` is one shuffle
  per column.

Scale notes (100 TB): exact distinct counts over many columns expand the
input once per distinct aggregate (Catalyst's Expand), so the default is
HLL ``approx_count_distinct`` (one pass, mergeable sketches, ~2% error);
pass ``exact_distinct=True`` when the oracle-grade exact answer is worth
the expansion. Quantiles default to the mergeable t-digest-style
``approx_percentile``; ``exact_quantiles=True`` switches to the exact
sort-based ``percentile`` (matches DuckDB ``quantile_cont``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType
from pyspark.sql.window import Window

from ..functions.expr import DIGITS
from ..plans.local import local_frame

#: Stats emitted for every profiled column.
_COMMON_STATS = ("completeness", "distinct_count")
#: Extra stats for numeric columns.
_NUMERIC_STATS = ("min", "max", "mean", "stddev", "sum")
#: Extra stats for string columns.
_STRING_STATS = ("min_length", "max_length", "avg_length")


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    exact_distinct: bool = False,
    exact_quantiles: bool = False,
    strategy: str = "fused",
) -> DataFrame:
    """Profile ``columns`` (default: all leaf columns) in ONE aggregation
    pass. Returns long format ``(column, stat, value)`` sorted by
    (column, stat); every value is a double.

    Numeric columns get min/max/mean/stddev/sum and the requested
    ``quantiles`` (stat name ``q0.25`` etc.); string columns get
    min/max/avg length; every column gets completeness (non-null ratio)
    and a distinct count.

    ``strategy="pairs"`` computes EXACT distinct counts and EXACT
    interpolated quantiles without Catalyst's Expand (which duplicates
    the input once per distinct aggregate) and without ``percentile``'s
    per-partition full value buffering: moments come from one fused
    distinct-free agg; distinct counts and quantiles come from one
    shuffle over exploded ``(column, value)`` pairs whose map-side
    partial aggregation compresses to the per-column value histogram.
    Memory is bounded by distinct values per column, not rows — the
    scalable exact plan (``exact_distinct``/``exact_quantiles`` are
    implied and ignored).
    """
    if strategy == "pairs":
        return _profile_columns_pairs(df, columns, quantiles=quantiles)
    if strategy != "fused":
        raise ValueError(f"profile_columns: unknown strategy {strategy!r}")
    cols = columns if columns is not None else df.columns
    types = dict(df.dtypes)
    fields = {f.name: f.dataType for f in df.schema.fields}

    aggs: list = []
    stats_per_col: dict[str, list[str]] = {}

    def add(col: str, stat: str, expr) -> None:
        aggs.append(expr.cast("double").alias(f"{col} {stat}"))
        stats_per_col.setdefault(col, []).append(stat)

    total = F.count(F.lit(1))
    for c in cols:
        if c not in types:
            raise ValueError(f"profile_columns: no such column {c!r}")
        col = F.col(c)
        add(c, "completeness", F.try_divide(F.count(col), total))
        if exact_distinct:
            add(c, "distinct_count", F.count_distinct(col))
        else:
            add(c, "distinct_count", F.approx_count_distinct(col))
        if isinstance(fields[c], NumericType):
            add(c, "min", F.min(col))
            add(c, "max", F.max(col))
            add(c, "mean", F.avg(col))
            add(c, "stddev", F.stddev_samp(col))
            add(c, "sum", F.sum(col))
            for q in quantiles:
                if exact_quantiles:
                    add(c, f"q{q}", F.percentile(col, F.lit(q)))
                else:
                    add(c, f"q{q}", F.percentile_approx(col, F.lit(q)))
        elif types[c] == "string":
            add(c, "min_length", F.min(F.length(col)))
            add(c, "max_length", F.max(F.length(col)))
            add(c, "avg_length", F.avg(F.length(col)))

    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(s).alias("stat"),
                F.round(F.col(f"`{c} {s}`"), DIGITS).alias("value"),
            )
            for c, stats in stats_per_col.items()
            for s in stats
        ]
    )
    return (
        row.select(F.explode(entries).alias("e"))
        .select("e.column", "e.stat", "e.value")
        .orderBy("column", "stat")
    )


def _profile_columns_pairs(
    df: DataFrame,
    columns: list[str] | None,
    *,
    quantiles: tuple[float, ...],
) -> DataFrame:
    """Exact profile via the pairs shape (see :func:`profile_columns`).

    Branch A: one fused agg (no distinct aggregates, no Expand) for
    completeness / moments / lengths.

    Branch B: ``explode`` to ``(column, string repr, double repr)``
    pairs -> ``groupBy(column, value)`` histogram (map-side combine
    compresses duplicates before the shuffle) -> per-column cumulative
    counts give BOTH the exact distinct count (rows per column) and
    exact type-7 interpolated quantiles (value at 0-based sorted rank
    ``r`` is the first histogram value whose cumulative count exceeds
    ``r``). Cumulative counts run as a DISTRIBUTED range-partitioned
    prefix sum (the KS ECDF shape, operators/drift.py) — no task ever
    windows a whole column's histogram.
    """
    cols = columns if columns is not None else df.columns
    types = dict(df.dtypes)
    fields = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if c not in types:
            raise ValueError(f"profile_columns: no such column {c!r}")
    numeric = [c for c in cols if isinstance(fields[c], NumericType)]

    # --- branch A: fused distinct-free agg, unpivoted to long format ----
    aggs: list = []
    stats_per_col: dict[str, list[str]] = {}

    def add(col: str, stat: str, expr) -> None:
        aggs.append(expr.cast("double").alias(f"{col} {stat}"))
        stats_per_col.setdefault(col, []).append(stat)

    total = F.count(F.lit(1))
    for c in cols:
        col = F.col(c)
        add(c, "completeness", F.try_divide(F.count(col), total))
        if c in numeric:
            add(c, "min", F.min(col))
            add(c, "max", F.max(col))
            add(c, "mean", F.avg(col))
            add(c, "stddev", F.stddev_samp(col))
            add(c, "sum", F.sum(col))
        elif types[c] == "string":
            add(c, "min_length", F.min(F.length(col)))
            add(c, "max_length", F.max(F.length(col)))
            add(c, "avg_length", F.avg(F.length(col)))
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(s).alias("stat"),
                F.col(f"`{c} {s}`").alias("value"),
            )
            for c, stats in stats_per_col.items()
            for s in stats
        ]
    )
    moments = (
        df.agg(*aggs)
        .select(F.explode(entries).alias("e"))
        .select("e.column", "e.stat", "e.value")
    )

    # --- branch B: exploded pairs -> per-column value histogram --------
    pairs_stats = value_histogram_stats(df, cols, quantiles=quantiles)

    return (
        moments.unionByName(pairs_stats)
        .select("column", "stat", F.round("value", DIGITS).alias("value"))
        .orderBy("column", "stat")
    )


def value_histogram_stats(
    df: DataFrame,
    columns: list[str],
    *,
    quantiles: tuple[float, ...] = (),
) -> DataFrame:
    """Exact distinct counts AND exact type-7 interpolated quantiles for
    ``columns`` from ONE exploded-pairs shuffle — no Catalyst Expand, no
    per-partition full-value percentile buffers.

    ``explode`` to ``(column, string repr, double repr)`` pairs ->
    ``groupBy(column, value)`` histogram (map-side combine compresses
    duplicates before the shuffle) -> per-column cumulative counts give
    both the distinct count (rows per column) and the quantiles (the
    value at 0-based sorted rank ``r`` is the first histogram value
    whose cumulative count exceeds ``r``). Cumulative counts run as a
    DISTRIBUTED range-partitioned prefix sum (the KS ECDF shape,
    operators/drift.py): local per-(partition, column) windows plus
    offsets from the tiny totals table, so even one high-cardinality
    column never funnels its histogram through a single task. Quantile
    rows are emitted for numeric columns only; all-null columns and
    empty inputs still report ``distinct_count=0`` with null quantiles
    (spine join).

    Output: long format ``(column, stat, value)`` with stat in
    ``distinct_count`` + ``q{q}``, at full precision: each caller
    rounds its own output once (rounding twice would drift off the
    oracle). Shared by ``profile_columns(strategy='pairs')``,
    ``drift.quantile_drift`` and ``repair.winsorize(exact=True)``.
    """
    types = dict(df.dtypes)
    fields = {f.name: f.dataType for f in df.schema.fields}
    for c in columns:
        if c not in types:
            raise ValueError(f"value_histogram_stats: no such column {c!r}")
    numeric = [c for c in columns if isinstance(fields[c], NumericType)]
    cols = columns

    # the double repr feeds QUANTILES (interpolated ranks): NaN has no
    # rank position, and Spark would sort it greatest — one NaN near
    # the top rank would make an upper quantile (and winsorize's clamp
    # bound) NaN. NaN stays visible through the STRING repr's distinct
    # count; only its quantile contribution is dropped (finite()).
    from ..functions.expr import finite

    pair = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(c).cast("string").alias("s"),
                    (
                        finite(F.col(c).cast("double"))
                        if c in numeric
                        else F.lit(None).cast("double")
                    ).alias("d"),
                )
                for c in cols
            ]
        )
    )
    hist = (
        df.select(pair.alias("p"))
        .select("p.column", "p.s", "p.d")
        .where(F.col("s").isNotNull())
        .groupBy("column", "s")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("d").alias("d"))
    )
    # Distributed per-column prefix sum (the KS shape, operators/
    # drift.py): range-partition the histogram on (column, d), compute
    # LOCAL cumulative counts per (partition, column), and derive each
    # partition's global offset from the tiny per-(partition, column)
    # totals table — no task ever windows a whole column's histogram, so
    # even ONE high-cardinality column (prices: |distinct| ~ |rows|)
    # never funnels through a single reducer.
    # pinned (plans/cache.py) across its two prefix-sum consumers
    # (local cumulative counts + per-(partition, column) totals):
    # without a pin the scan + explode + histogram + range-exchange
    # subtree executes twice AND the range boundaries re-sample per
    # consumer (the ks_by_group r11 fix) — so never a plain lazy
    # frame. The pinned frame holds the collapsed histogram, which for
    # a high-cardinality column can approach |rows|; it lives until
    # spark.catalog.clearCache() or session end.
    from ..plans.cache import pin

    ranged = pin(
        hist.repartitionByRange(
            F.col("column").asc(), F.col("d").asc()
        ).withColumn("_pid", F.spark_partition_id())
    )
    w_local = (
        Window.partitionBy("_pid", "column")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("_c_loc", F.sum("cnt").over(w_local))
    totals = ranged.groupBy("_pid", "column").agg(F.sum("cnt").alias("_t"))
    w_prior = (
        Window.partitionBy("column")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_allp = (
        Window.partitionBy("column")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offsets = totals.select(
        "_pid",
        "column",
        F.coalesce(F.sum("_t").over(w_prior), F.lit(0)).alias("_off"),
        F.sum("_t").over(w_allp).alias("_n"),
    )
    h = (
        local.join(F.broadcast(offsets), ["_pid", "column"])
        .withColumn("cum", F.col("_c_loc") + F.col("_off"))
        .withColumn("n", F.col("_n"))
    )
    q_aggs = [F.count(F.lit(1)).cast("double").alias("distinct_count")]
    for i, q in enumerate(quantiles):
        # 0-based fractional rank p = q*(n-1); interpolate between the
        # values at ranks floor(p) and ceil(p).
        p = F.lit(float(q)) * (F.col("n") - 1)
        lo, hi = F.floor(p), F.ceiling(p)
        q_aggs.append(
            F.min(F.when(F.col("cum") > lo, F.col("d"))).alias(f"vlo_{i}")
        )
        q_aggs.append(
            F.min(F.when(F.col("cum") > hi, F.col("d"))).alias(f"vhi_{i}")
        )
        q_aggs.append(F.min(p - lo).alias(f"frac_{i}"))
    # Spine join: a column whose values are ALL null (or an empty input)
    # has no histogram rows at all — it must still report
    # distinct_count=0 (+ null quantiles), like the fused plan does.
    spine = local_frame(
        df.sparkSession, [(c,) for c in cols], "column string"
    )
    # broadcast the aggregate: a left-outer join can only build its
    # RIGHT side, and an aggregate's size estimate is its input's
    # (data-scale), so the planner would pick a SortMergeJoin — 2
    # exchanges + 2 sorts for a len(columns)-row join (r15-opt). The
    # spine itself is a local relation with exact stats.
    per_col = spine.join(
        F.broadcast(h.groupBy("column").agg(*q_aggs)), "column", "left"
    )

    stat_structs = [
        F.struct(
            F.lit("distinct_count").alias("stat"),
            F.coalesce(F.col("distinct_count"), F.lit(0.0)).alias("value"),
        )
    ]
    for i, q in enumerate(quantiles):
        v = F.col(f"vlo_{i}") + F.col(f"frac_{i}") * (
            F.col(f"vhi_{i}") - F.col(f"vlo_{i}")
        )
        stat_structs.append(
            F.struct(
                F.lit(f"q{q}").alias("stat"),
                v.alias("value"),
            )
        )
    return (
        per_col.select(
            "column", F.explode(F.array(*stat_structs)).alias("e")
        )
        .select("column", "e.stat", "e.value")
        # quantile rows exist only for numeric columns
        .where(
            (F.col("stat") == "distinct_count")
            | (F.col("column").isin(numeric) if numeric else F.lit(False))
        )
    )


def histogram(
    df: DataFrame,
    col: str,
    *,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram: ``(bin, bin_lo, bin_hi, count)``, bin 0..bins-1.

    With explicit ``lo``/``hi`` the plan is a pure projection + groupBy
    (one shuffle). Without them, the bounds come from a 1-row min/max
    aggregate joined back by broadcast — two jobs, still no driver-side
    action in plan construction. Values outside [lo, hi) clamp into the
    edge bins (standard monitoring semantics: a runaway tail still
    lands in the histogram rather than disappearing).
    """
    from ..functions.expr import finite

    x = F.col(col)
    # NaN rows carry no bin position (dropped like NULL); ±Inf rows
    # clamp into the edge bins; auto-bounds come from FINITE values
    # only, else one bad row makes the width NaN/Inf and collapses
    # every bin (the numeric_drift r12 hardening)
    base = df.filter(x.isNotNull() & ~F.isnan(x.cast("double")))
    if lo is None or hi is None:
        bounds = base.agg(
            F.min(finite(x)).cast("double").alias("_lo"),
            F.max(finite(x)).cast("double").alias("_hi"),
        )
        base = base.join(F.broadcast(bounds))
        lo_c, hi_c = F.col("_lo"), F.col("_hi")
    else:
        lo_c, hi_c = F.lit(float(lo)), F.lit(float(hi))
    width = (hi_c - lo_c) / F.lit(float(bins))
    # try_divide: a degenerate lo==hi range (constant column) bins to 0
    raw = F.floor(F.try_divide(x.cast("double") - lo_c, width))
    bin_c = (
        F.least(F.lit(bins - 1), F.greatest(F.lit(0), F.coalesce(raw, F.lit(0))))
        .cast("int")
    )
    return (
        base.select(
            bin_c.alias("bin"),
            (lo_c + bin_c * width).alias("bin_lo"),
            (lo_c + (bin_c + 1) * width).alias("bin_hi"),
        )
        .groupBy("bin", "bin_lo", "bin_hi")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("bin")
    )


def vector_profile(df: DataFrame, vec_col: str) -> DataFrame:
    """Embedding-column quality report, grouped by vector dimensionality:
    ``(dim, n, n_null_vec, n_nan, n_zero_norm, avg_norm)``.

    One fused groupBy over ``size(vec)`` — a healthy corpus yields ONE
    row; extra rows (mixed dims, a -1/null bucket) are themselves the
    quality finding. Norms are computed on ``array<double>`` so the same
    arithmetic is reproducible in the oracle (float32 summation is not).
    """
    from ..functions.vectors import norm

    v = F.col(vec_col).cast("array<double>")
    nrm = norm(v)
    return (
        df.groupBy(F.size(F.col(vec_col)).alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col(vec_col).isNull(), 1).otherwise(0)).alias(
                "n_null_vec"
            ),
            F.sum(
                F.when(F.exists(v, lambda x: F.isnan(x)), 1).otherwise(0)
            ).alias("n_nan"),
            F.sum(F.when(nrm == 0.0, 1).otherwise(0)).alias("n_zero_norm"),
            # NaN norms are excluded (reported via n_nan) so one corrupt
            # vector can't poison the corpus-level mean
            F.round(
                F.avg(F.when(~F.isnan(nrm), nrm)), DIGITS
            ).alias("avg_norm"),
        )
        .orderBy("dim")
    )


def top_values(
    df: DataFrame,
    columns: list[str],
    *,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` most frequent values per column (ties broken by value)
    for MANY columns with ONE shuffle.

    Each row contributes one (column, value) pair per profiled column via
    an exploded map — the shuffle is keyed by (column, value), so the
    combined cardinality of all histograms shards evenly; no per-column
    jobs. Values are stringified (display form); nulls are counted under
    the value ``NULL``. The per-column rank window funnels each column's
    FULL histogram through one task — fine for the categorical columns
    this profiles (bounded cardinality); for id-like columns with
    billions of distinct values, take the global head with
    ``orderBy().limit()`` per column instead (cf. text.vocab_top_k).

    Output: (column, value, count, rank), rank 1..k by descending count.
    """
    # real NULLs ride the map (no 'NULL'-string sentinel): the NULL
    # bucket appears in the histogram as an actual NULL value row
    pairs = df.select(
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
    counted = pairs.groupBy("column", "value").agg(F.count(F.lit(1)).alias("count"))
    # ties: value ascending with NULL LAST — the explicit cross-engine
    # order (Spark asc defaults nulls-first, DuckDB/ANSI nulls-last)
    w = Window.partitionBy("column").orderBy(
        F.col("count").desc(), F.col("value").asc_nulls_last()
    )
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("column", "rank")
    )


def column_entropy(
    df: DataFrame, columns: list[str]
) -> DataFrame:
    """Shannon entropy (bits) of each column's value distribution — the
    profiler's uniformity/informativeness signal (0 = constant column,
    log2(n) = uniform). Same one-shuffle exploded-map shape as
    :func:`top_values`; nulls count as a regular value. Output:
    (column, entropy, n_distinct)."""
    # real NULLs ride the map: the NULL bucket is its own value and can
    # never merge with a literal 'NULL' string (which would skew entropy)
    pairs = df.select(
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
    counted = pairs.groupBy("column", "value").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy("column"))
    p = F.col("n") / total
    return (
        counted.withColumn("_plogp", -p * F.log2(p))
        .groupBy("column")
        .agg(
            F.round(F.sum("_plogp"), DIGITS).alias("entropy"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .orderBy("column")
    )


def correlation_matrix(
    df: DataFrame, cols: list[str]
) -> DataFrame:
    """Pairwise Pearson correlations of numeric columns, long format:
    ``(col_a, col_b, corr)`` for every i < j pair.

    All C(n,2) correlations are computed in ONE fused aggregate (each
    pair keeps its own co-moment state, merged map-side), then the
    1-row wide result is unpivoted with ``stack`` — a projection, not a
    shuffle. One pass over the data regardless of how many pairs; at
    100 TB this is a single scan + one tiny final reduce.

    Built as ``try_divide(covar_samp, stddev*stddev)`` rather than
    ``corr()``: under ANSI mode ``corr`` THROWS on a zero-variance
    column, where a profiling operator must return NULL.
    """
    if len(cols) < 2:
        raise ValueError("correlation_matrix: need at least two columns")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]

    def _corr(a: str, b: str):
        ca, cb = F.col(a).cast("double"), F.col(b).cast("double")
        return F.try_divide(
            F.covar_samp(ca, cb), F.stddev_samp(ca) * F.stddev_samp(cb)
        )

    wide = df.agg(
        *[_corr(a, b).alias(f"_c_{i}") for i, (a, b) in enumerate(pairs)]
    )
    stacked = ", ".join(
        f"'{a}', '{b}', _c_{i}" for i, (a, b) in enumerate(pairs)
    )
    return wide.selectExpr(
        f"stack({len(pairs)}, {stacked}) as (col_a, col_b, corr)"
    ).select("col_a", "col_b", F.round("corr", DIGITS).alias("corr"))


def benford_profile(
    df: DataFrame, col: str
) -> DataFrame:
    """First-digit (Benford's-law) distribution of ``|col|``: one row per
    digit 1-9 with observed count/ratio, the Benford expectation
    ``log10(1 + 1/d)``, and the deviation — the classic fabricated-data /
    unit-mixing smell test for financial-style columns.

    The leading digit is pure expression math (``floor(x / 10^floor(
    log10 x))``, clamped to [1, 9] against FP edge cases), so the whole
    check is one scan + one 9-group aggregate; a dense digit spine keeps
    absent digits present with n = 0.
    """
    x = F.abs(F.col(col).cast("double"))
    digit = F.least(
        F.lit(9),
        F.greatest(
            F.lit(1),
            F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int"),
        ),
    )
    counts = (
        df.filter(F.col(col).isNotNull() & (x > 0) & ~F.isnan(x))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    dense = spine.join(counts, "digit", "left").select(
        "digit", F.coalesce("n", F.lit(0)).alias("n")
    )
    tot = Window.partitionBy()  # 9 rows — bounded by construction
    p_obs = F.try_divide(F.col("n"), F.sum("n").over(tot))
    p_exp = F.log10(1 + 1 / F.col("digit"))
    return dense.select(
        "digit",
        "n",
        F.round(p_obs, DIGITS).alias("p_obs"),
        F.round(p_exp, DIGITS).alias("p_exp"),
        F.round(p_obs - p_exp, DIGITS).alias("deviation"),
    ).orderBy("digit")


def sketch_rollup(
    df: DataFrame,
    value_col: str,
    *,
    group_by: list[str],
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Mergeable-sketch profile per group PLUS the merged grand total —
    the incremental shape for 100 TB statistics: per-partition (per-day,
    per-source) HLL and KLL sketches are small, exact-to-merge objects,
    so the total row comes from UNIONING the group sketches, never from
    rescanning the data. Persist the per-group sketch frame between runs
    and the next increment only scans the new partition.

    Per group: row count, HLL distinct estimate (~1-2% error), KLL
    quantile estimates. The ``__total__`` row merges the group sketches:
    ``hll_union_agg`` for cardinality, a fold of
    ``kll_sketch_merge_double`` for quantiles (each group sketch merged
    exactly once — the fold seeds with the first sketch and merges the
    rest, because seeding with ``any_value`` and merging the full list
    would double-insert one group). The fold runs in the final 1-row
    aggregate over |groups| sketches — fine for grouping columns with
    bounded cardinality, which is what a rollup is for.

    Output: (group key cols as strings, n, distinct_est, q{q}...);
    group cols are NULL on the total row.
    """
    if not group_by:
        raise ValueError("sketch_rollup: group_by is required")
    v = F.col(value_col)
    per = df.groupBy(*group_by).agg(
        F.count(v).alias("n"),
        F.hll_sketch_agg(v.cast("string")).alias("_hs"),
        F.kll_sketch_agg_double(v.cast("double")).alias("_ks"),
    )
    q_cols = [
        F.round(
            F.kll_sketch_get_quantile_double("_ks", F.lit(float(q))), DIGITS
        ).alias(f"q{q}")
        for q in quantiles
    ]
    groups = per.select(
        *[F.col(c).cast("string").alias(c) for c in group_by],
        F.col("n"),
        F.hll_sketch_estimate("_hs").alias("distinct_est"),
        *q_cols,
    )
    # try_element_at: on an EMPTY input frame collect_list is [], and under
    # ANSI mode element_at([], 1) throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    # instead of seeding NULL — an empty increment is a realistic input for
    # the incremental-statistics shape this operator exists for. A NULL
    # seed is safe: the slice is empty too, so the merge lambda never runs,
    # and kll_sketch_get_quantile_double(NULL) null-propagates.
    merged_ks = F.reduce(
        F.slice(F.collect_list("_ks"), 2, F.greatest(
            F.size(F.collect_list("_ks")) - 1, F.lit(0))),
        F.try_element_at(F.collect_list("_ks"), F.lit(1)),
        lambda acc, s: F.kll_sketch_merge_double(acc, s),
    )
    total = per.agg(
        F.sum("n").alias("n"),
        F.hll_sketch_estimate(F.hll_union_agg("_hs")).alias("distinct_est"),
        *[
            F.round(
                F.kll_sketch_get_quantile_double(merged_ks, F.lit(float(q))),
                DIGITS,
            ).alias(f"q{q}")
            for q in quantiles
        ],
    ).select(
        *[F.lit(None).cast("string").alias(c) for c in group_by],
        "n",
        "distinct_est",
        # quantile column names contain dots — backtick so they resolve
        # as whole names, not nested fields
        *[F.col(f"`q{q}`") for q in quantiles],
    )
    return groups.unionByName(total).orderBy(
        *[F.col(c).asc_nulls_last() for c in group_by]
    )


def completeness_by_group(
    df: DataFrame,
    cols: list[str],
    group_cols: list[str],
) -> DataFrame:
    """Per-segment completeness matrix: non-null ratio of each column
    WITHIN each group, against the global ratio — missingness that is
    localized to one source/partition/tenant hides inside a healthy
    global average (a 2% global null rate can be one segment at 40%).
    The segment-level face of the CompletenessColRatio rule family.

    One row per (group, column): ``(*group_cols, column, n_rows,
    ratio, global_ratio, lift)`` — lift = ratio - global_ratio
    (negative = this segment is WORSE than the corpus).

    Shape: ONE fused aggregate per group (every column's conditional
    sum in the same pass), one 1-row global aggregate broadcast back.
    Long format via an exploded map over the k per-column ratios —
    k×|groups| output rows, never a corpus rescan.
    """
    if not cols or not group_cols:
        raise ValueError(
            "completeness_by_group: cols and group_cols must be non-empty"
        )
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.avg(F.col(c).isNotNull().cast("double")).alias(f"_r_{c}")
        for c in cols
    ]
    grouped = df.groupBy(*group_cols).agg(*aggs)
    glob = df.agg(
        *[
            F.avg(F.col(c).isNotNull().cast("double")).alias(f"_g_{c}")
            for c in cols
        ]
    )
    long = grouped.crossJoin(F.broadcast(glob)).select(
        *group_cols,
        "n_rows",
        F.explode(
            F.create_map(
                *[
                    x
                    for c in cols
                    for x in (
                        F.lit(c),
                        F.struct(
                            F.col(f"_r_{c}").alias("r"),
                            F.col(f"_g_{c}").alias("g"),
                        ),
                    )
                ]
            )
        ).alias("column", "_v"),
    )
    return long.select(
        *group_cols,
        "column",
        "n_rows",
        F.round(F.col("_v.r"), DIGITS).alias("ratio"),
        F.round(F.col("_v.g"), DIGITS).alias("global_ratio"),
        F.round(F.col("_v.r") - F.col("_v.g"), DIGITS).alias("lift"),
    ).orderBy(*group_cols, "column")


def heavy_hitters(
    df: DataFrame,
    col: str,
    *,
    k: int = 50,
    capacity: int | None = None,
) -> DataFrame:
    """Approximate top-k frequent values via mergeable Misra–Gries
    summaries (public: Misra & Gries 1982; merge rule per Agarwal et
    al., "Mergeability of Summaries") — the heavy-hitters shape for
    columns whose cardinality makes :func:`top_values`' full groupBy
    the bottleneck: the shuffle carries at most
    ``partitions x (capacity+1)`` rows NO MATTER the cardinality,
    vs one row per distinct value for the exact groupBy.

    Each partition keeps a ``capacity``-counter summary (one Arrow
    pass, batch-merged decrements: when the dict overflows, every
    counter drops by the (capacity+1)-th largest and non-positives
    evict — the summary's total undercount grows by that decrement).
    Summaries merge by summed counts; the global undercount bound is
    the sum of per-partition decrements. Output: top-``k`` rows by
    estimate with ``value``, ``count_min`` (the estimate — never above
    the true count), ``count_max`` (= count_min + the global bound —
    never below it). Any value whose true frequency exceeds the bound
    is GUARANTEED present (its counter cannot have been fully
    decremented everywhere); NULLs are ignored.

    ``capacity`` defaults to ``max(8*k, 64)``. EXACT REGIME: if every
    partition sees at most ``capacity`` distinct values, no decrement
    ever fires — the result is exactly the top-k with
    count_min == count_max, which is how the oracle certifies this
    operator; the approximate regime's bounds are property-tested.

    Ranking note: rows are ranked by the estimate (ties to the smaller
    value); in the approximate regime a value whose true count is
    within the bound of the k-th estimate may be displaced — that is
    the MG trade, not a bug.

    Reference parity: none (the reference has no sketch surface);
    extension alongside sketch_rollup (HLL/KLL) and top_values (exact).
    """
    from collections.abc import Iterator

    import pandas as pd

    if k < 1:
        raise ValueError("heavy_hitters: k must be >= 1")
    m = capacity if capacity is not None else max(8 * k, 64)
    if m < k:
        raise ValueError(
            f"heavy_hitters: capacity {m} < k {k} — the summary cannot "
            "even hold the answer"
        )
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"heavy_hitters: column {col!r} not in df")
    out_schema = f"value {dtype}, est bigint, err bigint"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        err = 0
        for pdf in batches:
            for v, c in pdf["value"].value_counts(dropna=True).items():
                counts[v] = counts.get(v, 0) + int(c)
            if len(counts) > m:
                t = sorted(counts.values(), reverse=True)[m]
                counts = {v: c - t for v, c in counts.items() if c > t}
                err += t
        yield pd.DataFrame(
            {
                "value": pd.Series(list(counts.keys()) + [None],
                                   dtype=object),
                "est": pd.Series(list(counts.values()) + [0],
                                 dtype="int64"),
                "err": pd.Series([0] * len(counts) + [err], dtype="int64"),
            }
        )

    summaries = df.select(F.col(col).alias("value")).mapInPandas(
        gen, schema=out_schema
    )
    # sentinel rows (value NULL) carry each partition's undercount
    # bound; data NULLs were dropped inside the summary, so the split
    # below is unambiguous
    bound = summaries.agg(F.sum("err").alias("_err"))
    merged = (
        summaries.filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.sum("est").alias("_est"))
        .orderBy(F.col("_est").desc(), F.col("value").asc())
        .limit(k)
    )
    return merged.crossJoin(F.broadcast(bound)).select(
        "value",
        F.col("_est").alias("count_min"),
        (F.col("_est") + F.col("_err")).alias("count_max"),
    )


def association_matrix(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Categorical association audit: chi-square and Cramér's V for
    every pair of the given (low-cardinality) columns — "are these two
    fields secretly the same signal?" for redundancy hunting, leakage
    checks, and schema archaeology; the categorical sibling of
    :func:`correlation_matrix`.

    One row per unordered pair with ``col_a``/``col_b`` (in ``cols``
    order), ``n``, ``chi2``, ``dof`` = (r-1)(c-1), and ``cramers_v`` =
    sqrt(chi2 / (n * (min(r, c) - 1))) in [0, 1] (NULL when a side is
    constant — association with a constant is undefined). NULL is its
    own category (a column that is NULL exactly when another changes IS
    association; exclude upstream if you disagree).

    Scale shape: ONE pass whatever the pair count — rows explode to
    (pair, value_a, value_b) and a single hash aggregation reduces to
    contingency CELLS (partial map-side combine; the shuffle carries
    cells, so it scales with the vocabulary product, not rows — that is
    also the operator's contract: pass CATEGORICAL columns). Margins
    and the chi-square fold are windows/aggregations over the cell
    frame, which is tiny.

    Reference parity: none (single-column rules only); extension
    alongside correlation_matrix / fd_violations (FD = the V == 1
    special case with direction).
    """
    from pyspark.sql.window import Window

    if len(cols) < 2:
        raise ValueError("association_matrix: need at least 2 columns")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"association_matrix: columns {missing} not in df")
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    rows = F.array(*[
        F.struct(
            F.lit(f"{a}\x1f{b}").alias("pid"),
            F.col(a).cast("string").alias("va"),
            F.col(b).cast("string").alias("vb"),
        )
        for a, b in pairs
    ])
    cells = (
        df.select(F.explode(rows).alias("_p"))
        .select("_p.*")
        .groupBy("pid", "va", "vb")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    wa = Window.partitionBy("pid", "va")
    wb = Window.partitionBy("pid", "vb")
    wp = Window.partitionBy("pid")
    with_margins = cells.select(
        "pid", "va", "vb", "o",
        F.sum("o").over(wa).alias("_ra"),
        F.sum("o").over(wb).alias("_cb"),
        F.sum("o").over(wp).alias("_n"),
    )
    e = F.col("_ra") * F.col("_cb") / F.col("_n")
    # the cell frame holds OBSERVED cells only; empty cells contribute
    # (0-e)^2/e = e to chi-square, and since expected counts sum to n,
    # their total is exactly n - sum(e over observed cells) — added
    # back after the aggregation so no zero-cell expansion is needed
    per_pair = (
        with_margins.withColumn(
            "_term", (F.col("o") - e) * (F.col("o") - e) / e
        )
        .withColumn("_e", e)
        .groupBy("pid")
        .agg(
            F.max("_n").alias("n"),
            (F.sum("_term") + F.max("_n") - F.sum("_e")).alias("_chi2"),
            F.count_distinct("va").alias("_r"),
            F.count_distinct("vb").alias("_c"),
        )
    )
    # count_distinct skips NULL; the NULL category still occupies a
    # contingency row/column, so add it back where present
    has_na = cells.filter(F.col("va").isNull()).select("pid").distinct() \
        .withColumn("_na", F.lit(1))
    has_nb = cells.filter(F.col("vb").isNull()).select("pid").distinct() \
        .withColumn("_nb", F.lit(1))
    per_pair = (
        per_pair.join(F.broadcast(has_na), "pid", "left")
        .join(F.broadcast(has_nb), "pid", "left")
        .withColumn("_r", F.col("_r") + F.coalesce(F.col("_na"), F.lit(0)))
        .withColumn("_c", F.col("_c") + F.coalesce(F.col("_nb"), F.lit(0)))
    )
    k = F.least(F.col("_r"), F.col("_c")) - 1
    out = per_pair.select(
        F.split_part("pid", F.lit("\x1f"), F.lit(1)).alias("col_a"),
        F.split_part("pid", F.lit("\x1f"), F.lit(2)).alias("col_b"),
        F.col("n"),
        F.round("_chi2", DIGITS).alias("chi2"),
        ((F.col("_r") - 1) * (F.col("_c") - 1)).alias("dof"),
        F.round(
            F.when(
                k > 0, F.sqrt(F.col("_chi2") / (F.col("n") * k))
            ),
            DIGITS,
        ).alias("cramers_v"),
    )
    return out.orderBy("col_a", "col_b")


def pattern_profile(
    df: DataFrame,
    columns: list[str],
    *,
    k: int | None = None,
    collapse_runs: bool = False,
) -> DataFrame:
    """Format-mask mining: the dominant character-class patterns per
    column — ``Customer#000000001`` profiles as ``Aa#9``-style masks so
    one report surfaces mixed id formats, stray whitespace, or a second
    date layout hiding in a "clean" column.

    Masks map ``[A-Z]``→``A``, ``[a-z]``→``a``, ``[0-9]``→``9`` (other
    characters kept verbatim); ``collapse_runs=True`` additionally
    squeezes repeats (``AAA``→``A+``) so variable-length ids share one
    mask. NULLs profile as a NULL mask row — their share is part of the
    format story.

    Same scale shape as :func:`top_values`: every row contributes one
    (column, mask) pair via an exploded map, so ALL columns profile in
    ONE shuffle keyed by (column, mask); mask cardinality is tiny by
    construction (formats, not values).

    Reference parity: the reference's only format check is per-rule
    regex matching (``checks/base_check.py`` + validity roadmap in
    ``core/_enums.py:11-25``); DISCOVERING the formats is an extension
    in that declared validity dimension. Output:
    ``(column, mask, n, ratio[, rank])`` — ratio over the column's total
    row count; pass ``k`` to keep only each column's top-k masks (rank
    window runs on the aggregated histogram, ties broken by mask).
    """

    def _mask(c: str):
        m = F.regexp_replace(F.col(c).cast("string"), "[A-Z]", "A")
        m = F.regexp_replace(m, "[a-z]", "a")
        m = F.regexp_replace(m, "[0-9]", "9")
        if collapse_runs:
            m = F.regexp_replace(m, "A{2,}", "A+")
            m = F.regexp_replace(m, "a{2,}", "a+")
            m = F.regexp_replace(m, "9{2,}", "9+")
        return m

    pairs = df.select(
        F.explode(
            F.create_map(
                *[x for c in columns for x in (F.lit(c), _mask(c))]
            )
        ).alias("column", "mask")
    )
    counted = pairs.groupBy("column", "mask").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_col = Window.partitionBy("column")
    out = counted.withColumn(
        "ratio", F.round(F.col("n") / F.sum("n").over(w_col), DIGITS)
    )
    if k is not None:
        w = Window.partitionBy("column").orderBy(
            F.col("n").desc(), F.col("mask").asc_nulls_last()
        )
        out = out.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
        return out.orderBy("column", "rank")
    return out.orderBy("column", F.col("n").desc(), F.col("mask").asc_nulls_last())


def concentration_report(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group share concentration of a non-negative quantity: Gini
    coefficient, top-decile share, and max single-row share — "how much
    of this language's corpus is a few giant documents?".

    Gini uses the exact rank formula ``G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n``
    with ``i`` the 1-based ascending value rank. Ranks among tied values
    are arbitrary, but every permutation of a tied block contributes the
    same Σ i·xᵢ, so the statistic (and the oracle hash) is tie-stable.
    Top-decile share counts the ``max(1, ⌊n/10⌋)`` largest rows.

    ONE scan: NULL rows ride the same window pass in their own
    ``(group, is_null)`` partition (so they never perturb the non-null
    ranks) and fold into the final groupBy as ``n_null`` — no second
    pass over the base table. The window is partition-parallel by
    group; no global sort.

    Reference parity: no distribution-shape surface in the reference
    (ratios only, ``checks/completeness_checks``); extension alongside
    the profiler family. Output per group:
    ``(group..., n, n_null, total, gini, top_decile_share, max_share)``.
    """
    x = F.col(value_col).cast("double")
    w_rank = Window.partitionBy(*group_cols, x.isNull()).orderBy(x.asc())
    w_grp = Window.partitionBy(*group_cols, x.isNull())
    ranked = df.select(
        *group_cols,
        x.alias("_x"),
        F.row_number().over(w_rank).alias("_i"),
        F.count(F.lit(1)).over(w_grp).alias("_n"),
    )
    k_top = F.greatest(F.lit(1), F.floor(F.col("_n") / 10))
    nn = F.col("_x").isNotNull()
    per_group = ranked.groupBy(*group_cols).agg(
        F.coalesce(F.max(F.when(nn, F.col("_n"))), F.lit(0)).alias("n"),
        F.sum(F.when(~nn, 1).otherwise(0)).alias("n_null"),
        F.sum("_x").alias("_total"),
        F.sum(F.when(nn, F.col("_i") * F.col("_x"))).alias("_iwx"),
        F.sum(
            F.when(nn & (F.col("_i") > F.col("_n") - k_top), F.col("_x"))
        ).alias("_top"),
        F.max("_x").alias("_max"),
    )
    return (
        per_group
        .select(
            *group_cols,
            F.col("n"),
            F.col("n_null"),
            F.round("_total", DIGITS).alias("total"),
            # try_divide: an all-zero or all-NULL group (total 0 / n 0)
            # reports NULL shares instead of an ANSI divide-by-zero
            F.round(
                F.try_divide(
                    F.lit(2.0) * F.col("_iwx"),
                    F.when(
                        F.col("n") * F.col("_total") != 0,
                        F.col("n") * F.col("_total"),
                    ),
                )
                - F.try_divide(
                    F.col("n") + F.lit(1.0), F.when(F.col("n") > 0, F.col("n"))
                ),
                DIGITS,
            ).alias("gini"),
            F.round(
                F.try_divide(
                    F.col("_top"),
                    F.when(F.col("_total") != 0, F.col("_total")),
                ),
                DIGITS,
            ).alias("top_decile_share"),
            F.round(
                F.try_divide(
                    F.col("_max"),
                    F.when(F.col("_total") != 0, F.col("_total")),
                ),
                DIGITS,
            ).alias("max_share"),
        )
        .orderBy(*group_cols)
    )
