"""Streaming data-quality operators: watermarked windows, within-watermark
dedup, and per-window rule pass-ratios.

Every function here takes EITHER a batch or a streaming DataFrame and
builds the same logical plan for both — Structured Streaming's unified
model (SURVEY §7.5: the reference had no streaming at all; the `events`
fixture is the target workload). On a stream, Spark turns the windowed
aggregations into incremental stateful operators with watermark-based
state eviction; on a batch frame the identical code is a plain groupBy.

Scale notes:
- Watermarks bound state: without one, windowed aggregation state grows
  forever. Every streaming entry point REQUIRES a watermark argument.
- ``dropDuplicatesWithinWatermark`` keeps only ~watermark-width of key
  state, vs ``dropDuplicates`` on a stream which retains all keys ever
  seen — the only sane dedup at 100 TB/day event rates.
- Per-window aggregates are hash aggs with map-side partials; the shuffle
  key is (window, group) so skew mirrors event-time/key skew — salt the
  group key upstream if one entity dominates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.base import Rule
from ..plans.compile import ident, ratio_sql


def _with_watermark(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    """Apply the watermark on a stream; no-op on a batch frame (where
    `withWatermark` would be rejected or meaningless)."""
    if df.isStreaming and watermark:
        return df.withWatermark(ts_col, watermark)
    return df


def windowed_counts(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    duration: str = "1 hour",
    slide: str | None = None,
    group_cols: list[str] | None = None,
    value_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (default) or sliding (``slide`` set) window counts, plus
    value stats when ``value_col`` is given.

    Output: window_start/window_end (timestamps), the group columns,
    ``n_events`` and (optionally) ``avg_value``/``sum_value`` rounded to 6.
    """
    src = _with_watermark(df, ts_col, watermark)
    win = F.window(F.col(ts_col), duration, slide) if slide else F.window(
        F.col(ts_col), duration
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col:
        aggs += [
            F.round(F.avg(value_col), 6).alias("avg_value"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        ]
    return (
        src.groupBy(win.alias("_w"), *(group_cols or []))
        .agg(*aggs)
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            *(group_cols or []),
            *[c for c in ("n_events", "avg_value", "sum_value") if value_col or c == "n_events"],
        )
    )


def windowed_cardinality(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    distinct_col: str = "user_id",
    duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    exact: bool | None = None,
) -> DataFrame:
    """Distinct entities per time window (active users, unique sources) —
    the stream-health cardinality monitor.

    ``exact=None`` picks per face: EXACT ``count_distinct`` on a batch
    frame (oracle-certifiable), HLL ``approx_count_distinct`` on a
    stream — Structured Streaming forbids distinct aggregates because
    exact distinct state is unbounded, while the HLL register array is
    fixed-size, mergeable state per window. Forcing ``exact=True`` on a
    stream raises rather than letting Spark fail at analysis with a
    cryptic error; ``exact=False`` on batch previews the stream's
    estimate error offline (the parity test's tolerance check).

    Output: window_start/window_end, ``n_events``, ``n_distinct``.
    """
    if exact is None:
        exact = not df.isStreaming
    if exact and df.isStreaming:
        raise ValueError(
            "windowed_cardinality: exact distinct counts are not "
            "streamable (unbounded state) — use exact=False (HLL)"
        )
    src = _with_watermark(df, ts_col, watermark)
    win = F.window(F.col(ts_col), duration, slide) if slide else F.window(
        F.col(ts_col), duration
    )
    d = (
        F.count_distinct(F.col(distinct_col))
        if exact
        else F.approx_count_distinct(distinct_col)
    )
    return (
        src.groupBy(win.alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            d.alias("n_distinct"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "n_events",
            "n_distinct",
        )
    )


def session_counts(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    group_cols: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sessionization via ``session_window``: events of a group belong to
    one session while each gap is strictly less than ``gap``.

    Output: group cols, session_start/session_end (the window; end = last
    event + gap by Spark's definition), n_events, last_event. Batch and
    streaming share the plan; on a stream this is Spark's dedicated
    session-window state store (merging windows, watermark eviction) — the
    custom-stateful-operator escape hatch (applyInPandasWithState) is not
    needed for gap sessions.
    """
    src = _with_watermark(df, ts_col, watermark)
    return (
        src.groupBy(
            *(group_cols or []),
            F.session_window(F.col(ts_col), gap).alias("_w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(ts_col).alias("last_event"),
        )
        .select(
            *(group_cols or []),
            F.col("_w.start").alias("session_start"),
            F.col("_w.end").alias("session_end"),
            "n_events",
            "last_event",
        )
    )


def windowed_psi(
    df: DataFrame,
    value_col: str,
    ref_probs: dict[str, float],
    *,
    ts_col: str = "ts",
    duration: str = "1 hour",
    watermark: str = "10 minutes",
    eps: float = 1e-6,
    threshold: float = 0.25,
    round_to: int = 6,
) -> DataFrame:
    """Per-window Population Stability Index of a categorical column
    against a FIXED reference distribution — the streaming drift monitor:
    "is this hour's traffic mix still shaped like the training data?"

    ``ref_probs`` maps category -> reference probability (normalized here;
    it is driver-side config like IVF centroids — typically the output of
    a batch ``categorical_drift`` run over the reference corpus). Mass in
    categories NOT in ``ref_probs`` accumulates into one "other" bucket
    whose reference probability is the ``eps`` clamp, so novel categories
    show up as drift instead of vanishing.

    Streaming-legal by construction: Structured Streaming forbids chained
    aggregations, so the per-category counts are CONDITIONAL SUMS inside
    the single windowed aggregate (one state row per window), and the PSI
    formula is a pure projection on top. Works identically on a batch
    frame (same plan, plain groupBy).

    Output: window_start/window_end, n_events, psi, drifted.
    """
    if not ref_probs:
        raise ValueError("windowed_psi: ref_probs must be non-empty")
    total = sum(ref_probs.values())
    if total <= 0:
        raise ValueError("windowed_psi: ref_probs must sum > 0")
    cats = sorted(ref_probs)
    src = _with_watermark(df, ts_col, watermark)
    v = F.col(value_col).cast("string")
    aggs = [
        F.sum(v.eqNullSafe(F.lit(c)).cast("long")).alias(f"_n_{i}")
        for i, c in enumerate(cats)
    ] + [F.count(F.lit(1)).alias("n_events")]
    agged = src.groupBy(F.window(F.col(ts_col), duration).alias("_w")).agg(*aggs)

    terms = []
    known = F.lit(0)
    for i, c in enumerate(cats):
        p_cur = F.greatest(
            F.try_divide(F.col(f"_n_{i}"), F.col("n_events")), F.lit(eps)
        )
        p_ref = F.greatest(F.lit(ref_probs[c] / total), F.lit(eps))
        terms.append((p_cur - p_ref) * F.log(p_cur / p_ref))
        known = known + F.col(f"_n_{i}")
    # everything outside the reference categories: ref mass = eps clamp
    p_other = F.greatest(
        F.try_divide(F.col("n_events") - known, F.col("n_events")), F.lit(eps)
    )
    terms.append((p_other - F.lit(eps)) * F.log(p_other / F.lit(eps)))
    psi = F.round(sum(terms[1:], terms[0]), round_to)
    return agged.select(
        F.col("_w.start").alias("window_start"),
        F.col("_w.end").alias("window_end"),
        "n_events",
        psi.alias("psi"),
        (psi > F.lit(threshold)).alias("drifted"),
    )


def windowed_numeric_psi(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    ref_probs: list[float],
    *,
    ts_col: str = "ts",
    duration: str = "1 hour",
    watermark: str = "10 minutes",
    eps: float = 1e-6,
    threshold: float = 0.25,
    round_to: int = 6,
) -> DataFrame:
    """Per-window binned PSI of a NUMERIC column against fixed
    reference bin masses — :func:`windowed_psi`'s numeric sibling for
    the "is this hour's amount/latency/score distribution still shaped
    like training?" monitor.

    ``[lo, hi)`` and ``ref_probs`` (one mass per equi-width bin,
    normalized by the delegate) are DRIVER-SIDE CONFIG like the
    categorical reference — typically a batch ``numeric_drift``/
    ``histogram`` run over the reference corpus. Static bounds are
    what make this streaming-legal: no second aggregation to learn
    them, and every window is comparable to every other. Escaped mass
    clamps into the edge bins (operators/hist.clamped_bin — the batch
    drift convention); NULL/NaN mass lands in the "other" bucket whose
    reference is the eps clamp, so a missing-data surge REGISTERS as
    drift instead of silently vanishing.

    Same single-windowed-aggregate shape as the categorical face: one
    state row per window, identical plan on a batch frame.
    """
    if len(ref_probs) < 2:
        raise ValueError(
            "windowed_numeric_psi: ref_probs needs >= 2 bins"
        )
    if not hi > lo:
        raise ValueError("windowed_numeric_psi: need hi > lo")
    from ..operators.hist import clamped_bin

    bins = len(ref_probs)
    b = clamped_bin(
        F.col(value_col).cast("double"),
        F.lit(float(lo)),
        F.lit(float(hi)),
        bins,
    )
    return windowed_psi(
        df.withColumn("_bin", b.cast("string")),
        "_bin",
        {str(i): p for i, p in enumerate(ref_probs)},
        ts_col=ts_col,
        duration=duration,
        watermark=watermark,
        eps=eps,
        threshold=threshold,
        round_to=round_to,
    )


def dedup_within_watermark(
    df: DataFrame,
    keys: list[str],
    *,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate events by ``keys``.

    Streaming: ``dropDuplicatesWithinWatermark`` — state is bounded to the
    watermark horizon (duplicates arriving within the lateness bound are
    caught; older re-sends age out of state by design). Batch: plain
    ``dropDuplicates`` over the same keys, so one code path serves both.
    """
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def windowed_pass_ratios(
    df: DataFrame,
    rules: list[Rule],
    *,
    ts_col: str = "ts",
    duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-window DQ report: for every rule, the fraction of rows passing
    its row predicate — the declarative rules' streaming surface.

    ONE fused windowed aggregation (same design as the batch
    AnalysisRunner): each rule contributes the batch pass-ratio text
    (``plans/compile.ratio_sql`` over its scope and row predicate) into a
    single groupBy(window), so N rules still cost one stateful operator.
    Output: window_start, window_end, n_rows, then one ``<rule.name>_ratio``
    column per rule (rounded to 6).
    """
    src = _with_watermark(df, ts_col, watermark)
    columns = df.columns
    for r in rules:
        r.validate(columns)
    # fold every rule's prepare transform first (as ResultObj's compile
    # does): join-shaped rules like ReferentialIntegrityRule add their
    # marker columns here, and their predicates reference them
    for r in rules:
        src = r.prepare(src)
    win = F.window(F.col(ts_col), duration, slide) if slide else F.window(
        F.col(ts_col), duration
    )
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for r in rules:
        pred = r.row_predicate()
        if pred is None:
            continue
        # the batch ratio formula itself: NULL-evaluating predicates count
        # as failures, out-of-scope rows don't contribute
        ratio = ratio_sql(r.scope(), pred)
        aggs.append(F.expr(f"round({ratio}, 6) AS {ident(f'{r.name}_ratio')}"))
    return (
        src.groupBy(win.alias("_w"))
        .agg(*aggs)
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "*",
        )
        .drop("_w")
    )


def running_totals(
    df: DataFrame,
    keys: list[str],
    *,
    value_col: str | None = None,
    watermark_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-key RUNNING totals across micro-batches — the custom-stateful-
    operator surface (``applyInPandasWithState``): arbitrary user state
    (here: lifetime event count + value sum per key) maintained by an
    Arrow-batched Python function, emitted as an update row per key per
    batch.

    Use this shape when windows/sessions can't express the state machine
    (running aggregates, per-entity counters, custom sequence detectors).
    State is one tiny tuple per key; pair with a key-space bound or TTL
    timeout in production (timeouts omitted here for determinism). On a
    batch frame this degrades to the equivalent groupBy aggregate, so one
    code path serves both.
    """
    import pandas as pd

    agg_value = value_col is not None
    if not df.isStreaming:
        aggs = [F.count(F.lit(1)).alias("n_events")]
        if agg_value:
            aggs.append(F.sum(value_col).alias("total_value"))
        return df.groupBy(*keys).agg(*aggs)

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans.compile import require_columns

    # loud typo guard: a missing key would otherwise be silently dropped
    # from the output schema and surface as a cryptic arity mismatch
    require_columns(df, [*keys, *([value_col] if value_col else [])])
    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in keys
    )
    out_schema = key_fields + ", n_events long"
    state_schema = "n long, total double"
    if agg_value:
        out_schema += ", total_value double"

    def fn(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            if agg_value:
                total += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, total))
        row = dict(zip(keys, key))
        row["n_events"] = n
        if agg_value:
            row["total_value"] = total
        yield pd.DataFrame([row])

    src = df.withWatermark(watermark_col, watermark) if watermark_col else df
    return src.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def windowed_top_values(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "event_type",
    duration: str = "1 hour",
    k: int = 3,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Top-``k`` heavy-hitter values per time window — "which event
    types / error codes / domains dominated each hour", the windowed
    face of ``top_values``.

    BATCH: windowed (window, value) counts + a rank window PARTITIONED
    BY WINDOW (keyed — never a global sort), ties broken by value asc
    for a total order. Output: (window_start, window_end, value, n,
    rank), rank 1..k per window.

    STREAMING: a rank over an aggregate is not append-legal, so the
    streaming shape is the quarantine-routing pattern — run the
    windowed COUNTS as the stream (streaming-legal single agg) and
    apply THIS function's rank step per micro-batch via foreachBatch,
    or on the complete-mode output table. The batch/stream parity test
    certifies the counts agree; the rank is deterministic given counts.
    """
    from pyspark.sql.window import Window

    src = _with_watermark(df, ts_col, watermark)
    counts = (
        src.groupBy(
            F.window(F.col(ts_col), duration).alias("_w"),
            F.col(value_col).alias("value"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if counts.isStreaming:
        # streaming-legal face: the single windowed agg; rank downstream
        return counts.select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "value",
            "n",
        )
    # ties: value asc with NULL last — the explicit cross-engine order
    # (Spark asc defaults nulls-first, DuckDB/ANSI nulls-last)
    w = Window.partitionBy("_w").orderBy(
        F.col("n").desc(), F.col("value").asc_nulls_last()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "value",
            "n",
            "rank",
        )
        .orderBy("window_start", "rank")
    )
