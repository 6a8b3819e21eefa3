"""Data repair: null imputation from group statistics.

The acting half of a DQ system — after the rules FIND incomplete rows
(quarantine keeps the evidence), imputation produces the repaired frame
for consumers that prefer a filled value over a dropped row.

Strategies: ``mean`` / ``median`` (exact percentile) / ``mode`` (most
frequent, ties to the smallest value) / ``constant``. With ``group_by``
the statistic is per group via a keyed window — one hash shuffle, scales
with the key like any aggregation. WITHOUT groups the statistic comes
from a 1-row aggregate broadcast back (an unpartitioned window would
funnel the whole table through one task).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expr import DIGITS
from ..plans.joins import join_null_safe

_STRATEGIES = ("mean", "median", "mode", "constant")


def _stat_expr(col: str, strategy: str):
    # statistics over FINITE values only (functions/expr.py finite):
    # avg/percentile do not skip NaN, so one NaN row would otherwise
    # make the fill statistic NaN and spread the damage to every
    # formerly-NULL row
    from ..functions.expr import finite

    if strategy == "mean":
        return F.avg(finite(F.col(col)))
    if strategy == "median":
        return F.percentile(finite(F.col(col)), F.lit(0.5))
    raise AssertionError(strategy)


def impute(
    df: DataFrame,
    columns: list[str],
    *,
    strategy: str = "mean",
    group_by: list[str] | None = None,
    fill_value=None,
    flag_col: str | None = None,
) -> DataFrame:
    """Fill nulls in ``columns``. ``flag_col`` (optional) records whether
    ANY of the columns was null pre-repair. A group whose statistic is
    itself null (all-null group) leaves the null in place."""
    if strategy not in _STRATEGIES:
        raise ValueError(f"impute: unknown strategy {strategy!r}")
    if strategy == "constant" and fill_value is None:
        raise ValueError("impute: constant strategy requires fill_value")
    out = df
    if flag_col is not None:
        was_null = None
        for c in columns:
            n = F.col(c).isNull()
            was_null = n if was_null is None else (was_null | n)
        out = out.withColumn(flag_col, was_null)

    if strategy == "constant":
        return out.fillna(fill_value, subset=columns)

    keys = group_by or []
    if strategy == "mode":
        for c in columns:
            counts = (
                df.filter(F.col(c).isNotNull())
                .groupBy(*keys, F.col(c).alias("_v"))
                .agg(F.count(F.lit(1)).alias("_n"))
            )
            if keys:
                w = Window.partitionBy(*keys).orderBy(
                    F.col("_n").desc(), F.col("_v").asc()
                )
                # null-safe key join: groupBy computed a mode for the
                # NULL-key group too, and a plain equality join would
                # silently skip it (same fix as normalize_columns)
                modes = (
                    counts.withColumn("_rk", F.row_number().over(w))
                    .filter(F.col("_rk") == 1)
                    .select(*keys, F.col("_v").alias(f"_mode_{c}"))
                )
                joined = join_null_safe(
                    out, modes, keys, "left", broadcast=True
                )
            else:
                # 1-row AGGREGATE, not filter+limit: an all-null column
                # must yield a null-mode row — a 0-row frame crossJoined
                # in would silently drop the whole dataset
                modes = counts.agg(
                    F.min(
                        F.struct((-F.col("_n")).alias("a"), F.col("_v").alias("v"))
                    )["v"].alias(f"_mode_{c}")
                )
                joined = out.crossJoin(F.broadcast(modes))
            out = joined.withColumn(
                c, F.coalesce(F.col(c), F.col(f"_mode_{c}"))
            ).drop(f"_mode_{c}")
        return out

    if keys:
        for c in columns:
            stat = _stat_expr(c, strategy).over(Window.partitionBy(*keys))
            out = out.withColumn(c, F.coalesce(F.col(c), stat))
        return out
    stats = df.agg(
        *[_stat_expr(c, strategy).alias(f"_stat_{c}") for c in columns]
    )
    out = out.crossJoin(F.broadcast(stats))
    for c in columns:
        out = out.withColumn(
            c, F.coalesce(F.col(c), F.col(f"_stat_{c}"))
        ).drop(f"_stat_{c}")
    return out


def flag_outliers(
    df: DataFrame,
    col: str,
    *,
    method: str = "zscore",
    threshold: float = 3.0,
    group_by: list[str] | None = None,
    flag_col: str = "is_outlier",
    score_col: str | None = None,
) -> DataFrame:
    """Row-level outlier annotation: adds ``flag_col`` (boolean; NULL
    values are never flagged) and optionally ``score_col``.

    - ``method='zscore'``: |x - mean| / stddev > threshold.
    - ``method='iqr'``: outside [q1 - t*IQR, q3 + t*IQR] (t = threshold,
      conventionally 1.5). Quartiles are EXACT percentiles — right for the
      oracle-checked path; swap in approx_percentile for loose fences over
      very large groups.
    - ``method='mad'`` (r13): modified z-score ``0.6745 * |x - median|
      / MAD`` (Iglewicz & Hoaglin) > threshold (conventionally 3.5).
      The ROBUST fence: mean/stddev and even the IQR move when the
      contamination is heavy, so the very outliers being hunted relax
      the z/iqr fences; median and MAD have a 50% breakdown point.
      Degenerate spread (MAD 0 — half the group identical) flags every
      deviating row with a NULL score (the deviation is infinite in
      units of zero spread) instead of silently passing it.

    Scale shape mirrors :func:`impute`: per-group statistics via a keyed
    window (one hash shuffle — MAD's two dependent medians ride TWO
    windows over the SAME partitioning, one exchange); global statistics
    via 1-row aggregates broadcast back — never an unpartitioned window
    over data rows.
    """
    if method not in ("zscore", "iqr", "mad"):
        raise ValueError(f"flag_outliers: unknown method {method!r}")
    from ..functions.expr import finite

    x = F.col(col)
    # statistics over FINITE values only (functions/expr.py finite):
    # Spark's avg/stddev/percentile do not skip NaN, so one NaN row
    # would otherwise poison the stats — mean=NaN makes every score
    # NaN, and NaN compares greater than any threshold, flagging the
    # ENTIRE column (measured, r12). The non-finite rows themselves
    # still score against the clean stats: NaN/±Inf scores exceed any
    # finite threshold, so exactly they get flagged — which is right.
    xf = finite(x)
    keys = group_by or []
    if method == "mad":
        # two-stage robust stats: the median first, then the median
        # absolute deviation AROUND it — the second statistic depends
        # on the first, so it cannot join the single-agg shape above
        dev_f = finite(F.abs(x - F.col("_med")).cast("double"))
        if keys:
            w = Window.partitionBy(*keys)
            out = df.withColumn(
                "_med", F.percentile(xf, F.lit(0.5)).over(w)
            ).withColumn("_mad", F.percentile(dev_f, F.lit(0.5)).over(w))
        else:
            med = df.agg(F.percentile(xf, F.lit(0.5)).alias("_med"))
            out = df.crossJoin(F.broadcast(med))
            mad = out.agg(F.percentile(dev_f, F.lit(0.5)).alias("_mad"))
            out = out.crossJoin(F.broadcast(mad))
        dev = F.abs(x - F.col("_med"))
        score = F.when(
            F.col("_mad") > 0, F.lit(0.6745) * dev / F.col("_mad")
        ).when(dev == 0, F.lit(0.0))
        # MAD 0 + a real deviation = infinitely many zero-spreads away:
        # flagged, score NULL (there is no finite modified z to report)
        flag = F.when(
            x.isNotNull(),
            F.coalesce(
                score > threshold,
                (F.col("_mad") == 0) & (dev > 0),
                F.lit(False),
            ),
        )
        out = out.withColumn(flag_col, flag)
        if score_col is not None:
            out = out.withColumn(score_col, F.round(score, DIGITS))
        return out.drop("_med", "_mad")
    if method == "zscore":
        stat_exprs = {"_m": F.avg(xf), "_s": F.stddev_samp(xf)}
        score = F.try_divide(F.abs(x - F.col("_m")), F.col("_s"))
        flag = F.when(x.isNotNull(), F.coalesce(score > threshold, F.lit(False)))
    else:
        stat_exprs = {
            "_q1": F.percentile(xf, F.lit(0.25)),
            "_q3": F.percentile(xf, F.lit(0.75)),
        }
        iqr = F.col("_q3") - F.col("_q1")
        lo = F.col("_q1") - threshold * iqr
        hi = F.col("_q3") + threshold * iqr
        score = F.greatest(lo - x, x - hi)  # distance outside the fence
        flag = F.when(x.isNotNull(), F.coalesce((x < lo) | (x > hi), F.lit(False)))

    if keys:
        w = Window.partitionBy(*keys)
        out = df
        for name, expr in stat_exprs.items():
            out = out.withColumn(name, expr.over(w))
    else:
        agg = df.agg(*[e.alias(n) for n, e in stat_exprs.items()])
        out = df.crossJoin(F.broadcast(agg))
    out = out.withColumn(flag_col, flag)
    if score_col is not None:
        out = out.withColumn(score_col, F.round(score, DIGITS))
    return out.drop(*stat_exprs)


def winsorize(
    df: DataFrame,
    columns: list[str],
    *,
    lower: float = 0.05,
    upper: float = 0.95,
    exact: bool = False,
    suffix: str = "",
    flag_col: str | None = None,
) -> DataFrame:
    """Clamp each column to its [``lower``, ``upper``] quantile band —
    the standard heavy-tail repair before a numeric column feeds a model
    or a drift statistic.

    Bounds come from ONE pass over all columns, broadcast back via a 1x1
    crossJoin (an unpartitioned window would funnel the table through
    one task). ``exact=False`` (default) uses mergeable
    ``percentile_approx`` sketches. ``exact=True`` computes exact
    interpolated quantiles (matches DuckDB ``quantile_cont``) from the
    per-column value histogram (:func:`..operators.profile.
    value_histogram_stats`) — memory bounded by DISTINCT values per
    column, never the ``percentile`` aggregate's full per-partition
    value buffers, so even the exact path survives high row counts.

    ``suffix`` writes clamped values to ``f"{c}{suffix}"`` instead of
    overwriting; ``flag_col`` counts how many of the row's values were
    clamped.
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(
            f"winsorize: need 0 <= lower < upper <= 1, got ({lower}, {upper})"
        )
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"winsorize: no such columns {missing}")

    if exact:
        from .profile import value_histogram_stats

        stats = value_histogram_stats(
            df, columns, quantiles=(float(lower), float(upper))
        )
        bounds = stats.groupBy().agg(
            *[
                F.min(
                    F.when(
                        (F.col("column") == c) & (F.col("stat") == f"q{float(b)}"),
                        F.col("value"),
                    )
                ).alias(f"_{tag}_{c}")
                for c in columns
                for tag, b in (("lo", float(lower)), ("hi", float(upper)))
            ]
        )
    else:
        # finite() guard: percentile sketches do not skip NaN, and a
        # NaN landing on the upper rank would make the clamp bound NaN
        from ..functions.expr import finite

        bounds = df.agg(
            *[
                e
                for c in columns
                for e in (
                    F.percentile_approx(
                        finite(F.col(c)), F.lit(float(lower))
                    ).alias(f"_lo_{c}"),
                    F.percentile_approx(
                        finite(F.col(c)), F.lit(float(upper))
                    ).alias(f"_hi_{c}"),
                )
            ]
        )
    out = df.crossJoin(F.broadcast(bounds))

    def clamp(c: str):
        lo, hi = F.col(f"_lo_{c}"), F.col(f"_hi_{c}")
        v = F.col(c)
        # greatest/least SKIP nulls and order NaN as the GREATEST value,
        # so a bare least(greatest(v, lo), hi) silently rewrites NULL to
        # the lower bound and NaN to the upper one — converting damaged
        # data into legitimate-looking values. Both pass through instead
        # (they are damage to surface, not tails to trim); null bounds
        # (all-null column) also leave values untouched.
        return F.when(
            v.isNull() | F.isnan(v.cast("double"))
            | lo.isNull() | hi.isNull(),
            v,
        ).otherwise(F.least(F.greatest(v, lo), hi))

    if flag_col is not None:
        # flag BEFORE overwriting: F.col is late-bound by name, so this
        # expression must be attached while the originals are still
        # there. NaN is excluded explicitly: Spark's `=` treats NaN as
        # equal to itself, but the pass-through contract should not
        # hinge on that quirk.
        total = None
        for c in columns:
            v = F.col(c)
            f = (
                v.isNotNull()
                & ~F.isnan(v.cast("double"))
                & (clamp(c) != v)
            ).cast("int")
            total = f if total is None else total + f
        out = out.withColumn(flag_col, total)
    for c in columns:
        out = out.withColumn(f"{c}{suffix}", clamp(c))
    return out.drop(*[f"_{b}_{c}" for c in columns for b in ("lo", "hi")])


def redact_pii(
    df: DataFrame,
    text_col: str,
    *,
    patterns: dict[str, str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Replace every PII match with a typed placeholder (``[EMAIL]``,
    ``[URL]``, ...) — the remediation for :func:`..operators.text.
    pii_summary`'s diagnosis, applied before text ships to a training
    corpus.

    Patterns default to :data:`..functions.text.PII_PATTERNS` and are
    applied in dict order as chained ``regexp_replace`` projections —
    pure JVM expressions in one codegen stage, no UDF, no shuffle.
    Order matters where patterns overlap (emails are redacted before
    phone numbers so digit runs inside an address aren't re-matched);
    keep more-specific patterns first when extending.
    """
    from ..functions.text import PII_PATTERNS

    pats = patterns if patterns is not None else PII_PATTERNS
    col = F.col(text_col)
    for name, pat in pats.items():
        col = F.regexp_replace(col, pat, f"[{name.upper()}]")
    return df.withColumn(out_col or f"{text_col}_redacted", col)


def unicode_normalize(
    df: DataFrame,
    text_col: str = "text",
    *,
    form: str = "NFC",
    casefold: bool = False,
    strip_controls: bool = False,
    collapse_whitespace: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Unicode-normalize a text column — the corpus-prep step every
    C4/CCNet-lineage pipeline runs before tokenizing or fingerprinting:
    the same visible string can arrive composed (``é``) or decomposed
    (``e`` + U+0301), and every downstream exact operator (dedup
    fingerprints, contamination grams, vocabulary counts) treats the
    two as DIFFERENT documents until they are normalized to one form.

    ``form``: NFC (default — canonical composition, the web/W3C norm),
    NFD, NFKC (also folds compatibility forms: ligatures, full-width,
    superscripts — lossy, use for matching not for display), NFKD.
    ``casefold=True`` (pair it with form='NFKC') builds the Unicode
    caseless MATCH KEY — normalize, full casefold (U+1E9E -> 'ss',
    dotted-I -> 'i'+combining dot, beyond what lower() does), then
    re-normalize because casefolding can denormalize — the standard
    recipe for unicode-robust dedup/join keys, NOT a display form.
    ``strip_controls`` removes control/format characters (Cc+Cf) except
    tab/newline/CR AFTER normalization — mojibake and bidi-spoofing
    residue. ``collapse_whitespace`` then applies the package's
    whitespace convention (``\\s+`` -> one space, trimmed; ASCII
    semantics, same as functions/text.py tokenize). ``out_col`` writes
    alongside instead of overwriting.

    Scale shape: one Arrow-batched pandas UDF projection — no shuffle,
    composes into the scan stage like any column expression. Python is
    unavoidable (Spark has no normalization expression), but the kernel
    takes two fast paths that skip the table walk for almost every real
    document: ``str.isascii()`` (C-speed; ASCII is normalization-
    invariant in every form) and ``unicodedata.is_normalized`` (quick
    check, no allocation for already-normal strings). Control stripping
    and whitespace collapse stay JVM-side as ``regexp_replace``.

    Oracle parity: Python's ``unicodedata`` and DuckDB's
    ``nfc_normalize`` both implement UAX #15; verified to agree on
    composition, canonical reordering, and Hangul (dq_nfc_normalize).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unicode_normalize: unknown form {form!r}")
    if text_col not in df.columns:
        raise ValueError(f"unicode_normalize: no such column {text_col!r}")
    dtype = dict(df.dtypes)[text_col]
    if dtype != "string":
        # fail loud at the driver — a non-string column would otherwise
        # die mid-job inside the Arrow kernel with an executor traceback
        raise ValueError(
            f"unicode_normalize: column {text_col!r} is {dtype}, not "
            "string — cast it first"
        )

    def _kernel(s: pd.Series) -> pd.Series:
        import unicodedata

        def one(t):
            if t is None:
                return t
            if casefold:
                # normalize -> casefold -> re-normalize: folding can
                # denormalize (the UAX #31 caseless-match recipe)
                if t.isascii():
                    return t.lower()
                return unicodedata.normalize(
                    form, unicodedata.normalize(form, t).casefold()
                )
            if t.isascii() or unicodedata.is_normalized(form, t):
                return t
            return unicodedata.normalize(form, t)

        return s.map(one, na_action="ignore")

    _kernel.__annotations__ = {"s": pd.Series, "return": pd.Series}
    # NOT asNondeterministic (r15-opt review): nothing in-repo explodes
    # or filters this kernel's output (no duplication to prevent), and
    # this is a public repair API — the marking would block pushdown of
    # every caller filter written after unicode_normalize, even on
    # unrelated columns (a nondeterministic Project field stops
    # PushPredicateThroughNonJoin entirely)
    norm = pandas_udf(_kernel, "string")

    col = norm(F.col(text_col))
    if strip_controls:
        # Java regex class intersection: all Cc+Cf EXCEPT \t\n\r (kept:
        # they are layout, not noise, and collapse_whitespace handles
        # them when asked)
        col = F.regexp_replace(col, r"[\p{Cc}\p{Cf}&&[^\t\n\r]]", "")
    if collapse_whitespace:
        col = F.trim(F.regexp_replace(col, r"\s+", " "))
    return df.withColumn(out_col or text_col, col)


def mahalanobis_outliers(
    df: DataFrame,
    cols: list[str],
    *,
    threshold: float = 3.0,
) -> DataFrame:
    """Multivariate outlier flagging: Mahalanobis distance of each row's
    ``cols`` vector from the column means, under the sample covariance —
    catches points that are unremarkable per-column but improbable
    JOINTLY (the correlated-columns blind spot of per-column z-scores /
    IQR fences in :func:`flag_outliers`).

    Plan shape: ONE fused aggregation computes the k means and the
    k(k+1)/2 sample covariances; that single row is collected and the
    k×k matrix inverted DRIVER-SIDE with numpy (microseconds — the
    deliberate bounded action, same class as the fused-metrics collect).
    The quadratic form then runs as a pure JVM projection over the data:
    no UDF, no second shuffle, one scan.

    Rows with any NULL in ``cols`` get a NULL score and are never
    flagged. Raises on a singular covariance (a constant or linearly
    dependent column — drop it first).

    Output: input columns + ``mahalanobis`` (rounded) + ``is_outlier``.
    """
    import numpy as np

    if len(cols) < 2:
        raise ValueError(
            "mahalanobis_outliers: need >=2 columns (use flag_outliers "
            "for univariate)"
        )
    # complete-case (listwise) stats: per-aggregate pairwise null
    # deletion would estimate each covariance on a DIFFERENT row subset —
    # the resulting matrix need not even be positive semi-definite
    present = F.lit(True)
    for c in cols:
        present = present & F.col(c).isNotNull()

    from ..functions.expr import finite

    def _cc(c: str) -> Column:
        # finite() guard: one NaN row would poison every covariance,
        # making every distance NaN — and NaN compares greater than
        # any threshold, flagging the whole table
        return finite(F.when(present, F.col(c).cast("double")))

    aggs = [F.avg(_cc(c)).alias(f"_m_{c}") for c in cols]
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(F.covar_samp(_cc(a), _cc(b)).alias(f"_c_{a}_{b}"))
    row = df.agg(*aggs).first()
    if row is None or any(row[f"_m_{c}"] is None for c in cols):
        raise ValueError(
            "mahalanobis_outliers: empty input (or all-null columns) — "
            "no distribution to score against"
        )
    k = len(cols)
    mu = [float(row[f"_m_{c}"]) for c in cols]
    S = np.zeros((k, k))
    for i, a in enumerate(cols):
        for j, b in enumerate(cols):
            key = f"_c_{a}_{b}" if j >= i else f"_c_{b}_{a}"
            S[i, j] = float(row[key])
    det = float(np.linalg.det(S))
    if not np.isfinite(det) or abs(det) < 1e-300:
        raise ValueError(
            "mahalanobis_outliers: singular covariance matrix — a column "
            "is constant or linearly dependent; remove it"
        )
    P = np.linalg.inv(S)  # precision matrix

    # d^2 = sum_ij (x_i - mu_i) P_ij (x_j - mu_j), as a literal-coefficient
    # expression tree (whole-stage codegen keeps it JVM-side)
    centered = [
        (F.col(c).cast("double") - F.lit(mu[i])) for i, c in enumerate(cols)
    ]
    d2 = None
    for i in range(k):
        for j in range(k):
            term = centered[i] * centered[j] * F.lit(float(P[i, j]))
            d2 = term if d2 is None else d2 + term
    # fp noise can dip below 0 → clamp; but greatest() IGNORES nulls, so
    # gate on d2 being non-null to keep null-in → null-score semantics
    score = F.when(
        d2.isNotNull(), F.sqrt(F.greatest(d2, F.lit(0.0)))
    )
    return df.withColumn(
        "mahalanobis", F.round(score, DIGITS)
    ).withColumn(
        "is_outlier",
        F.coalesce(F.col("mahalanobis") > threshold, F.lit(False)),
    )


def normalize_columns(
    df: DataFrame,
    cols: list[str],
    *,
    method: str = "zscore",
    group_by: list[str] | None = None,
    suffix: str = "_norm",
) -> DataFrame:
    """Feature scaling as a repair transform: append ``<col><suffix>``
    with ``zscore`` ((x-mean)/stddev_samp), ``minmax`` ((x-min)/
    (max-min)), or ``robust`` ((x-median)/IQR — outlier-insensitive;
    APPROXIMATE: quantiles come from ``percentile_approx`` sketches,
    the same accuracy contract as winsorize's default path) scaling —
    globally or per ``group_by`` key (the "scale within each segment"
    variant). Constant columns scale to NULL (try_divide), never a
    throw; input columns are untouched (annotate-not-overwrite, like
    every repair op).

    Shape: ONE fused aggregate computes every column's stats —
    broadcast cross-joined back when global (1 row), joined on the
    group keys otherwise (|groups| rows). The data is never shuffled in
    the global case; no window, no RNG, no UDF.
    """
    if method not in ("zscore", "minmax", "robust"):
        raise ValueError(
            "normalize_columns: method must be zscore|minmax|robust, "
            f"got {method!r}"
        )
    if not cols:
        raise ValueError("normalize_columns: cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"normalize_columns: unknown columns {missing}")

    from ..functions.expr import finite
    from ..plans.parallelism import ensure_min_partitions

    # the fused stats aggregate (percentile sketches in 'robust') runs
    # in the scan's own partitioning — spread a single-split input so
    # it doesn't serialize on one task (no-op at scale, r15-opt)
    df = ensure_min_partitions(df)

    aggs = []
    for c in cols:
        # finite() guards throughout: avg/stddev/percentile/max do not
        # skip NaN (and max treats NaN/Inf as greatest), so one bad row
        # would otherwise poison the whole column's scaling parameters
        cf = finite(F.col(c))
        if method == "zscore":
            aggs += [
                F.avg(cf).alias(f"_mu_{c}"),
                F.stddev_samp(cf).alias(f"_sd_{c}"),
            ]
        elif method == "robust":
            aggs += [
                F.percentile_approx(cf, 0.5).alias(f"_mu_{c}"),
                (
                    F.percentile_approx(cf, 0.75)
                    - F.percentile_approx(cf, 0.25)
                ).alias(f"_sd_{c}"),
            ]
        else:
            aggs += [
                F.min(cf).alias(f"_lo_{c}"),
                F.max(cf).alias(f"_hi_{c}"),
            ]
    if group_by:
        stats = df.groupBy(*group_by).agg(*aggs)
        # null-safe key join: groupBy puts NULL keys in their own group,
        # so rows with a NULL group key must receive that group's stats —
        # a plain equality join would leave them un-normalized.
        out = join_null_safe(df, stats, group_by, "left", broadcast=True)
    else:
        stats = df.agg(*aggs)
        out = df.crossJoin(F.broadcast(stats))

    for c in cols:
        if method in ("zscore", "robust"):
            expr = F.try_divide(
                F.col(c) - F.col(f"_mu_{c}"), F.col(f"_sd_{c}")
            )
        else:
            expr = F.try_divide(
                F.col(c) - F.col(f"_lo_{c}"),
                F.col(f"_hi_{c}") - F.col(f"_lo_{c}"),
            )
        out = out.withColumn(f"{c}{suffix}", expr)
    drop = [f.name for f in stats.schema.fields if f.name.startswith("_")]
    return out.drop(*drop)


def value_clusters(
    df: DataFrame,
    col: str,
    *,
    min_values: int = 2,
    max_examples: int = 10,
) -> DataFrame:
    """Messy-categorical reconciliation (the OpenRefine "fingerprint
    cluster" method, public): values that normalize to the same
    fingerprint — lowercase, punctuation stripped, tokens deduped and
    SORTED — are spelling/casing/word-order variants of one another
    ("Acme Inc." / "acme inc" / "Inc Acme"). One row per fingerprint
    with at least ``min_values`` distinct raw values: ``fingerprint``,
    ``n_values``, ``n_rows``, ``canonical`` (the most frequent raw
    value; ties break to the lexicographically smallest — deterministic
    by construction), and up to ``max_examples`` member ``values``
    (sorted) for review.

    The repair step is then a join: map each raw value to its cluster's
    ``canonical``. Kept separate so a human (or a rule) vets clusters
    before any rewrite — fingerprinting is a heuristic and merging
    "won" with "own" is a decision, not a default.

    Scale shape: fingerprint + first groupBy collapse to (value,
    fingerprint) pairs — cardinality = |distinct values|, not rows —
    then one fingerprint-keyed aggregation; examples are slice-capped
    so a pathological cluster cannot balloon a row. Everything is
    expression-tree (regexp/split/sort), whole-stage codegen, no UDF.

    Reference parity: no value-canonicalization surface in the
    reference; extension alongside fuzzy_match_pairs (which catches
    what fingerprinting's exact-match-after-normalize cannot).
    """
    if min_values < 1:
        raise ValueError("value_clusters: min_values must be >= 1")
    from ..functions.text import alnum_tokens

    v = F.col(col)
    fp = F.array_join(F.array_sort(F.array_distinct(alnum_tokens(v))), " ")
    pairs = (
        df.filter(v.isNotNull())
        .select(v.alias("value"), fp.alias("fingerprint"))
        .groupBy("fingerprint", "value")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # canonical = most frequent value, ties to the smallest value:
    # min of (-count, value) is deterministic under both orders
    return (
        pairs.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum("_n").alias("n_rows"),
            F.min(F.struct((-F.col("_n")).alias("nc"), F.col("value")))
            .getField("value")
            .alias("canonical"),
            F.slice(F.array_sort(F.collect_list("value")), 1, max_examples)
            .alias("values"),
        )
        .filter(F.col("n_values") >= min_values)
        .orderBy("fingerprint")
    )


def quantile_normalize(
    df: DataFrame,
    col: str,
    ref: DataFrame,
    group_cols: list[str],
    *,
    ref_col: str | None = None,
    out_col: str | None = None,
    ref_max_per_group: int | None = None,
) -> DataFrame:
    """Map a column onto a reference distribution per group: each value
    is replaced by the reference value at the same ECDF position — the
    drift REPAIR next to the drift detectors (numeric_drift/ks flag a
    shifted feed; this re-anchors it to the reference shape so a
    downstream model keeps seeing the distribution it was trained on).

    Exact step-function mapping, integer-only boundary math: a current
    row's tie-inclusive rank ``cnt_le`` (count of rows ≤ it in its
    group, RANGE window — tie-stable by construction) picks reference
    position ``idx = ⌈cnt_le · n_ref / n_cur⌉`` via integer ceil
    division (no float ECDF, so no ulp-boundary flips against the
    oracle), and the normalized value is the reference's idx-th
    smallest. The value at a sorted position is well-defined under
    ties even though row_number among equal values is not.

    NULL handling without a second scan: NULL rows ride the same window
    pass in their own ``(group, is_null)`` partition and come out with a
    NULL normalized value. Groups absent from the reference also emit
    NULL.

    Scale: both sides sort WITHIN group partitions only (no global
    window; pick group_cols that shard — empty ``group_cols`` is
    refused); the reference's per-group counts are a tiny broadcast
    onto the current frame so ``idx`` is a LEFT-side column and the
    mapping stays a strict equi-join on (group, idx) — never a
    per-group nested loop. The reference is read twice (count agg +
    rank projection); references are samples, current frames are the
    100 TB side, which is touched once.

    ``ref_max_per_group=m`` bounds the ranked-reference join side for
    HUGE references: each group is reduced to its ``min(m, n_ref)``
    evenly-spaced order statistics (positions ``⌈j·n_ref/m⌉``,
    j = 1..m — selected and renumbered by the exact integer staircase
    ``⌊r·m/n_ref⌋``, no float quantiles) and the mapping proceeds
    against that reduced table. When ``m ≥ n_ref`` the reduction is the
    identity, so results are bit-identical to the unbounded mode; below
    that, resolution degrades gracefully to m quantile steps per group.

    Output: input columns + ``<col>_qn`` (override via ``out_col``).

    Reference parity: the reference detects but never repairs
    (``result_obj.py:31-70`` exposes valid/invalid splits only);
    extension in the repair family alongside impute/winsorize.
    """
    if not group_cols:
        raise ValueError(
            "quantile_normalize: group_cols must be non-empty — an "
            "ungrouped mapping is a single global sort; bucket first"
        )
    ref_col = ref_col or col
    out_col = out_col or f"{col}_qn"
    x = F.col(col)
    rx = F.col(ref_col)

    w_le = (
        Window.partitionBy(*group_cols, x.isNull())
        .orderBy(x.asc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_n = Window.partitionBy(*group_cols, x.isNull())
    cur = df.withColumn("_cnt_le", F.count(F.lit(1)).over(w_le)).withColumn(
        "_n_cur", F.count(F.lit(1)).over(w_n)
    )

    if ref_max_per_group is not None and ref_max_per_group < 1:
        raise ValueError(
            "quantile_normalize: ref_max_per_group must be >= 1"
        )
    ref_nn = ref.filter(rx.isNotNull())
    ref_counts = ref_nn.groupBy(
        *[F.col(c).alias(f"_c_{c}") for c in group_cols]
    ).agg(F.count(F.lit(1)).alias("_n_ref"))
    if ref_max_per_group is not None:
        # the counts frame feeds BOTH the current side and the
        # reduction filter below — materialize so ref is still read
        # exactly twice (counts + rank projection)
        ref_counts = ref_counts.localCheckpoint()

    def _m_eff(n_ref_col):
        if ref_max_per_group is None:
            return n_ref_col
        return F.least(F.lit(int(ref_max_per_group)), n_ref_col)

    cur = cur.join(
        F.broadcast(ref_counts),
        [F.col(c).eqNullSafe(F.col(f"_c_{c}")) for c in group_cols],
        "left",
    )
    # integer ceil division via SQL `div` (floor(a/b) would route through
    # a DOUBLE and flip by one past 2^53 — the exact ulp-edge this
    # operator promises away; `div` stays in longs like DuckDB's `//`)
    cur = cur.withColumn("_m", _m_eff(F.col("_n_ref"))).withColumn(
        "_idx",
        F.when(
            x.isNotNull() & F.col("_n_ref").isNotNull(),
            F.expr("(_cnt_le * _m + _n_cur - 1) div _n_cur"),
        ),
    )
    ranked_ref = ref_nn.select(
        *[F.col(c).alias(f"_g_{c}") for c in group_cols],
        rx.alias("_rv"),
        F.row_number()
        .over(Window.partitionBy(*group_cols).orderBy(rx.asc()))
        .alias("_ridx"),
    )
    if ref_max_per_group is not None:
        # keep only positions ⌈j·n_ref/m_eff⌉ (j = 1..m_eff) and renumber
        # them 1..m_eff — both via the integer staircase ⌊r·m_eff/n_ref⌋,
        # which strictly increases exactly at the selected positions
        rr = ranked_ref.join(
            F.broadcast(ref_counts),
            [
                F.col(f"_g_{c}").eqNullSafe(F.col(f"_c_{c}"))
                for c in group_cols
            ],
            "inner",
        )
        rr = rr.withColumn("_me", _m_eff(F.col("_n_ref")))
        # long-domain staircase (`div`, same 2^53 rationale as above)
        lvl = F.expr("(_ridx * _me) div _n_ref")
        prev = F.expr("((_ridx - 1) * _me) div _n_ref")
        ranked_ref = rr.filter(lvl > prev).select(
            *[F.col(f"_g_{c}") for c in group_cols],
            F.col("_rv"),
            lvl.alias("_ridx"),
        )
    joined = cur.join(
        ranked_ref,
        [F.col(c).eqNullSafe(F.col(f"_g_{c}")) for c in group_cols]
        + [F.col("_idx") == F.col("_ridx")],
        "left",
    )
    return joined.select(*df.columns, F.col("_rv").alias(out_col))


def hbos_scores(
    df: DataFrame,
    cols: list[str],
    *,
    bins: int = 16,
) -> DataFrame:
    """Histogram-Based Outlier Score (HBOS, Goldstein & Dengel 2012):
    per-row anomaly score ``sum_c ln(max_count_c / count_c(bin(x_c)))``
    over equi-width per-column histograms — the density-based
    complement to :func:`mahalanobis_outliers` that needs NO covariance
    collect, NO matrix inversion, and survives constant or dependent
    columns (a degenerate column just contributes 0 to every row).

    Scale shape — the reason this is the 100-TB default screen:

    1. ONE pass computes every column's finite min/max (1-row agg).
    2. ONE tagged shuffle builds every column's histogram via the
       exploded column->value map (≤ ``len(cols) * bins`` rows out).
    3. Scoring is SHUFFLE-FREE: each column's tiny histogram broadcast-
       joins back on the row's computed bin index, and the score is a
       plain projection — the data never re-partitions, so at any scale
       the cost is one aggregation plus a map-side join per column.

    Conventions match the drift/profile histograms: NULL/NaN values
    score 0 for that column (and drop out of ``hbos_cols``), ±Inf
    clamps into the edge bins, bounds come through ``finite()`` so one
    bad row cannot stretch the axis to NaN, and a constant column
    (width 0) degenerates to a single bin with score 0 for everyone.

    Output: input columns + ``hbos`` (rounded) + ``hbos_cols`` (how
    many of ``cols`` actually scored for the row — rank only within
    equal counts, or require completeness upstream).
    """
    from ..plans.cache import pin
    from .hist import (
        clamped_bin,
        explode_values,
        finite_bounds,
        unpivot_bounds,
    )

    if not cols:
        raise ValueError("hbos_scores: cols must be non-empty")
    if bins < 2:
        raise ValueError("hbos_scores: bins must be >= 2")

    bounds_wide = pin(finite_bounds(df, cols))

    # one tagged shuffle: every column's histogram from the exploded map
    hist = (
        explode_values(df, cols)
        .join(F.broadcast(unpivot_bounds(bounds_wide, cols)), "column")
        .select(
            "column",
            clamped_bin(
                F.col("_v"), F.col("_blo"), F.col("_bhi"), bins
            ).alias("bin"),
        )
        .filter(F.col("bin").isNotNull())
        .groupBy("column", "bin")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    hist = pin(
        hist.withColumn(
            "_s",
            F.log(
                F.max("_cnt").over(Window.partitionBy("column"))
                / F.col("_cnt")
            ),
        )
    )

    # shuffle-free scoring: the 1-row bounds broadcast in, then each
    # column's histogram broadcast-joins on the row's bin index
    out = df.join(F.broadcast(bounds_wide))
    for c in cols:
        rhs = (
            hist.filter(F.col("column") == c)
            .select(
                F.col("bin").alias(f"_hb_{c}"),
                F.col("_s").alias(f"_s_{c}"),
            )
        )
        out = out.join(
            F.broadcast(rhs),
            clamped_bin(
                F.col(c).cast("double"),
                F.col(f"_lo_{c}"),
                F.col(f"_hi_{c}"),
                bins,
            )
            == F.col(f"_hb_{c}"),
            "left",
        )
    score = None
    scored = None
    for c in cols:
        s = F.coalesce(F.col(f"_s_{c}"), F.lit(0.0))
        n = F.col(f"_s_{c}").isNotNull().cast("int")
        score = s if score is None else score + s
        scored = n if scored is None else scored + n
    return out.select(
        *df.columns,
        F.round(score, DIGITS).alias("hbos"),
        scored.alias("hbos_cols"),
    )
