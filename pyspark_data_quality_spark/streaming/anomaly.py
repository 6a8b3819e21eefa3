"""Streaming anomaly detection: per-key online z-score with
``applyInPandasWithState``.

The batch detectors (operators/anomaly.py) window over a static metric
history; this operator scores events AS THEY ARRIVE against running
per-key statistics. State per key is three numbers — count, sum, sum of
squares of every value seen so far — so a billion-key stream holds 24
bytes of state per key, mergeable and restart-safe via the state store.

Each value is scored against the statistics of the values BEFORE it
(trailing semantics, matching the batch detectors: an anomaly cannot
inflate the baseline that judges it), then folded into the state. The
per-batch math is vectorized numpy over the Arrow batch (prefix sums),
not a per-row Python loop.

On a non-streaming frame the same call degrades to an expanding-window
expression plan ordered by the timestamp — one code path, batch/stream
parity testable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expr import DIGITS, _round_like_spark

DEFAULT_MIN_PERIODS = 5


def streaming_zscore(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ts_col: str,
    *,
    threshold: float = 3.0,
    min_periods: int = DEFAULT_MIN_PERIODS,
    watermark: str | None = None,
) -> DataFrame:
    """Score every event's ``value_col`` against the running mean/stddev
    of its key's PRIOR events. Output: the key columns + ``ts_col`` +
    ``value_col`` + ``zscore`` + ``is_anomaly``. Null AND NaN values
    pass through unscored and don't touch the statistics (the streaming
    face masks NaN via ``~np.isnan``; the batch face must match, and a
    bare window-avg would otherwise be poisoned into flagging every
    subsequent row — NaN compares greater than any threshold)."""
    x = F.col(value_col)
    if not df.isStreaming:
        tw = (
            Window.partitionBy(*keys)
            .orderBy(F.col(ts_col))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        # isnan(NULL) is false, so valid_row stays true for NULLs — they
        # already yield NULL z via arithmetic; NaN must be masked
        # explicitly (it poisons avg/stddev and outranks any threshold)
        valid_row = ~F.isnan(x.cast("double"))
        xm = F.when(valid_row, x)
        mean = F.avg(xm).over(tw)
        std = F.stddev_samp(xm).over(tw)
        n = F.count(xm).over(tw)
        z = F.when(valid_row, F.try_divide(x - mean, std))
        return df.select(
            *keys,
            ts_col,
            value_col,
            F.round(z, DIGITS).alias("zscore"),
            F.coalesce(
                (n >= min_periods) & (F.abs(z) > threshold), F.lit(False)
            ).alias("is_anomaly"),
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        ", ".join(f"`{c}` {fields[c]}" for c in [*keys, ts_col, value_col])
        + ", zscore double, is_anomaly boolean"
    )
    state_schema = "n long, s double, q double"

    def fn(key, pdfs, state):
        n0, s0, q0 = state.get if state.exists else (0, 0.0, 0.0)
        # one global sort per key per micro-batch: Arrow hands the group
        # over as MULTIPLE chunks with no cross-chunk time order, and
        # prefix statistics computed chunk-by-chunk would score early
        # events against later ones' baselines
        batch = pd.concat(list(pdfs), ignore_index=True)
        for pdf in [batch]:
            pdf = pdf.sort_values(ts_col, kind="stable")
            v = pdf[value_col].to_numpy(dtype=float, na_value=math.nan)
            valid = ~np.isnan(v)
            vz = np.where(valid, v, 0.0)
            # stats of the values BEFORE each row (prefix, state-seeded)
            pn = n0 + np.concatenate(([0], np.cumsum(valid)[:-1]))
            ps = s0 + np.concatenate(([0.0], np.cumsum(vz)[:-1]))
            pq = q0 + np.concatenate(([0.0], np.cumsum(vz * vz)[:-1]))
            with np.errstate(divide="ignore", invalid="ignore"):
                mean = ps / pn
                var = (pq - ps * ps / pn) / (pn - 1)
                std = np.sqrt(np.maximum(var, 0.0))
                z = (v - mean) / std
            ok = valid & (pn >= 2) & (std > 0)
            flag = ok & (pn >= min_periods) & (np.abs(z) > threshold)
            out = pdf[[*keys, ts_col, value_col]].copy()
            zr = pd.array(_round_like_spark(z, DIGITS), dtype="Float64")
            zr[~ok] = pd.NA
            out["zscore"] = zr
            out["is_anomaly"] = flag
            n0 += int(valid.sum())
            s0 += float(vz.sum())
            q0 += float((vz * vz).sum())
            yield out
        state.update((n0, s0, q0))

    src = df.withWatermark(ts_col, watermark) if watermark else df
    return src.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_ewma(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ts_col: str,
    *,
    target: float,
    sigma: float,
    alpha: float = 0.2,
    L: float = 3.0,
    watermark: str | None = None,
) -> DataFrame:
    """Per-key EWMA control chart (Roberts 1959) — the third classic
    sibling of the z-score (point outliers) and CUSUM (sustained
    shifts): ``z_t = alpha*x_t + (1-alpha)*z_{t-1}`` seeded at the
    in-control ``target``, alarmed when ``|z_t - target|`` exceeds the
    exact time-varying limit ``L*sigma*sqrt(alpha/(2-alpha) *
    (1-(1-alpha)^(2t)))``. EWMA sits between its siblings: it catches
    small-to-moderate persistent shifts faster than a z-score while
    discounting history the (non-resetting) CUSUM never forgets.

    Both faces share one identity — the recurrence has the closed form
    ``z_t = a^t*(target + alpha*sum_j a^(-j)*x_j)`` with ``a = 1-alpha``
    and ``j`` indexing VALID observations — so the batch face is pure
    keyed window expressions (valid-count + one scaled cumsum: no UDF,
    SQL-expressible, oracle-certifiable exactly) and the streaming face
    is one vectorized ``pandas.ewm(adjust=False, ignore_na=True)`` pass
    per Arrow batch, seeded from 16 bytes of state per key (current z
    double + valid count long). Null/NaN values pass through unscored and leave the
    state untouched (same contract as the siblings).

    The batch closed form scales by ``a^(-j)``, which overflows double
    past ``~240/-log10(a)`` valid points per series (alpha=0.2 → ~2476)
    — metric series are bounded by time (runs/days), not data volume,
    so the face RAISES loudly past that horizon instead of silently
    corrupting; the streaming face runs the literal recurrence and has
    no horizon. Output: keys + ts + value + ``ewma`` + ``band`` +
    ``is_alarm``.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("streaming_ewma: alpha must be in (0, 1)")
    if sigma <= 0 or L <= 0:
        raise ValueError("streaming_ewma: sigma and L must be > 0")
    a = 1.0 - alpha
    asym = L * sigma * math.sqrt(alpha / (2.0 - alpha))
    x = F.col(value_col)
    ok = x.isNotNull() & ~F.isnan(x.cast("double"))
    if not df.isStreaming:
        max_t = int(240.0 / -math.log10(a))
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(ts_col))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        t = F.count(F.when(ok, 1)).over(w)
        scaled = F.when(ok, x * F.pow(F.lit(1.0 / a), t))
        cum = F.sum(scaled).over(w)
        z_raw = F.pow(F.lit(a), t) * (F.lit(target) + F.lit(alpha) * cum)
        z = (
            F.when(ok & (t <= max_t), z_raw)
            .when(
                ok,
                F.raise_error(
                    F.lit(
                        f"streaming_ewma: series exceeds {max_t} valid "
                        f"points — the closed-form scaled cumsum "
                        f"overflows at alpha={alpha}; raise alpha, chunk "
                        f"the series, or use the streaming face"
                    )
                ).cast("double"),
            )
        )
        band = F.when(
            ok, F.lit(asym) * F.sqrt(F.lit(1.0) - F.pow(F.lit(a), 2 * t))
        )
        return df.select(
            *keys,
            ts_col,
            value_col,
            F.round(z, DIGITS).alias("ewma"),
            F.round(band, DIGITS).alias("band"),
            F.coalesce(
                F.abs(z - F.lit(target)) > band, F.lit(False)
            ).alias("is_alarm"),
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        ", ".join(f"`{c}` {fields[c]}" for c in [*keys, ts_col, value_col])
        + ", ewma double, band double, is_alarm boolean"
    )
    state_schema = "t long, z double"

    def fn(key, pdfs, state):
        t0, z0 = state.get if state.exists else (0, float(target))
        batch = pd.concat(list(pdfs), ignore_index=True)
        pdf = batch.sort_values(ts_col, kind="stable")
        v = pdf[value_col].to_numpy(dtype=float, na_value=math.nan)
        valid = ~np.isnan(v)
        # seed the literal recurrence with the carried state: position 0
        # is z0, so adjust=False + ignore_na=True applies
        # z = (1-alpha)*z + alpha*x per VALID value and carries z
        # forward across the NaN gaps
        seeded = pd.Series(np.concatenate(([z0], v)))
        ew = (
            seeded.ewm(alpha=alpha, adjust=False, ignore_na=True)
            .mean()
            .to_numpy()[1:]
        )
        t = t0 + np.cumsum(valid)
        with np.errstate(invalid="ignore"):
            band = asym * np.sqrt(1.0 - np.power(a, 2.0 * t))
        out = pdf[[*keys, ts_col, value_col]].copy()
        # _round_like_spark: F.round-faithful HALF_UP so the displayed
        # ewma/band match the batch face bit-for-bit (alarms compare
        # unrounded values either way)
        ewr = pd.array(_round_like_spark(ew, DIGITS), dtype="Float64")
        ewr[~valid] = pd.NA
        br = pd.array(_round_like_spark(band, DIGITS), dtype="Float64")
        br[~valid] = pd.NA
        out["ewma"] = ewr
        out["band"] = br
        out["is_alarm"] = valid & (np.abs(ew - target) > band)
        state.update(
            (int(t[-1]) if len(t) else t0,
             float(ew[-1]) if len(ew) else z0)
        )
        yield out

    src = df.withWatermark(ts_col, watermark) if watermark else df
    return src.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_cusum(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ts_col: str,
    *,
    target: float,
    slack: float = 0.5,
    threshold: float = 5.0,
    watermark: str | None = None,
) -> DataFrame:
    """Per-key CUSUM mean-shift detector (Page 1954): cumulative upper/
    lower sums of deviations from ``target`` with ``slack`` allowance;
    ``s_pos > threshold`` flags an upward shift, ``s_neg`` a downward
    one. CUSUM accumulates many SMALL deviations, catching drifts a
    per-point z-score never fires on.

    Both faces use the same identity — the ``max(0, prev + d)``
    recurrence equals ``C_t - min(0, running_min(C_t))`` over the
    deviation cumsum ``C`` — so the batch face is PURE keyed window
    expressions (cumsum + running min: no UDF, SQL-expressible, which is
    what lets the oracle certify it exactly), and the streaming face is
    two ``np.minimum.accumulate`` passes per Arrow batch seeded from 16
    bytes of state per key (the pair of current sums). This is the
    continuous (non-resetting) CUSUM: sums stay elevated after an alarm
    rather than re-arming, because a reset breaks the closed form —
    downstream dedup of contiguous alarm runs is a filter, not state.

    Null and NaN values pass through unflagged and leave both sums
    unchanged (the streaming face masks NaN via ``~np.isnan``; an
    unmasked batch face would latch both cumulative sums at NaN and
    alarm forever after one damaged value).

    Output: keys + ts + value + ``s_pos`` + ``s_neg`` + ``is_alarm``.
    """
    x = F.col(value_col)
    valid_row = x.isNotNull() & ~F.isnan(x.cast("double"))
    d_up = F.when(valid_row, x - F.lit(target) - F.lit(slack)).otherwise(
        F.lit(0.0)
    )
    d_dn = F.when(valid_row, F.lit(target) - F.lit(slack) - x).otherwise(
        F.lit(0.0)
    )
    if not df.isStreaming:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(ts_col))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        c_up = F.sum(d_up).over(w)
        c_dn = F.sum(d_dn).over(w)
        s_pos = c_up - F.least(F.lit(0.0), F.min(c_up).over(w))
        s_neg = c_dn - F.least(F.lit(0.0), F.min(c_dn).over(w))
        return df.select(
            *keys,
            ts_col,
            value_col,
            F.round(s_pos, DIGITS).alias("s_pos"),
            F.round(s_neg, DIGITS).alias("s_neg"),
            (
                valid_row
                & (
                    (s_pos > F.lit(threshold))
                    | (s_neg > F.lit(threshold))
                )
            ).alias("is_alarm"),
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        ", ".join(f"`{c}` {fields[c]}" for c in [*keys, ts_col, value_col])
        + ", s_pos double, s_neg double, is_alarm boolean"
    )
    state_schema = "sp double, sn double"

    def fn(key, pdfs, state):
        sp0, sn0 = state.get if state.exists else (0.0, 0.0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        pdf = batch.sort_values(ts_col, kind="stable")
        v = pdf[value_col].to_numpy(dtype=float, na_value=math.nan)
        valid = ~np.isnan(v)
        du = np.where(valid, v - target - slack, 0.0)
        dn = np.where(valid, target - slack - v, 0.0)
        # seeded cumsum + running min: S_t = C_t - min(0, min_{j<=t} C_j)
        cu = sp0 + np.cumsum(du)
        cn = sn0 + np.cumsum(dn)
        sp = cu - np.minimum(np.minimum.accumulate(cu), 0.0)
        sn = cn - np.minimum(np.minimum.accumulate(cn), 0.0)
        out = pdf[[*keys, ts_col, value_col]].copy()
        out["s_pos"] = _round_like_spark(sp, DIGITS)
        out["s_neg"] = _round_like_spark(sn, DIGITS)
        out["is_alarm"] = valid & ((sp > threshold) | (sn > threshold))
        state.update((float(sp[-1]) if len(sp) else sp0,
                      float(sn[-1]) if len(sn) else sn0))
        yield out

    src = df.withWatermark(ts_col, watermark) if watermark else df
    return src.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
