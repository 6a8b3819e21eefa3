"""Snapshot reconciliation: keyed row-level diff between two versions of
a table — the "what changed since the last load" primitive behind
incremental-pipeline validation and CDC audits.

Reference parity: the reference framework has no cross-snapshot operator
at all (its checks see one DataFrame); this extends the roadmap's
consistency dimension (`/root/reference/src/pyspark_data_quality/core/
_enums.py:12-18` declares Dimension.CONSISTENCY but ships no operator
for it).

Scale shape: ONE full-outer shuffle join on the key columns — the
minimum possible for a keyed diff — with every comparison an expression
(null-safe ``<=>``), so whole-stage codegen keeps it JVM-side. The
summary aggregates map-side before the final tiny shuffle. Per-column
change counts ride the same join via conditional sums: no second pass,
no explode, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import DIGITS

#: Row-status labels emitted by :func:`table_diff`.
STATUSES = ("added", "removed", "changed", "unchanged")


def _diff_base(
    cur: DataFrame,
    ref: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None,
) -> tuple[DataFrame, list[str]]:
    cols = compare_cols or [c for c in cur.columns if c not in keys]
    missing = [c for c in cols + keys if c not in cur.columns or c not in ref.columns]
    if missing:
        raise ValueError(f"table_diff: columns missing from a side: {missing}")
    c = cur.select(
        *[F.col(k).alias(f"_kc_{k}") for k in keys],
        F.lit(True).alias("_in_cur"),
        *[F.col(x).alias(f"_c_{x}") for x in cols],
    )
    r = ref.select(
        *[F.col(k).alias(f"_kr_{k}") for k in keys],
        F.lit(True).alias("_in_ref"),
        *[F.col(x).alias(f"_r_{x}") for x in cols],
    )
    # null-safe key match: a NULL-keyed row pair is COMPARED, not
    # double-counted as added+removed (consistent with the null-safe
    # value comparisons below)
    cond = None
    for k in keys:
        m = F.col(f"_kc_{k}").eqNullSafe(F.col(f"_kr_{k}"))
        cond = m if cond is None else (cond & m)
    j = c.join(r, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"_kc_{k}"), F.col(f"_kr_{k}")).alias(f"_k_{k}")
            for k in keys
        ],
        "_in_cur",
        "_in_ref",
        *[F.col(f"_c_{x}") for x in cols],
        *[F.col(f"_r_{x}") for x in cols],
    )
    any_changed = F.lit(False)
    for x in cols:
        any_changed = any_changed | ~F.col(f"_c_{x}").eqNullSafe(F.col(f"_r_{x}"))
    status = (
        F.when(F.col("_in_ref").isNull(), F.lit("added"))
        .when(F.col("_in_cur").isNull(), F.lit("removed"))
        .when(any_changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.withColumn("status", status), cols


def table_diff(
    cur: DataFrame,
    ref: DataFrame,
    keys: list[str],
    *,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Diff summary: one row per status — ``(status, n)`` for
    added / removed / changed / unchanged — over a single keyed
    full-outer join. ``compare_cols`` defaults to every non-key column
    of ``cur`` (all comparisons null-safe: NULL == NULL, NULL != value).
    """
    j, _ = _diff_base(cur, ref, keys, compare_cols)
    return j.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


_RECON_AGGS = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}


def reconcile_aggregates(
    detail: DataFrame,
    summary: DataFrame,
    keys: list[str],
    measures: dict[str, str],
    *,
    agg: str = "sum",
    tolerance: float = 0.0,
    only_mismatches: bool = False,
) -> DataFrame:
    """Hierarchical-consistency check: does a summary table still equal
    the aggregate of its detail table? (fact vs rollup, ledger vs
    statement, shard counts vs manifest.)

    ``measures`` maps detail column -> summary column; every measure is
    aggregated with ``agg`` (sum/count/min/max) per ``keys`` and compared
    against the summary side. Output one row per (key, measure):
    ``(keys..., measure, detail_value, summary_value, diff, matched)``;
    a key missing on either side yields NULL on that side and
    ``matched = false``. ``matched`` is ``|diff| <= tolerance``.

    Scale shape: ONE keyed aggregation of the detail side (the minimum —
    map-side partials do the heavy lifting) and ONE keyed join against
    the summary; the per-measure unpivot is a ``stack`` projection.
    """
    if agg not in _RECON_AGGS:
        raise ValueError(f"reconcile_aggregates: unknown agg {agg!r}")
    if not measures:
        raise ValueError("reconcile_aggregates: measures must be non-empty")
    fn = _RECON_AGGS[agg]
    items = sorted(measures.items())
    d = detail.groupBy(*keys).agg(
        *[
            fn(F.col(dc).cast("double")).alias(f"_d_{i}")
            for i, (dc, _) in enumerate(items)
        ]
    )
    s = summary.select(
        *[F.col(k).alias(f"_sk_{k}") for k in keys],
        *[
            F.col(sc).cast("double").alias(f"_s_{i}")
            for i, (_, sc) in enumerate(items)
        ],
    )
    # null-safe key join: a NULL detail group reconciles against the
    # summary's NULL-keyed row instead of both sides reporting a miss
    cond = None
    for k in keys:
        m = F.col(k).eqNullSafe(F.col(f"_sk_{k}"))
        cond = m if cond is None else (cond & m)
    j = d.join(s, cond, "full_outer").select(
        *[
            F.coalesce(F.col(k), F.col(f"_sk_{k}")).alias(k)
            for k in keys
        ],
        *[F.col(f"_d_{i}") for i in range(len(items))],
        *[F.col(f"_s_{i}") for i in range(len(items))],
    )
    stacked = ", ".join(
        f"'{dc}', _d_{i}, _s_{i}" for i, (dc, _) in enumerate(items)
    )
    out = j.selectExpr(
        *keys,
        f"stack({len(items)}, {stacked}) as (measure, detail_value, "
        "summary_value)",
    ).select(
        *keys,
        "measure",
        F.round("detail_value", DIGITS).alias("detail_value"),
        F.round("summary_value", DIGITS).alias("summary_value"),
        F.round(F.col("detail_value") - F.col("summary_value"), DIGITS).alias(
            "diff"
        ),
        F.coalesce(
            F.abs(F.col("detail_value") - F.col("summary_value"))
            <= tolerance,
            F.lit(False),
        ).alias("matched"),
    )
    return out.filter(~F.col("matched")) if only_mismatches else out


def table_diff_columns(
    cur: DataFrame,
    ref: DataFrame,
    keys: list[str],
    *,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Per-column change profile over rows present on BOTH sides:
    ``(column, n_changed, change_ratio)`` — which columns drive the
    changed count. Same single join as :func:`table_diff`; the per-column
    counts are conditional sums in one fused aggregate (a 100 TB diff
    pays one shuffle total)."""
    j, cols = _diff_base(cur, ref, keys, compare_cols)
    both = j.filter(F.col("_in_cur").isNotNull() & F.col("_in_ref").isNotNull())
    aggs = [F.count(F.lit(1)).alias("_n_both")] + [
        F.sum(
            (~F.col(f"_c_{x}").eqNullSafe(F.col(f"_r_{x}"))).cast("long")
        ).alias(f"_ch_{x}")
        for x in cols
    ]
    wide = both.agg(*aggs)
    # unpivot the 1-row wide aggregate (stack is a projection, not a shuffle)
    pairs = ", ".join(f"'{x}', _ch_{x}" for x in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {pairs}) as (column, n_changed)", "_n_both"
    ).select(
        "column",
        "n_changed",
        F.round(
            F.try_divide(F.col("n_changed"), F.col("_n_both")), DIGITS
        ).alias("change_ratio"),
    )
