"""Segment-health composite: every per-segment signal in one typed report.

Global data-quality metrics average away localized failure — a tenant
whose column went 40% null, a source that stopped sending, a partition
whose value mix drifted — so the per-segment operators exist
(profile.completeness_by_group, freshness.freshness_by_group,
drift.psi_by_group / ks_by_group). This module composes them into ONE
long-format report a monitor can route on, the same composition move the
rule framework makes for corpus-level metrics (plans/analysis.py fuses
rule aggregates; here each constituent is already one bounded
aggregation, so the composition is a union of k small frames, not a new
scan pattern).

Report schema (one row per (segment, check, column)):
    (segment string, check string, column string, value double,
     threshold double, flag boolean)

- check='completeness': value = segment non-null ratio lift vs the
  corpus (negative = worse); flag when lift < -completeness_tolerance.
- check='freshness': value = lag behind the globally latest event in
  seconds; flag when lag > stale_after_seconds.
- check='uniqueness': value = segment duplicate ratio of unique_keys
  (1 - distinct/rows); flag when above dup_tolerance.
- check='psi': value = per-segment PSI cur-vs-ref; flag at psi_threshold.
- check='ks': value = per-segment KS statistic; flag at ks_threshold.

Sections are opt-in by argument; the NULL segment reports like any other
(every constituent is null-safe by contract — tests/test_properties.py's
NULL-adversarial sweep covers them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import DIGITS

_SCHEMA = (
    "segment string, check string, column string, value double, "
    "threshold double, flag boolean"
)


def segment_health_report(
    cur: DataFrame,
    group_col: str,
    *,
    ref: DataFrame | None = None,
    completeness_cols: list[str] | None = None,
    completeness_tolerance: float = 0.05,
    ts_col: str | None = None,
    stale_after_seconds: float = 3600.0,
    unique_keys: list[str] | None = None,
    dup_tolerance: float = 0.0,
    psi_cols: list[str] | None = None,
    psi_threshold: float = 0.25,
    ks_col: str | None = None,
    ks_threshold: float = 0.1,
) -> DataFrame:
    """One long-format health report over ``cur``'s segments; drift
    sections (``psi_cols``, ``ks_col``) additionally need ``ref``.

    ``cur``/``ref`` are pruned to the columns the requested sections
    actually read, then pinned: each section is a different
    aggregation shape, so without the pin a k-section report scans the
    source k times, and without the prune the pin would materialize
    every column of a wide table. The pins live until
    ``spark.catalog.clearCache()`` or session end (plans/cache.py
    contract).

    The completeness, freshness AND uniqueness sections share ONE
    per-segment base aggregate (row count + per-column non-null counts
    + latest ts + count(distinct unique_keys struct) in a single
    groupBy, cached at |segments| rows) and derive their global
    comparison points FROM that base (global ratio = Σ non-null /
    Σ rows; global latest = max of segment maxes — integer/max
    algebra, bit-identical to the standalone operators' full-scan
    averages), instead of calling completeness_by_group +
    freshness_by_group + dup_rate_by_group, which would cost extra
    source scans and global aggregates (uniqueness folded in r16: the
    distinct count plans as a two-phase aggregate over the SAME scan,
    and count(distinct struct(keys)) counts NULL key values exactly
    like dup_rate_by_group's groupBy). PSI/KS need their own
    cur-vs-ref shapes, so those still delegate to their operators."""
    if (psi_cols or ks_col) and ref is None:
        raise ValueError(
            "segment_health_report: psi_cols/ks_col need a ref frame"
        )
    if not any([completeness_cols, ts_col, unique_keys, psi_cols, ks_col]):
        raise ValueError("segment_health_report: no sections requested")
    from ..plans.cache import pin

    used = [group_col]
    for cols in (completeness_cols, unique_keys, psi_cols):
        used += cols or []
    if ts_col:
        used.append(ts_col)
    if ks_col:
        used.append(ks_col)
    cur_cols = list(dict.fromkeys(c for c in used if c in cur.columns))
    cur = pin(cur.select(*cur_cols))
    if ref is not None:
        ref_used = [group_col] + (psi_cols or [])
        if ks_col:
            ref_used.append(ks_col)
        ref_cols = list(dict.fromkeys(
            c for c in ref_used if c in ref.columns
        ))
        ref = pin(ref.select(*ref_cols))
    seg = F.col(group_col).cast("string")
    parts: list[DataFrame] = []

    base = glob = None
    if completeness_cols or ts_col is not None or unique_keys:
        # ONE per-segment pass for completeness + freshness +
        # uniqueness: counts are integers, max is max, and the
        # duplicate ratio needs only (rows, distinct keys) per segment,
        # so all three sections derive exactly from one groupBy — no
        # second scan, no global agg over the source. (r16: uniqueness
        # folded in per the r15 verdict — count(distinct struct(keys))
        # matches dup_rate_by_group's groupBy semantics bit-for-bit,
        # NULL key values included, because a struct is never NULL.)
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in completeness_cols or []:
            aggs.append(
                F.sum(F.col(c).isNotNull().cast("long")).alias(f"_nn_{c}")
            )
        if ts_col is not None:
            # normalize to epoch-seconds doubles AT THE AGGREGATE:
            # DATE and parquet's TIMESTAMP_NTZ cannot cast straight to
            # double (the dq_zorder gotcha), but every temporal type
            # casts to TIMESTAMP, and timestamp->double is epoch
            # seconds — identity for an already-timestamp column under
            # the UTC session TZ
            aggs.append(
                F.max(
                    F.col(ts_col).cast("timestamp").cast("double")
                ).alias("_latest")
            )
        if unique_keys:
            aggs.append(
                F.count_distinct(
                    F.struct(*[F.col(k) for k in unique_keys])
                ).alias("_nd")
            )
        # pin, not localCheckpoint: base is a plain groupBy with no
        # load-bearing partition identity, so the lazy persist gives the
        # same single-materialization guarantee while keeping lineage (a
        # lost executor recomputes instead of failing) and not firing an
        # eager job at report-CONSTRUCTION time
        base = pin(cur.groupBy(group_col).agg(*aggs))
        # ONE 1-row global frame serves both sections (fused sums +
        # max over the checkpointed base instead of one single-
        # partition aggregate per section); uniqueness is per-segment
        # only and needs no global point
        gaggs = []
        if completeness_cols:
            gaggs.append(F.sum("_n").alias("_gn"))
            gaggs += [
                F.sum(f"_nn_{c}").alias(f"_g_{c}")
                for c in completeness_cols
            ]
        if ts_col is not None:
            gaggs.append(F.max("_latest").alias("_gts"))
        if gaggs:
            glob = base.agg(*gaggs)

    if base is not None:
        # completeness + freshness rows come out of ONE crossJoin +
        # explode over the shared (base x glob) frame — one consumer of
        # the 1-row global aggregate instead of one crossJoin (and one
        # duplicated SinglePartition agg subtree) per section
        row_structs = []
        for c in completeness_cols or []:
            lift = F.round(
                F.col(f"_nn_{c}") / F.col("_n")
                - F.col(f"_g_{c}") / F.col("_gn"),
                DIGITS,
            )
            row_structs.append(
                F.struct(
                    F.lit("completeness").alias("check"),
                    F.lit(c).alias("column"),
                    lift.alias("value"),
                    F.lit(-float(completeness_tolerance)).alias("threshold"),
                    (lift < -float(completeness_tolerance)).alias("flag"),
                )
            )
        if ts_col is not None:
            # _latest/_gts are already epoch-second doubles (see the
            # base aggregate)
            lag = F.col("_gts") - F.col("_latest")
            row_structs.append(
                F.struct(
                    F.lit("freshness").alias("check"),
                    F.lit(ts_col).alias("column"),
                    F.round(lag, DIGITS).alias("value"),
                    F.lit(float(stale_after_seconds)).alias("threshold"),
                    (lag > stale_after_seconds).alias("flag"),
                )
            )
        if unique_keys:
            # same arithmetic as operators/uniqueness.dup_rate_by_group
            # (pinned by test_segment_health_constituent_parity, NULL
            # keys and the NULL segment included: a struct of NULL keys
            # is one distinct non-NULL value, as in that groupBy), read
            # off the shared base instead of a second two-level
            # aggregation pass over the source
            dup = F.round(
                F.lit(1.0) - F.col("_nd") / F.col("_n"), DIGITS
            )
            row_structs.append(
                F.struct(
                    F.lit("uniqueness").alias("check"),
                    F.lit(",".join(unique_keys)).alias("column"),
                    dup.alias("value"),
                    F.lit(float(dup_tolerance)).alias("threshold"),
                    (dup > float(dup_tolerance)).alias("flag"),
                )
            )
        fused = (
            base.crossJoin(F.broadcast(glob)) if glob is not None else base
        )
        parts.append(
            fused
            .select(
                seg.alias("segment"),
                F.explode(F.array(*row_structs)).alias("_r"),
            )
            .select(
                "segment",
                F.col("_r.check").alias("check"),
                F.col("_r.column").alias("column"),
                F.col("_r.value").alias("value"),
                F.col("_r.threshold").alias("threshold"),
                F.col("_r.flag").alias("flag"),
            )
        )

    if psi_cols:
        from ..operators.drift import psi_by_group

        psi = psi_by_group(
            cur, ref, psi_cols, group_col,
            threshold=psi_threshold, sort=False,
        )
        parts.append(
            psi.select(
                F.col("grp").alias("segment"),
                F.lit("psi").alias("check"),
                F.col("column"),
                F.col("psi").alias("value"),
                F.lit(float(psi_threshold)).alias("threshold"),
                F.col("drifted").alias("flag"),
            )
        )

    if ks_col is not None:
        from ..operators.drift import ks_by_group

        ks = ks_by_group(cur, ref, ks_col, group_col, sort=False)
        parts.append(
            ks.select(
                F.col("grp").alias("segment"),
                F.lit("ks").alias("check"),
                F.lit(ks_col).alias("column"),
                F.col("ks").alias("value"),
                F.lit(float(ks_threshold)).alias("threshold"),
                (F.col("ks") > float(ks_threshold)).alias("flag"),
            )
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(
        F.col("segment").asc_nulls_first(), "check", "column"
    )
