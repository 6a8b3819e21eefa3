"""Referential-consistency rule: FK membership against a reference table.

The reference framework had no cross-table rule at all (every check was
single-table, ``checks/base_check.py``); FIXTURES.md §B names FK checks as
the primary DQ use of the ``region``/``nation`` dims. Semantics follow SQL
``EXISTS``: a row passes iff its FK tuple appears in the reference's key
set (NULL FK fails by default — no three-valued NOT IN surprises;
``ignore_nulls=True`` treats NULL FKs as out of scope, i.e. passing, with
completeness left to a completeness rule).

Scale design: the membership test is an IN-subquery probe against the
(by default broadcast) reference key set, which Spark plans as a
broadcast hash EXISTENCE join — zero shuffle of the fact table, stacked
into the same stage as the scan and the fused aggregate. An existence
join emits each fact row once however often its key repeats in the
reference, so the reference is neither deduplicated nor shuffled. For
reference tables too big to broadcast, pass ``broadcast=False`` to let
the planner pick (a shuffle join when the reference exceeds
``spark.sql.autoBroadcastJoinThreshold``). The probe adds ONE boolean
marker column consumed by the standard predicate machinery, so FK rules
compose with every other rule in the single fused pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..core.enums import Dimension
from ..core.errors import RuleConfigurationError
from ..core.models import MetricResult
from ..functions.expr import DIGITS
from ..plans.compile import ident, null_safe_sql, or_sql, ratio_sql, require_columns
from ..plans.local import local_frame
from .base import Rule, RunContext


class ReferentialIntegrityRule(Rule):
    dimension = Dimension.CONSISTENCY
    metric_name = "referential_integrity"

    def __init__(
        self,
        *,
        columns: list[str],
        ref_df: DataFrame,
        ref_columns: list[str] | None = None,
        ignore_nulls: bool = False,
        broadcast: bool = True,
        **kw,
    ):
        kw.setdefault("threshold", 1.0)
        super().__init__(columns=columns, **kw)
        if not self.columns:
            raise RuleConfigurationError(
                "ReferentialIntegrityRule requires FK columns"
            )
        self.ref_columns = list(ref_columns or self.columns)
        if len(self.ref_columns) != len(self.columns):
            raise RuleConfigurationError(
                "columns and ref_columns must have equal length"
            )
        self.ref_df = ref_df
        self.ignore_nulls = ignore_nulls
        self.broadcast = broadcast
        self.name = kw.get("name") or f"fk({','.join(self.columns)})"
        self._marker = self._marker_name("ok")

    # -- spec surface ------------------------------------------------------

    def validate(self, columns: list[str]) -> None:
        """Also checks the reference columns (the reference frame's
        schema is read once per frame)."""
        super().validate(columns)
        require_columns(self.ref_df, self.ref_columns)

    def markers(self) -> list[str]:
        return [*super().markers(), self._marker]

    def prepare(self, df: DataFrame) -> DataFrame:
        """Add one boolean marker column: an IN-subquery probe of the FK
        tuple against the reference key set (a struct probe for
        composite keys). Spark plans it as an existence join, which
        marks each fact row once whatever the reference's key
        multiplicity, so no dedup shuffle is needed. The struct is split
        into per-column join keys, so a NULL in any part of a key never
        matches, as with a column-wise ``=`` join. ``row_predicate``
        counts a NULL marker as a failure."""
        df = super().prepare(df)
        ref = self.ref_df.selectExpr(*[ident(c) for c in self.ref_columns])
        if self.broadcast:
            ref = F.broadcast(ref)
        # a struct built by F.struct: the IN-subquery splits it into
        # per-column join keys, where SQL text's struct() stays one value
        keys = [F.expr(ident(c)) for c in self.columns]
        probe = keys[0] if len(keys) == 1 else F.struct(*keys)
        return df.withColumn(self._marker, probe.isin(ref))

    def row_predicate(self) -> str:
        ok = null_safe_sql(ident(self._marker))
        if self.ignore_nulls:
            any_null = or_sql([f"{ident(c)} IS NULL" for c in self.columns])
            return f"CASE WHEN ({any_null}) THEN true ELSE {ok} END"
        return ok

    def aggregates(self) -> dict[str, str]:
        return {"ratio": ratio_sql(self.scope(), self.row_predicate())}

    def metrics(self, slots: dict[str, object], ctx: RunContext) -> list[MetricResult]:
        v = slots.get("ratio")
        ratio = None if v is None else float(v)
        status = self._status(ratio)
        return [
            self._metric(
                ctx,
                column=",".join(self.columns),
                value=ratio,
                status=status,
                message=(
                    f"{status.value}: FK match ratio "
                    f"{'n/a' if ratio is None else f'{ratio:.6f}'} "
                    f"vs threshold {self.threshold}"
                ),
                extra={
                    "ref_columns": ",".join(self.ref_columns),
                    "ignore_nulls": str(self.ignore_nulls),
                },
            )
        ]

    # -- diagnostics -------------------------------------------------------

    def orphan_keys(self, df: DataFrame) -> DataFrame:
        """Distinct violating FK tuples with multiplicities (group-level
        diagnostic, one extra job when asked for)."""
        return (
            self.prepare(df)
            .filter(f"({self.scope()}) AND (NOT {null_safe_sql(ident(self._marker))})")
            .groupBy(*[F.col(ident(c)) for c in self.columns])
            .agg(F.count(F.lit(1)).alias("count"))
        )


def fd_violations(
    df, determinant: list[str], dependent: str, *, max_examples: int = 5
):
    """Functional-dependency check: groups where ``determinant -> dependent``
    is violated (one determinant value maps to >1 distinct dependent
    values) — schema-discovery-style consistency auditing (e.g. "zip ->
    city", "order -> customer"). One groupBy on the determinant; example
    values are capped via slice so a pathological group can't balloon
    the report row. Output: determinant cols, n_rows, n_distinct,
    examples (sorted, capped)."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(*determinant)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col(dependent)).alias("n_distinct"),
            F.slice(
                F.array_sort(F.array_distinct(F.collect_list(dependent))),
                1,
                max_examples,
            ).alias("examples"),
        )
        .filter(F.col("n_distinct") > 1)
    )


def sequence_gaps(
    df: DataFrame,
    seq_col: str,
    group_cols: list[str] | None = None,
    *,
    step: int = 1,
) -> DataFrame:
    """Find holes in a sequence column that should advance by ``step``
    within each group — missing line numbers, skipped event ids, dropped
    file parts. Output one row per hole: the group columns,
    ``gap_after`` (last value before the hole), ``gap_before`` (next
    value present) and ``n_missing``.

    Scale shape: ``lag`` over a window PARTITIONED by the group columns —
    state per task is one row, the shuffle is the one keyed exchange any
    per-group scan needs. With no ``group_cols`` the window degenerates to
    a single task; pass a grouping (or shard the id space into one) for
    global sequences at scale.
    """
    gs = group_cols or []
    w = Window.partitionBy(*gs).orderBy(F.col("_v").asc())
    return (
        df.filter(F.col(seq_col).isNotNull())
        .select(*gs, F.col(seq_col).alias("_v"))
        .withColumn("_prev", F.lag("_v").over(w))
        .filter(F.col("_prev").isNotNull() & (F.col("_v") - F.col("_prev") > step))
        .select(
            *gs,
            F.col("_prev").alias("gap_after"),
            F.col("_v").alias("gap_before"),
            ((F.col("_v") - F.col("_prev")) / step - 1)
            .cast("long")
            .alias("n_missing"),
        )
    )


def sequence_completeness(
    df: DataFrame,
    seq_col: str,
    group_cols: list[str] | None = None,
    *,
    step: int = 1,
) -> DataFrame:
    """Per-group sequence coverage without any window: ``n_expected`` =
    (max - min) / step + 1 from the group's own bounds, ``n_actual`` =
    distinct values present, ``n_missing`` = the difference. One groupBy
    — the cheap first-pass screen before :func:`sequence_gaps` pinpoints
    the holes.
    """
    gs = group_cols or []
    v = F.col(seq_col)
    agged = (
        df.filter(v.isNotNull())
        .groupBy(*gs)
        .agg(
            F.min(v).alias("_mn"),
            F.max(v).alias("_mx"),
            F.count_distinct(v).alias("n_actual"),
        )
    )
    n_expected = (
        ((F.col("_mx") - F.col("_mn")) / F.lit(step) + 1).cast("long")
    )
    return agged.select(
        *gs,
        n_expected.alias("n_expected"),
        F.col("n_actual"),
        (n_expected - F.col("n_actual")).alias("n_missing"),
    )


def monotonicity_report(
    df: DataFrame,
    order_col: str,
    value_col: str,
    *,
    group_cols: list[str],
    direction: str = "nondecreasing",
) -> DataFrame:
    """Per-group order audit: does ``value_col`` move monotonically when
    the group's rows are sorted by ``order_col``? The consistency check
    for sequence-shaped data (balances over time, cumulative counters,
    versioned snapshots) where a single out-of-order value means lost or
    duplicated updates upstream.

    One keyed lag window (state = one previous row per group) + one
    keyed agg. Ties in ``order_col`` within a group would make lag
    nondeterministic, so ties break on ``value_col`` — a group with
    equal order keys is audited in its most favorable arrangement,
    which only UNDER-counts violations for exact ties. NULL values
    never count as violations.

    Output: group cols + (n_rows, n_violations, violation_rate,
    is_monotonic), sorted by group.
    """
    if direction not in ("nondecreasing", "nonincreasing"):
        raise ValueError(
            f"monotonicity_report: unknown direction {direction!r}"
        )
    if not group_cols:
        raise ValueError(
            "monotonicity_report: group_cols is required — an "
            "unpartitioned lag window funnels the table through one task"
        )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(order_col), F.col(value_col)
    )
    prev = F.lag(value_col).over(w)
    viol = (
        (F.col(value_col) < prev)
        if direction == "nondecreasing"
        else (F.col(value_col) > prev)
    )
    flagged = df.withColumn(
        "_viol",
        F.when(
            prev.isNotNull() & F.col(value_col).isNotNull(), viol
        ).otherwise(F.lit(False)),
    )
    return (
        flagged.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_viol").cast("int")).alias("n_violations"),
        )
        .select(
            *group_cols,
            "n_rows",
            "n_violations",
            F.round(
                F.try_divide(F.col("n_violations"), F.col("n_rows") - 1),
                DIGITS,
            ).alias("violation_rate"),
            (F.col("n_violations") == 0).alias("is_monotonic"),
        )
        .orderBy(*group_cols)
    )


def null_runs(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    group_cols: list[str] | None = None,
    *,
    min_length: int = 1,
) -> DataFrame:
    """Missing-data ISLANDS in an ordered series: each maximal run of
    consecutive NULL ``value_col`` rows, per group — "the sensor was
    dark from 02:10 to 04:55 (33 samples)". The per-hole counterpart to
    :func:`sequence_gaps` (which finds missing ROWS; this finds present
    rows with missing VALUES — a run of them is an outage, not random
    attrition, and imputation treats the two very differently).

    One row per run: ``(*group_cols, run_start..., run_end...,
    run_length)`` where run_start/run_end carry the first/last
    ``order_cols`` values of the run.

    Gap-and-islands shape: two keyed row_number windows (all rows vs
    null rows — their difference is constant within a run), one groupBy
    on the island id. Both windows partition by ``group_cols``: scale
    requires keyed series (the single-series case is documented
    single-task, same caveat as sequence_gaps). ``order_cols`` must be a
    total order within each group or run boundaries are ambiguous.
    """
    if not order_cols:
        raise ValueError("null_runs: order_cols must be non-empty")
    keys = list(group_cols or [])
    order = [F.col(c).asc() for c in order_cols]
    w_all = Window.partitionBy(*keys).orderBy(*order)
    nulls = (
        df.select(*keys, *order_cols, F.col(value_col).alias("_v"))
        .withColumn("_rn", F.row_number().over(w_all))
        .filter(F.col("_v").isNull())
    )
    w_null = Window.partitionBy(*keys).orderBy(*order)
    runs = nulls.withColumn(
        "_island", F.col("_rn") - F.row_number().over(w_null)
    )
    first_cols = [
        F.min(F.struct(*[F.col(c) for c in order_cols])).alias("_lo")
    ]
    last_cols = [
        F.max(F.struct(*[F.col(c) for c in order_cols])).alias("_hi")
    ]
    out = (
        runs.groupBy(*keys, "_island")
        .agg(
            F.count(F.lit(1)).alias("run_length"),
            *first_cols,
            *last_cols,
        )
        .filter(F.col("run_length") >= min_length)
        .select(
            *keys,
            *[
                F.col(f"_lo.{c}").alias(f"start_{c}")
                for c in order_cols
            ],
            *[
                F.col(f"_hi.{c}").alias(f"end_{c}")
                for c in order_cols
            ],
            "run_length",
        )
        .orderBy(*keys, *[f"start_{c}" for c in order_cols])
    )
    return out


def _sweep_double(c: Column, dtype: str) -> Column:
    """Numeric sweep domain for interval endpoints — timestamps/dates ->
    epoch seconds (NTZ included: identity under the UTC session TZ),
    anything else -> double. THE shared conversion for every interval
    sweep in this module (interval_overlaps / merge_intervals /
    scd_chain_audit), hoisted so the sweep domain can never silently
    diverge between them."""
    if dtype.startswith(("timestamp", "date")):
        return c.cast("timestamp").cast("double")
    return c.cast("double")


def interval_overlaps(
    df: DataFrame,
    start_col: str,
    end_col: str,
    *,
    group_cols: list[str] | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Overlap audit for interval data — double-booked sessions,
    overlapping validity windows in an SCD table, colliding shifts: for
    each row, does its [start, end) interval intersect ANY
    earlier-starting interval of the same group?

    The classic O(n log n) sweep as ONE window pass (never a self range
    join): sort each group by (start, end), carry the running max of
    PRIOR ends; a row overlaps iff its start is below that running max.
    Adds ``prev_max_end`` (the sweep state — the latest end seen before
    this row, in the numeric sweep domain: epoch seconds for
    timestamp/date endpoints, the raw value otherwise), ``is_overlap``, ``overlap_amount`` (in the columns'
    native difference unit — seconds for timestamps, the numeric delta
    otherwise; 0 when disjoint), and ``is_invalid`` (end < start, or
    NULL endpoint — excluded from the sweep so one corrupt row doesn't
    poison the running max). Touching intervals (a.end == b.start) do
    NOT overlap (half-open semantics, the calendar convention).

    Scale shape: one shuffle keyed by the group, per-group linear scan —
    the same contract as sequence_gaps; at 100 TB the group key (user,
    resource, machine) shards the sort. An ungrouped call
    (``group_cols=None``) is a single-task global sort: fine for a
    dimension table, wrong for a fact table — pass the key.

    Determinism: the sweep orders by (start, end); rows FULLY tied on
    both get an unspecified relative order, and with duplicate
    intervals exactly one of each tied pair is flagged — WHICH one then
    varies run to run. Pass ``id_col`` (any unique column) to append a
    total-order tiebreaker and pin per-row flag assignment; the
    aggregate counts (how many rows overlap) are identical either way.
    """
    # guard the OUTPUT names this function adds via withColumn — they
    # would silently clobber same-named input columns (e.g. re-running
    # the audit on its own output, or an SCD table with its own
    # is_invalid flag); the sweep state itself is pure expressions and
    # reserves nothing
    clash = {
        "prev_max_end", "is_invalid", "is_overlap", "overlap_amount"
    } & set(df.columns)
    if clash:
        raise ValueError(
            f"interval_overlaps: output columns {sorted(clash)} already "
            "exist on df; rename them first"
        )
    s, e = F.col(start_col), F.col(end_col)
    is_invalid = s.isNull() | e.isNull() | (e < s)
    dtypes = dict(df.dtypes)
    sn = _sweep_double(s, dtypes[start_col])
    en = _sweep_double(e, dtypes[end_col])
    order = [sn.asc_nulls_last(), en.asc_nulls_last()]
    if id_col is not None:
        order.append(F.col(id_col).asc_nulls_last())
    w = (
        Window.partitionBy(*(group_cols or []))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    valid_end = F.when(~is_invalid, en)
    pme = F.max(valid_end).over(w)
    overlap = F.when(
        is_invalid, F.lit(None).cast("boolean")
    ).otherwise(pme.isNotNull() & (sn < pme))
    amount = F.when(
        F.coalesce(overlap, F.lit(False)), F.least(pme, en) - sn
    ).otherwise(F.lit(0.0))
    return (
        df.withColumn("prev_max_end", pme)
        .withColumn("is_invalid", is_invalid)
        .withColumn("is_overlap", F.coalesce(overlap, F.lit(False)))
        .withColumn("overlap_amount", amount)
    )


def merge_intervals(
    df: DataFrame,
    start_col: str,
    end_col: str,
    *,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Union of intervals per group — coalesce overlapping/touching
    [start, end) rows into maximal disjoint spans: machine uptime from
    overlapping job windows, total covered listening time, SCD validity
    coverage (and, by its gaps, the UNcovered time).

    The same one-window sweep as :func:`interval_overlaps`: per group
    sorted by (start, end), a row STARTS a new span iff its start is
    strictly above the running max of prior ends (touching intervals
    merge — half-open [a,b) + [b,c) covers [a,c) with no gap); the span
    id is the running count of span-starts, and one aggregation folds
    each span. Invalid rows (NULL endpoint, end < start) are EXCLUDED
    from the union entirely — audit them first with
    :func:`interval_overlaps`.

    Output: ``group_cols + (span_start, span_end, n_intervals,
    span_length)`` — span bounds in the columns' native type,
    ``span_length`` in the numeric sweep domain (epoch seconds for
    timestamp/date endpoints, the raw delta otherwise), one row per
    maximal span, ordered by group and span_start.

    Scale shape: one shuffle keyed by the group + a per-group linear
    scan, then a (group, span) aggregation — same contract as the
    overlap audit; an ungrouped call is a single-task global sort (fine
    for dimension-sized data, pass the key for facts).
    """
    clash = {
        "span_start", "span_end", "n_intervals", "span_length"
    } & set(df.columns)
    if clash:
        raise ValueError(
            f"merge_intervals: output columns {sorted(clash)} already "
            "exist on df; rename them first"
        )
    s, e = F.col(start_col), F.col(end_col)
    dtypes = dict(df.dtypes)
    sn = _sweep_double(s, dtypes[start_col])
    en = _sweep_double(e, dtypes[end_col])
    valid = df.filter(s.isNotNull() & e.isNotNull() & (e >= s))
    order = [sn.asc(), en.asc()]
    prior = (
        Window.partitionBy(*(group_cols or []))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    running = (
        Window.partitionBy(*(group_cols or []))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pme = F.max(en).over(prior)
    starts_span = F.when(pme.isNull() | (sn > pme), 1).otherwise(0)
    spans = valid.withColumn("_span", F.sum(starts_span).over(running))
    keys = [*(group_cols or []), "_span"]
    agg = (
        spans.groupBy(*keys)
        .agg(
            F.min(s).alias("span_start"),
            F.max(e).alias("span_end"),
            F.count(F.lit(1)).alias("n_intervals"),
            (F.max(en) - F.min(sn)).alias("span_length"),
        )
        .drop("_span")
    )
    return agg.orderBy(*(group_cols or []), "span_start")


def scd_chain_audit(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Slowly-changing-dimension (SCD2) validity-chain audit: one row
    per key summarizing whether its version history is a clean chain —
    the dimension-table health check behind "why does this customer
    have two current addresses?".

    Semantics per key, over [start, end) validity rows where a NULL
    ``end`` means the OPEN (current) version:

    - ``n_versions``: rows for the key;
    - ``n_current``: open rows (NULL end) — a clean chain has exactly
      one, a retired key zero;
    - ``n_invalid``: rows with NULL start or end < start (excluded from
      the sweep so one corrupt version doesn't poison the chain math);
    - ``n_overlaps``: rows whose start lies under the running max of
      prior ends (open end sweeps as +infinity — everything after an
      open version overlaps it);
    - ``n_gaps`` / ``gap_total``: uncovered holes between consecutive
      coverage spans (start strictly above every prior end), counted
      and summed in the numeric sweep domain (epoch seconds for
      timestamp/date endpoints);
    - ``chain_ok``: no invalid rows, no overlaps, no gaps, at most one
      current version.

    Counts are order-invariant under full (start, end) ties (a tied row
    can neither newly overlap nor open a gap relative to its twin), so
    the audit is deterministic with no tiebreaker — same argument as
    :func:`merge_intervals`.

    Scale shape: one shuffle keyed by the SCD key for the sweep window,
    then a same-key aggregation (Catalyst reuses the partitioning — no
    second exchange); output is one row per key. The sweep never
    self-joins.

    Reference parity: no temporal surface in the reference rule
    framework; extension alongside interval_overlaps / merge_intervals.
    """
    if not key_cols:
        raise ValueError(
            "scd_chain_audit: key_cols is required — an SCD chain is "
            "per-key by definition (an unkeyed call would funnel the "
            "whole table through one sweep task)"
        )
    out_cols = {
        "n_versions", "n_current", "n_invalid", "n_overlaps",
        "n_gaps", "gap_total", "chain_ok",
    } & set(df.columns)
    if out_cols:
        raise ValueError(
            f"scd_chain_audit: output columns {sorted(out_cols)} "
            "already exist on df; rename them first"
        )
    s, e = F.col(start_col), F.col(end_col)
    dtypes = dict(df.dtypes)
    sn = _sweep_double(s, dtypes[start_col])
    en = _sweep_double(e, dtypes[end_col])
    is_current = s.isNotNull() & e.isNull()
    is_invalid = s.isNull() | (e.isNotNull() & (e < s))
    # open versions sweep as +inf: anything after an open row overlaps
    en_sweep = F.when(is_current, F.lit(float("inf"))).otherwise(en)
    prior = (
        Window.partitionBy(*key_cols)
        .orderBy(sn.asc_nulls_last(), en_sweep.asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pme = F.max(F.when(~is_invalid, en_sweep)).over(prior)
    overlaps = F.when(is_invalid, None).otherwise(
        pme.isNotNull() & (sn < pme)
    )
    gap = F.when(
        ~is_invalid & pme.isNotNull() & (sn > pme), sn - pme
    )
    flagged = df.select(
        *key_cols,
        is_current.alias("_cur"),
        is_invalid.alias("_inv"),
        overlaps.alias("_ovl"),
        gap.alias("_gap"),
    )
    agg = flagged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.col("_cur").cast("long")).alias("n_current"),
        F.sum(F.col("_inv").cast("long")).alias("n_invalid"),
        F.sum(F.coalesce(F.col("_ovl"), F.lit(False)).cast("long"))
        .alias("n_overlaps"),
        F.count("_gap").alias("n_gaps"),
        F.round(F.coalesce(F.sum("_gap"), F.lit(0.0)), DIGITS)
        .alias("gap_total"),
    )
    return agg.withColumn(
        "chain_ok",
        (F.col("n_invalid") == 0)
        & (F.col("n_overlaps") == 0)
        & (F.col("n_gaps") == 0)
        & (F.col("n_current") <= 1),
    ).orderBy(*key_cols)


def implication_report(
    df: DataFrame,
    rules: list[tuple[str, str, str]],
) -> DataFrame:
    """Cross-field implication audit: for each rule
    ``(name, antecedent_sql, consequent_sql)``, how often does
    "IF antecedent THEN consequent" hold? The association-rule reading
    of a business constraint ("returned lines are final", "a shipped
    order has a ship date") — support, confidence and the violation
    count, which is what a DQ gate thresholds on.

    Output one row per rule: ``rule``, ``n_rows``, ``n_antecedent``
    (rows where the antecedent holds — NULL predicate results count as
    false, both sides), ``n_violations`` (antecedent true, consequent
    not), ``support`` (= n_antecedent/n_rows) and ``confidence``
    (= 1 - violations/antecedent; NULL when the antecedent never
    fires — an implication nobody triggers is unproven, not perfect).

    Scale shape: every rule compiles to two conditional-sum slots in
    ONE fused aggregation — one scan, one 1-row reduce for the whole
    rule list (the same fusion contract as the DQ rule engine,
    plans/analysis.py); the per-rule rows melt from that single row
    with typed literals.

    Reference parity: the reference rule framework has no cross-field
    conditional rule (single-column checks only,
    src/pyspark_data_quality/checks/); extension alongside
    fd_violations (the exact-functional special case).
    """
    if not rules:
        raise ValueError("implication_report: rules must be non-empty")
    names = [r[0] for r in rules]
    if len(set(names)) != len(names):
        raise ValueError("implication_report: rule names must be distinct")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, (_, ante, cons) in enumerate(rules):
        a = F.coalesce(F.expr(ante), F.lit(False))
        c = F.coalesce(F.expr(cons), F.lit(False))
        aggs.append(F.sum(a.cast("long")).alias(f"_a{i}"))
        aggs.append(F.sum((a & ~c).cast("long")).alias(f"_v{i}"))
    row = df.agg(*aggs)
    melted = F.array(*[
        F.struct(
            F.lit(name).alias("rule"),
            F.col("_n").alias("n_rows"),
            F.col(f"_a{i}").alias("n_antecedent"),
            F.col(f"_v{i}").alias("n_violations"),
        )
        for i, (name, _, _) in enumerate(rules)
    ])
    return (
        row.select(F.explode(melted).alias("_r"))
        .select("_r.*")
        .withColumn(
            "support",
            F.round(F.try_divide(F.col("n_antecedent"), F.col("n_rows")),
                    DIGITS),
        )
        .withColumn(
            "confidence",
            F.round(
                1.0
                - F.try_divide(F.col("n_violations"), F.col("n_antecedent")),
                DIGITS,
            ),
        )
        .orderBy("rule")
    )


def agreement_report(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Inter-rater agreement between two categorical label columns —
    Cohen's kappa (public: Cohen 1960), the standard chance-corrected
    score for "do two annotators / two heuristic gates / a model and
    its referee actually agree, beyond what their marginals force?".
    Raw accuracy flatters skewed labelers (two gates that both say
    'pass' 95% of the time agree 90%+ by luck alone); kappa subtracts
    that chance floor.

    One row: ``n_rows`` (non-NULL-pair rows), ``observed_agreement``
    p_o, ``expected_agreement`` p_e = Σ_c p_a(c)·p_b(c), and ``kappa``
    = (p_o − p_e) / (1 − p_e) (NULL when p_e = 1: both raters are
    constant and agreement is undefined, not perfect).

    Scale shape: the source is scanned ONCE — a single
    groupBy(a, b).count() collapses everything to the confusion matrix
    (≤ |domain|² rows, partial-agg'd map-side), which is
    ``localCheckpoint``-ed (this operator is EAGER, like
    triangle_counts) so p_o, both marginals and p_e all derive from
    the tiny materialized matrix; the three 1-row frames combine via
    the whitelisted constant-fan-out join. Rows where either side is
    NULL are excluded (an abstaining rater is not a disagreeing
    rater).

    Reference parity: no agreement surface in the reference; extension
    alongside implication_report (one-directional rules) — kappa is
    the symmetric "same verdict" counterpart.
    """
    require_columns(df, [col_a, col_b])
    cm = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .select(
            F.col(col_a).cast("string").alias("_a"),
            F.col(col_b).cast("string").alias("_b"),
        )
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint()
    )
    po = cm.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).alias("n_rows"),
        F.coalesce(
            F.sum(
                F.when(F.col("_a") == F.col("_b"), F.col("_c"))
                .otherwise(F.lit(0))
            ),
            F.lit(0),
        ).alias("_n_agree"),
    )
    ma = cm.groupBy(F.col("_a").alias("_cat")).agg(
        F.sum("_c").alias("_na")
    )
    mb = cm.groupBy(F.col("_b").alias("_cat")).agg(
        F.sum("_c").alias("_nb")
    )
    pe = ma.join(mb, "_cat").agg(
        F.sum(F.col("_na").cast("double") * F.col("_nb")).alias("_pe_num")
    )
    out = po.crossJoin(pe).select(
        "n_rows",
        F.round(F.try_divide(F.col("_n_agree"), F.col("n_rows")), DIGITS)
        .alias("observed_agreement"),
        F.try_divide(
            F.col("_pe_num"),
            F.col("n_rows").cast("double") * F.col("n_rows"),
        ).alias("_pe"),
        F.try_divide(F.col("_n_agree"), F.col("n_rows")).alias("_po"),
    )
    return out.select(
        "n_rows",
        "observed_agreement",
        F.round("_pe", DIGITS).alias("expected_agreement"),
        F.round(
            F.try_divide(F.col("_po") - F.col("_pe"), 1.0 - F.col("_pe")),
            DIGITS,
        ).alias("kappa"),
    )


def fd_confidence(
    df: DataFrame,
    pairs: list[tuple[str, str]],
) -> DataFrame:
    """Approximate functional-dependency DISCOVERY over a family of
    candidate column pairs: for each ``(determinant, dependent)`` pair,
    the g3-style confidence ``sum_x max_y n(x, y) / N`` — the fraction
    of rows that would survive if every determinant group kept only its
    majority dependent value. ``confidence = 1.0`` means the FD holds
    exactly; 0.98 means it holds except for ~2% dirty rows — the
    discovery signal :func:`fd_violations` (which audits ONE known FD
    in detail) cannot give across a schema.

    One row per pair: ``(determinant, dependent, n_rows, n_classes,
    n_violating_classes, n_violating_rows, confidence, holds)``.

    Scale shape: every pair rides ONE exploded tagged aggregation —
    rows fan out x len(pairs) into ``(pair, det_value, dep_value)``
    records and a single map-side-combined groupBy collapses them;
    two further aggregations run over the (already tiny) group tables.
    No per-pair jobs: testing 40 candidate pairs costs one shuffle of
    40x the row count, not 40 scans. Values compare on their STRING
    image (the uniform type the single shuffle needs); NULL is a real
    group on both sides — a determinant group whose dependent is
    consistently NULL counts as agreeing, mixed NULL/value counts as
    violating.
    """
    if not pairs:
        raise ValueError("fd_confidence: pairs must be non-empty")

    exploded = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_pid"),
                        F.col(a).cast("string").alias("_det"),
                        F.col(b).cast("string").alias("_dep"),
                    )
                    for i, (a, b) in enumerate(pairs)
                ]
            )
        ).alias("_e")
    ).select("_e.*")
    counts = exploded.groupBy("_pid", "_det", "_dep").agg(
        F.count(F.lit(1)).alias("_c")
    )
    groups = counts.groupBy("_pid", "_det").agg(
        F.max("_c").alias("_mx"),
        F.sum("_c").alias("_n"),
        F.count(F.lit(1)).alias("_nd"),
    )
    per_pair = groups.groupBy("_pid").agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum((F.col("_nd") > 1).cast("long")).alias("n_violating_classes"),
        (F.sum("_n") - F.sum("_mx")).cast("long").alias("n_violating_rows"),
        F.round(
            F.coalesce(
                F.try_divide(F.sum("_mx"), F.sum("_n")), F.lit(1.0)
            ),
            DIGITS,
        ).alias("confidence"),
    )
    spine = local_frame(
        df.sparkSession,
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "_pid int, determinant string, dependent string",
    )
    # broadcast the RIGHT side: a left-outer BroadcastHashJoin can only
    # build right, so the old hint on the spine was unusable and the
    # planner fell back to a SortMergeJoin of two one-row-per-pair
    # frames (r15-opt). per_pair is <= len(pairs) aggregated rows, but
    # its size estimate is its input's (data-scale), so it needs the
    # hint; the spine is a local relation with exact stats.
    return (
        spine
        .join(F.broadcast(per_pair), "_pid", "left")
        .select(
            "determinant",
            "dependent",
            # an empty input yields no groups at all: report 0 rows,
            # confidence 1 (vacuously holds), never a dropped pair
            F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
            F.coalesce("n_classes", F.lit(0)).cast("long").alias("n_classes"),
            F.coalesce("n_violating_classes", F.lit(0))
            .cast("long")
            .alias("n_violating_classes"),
            F.coalesce("n_violating_rows", F.lit(0))
            .cast("long")
            .alias("n_violating_rows"),
            F.coalesce("confidence", F.lit(1.0)).alias("confidence"),
            (F.coalesce("n_violating_rows", F.lit(0)) == 0).alias("holds"),
        )
    )
