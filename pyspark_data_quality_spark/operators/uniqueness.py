"""Uniqueness rules: distinct-ratio metric, dedup valid set, duplicate-group
diagnostics.

Parity target: reference ``checks/uniqueness/unique_chek.py:78-127``:
- ``valid`` = ``dropDuplicates(cols)`` within scope (:meth:`deduplicated`);
- ``invalid`` = duplicate key groups with multiplicities
  (schema-changing: ``cols + count``) (:meth:`group_diagnostics`);
- ``metric_results`` was *broken* in the reference (copy-pasted completeness
  math then ``Row.filter`` AttributeError at ``unique_chek.py:96``, dimension
  mislabeled "completeness" at ``unique_chek.py:52-53``). Implemented here as
  intended: distinct ratio = distinct(keys)/count per scope, dimension
  UNIQUENESS.

Scale: distinct counting defaults to a DataSketches HLL sketch
(``functions/expr.approx_distinct``: ``hll_sketch_agg`` over one
``xxhash64`` per row, lgConfigK 14 at the default rsd 0.01) — single
pass, fixed memory, mergeable, the correct choice at 100 TB where exact
count_distinct triggers an Expand + giant shuffle. The sketch is one
binary aggregate buffer; Spark's HLL++ (``approx_count_distinct``) at
the same rsd carries 1,639 long buffer attributes and costs ~0.3 s of
CPU per map task regardless of the task's row count (docs/SCALE.md).
NULL-bearing keys and out-of-scope rows are not counted, the SQL
``COUNT(DISTINCT a, b)`` semantics of the exact path. ``exact=True``
opts into exact counting (used by the DuckDB-oracle queries at test
scale).

The row-level notion of uniqueness ("this row's key appears exactly once")
cannot ride a plain filter — it needs a per-key count. ``row_predicate``
therefore returns None; the valid/invalid split treats uniqueness via
:meth:`deduplicated` / :meth:`group_diagnostics`, keeping row classification
separate from group diagnostics (SURVEY.md §7 hard-part (b)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.enums import Dimension
from ..core.models import MetricResult
from ..functions.expr import approx_distinct, hll_lg_k
from ..plans.compile import ident
from .base import Rule, RunContext


class UniqueRule(Rule):
    """Distinct-ratio uniqueness over key columns."""

    dimension = Dimension.UNIQUENESS
    metric_name = "unique_ratio"
    #: row_violation is a window expression over the FULL frame — it can't
    #: be a WHERE predicate and must not see a pre-filtered input
    #: (ResultObj dispatches on this).
    violation_is_analytic = True

    def __init__(self, *, exact: bool = False, rsd: float = 0.01, **kw):
        super().__init__(**kw)
        self.exact = exact
        self.rsd = rsd
        #: sketch size for the approx path; raises on an unsupported rsd
        self.lg_k = None if exact else hll_lg_k(rsd)

    def aggregates(self) -> dict[str, str]:
        scope = self.scope()
        if self.exact:
            keys = ", ".join(
                f"CASE WHEN ({scope}) THEN {ident(c)} END" for c in self.columns
            )
            distinct = f"count(DISTINCT {keys})"
        else:
            # HLL sketch: mergeable, no Expand, bounded memory at any scale.
            distinct = approx_distinct(self.columns, self.rsd, scope)
        total = f"count(CASE WHEN ({scope}) THEN 1 END)"
        return {"distinct": distinct, "total": total}

    def metrics(self, slots: dict[str, object], ctx: RunContext) -> list[MetricResult]:
        distinct = slots.get("distinct")
        total = slots.get("total")
        ratio = None
        if distinct is not None and total:
            ratio = min(float(distinct) / float(total), 1.0)
        status = self._status(ratio)
        return [
            self._metric(
                ctx,
                column=",".join(self.columns),
                value=ratio,
                status=status,
                message=(
                    f"{status.value}: distinct ratio "
                    f"{'n/a' if ratio is None else f'{ratio:.6f}'} "
                    f"vs threshold {self.threshold}"
                ),
                extra={
                    "distinct": str(distinct),
                    "total": str(total),
                    "estimator": (
                        "exact" if self.exact
                        else f"hll_sketch(lgk={self.lg_k},rsd={self.rsd})"
                    ),
                },
            )
        ]

    # -- row-set surfaces (reference `valid` / `invalid`) -------------------

    def row_violation(self) -> str:
        """A row violates uniqueness iff it is in scope and its key occurs
        more than once among in-scope rows. One window count = one hash
        shuffle on the key columns (shared by all rows, AQE-skew-aware);
        this is the unavoidable cost of row-level uniqueness classification."""
        scope = self.scope()
        keys = ", ".join(ident(c) for c in self.columns)
        return (
            f"({scope}) AND "
            f"(sum(CAST(({scope}) AS BIGINT)) OVER (PARTITION BY {keys}) > 1)"
        )

    def transform_valid(self, df: DataFrame) -> DataFrame:
        """Reference-style dedup for `get_deduplicated_df`: keep one survivor
        per key among in-scope rows; out-of-scope rows pass through.
        ``df`` carries this rule's markers (``prepare``)."""
        if self.condition is None:
            return df.dropDuplicates(self.columns)
        scope = self.scope()
        return df.filter(f"NOT ({scope})").unionByName(
            df.filter(scope).dropDuplicates(self.columns)
        )

    def _in_scope(self, df: DataFrame) -> DataFrame:
        """``df``'s in-scope rows, this rule's markers bound."""
        return self.prepare(df).filter(self.scope())

    def deduplicated(
        self, df: DataFrame, order_by: list[str] | None = None
    ) -> DataFrame:
        """One surviving row per key within scope (reference `valid`,
        ``unique_chek.py:78-82``).

        Default: ``dropDuplicates`` — hash-aggregate dedup, one shuffle on
        the key columns, AQE handles skew, but the survivor is whichever
        row the aggregate sees first (nondeterministic across runs, as in
        the reference). Pass ``order_by`` for a DETERMINISTIC survivor: the
        first row per key under that ordering (nulls first), via one
        row_number window — same single shuffle on the keys, plus a
        partition sort."""
        scoped = self._in_scope(df)
        if order_by is None:
            out = scoped.dropDuplicates(self.columns)
        else:
            from pyspark.sql.window import Window

            w = Window.partitionBy(*[F.col(ident(c)) for c in self.columns]).orderBy(
                *[F.col(ident(c)).asc_nulls_first() for c in order_by]
            )
            out = (
                scoped.withColumn("_dq_rn", F.row_number().over(w))
                .filter(F.col("_dq_rn") == 1)
                .drop("_dq_rn")
            )
        markers = self.markers()
        return out.drop(*markers) if markers else out

    def group_diagnostics(self, df: DataFrame) -> DataFrame:
        """Duplicate key groups with multiplicities (reference `invalid`,
        ``unique_chek.py:84-87``): ``cols + count`` where count > 1.
        Partial (map-side) aggregation shrinks the shuffle to distinct keys."""
        return (
            self._in_scope(df)
            .groupBy(*[F.col(ident(c)) for c in self.columns])
            .agg(F.count(F.lit(1)).alias("count"))
            .filter(F.col("count") > 1)
        )


def dup_rate_by_group(
    df: DataFrame,
    key_cols: list[str],
    group_cols: list[str],
    *,
    round_to: int = 6,
    sort: bool = True,
) -> DataFrame:
    """Per-segment duplicate rate of ``key_cols``: one row per group
    with ``(n_rows, n_distinct, dup_ratio)`` where ``dup_ratio =
    1 - n_distinct / n_rows`` — the segment-level face of the
    UniqueCheck family ("which SOURCE is double-sending?"), completing
    the per-segment quartet (completeness / freshness / drift /
    uniqueness).

    Shape: one two-level aggregation — distinct (group, key) first
    (map-side combine collapses duplicate keys before the shuffle),
    then a bounded per-group count — so the shuffle carries distinct
    keys, never repeated payloads. NULL group keys and NULL key values
    group like any other value (groupBy semantics), matching the
    framework's NULL-is-an-identity convention. ``sort=False`` skips
    the final global sort for composites that re-sort the union
    themselves (pipelines/segment_health.py).
    """
    if not key_cols or not group_cols:
        raise ValueError(
            "dup_rate_by_group: key_cols and group_cols must be non-empty"
        )
    per = df.groupBy(
        *group_cols, *[F.col(k).alias(f"_k_{k}") for k in key_cols]
    ).agg(F.count(F.lit(1)).alias("_n"))
    out = (
        per.groupBy(*group_cols)
        .agg(
            F.sum("_n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .withColumn(
            "dup_ratio",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_rows"), round_to
            ),
        )
    )
    if not sort:
        return out
    return out.orderBy(*[F.col(c).asc_nulls_first() for c in group_cols])
