"""Declarative rule base class.

A rule is a *spec*, not an executor: it contributes
  (a) a boolean row predicate (for the valid/invalid split),
  (b) aggregate expressions (for the fused single-pass metrics job),
  (c) a translator from the fused-agg result row into MetricResult rows,
  (d) optionally a group-level diagnostic DataFrame (e.g. duplicate groups).

Spec contract: (a) and (b), and the scope, violation and scoped-pass
predicates derived from them, are Spark SQL TEXT built from the rule's
own config (``plans/compile``: identifiers quoted by ``ident``, values
typed by ``sql_literal``) — no DataFrame argument, no JVM call. A run
(``ResultObj``) compiles them once: one ``selectExpr`` for every
aggregate, one ``F.expr`` for the annotation, one ``filter(text)`` per
split side. A ``Column`` or callable condition (or ``PredicateRule``
predicate) is not text: ``prepare`` binds it once as a boolean
:data:`MARKER_PREFIX` column, the way the FK rule binds its membership
marker, and the text names that column. Constructing a rule never
calls the JVM.

This replaces the reference's ``AbstractCheck``/``BaseCheck``
(``checks/base_check.py:9-120``), whose design ran one-or-more Spark
actions *per check* and shared a process-global count cache
(``base_check.py:62-68``). Here no rule ever triggers an action; the
:class:`~pyspark_data_quality_spark.plans.analysis.AnalysisRunner` fuses all
rules' aggregates into ONE job regardless of rule count — at 100 TB the
difference between N full scans and 1 is the whole game.
"""

from __future__ import annotations

import itertools
from typing import Optional

from pyspark.sql import DataFrame

from ..core.enums import CheckStatus, Dimension, SeverityLevel
from ..core.models import MetricResult
from ..plans.compile import (
    ConditionLike,
    bind_condition,
    condition_sql,
    needs_marker,
    null_safe_sql,
    require_columns,
)

_rule_counter = itertools.count()

#: Prefix for internal helper columns a rule's ``prepare`` may add to the
#: input frame (e.g. FK-membership markers). ResultObj strips them from
#: every user-facing output.
MARKER_PREFIX = "_dq_"


class Rule:
    """Base declarative rule.

    Parameters mirror the reference's check identity metadata
    (``base_check.py:43-60``): dataset, run_id, metric_name, severity,
    input columns, threshold, dimension, optional scope condition.
    """

    dimension: Dimension = Dimension.VALIDITY
    metric_name: str = "rule"

    def __init__(
        self,
        *,
        columns: list[str] | None = None,
        threshold: float = 1.0,
        condition: ConditionLike = None,
        severity_level: SeverityLevel | None = None,
        dataset: str = "",
        run_id: str = "",
        name: str | None = None,
    ):
        self.columns = list(columns or [])
        self.threshold = float(threshold)
        needs_marker(condition)  # an unsupported type raises here
        self.condition = condition
        # None = "not set explicitly": the metric build falls back to
        # the run's default (RunContext.severity_level), then MEDIUM
        self.severity_level = severity_level
        self.dataset = dataset
        self.run_id = run_id
        # Unique id used to namespace this rule's slots in the fused agg row
        # and to tag failing rows in the `failed_rules` array.
        self.rule_id = f"r{next(_rule_counter)}"
        self.name = name or f"{self.metric_name}({','.join(self.columns)})"

    # -- spec surface ------------------------------------------------------

    def required_columns(self) -> list[str]:
        return self.columns

    def validate(self, columns: list[str]) -> None:
        """Analysis-time schema check against the input's column names
        (read once per run); raises ColumnNotFoundError."""
        require_columns(columns, self.required_columns())

    def _bindings(self) -> dict[str, ConditionLike]:
        """Marker column name -> the condition ``prepare`` binds to it
        when it is a Column or callable."""
        return {self._marker_name("scope"): self.condition}

    def _marker_name(self, role: str) -> str:
        return f"{MARKER_PREFIX}{self.rule_id}_{role}"

    def markers(self) -> list[str]:
        """The helper columns ``prepare`` adds (ResultObj strips them)."""
        return [m for m, c in self._bindings().items() if needs_marker(c)]

    def scope(self) -> str:
        """SQL text: True iff the row is in scope. A NULL scope counts as
        out of scope."""
        return condition_sql(self.condition, self._marker_name("scope"))

    def prepare(self, df: DataFrame) -> DataFrame:
        """Plan transform applied to the input BEFORE predicates and the
        fused agg are compiled: binds Column/callable conditions as
        marker columns, and is the hook for rules whose check requires
        more than a scalar expression (e.g. referential integrity adds a
        membership marker via one broadcast join). Helper columns are
        prefixed with :data:`MARKER_PREFIX` and listed by
        :meth:`markers` so ResultObj can strip them. Identity for
        rules whose conditions are all SQL text. Zero Spark actions."""
        for marker, cond in self._bindings().items():
            df = bind_condition(df, cond, marker)
        return df

    def row_predicate(self) -> Optional[str]:
        """SQL text: True iff the row passes this rule.

        Judged on in-scope rows only (see :meth:`row_violation`).
        Return None for rules with no row-level notion (dataset-level only).
        May name the marker columns of every rule's ``prepare`` fold.
        """
        return None

    def aggregates(self) -> dict[str, str]:
        """Slot-name -> aggregate SQL text, fused into the single agg job.

        Slot names are namespaced by the runner as ``{rule_id}__{slot}``.
        """
        return {}

    def metrics(self, slots: dict[str, object], ctx: "RunContext") -> list[MetricResult]:
        """Translate this rule's fused-agg slot values into metric rows."""
        return []

    def group_diagnostics(self, df: DataFrame) -> Optional[DataFrame]:
        """Optional second-job diagnostic (e.g. duplicate key groups)."""
        return None

    # -- helpers -----------------------------------------------------------

    def _metric(
        self,
        ctx: "RunContext",
        *,
        column: str,
        value: float | None,
        status: CheckStatus,
        message: str | None = None,
        threshold_result: float | None = None,
        extra: dict[str, str] | None = None,
    ) -> MetricResult:
        severity = self.severity_level or ctx.severity_level or SeverityLevel.MEDIUM
        return MetricResult(
            dataset=self.dataset or ctx.dataset,
            run_id=self.run_id or ctx.run_id,
            run_ts=ctx.run_ts,
            metric_name=self.metric_name,
            column=column,
            dimension=self.dimension.value,
            severity_level=(
                severity.value
                if isinstance(severity, SeverityLevel)
                else str(severity)
            ),
            threshold_result=threshold_result if threshold_result is not None else value,
            threshold_range=None,
            threshold=self.threshold,
            value_double=value,
            value_string=message or status.value,
            ingest_datetime=ctx.run_ts,
            extra_info=extra or {},
        )

    def _status(self, value: float | None) -> CheckStatus:
        if value is None:
            return CheckStatus.FAILURE
        return CheckStatus.SUCCESS if value >= self.threshold else CheckStatus.FAILURE

    def scoped_pass_predicate(self) -> Optional[str]:
        """row_predicate lifted over scope: out-of-scope rows pass.

        The whole expression is coalesced to True: a NULL scope (e.g. a
        condition over a NULL column) means OUT of scope. Without the
        coalesce, ``NOT NULL OR ...`` is NULL and a downstream filter
        DROPS the row — while the violation path (``scope AND NOT pred``
        = NULL) counts the same row as passing, so get_deduplicated_df
        would silently lose rows get_valid_df keeps."""
        pred = self.row_predicate()
        if pred is None:
            return None
        return f"coalesce((NOT ({self.scope()})) OR ({null_safe_sql(pred)}), true)"

    def row_violation(self) -> Optional[str]:
        """SQL text: True iff the row *fails* this rule (in scope and
        predicate false/NULL). None when the rule has no row-level notion.
        Overridden by group-shaped rules (e.g. uniqueness via window count)."""
        pred = self.row_predicate()
        if pred is None:
            return None
        return f"({self.scope()}) AND (NOT {null_safe_sql(pred)})"


class RunContext:
    """Per-run identity and defaults shared by all rules' metric rows.

    ``severity_level`` is reported by rules that set none
    (``Config.severity_level`` when a DQManager builds the context)."""

    def __init__(
        self,
        dataset: str = "",
        run_id: str = "",
        run_ts=None,
        severity_level: str | None = None,
    ):
        from datetime import datetime, timezone

        self.dataset = dataset
        self.run_id = run_id
        self.severity_level = severity_level
        # aware UTC (same rationale as core/models._utcnow): a naive
        # value is converted through the DRIVER's OS timezone by
        # TimestampType.toInternal, shifting metric timestamps on any
        # non-UTC machine
        self.run_ts = run_ts or datetime.now(timezone.utc)
