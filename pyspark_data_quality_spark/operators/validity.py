"""Validity / accuracy / consistency rules.

The reference declared these dimensions (``core/_enums.py:11-17``) and the
README roadmap promised them (``README.md:194``) but never implemented any.
This module provides the general machinery — a row predicate + one fused
ratio aggregate — and typed conveniences:

- :class:`PredicateRule` — arbitrary boolean expression (SQL string,
  Column, or callable), any dimension. The workhorse for accuracy and
  cross-column consistency checks.
- :class:`RegexMatchRule` — column matches a regex (validity).
- :class:`RangeRule` — numeric/temporal column within [min, max] (validity).
- :class:`SetMembershipRule` — column value in an allowed set (validity).

All of them ride the single fused analysis job (one
``avg(CASE WHEN scope THEN pred END)`` text each) and contribute a row
predicate to the valid/invalid split; none adds a job, a shuffle, or a
UDF — the predicates stay inside whole-stage codegen. The typed
conveniences state their predicates as SQL text (quoted column, literals
typed as ``F.lit`` types them), so building one calls no JVM.
"""

from __future__ import annotations

from ..core.enums import Dimension
from ..core.errors import RuleConfigurationError
from ..core.models import MetricResult
from ..plans.compile import (
    ConditionLike,
    and_sql,
    condition_sql,
    ident,
    needs_marker,
    ratio_sql,
    sql_literal,
)
from .base import Rule, RunContext


class PredicateRule(Rule):
    """Fraction of in-scope rows satisfying an arbitrary boolean predicate.

    ``predicate`` accepts the same forms as scope conditions: SQL string,
    ``Column``, or ``Callable[[DataFrame], Column]`` (the last two bound
    once as a marker column by ``prepare``).
    NULL-evaluating predicates count as failures (no silent three-valued
    escape). ``dimension`` defaults to CONSISTENCY (cross-column checks);
    accuracy checks pass ``dimension=Dimension.ACCURACY``.
    """

    dimension = Dimension.CONSISTENCY
    metric_name = "predicate_ratio"

    def __init__(self, *, predicate: ConditionLike, dimension: Dimension | None = None, **kw):
        super().__init__(**kw)
        if predicate is None:
            raise RuleConfigurationError("PredicateRule requires a predicate")
        needs_marker(predicate)  # an unsupported type raises here
        self.predicate = predicate
        if dimension is not None:
            self.dimension = dimension
        if kw.get("name") is None and isinstance(predicate, str):
            self.name = f"{self.metric_name}({predicate})"

    def required_columns(self) -> list[str]:
        # Predicate columns are resolved by Catalyst at analysis time (an
        # unresolvable expression raises AnalysisException); only the
        # explicitly declared `columns` are pre-validated driver-side.
        return self.columns

    def _bindings(self):
        return {**super()._bindings(), self._marker_name("pred"): self.predicate}

    def row_predicate(self) -> str:
        return condition_sql(self.predicate, self._marker_name("pred"))

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
                    f"{status.value}: pass ratio "
                    f"{'n/a' if ratio is None else f'{ratio:.6f}'} "
                    f"vs threshold {self.threshold}"
                ),
                extra={"predicate": str(self.predicate)},
            )
        ]


class RegexMatchRule(PredicateRule):
    """Validity: string column matches ``pattern`` (Java regex, full or
    partial match per ``full=True``)."""

    dimension = Dimension.VALIDITY
    metric_name = "validity_regex"

    def __init__(self, *, column: str, pattern: str, full: bool = True, **kw):
        self.pattern = pattern
        pat = f"^(?:{pattern})$" if full else pattern
        kw.setdefault("columns", [column])
        super().__init__(
            predicate=f"{ident(column)} RLIKE {sql_literal(pat)}",
            dimension=Dimension.VALIDITY,
            **kw,
        )
        self.name = kw.get("name") or f"{self.metric_name}({column}~{pattern})"


class RangeRule(PredicateRule):
    """Validity: ``min_value <= col <= max_value`` (either bound optional)."""

    dimension = Dimension.VALIDITY
    metric_name = "validity_range"

    def __init__(self, *, column: str, min_value=None, max_value=None, **kw):
        if min_value is None and max_value is None:
            raise RuleConfigurationError("RangeRule needs min_value and/or max_value")
        conds = []
        if min_value is not None:
            conds.append(f"{ident(column)} >= {sql_literal(min_value)}")
        if max_value is not None:
            conds.append(f"{ident(column)} <= {sql_literal(max_value)}")
        kw.setdefault("columns", [column])
        super().__init__(
            predicate=and_sql(conds),
            dimension=Dimension.VALIDITY,
            **kw,
        )
        self.name = kw.get("name") or f"{self.metric_name}({column}in[{min_value},{max_value}])"


class SetMembershipRule(PredicateRule):
    """Validity: column value in an allowed set.

    The allowed set is a literal in the plan (Catalyst turns small IN-lists
    into efficient predicates / semi-joins); for very large allowed sets
    prefer a broadcast join against a dimension table instead.
    """

    dimension = Dimension.VALIDITY
    metric_name = "validity_set"

    def __init__(self, *, column: str, allowed: list, **kw):
        if not allowed:
            raise RuleConfigurationError("SetMembershipRule needs a non-empty set")
        kw.setdefault("columns", [column])
        members = ", ".join(sql_literal(v) for v in allowed)
        super().__init__(
            predicate=f"{ident(column)} IN ({members})",
            dimension=Dimension.VALIDITY,
            **kw,
        )
        self.name = kw.get("name") or f"{self.metric_name}({column})"
