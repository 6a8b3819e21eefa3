"""Completeness rules: per-column non-null ratio and whole-row ratio.

Parity targets (semantics, not code):
- ``CompletenessColRatioRule`` (reference
  ``checks/completeness_checks/completeness_col_ratio_check.py:78-141``):
  per-column non-null ratio under an optional scope; valid rows have ALL
  target columns non-null; invalid rows have ANY null.
- ``CompletenessRawRatioRule`` (reference
  ``checks/completeness_checks/completeness_raw_check.py:75-117``):
  dataset-level whole-row completeness ratio, one metric with column="".
  The reference computed status as ``valid_count >= total_count`` ignoring
  the threshold (``completeness_raw_check.py:96`` — a bug); here status is
  ``ratio >= threshold`` as intended.

Both rules are pure specs: metrics ride the fused single-pass agg
(one ``avg(CASE WHEN scope THEN ... IS NOT NULL END)`` text per column — exactly the
one-pass multi-column shape the reference used per-check, now shared
across ALL rules), and the valid/invalid split is a predicate fold that
Catalyst pushes into the scan.
"""

from __future__ import annotations

from ..core.enums import Dimension
from ..core.models import MetricResult
from ..plans.compile import and_sql, ident, ratio_sql
from .base import Rule, RunContext


def _all_not_null(columns: list[str]) -> str:
    return and_sql([f"{ident(c)} IS NOT NULL" for c in columns])


class CompletenessColRatioRule(Rule):
    """Per-column non-null ratio vs threshold; AND-fold row predicate."""

    dimension = Dimension.COMPLETENESS
    metric_name = "completeness_col_ratio"

    def row_predicate(self) -> str:
        # Rows pass iff every target column is non-null
        # (reference `valid`, completeness_col_ratio_check.py:78-89).
        return _all_not_null(self.columns)

    def aggregates(self) -> dict[str, str]:
        scope = self.scope()
        return {
            c: f"avg(CASE WHEN ({scope}) THEN CAST({ident(c)} IS NOT NULL AS DOUBLE) END)"
            for c in self.columns
        }

    def metrics(self, slots: dict[str, object], ctx: RunContext) -> list[MetricResult]:
        out = []
        for c in self.columns:
            v = slots.get(c)
            ratio = None if v is None else float(v)
            status = self._status(ratio)
            out.append(
                self._metric(
                    ctx,
                    column=c,
                    value=ratio,
                    status=status,
                    message=(
                        f"{status.value}: non-null ratio "
                        f"{'n/a' if ratio is None else f'{ratio:.6f}'} "
                        f"vs threshold {self.threshold}"
                    ),
                )
            )
        return out


class CompletenessRawRatioRule(Rule):
    """Whole-row completeness: fraction of in-scope rows with every target
    column non-null. One metric row with ``column=""``."""

    dimension = Dimension.COMPLETENESS
    metric_name = "completeness_raw_ratio"

    def row_predicate(self) -> str:
        return _all_not_null(self.columns)

    def aggregates(self) -> dict[str, str]:
        # One expression instead of the reference's four count() actions
        # (completeness_raw_check.py:95-96).
        return {"ratio": ratio_sql(self.scope(), self.row_predicate())}

    def metrics(self, slots: dict[str, object], ctx: RunContext) -> list[MetricResult]:
        v = slots.get("ratio")
        ratio = None if v is None else float(v)
        status = self._status(ratio)
        return [
            self._metric(
                ctx,
                column="",
                value=ratio,
                status=status,
                message=(
                    f"{status.value}: row completeness "
                    f"{'n/a' if ratio is None else f'{ratio:.6f}'} "
                    f"vs threshold {self.threshold}"
                ),
                extra={"columns": ",".join(self.columns)},
            )
        ]
