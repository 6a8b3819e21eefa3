"""Fused analysis runner: ALL rules' metrics in ONE Spark action.

One action is not one job: under AQE the action first runs each
broadcast build (one per FK rule) and the aggregate's shuffle map stage
as jobs of their own, then the final stage — 3 jobs for the seven rules
of perfbench's ``quarantine_batches`` batch, one of them an FK rule.

The reference ran one-or-more actions per check (one ``.first()`` per
completeness check ``completeness_col_ratio_check.py:110``, four
``.count()`` actions for the raw-ratio check
``completeness_raw_check.py:95-96``): N checks -> N+ full input scans.

Here every rule contributes conditional-aggregate SQL text
(``avg(CASE WHEN scope THEN pred END)``, ``count``, ``count(DISTINCT …)``
…, see ``operators/base``'s spec contract) that is parsed once, in a
single ``selectExpr(...)`` over the prepared frame — a global aggregate,
the Deequ "analysis run" pattern. Text, not Column trees: composing the
fused aggregate of perfbench's seven rules as Columns cost ~700 py4j
commands (PySpark 4.1 captures a call-site origin per Column operator),
the text list one call. One scan, map-side partial aggregation, one
tiny shuffle to a single reducer row, whatever the rule count. At 100 TB this is the
difference between hours and minutes; no custom Catalyst rule is needed
because plain conditional aggregates already fuse.

Scale notes:
- The fused agg is a global aggregate: partials are combined per
  partition (map-side), so the reducer sees #partitions rows, not #rows.
- Exact ``count_distinct`` inside the fused pass triggers Spark's Expand
  (one duplicated stream per distinct-aggregate). Rules default to a
  DataSketches HLL sketch (``functions/expr.approx_distinct``:
  ``hll_sketch_agg`` over an ``xxhash64`` per row — fixed memory, single
  pass, one binary buffer) and only use exact when asked (e.g. to
  hash-match a DuckDB oracle at test scale). Not HLL++
  (``approx_count_distinct``): at rsd 0.01 its 1,639 buffer attributes
  cost a fixed ~0.3 s of CPU per map task, against a few ms for the
  sketch (docs/SCALE.md), and make the aggregate slow to plan.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

if TYPE_CHECKING:
    from ..operators.base import Rule, RunContext

from ..core.models import MetricResult
from .compile import ident


class AnalysisRunner:
    """Compile rules -> one fused aggregate action -> MetricResult rows."""

    @staticmethod
    def compile_aggregates(rules: list["Rule"]) -> list[str]:
        """Every rule's aggregate texts, each aliased ``{rule_id}__{slot}``."""
        return [
            f"{text} AS {ident(f'{rule.rule_id}__{slot}')}"
            for rule in rules
            for slot, text in rule.aggregates().items()
        ]

    @staticmethod
    def run(
        prepared: DataFrame,
        aggregates: list[str],
        rules: list["Rule"],
        ctx: "RunContext",
    ) -> list[MetricResult]:
        """``prepared`` is the input already validated against every
        rule and folded through every rule's ``prepare``, and
        ``aggregates`` is :meth:`compile_aggregates` of ``rules``
        (ResultObj compiles both once per run): join-shaped checks (FK
        membership) have added their marker columns, and their broadcast
        joins stack into the fused aggregate's stage, so this stays ONE
        action."""
        slots_by_rule: dict[str, dict[str, object]] = {r.rule_id: {} for r in rules}
        if aggregates:
            row = prepared.selectExpr(*aggregates).first()  # THE single action for all metrics
            for key, value in row.asDict().items():
                rule_id, _, slot = key.partition("__")
                slots_by_rule.setdefault(rule_id, {})[slot] = value
        out: list[MetricResult] = []
        for rule in rules:
            out.extend(rule.metrics(slots_by_rule.get(rule.rule_id, {}), ctx))
        return out
