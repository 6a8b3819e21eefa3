"""Deferred result façade: valid/invalid split, metrics DataFrame, diagnostics.

Parity target: reference ``result_obj.py:31-70`` (``get_valid_df``,
``get_invalid_df``, ``get_metric_results``) with two deliberate semantic
fixes (SURVEY.md §2 F12/F13):

- The reference folded the input *sequentially* through each check's
  ``invalid`` ("rows failing check1 AND failing check2", with the schema
  even changing mid-chain when UniqueCheck's group diagnostic entered the
  fold). Here ``get_invalid_df`` returns rows failing ANY rule, tagged
  with a ``failed_rules`` array column; ``get_valid_df`` returns the
  complement. ``valid ∪ invalid = df``, ``valid ∩ invalid = ∅`` — always.
- Group-shaped diagnostics (duplicate key groups) stay schema-stable in
  :meth:`get_group_diagnostics`; reference-style dedup output lives in
  :meth:`get_deduplicated_df`.

Execution shape: each run is compiled ONCE, on first use, into the
prepared frame (the input folded through every rule's ``prepare``:
FK membership probes, Column/callable conditions bound as markers),
the aggregate texts and the violation texts (``operators/base``'s SQL
text spec contract), and every output is built from that compile:

- metrics: one ``prepared.selectExpr(*aggregates)`` action;
- annotation: one ``F.expr("array_compact(array(CASE WHEN v THEN
  'rule' END, ...))")`` column over the prepared frame;
- valid rows: the pushdown conjunction as one ``filter(text)``;
- invalid rows and both sides of the quarantine route: text filters
  over the annotation.

Each SQL text is parsed once where ``Column`` operators would cost a
py4j round trip apiece (about ten under PySpark 4.1's origin capture):
composing the metrics aggregate plus the annotation for perfbench's
seven rules fell from ~1,350 py4j commands to ~50. Catalyst sees the
same trees, so it collapses the classification with downstream filters
and pushes scan-level predicates into parquet as before. Uniqueness
row-classification needs per-key multiplicities, i.e. one
hash-partition shuffle per distinct key set (window count); rules that
don't need it add zero shuffles. The metrics DataFrame is the fused
aggregate's result re-emitted as a driver-built local relation
(``plans/local.py``): collecting it runs no Spark job, and writing it
runs no Python-worker task.
"""

from __future__ import annotations

from functools import cached_property
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core.models import METRIC_SCHEMA
from .operators.base import Rule, RunContext
from .plans.analysis import AnalysisRunner
from .plans.compile import and_sql, ident, sql_literal
from .plans.local import local_frame

FAILED_RULES_COL = "failed_rules"
#: SQL filters over the annotated frame: rows passing every rule / failing one
ALL_PASS = f"size({ident(FAILED_RULES_COL)}) = 0"
ANY_FAIL = f"size({ident(FAILED_RULES_COL)}) > 0"


class _Compiled(NamedTuple):
    """One run's compile: every output is built from these."""

    prepared: DataFrame
    #: helper columns the rules' ``prepare`` added (stripped from outputs)
    markers: list[str]
    #: AnalysisRunner.compile_aggregates(rules)
    aggregates: list[str]
    #: (rule name, violation text) for every rule with a row-level notion
    violations: list[tuple[str, str]]


class ResultObj:
    """Holds the rule list + input df; computes outputs on demand (lazy)."""

    def __init__(
        self,
        rules: list[Rule],
        df: DataFrame,
        spark: SparkSession,
        ctx: RunContext | None = None,
    ):
        self.rules = list(rules)
        self.df = df
        self.spark = spark
        self.ctx = ctx or RunContext()
        columns = df.columns  # one schema read validates every rule
        for rule in self.rules:
            rule.validate(columns)

    @cached_property
    def _compiled(self) -> _Compiled:
        """Fold the input through every rule's ``prepare`` (identity for
        most rules; FK rules chain broadcast joins here — N FK rules are
        still one scan of the fact table, joins stacked in one stage) and
        collect every rule's texts. No Spark action."""
        prepared = self.df
        for rule in self.rules:
            prepared = rule.prepare(prepared)
        return _Compiled(
            prepared,
            [m for rule in self.rules for m in rule.markers()],
            AnalysisRunner.compile_aggregates(self.rules),
            [
                (rule.name, v)
                for rule in self.rules
                if (v := rule.row_violation()) is not None
            ],
        )

    def _strip_markers(self, df: DataFrame) -> DataFrame:
        markers = self._compiled.markers
        return df.drop(*markers) if markers else df

    # -- row classification --------------------------------------------------

    def annotated_df(self) -> DataFrame:
        """Input df + ``failed_rules: array<string>`` (empty = all pass)."""
        c = self._compiled
        if c.violations:
            tags = ", ".join(
                f"CASE WHEN {v} THEN {sql_literal(name)} END" for name, v in c.violations
            )
            failed = f"array_compact(array({tags}))"
        else:
            failed = "CAST(array() AS ARRAY<STRING>)"
        return self._strip_markers(c.prepared.withColumn(FAILED_RULES_COL, F.expr(failed)))

    def get_valid_df(self) -> DataFrame:
        """Rows passing every rule (original schema).

        When every rule's violation is a plain row predicate, this is a
        PLAIN CONJUNCTION filter rather than ``size(failed_rules) == 0``
        over the annotation array: the array expression is opaque to
        Catalyst, while the conjunction decomposes into scan-level
        predicates (IsNotNull, range bounds) that push down to the parquet
        reader — at 100 TB the difference between scanning everything and
        skipping row groups. NULL-valued violations count as passes,
        matching ``array_compact``'s drop of NULL entries.

        Rules with ANALYTIC violations (``violation_is_analytic`` — e.g.
        uniqueness, whose violation is a window count over the FULL frame)
        cannot sit in a WHERE clause and must not see a pre-filtered
        frame, so their presence falls back to the annotation path (their
        per-key shuffle dominates that plan anyway).
        """
        if any(getattr(r, "violation_is_analytic", False) for r in self.rules):
            return self.annotated_df().filter(ALL_PASS).drop(FAILED_RULES_COL)
        c = self._compiled
        if not c.violations:
            return self.df
        keep = and_sql([f"coalesce(NOT ({v}), true)" for _, v in c.violations])
        return self._strip_markers(c.prepared.filter(keep))

    def get_invalid_df(self, with_reasons: bool = True) -> DataFrame:
        """Rows failing at least one rule; keeps ``failed_rules`` unless
        ``with_reasons=False``."""
        out = self.annotated_df().filter(ANY_FAIL)
        return out if with_reasons else out.drop(FAILED_RULES_COL)

    # -- dataset-level outputs -------------------------------------------------

    def get_metric_results(self) -> DataFrame:
        """Typed metrics DataFrame (14-field METRIC_SCHEMA): ONE fused agg
        action for all rules (a few jobs under AQE: broadcast builds and
        the shuffle stage run as their own jobs), then the metric rows as
        a driver-built local relation (``plans/local.py``): collecting
        it runs no Spark job, and no action on it runs a Python task."""
        c = self._compiled
        metrics = AnalysisRunner.run(c.prepared, c.aggregates, self.rules, self.ctx)
        return local_frame(
            self.spark, [m.as_row() for m in metrics], METRIC_SCHEMA
        )

    def get_deduplicated_df(self) -> DataFrame:
        """Reference-style `valid` for uniqueness rules: one survivor per
        key (``unique_chek.py:78-82``). Applies predicate-shaped rules as a
        single fused filter (not the window-based duplicate classification —
        dedup *keeps* one row per duplicate group), then each uniqueness
        rule's dedup transform."""
        c = self._compiled
        preds = [
            p
            for p in (r.scoped_pass_predicate() for r in self.rules)
            if p is not None
        ]
        out = c.prepared.filter(and_sql(preds)) if preds else c.prepared
        for rule in self.rules:
            transform = getattr(rule, "transform_valid", None)
            if transform is not None:
                out = transform(out)
        return self._strip_markers(out)

    def get_group_diagnostics(self) -> dict[str, DataFrame]:
        """Rule-name -> group-level diagnostic DataFrame (e.g. duplicate
        key groups with multiplicities)."""
        out: dict[str, DataFrame] = {}
        for rule in self.rules:
            diag = rule.group_diagnostics(self.df)
            if diag is not None:
                out[rule.name] = diag
        return out
