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

Execution shape: the whole classification is ONE ``withColumn`` over a
predicate array — Catalyst collapses it with downstream filters and pushes
scan-level predicates into parquet. Uniqueness row-classification needs
per-key multiplicities, i.e. one hash-partition shuffle per distinct key
set (window count); rules that don't need it add zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core.models import METRIC_SCHEMA
from .operators.base import MARKER_PREFIX, Rule, RunContext
from .plans.analysis import AnalysisRunner

FAILED_RULES_COL = "failed_rules"


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
        for rule in self.rules:
            rule.validate(df)

    # -- row classification --------------------------------------------------

    def _prepared_df(self) -> DataFrame:
        """Fold the input through every rule's ``prepare`` (identity for
        most rules; FK rules chain broadcast joins here — N FK rules are
        still one scan of the fact table, joins stacked in one stage)."""
        df = self.df
        for rule in self.rules:
            df = rule.prepare(df)
        return df

    @staticmethod
    def _strip_markers(df: DataFrame) -> DataFrame:
        helpers = [c for c in df.columns if c.startswith(MARKER_PREFIX)]
        return df.drop(*helpers) if helpers else df

    def annotated_df(self) -> DataFrame:
        """Input df + ``failed_rules: array<string>`` (empty = all pass)."""
        prepared = self._prepared_df()
        entries = []
        for rule in self.rules:
            violation = rule.row_violation(prepared)
            if violation is not None:
                entries.append(F.when(violation, F.lit(rule.name)))
        if not entries:
            return self._strip_markers(
                prepared.withColumn(FAILED_RULES_COL, F.array().cast("array<string>"))
            )
        return self._strip_markers(
            prepared.withColumn(FAILED_RULES_COL, F.array_compact(F.array(*entries)))
        )

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
        from .plans.compile import and_fold

        if any(getattr(r, "violation_is_analytic", False) for r in self.rules):
            ann = self.annotated_df()
            return ann.filter(F.size(FAILED_RULES_COL) == 0).drop(FAILED_RULES_COL)

        prepared = self._prepared_df()
        violations = [
            v
            for v in (r.row_violation(prepared) for r in self.rules)
            if v is not None
        ]
        if not violations:
            return self.df
        keep = and_fold([F.coalesce(~v, F.lit(True)) for v in violations])
        return self._strip_markers(prepared.filter(keep))

    def get_invalid_df(self, with_reasons: bool = True) -> DataFrame:
        """Rows failing at least one rule; keeps ``failed_rules`` unless
        ``with_reasons=False``."""
        ann = self.annotated_df()
        out = ann.filter(F.size(FAILED_RULES_COL) > 0)
        return out if with_reasons else out.drop(FAILED_RULES_COL)

    # -- dataset-level outputs -------------------------------------------------

    def get_metric_results(self) -> DataFrame:
        """Typed metrics DataFrame (14-field METRIC_SCHEMA): ONE fused agg
        action for all rules (a few jobs under AQE: broadcast builds and
        the shuffle stage run as their own jobs), then a tiny driver-side
        createDataFrame."""
        metrics = AnalysisRunner.run(self.df, self.rules, self.ctx)
        rows = [m.as_row() for m in metrics]
        return self.spark.createDataFrame(rows, METRIC_SCHEMA)

    def get_deduplicated_df(self) -> DataFrame:
        """Reference-style `valid` for uniqueness rules: one survivor per
        key (``unique_chek.py:78-82``). Applies predicate-shaped rules as a
        single fused filter (not the window-based duplicate classification —
        dedup *keeps* one row per duplicate group), then each uniqueness
        rule's dedup transform."""
        from .plans.compile import and_fold

        prepared = self._prepared_df()
        preds = [
            p
            for p in (r.scoped_pass_predicate(prepared) for r in self.rules)
            if p is not None
        ]
        out = prepared.filter(and_fold(preds)) if preds else prepared
        out = self._strip_markers(out)
        for rule in self.rules:
            transform = getattr(rule, "transform_valid", None)
            if transform is not None:
                out = transform(out)
        return out

    def get_group_diagnostics(self) -> dict[str, DataFrame]:
        """Rule-name -> group-level diagnostic DataFrame (e.g. duplicate
        key groups with multiplicities)."""
        out: dict[str, DataFrame] = {}
        for rule in self.rules:
            diag = rule.group_diagnostics(self.df)
            if diag is not None:
                out[rule.name] = diag
        return out
