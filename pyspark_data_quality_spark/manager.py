"""DQManager: the user-facing orchestration entry point.

Parity target: reference ``dq_manager.py:14-50`` — ``set_data(df)``,
``add_check(rule)``, ``run() -> ResultObj``. Deliberate departures:

- No process-global singleton cache (reference ``utils/utils.py:6-20`` +
  ``cache_obj.py:18-19`` made ALL managers share one cache, so a stale
  ``df_count`` from one manager leaked into another — SURVEY.md §1.3 says
  do not replicate). Any cross-rule sharing here happens inside the single
  fused analysis job, which needs no cache at all.
- ``run()`` before ``set_data()`` raises a typed :class:`NoDataError`
  instead of the reference's bare ``AttributeError`` (``dq_manager.py:35``).
- ``run()`` stays fully lazy (zero Spark actions), like the reference.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from .core.config import Config
from .core.errors import NoDataError
from .operators.base import Rule, RunContext
from .result import ResultObj


class DQManager:
    """Register rules against a DataFrame; ``run()`` returns a lazy
    :class:`~pyspark_data_quality_spark.result.ResultObj`."""

    def __init__(
        self,
        spark: SparkSession,
        dataset: str = "",
        run_id: str | None = None,
        config: Config | None = None,
    ):
        self.spark = spark
        self.config = config or Config()
        self.dataset = dataset or self.config.dataset
        self.run_id = run_id or uuid.uuid4().hex
        self._df: DataFrame | None = None
        self._rules: list[Rule] = []

    def set_data(self, df: DataFrame) -> "DQManager":
        self._df = df
        return self

    def add_check(self, rule: Rule) -> "DQManager":
        """Reference-compatible alias of :meth:`add_rule`."""
        return self.add_rule(rule)

    def add_rule(self, rule: Rule) -> "DQManager":
        self._rules.append(rule)
        return self

    def run(self) -> ResultObj:
        if self._df is None:
            raise NoDataError("call set_data(df) before run()")
        # the one config key beyond `dataset` the engine consults: rules
        # without an explicit severity report DQ_SEVERITY. It rides the
        # run's context, never the rule, so a rule shared by two
        # managers reports each manager's own default.
        ctx = RunContext(
            dataset=self.dataset,
            run_id=self.run_id,
            severity_level=self.config.severity_level,
        )
        return ResultObj(self._rules, self._df, self.spark, ctx)
