"""Freshness rule: age of the newest in-scope timestamp vs a bound.

The reference declared ``FreshnessPeriod`` (``core/_enums.py:19-25``) and
roadmapped a freshness check (``README.md:194``) but never built one. This
is the intended semantic: ``max(ts_column)`` must be within
``max_age`` × ``period`` of a reference instant.

``now`` is injectable (defaults to current UTC) so runs are reproducible
and oracle-testable; the driver-side clock is read once per run, never
per row. The aggregate is one ``max`` expression in the fused pass —
map-side partial max, no extra scan.

Metric convention: ``value_double`` = age of newest row in ``period``
units; ``threshold_result`` likewise; SUCCESS iff ``age <= max_age``
(note the inverted comparison vs ratio rules — smaller is fresher).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.enums import CheckStatus, Dimension, FRESHNESS_PERIOD_SECONDS, FreshnessPeriod
from ..core.models import MetricResult
from ..plans.compile import ident, sql_literal
from .base import Rule, RunContext


class FreshnessRule(Rule):
    dimension = Dimension.FRESHNESS
    metric_name = "freshness_age"

    def __init__(
        self,
        *,
        column: str,
        max_age: float,
        period: FreshnessPeriod = FreshnessPeriod.DAY,
        now: datetime | None = None,
        **kw,
    ):
        kw.setdefault("columns", [column])
        kw.setdefault("threshold", float(max_age))
        super().__init__(**kw)
        self.column = column
        self.max_age = float(max_age)
        self.period = period
        # Normalize `now` to an aware-UTC instant ONCE: a naive datetime is
        # declared to mean UTC. Both the row predicate and the metric compare
        # epochs derived from this single value, so valid/invalid
        # classification and the freshness metric agree in any session tz.
        now = now or datetime.now(timezone.utc)
        if now.tzinfo is None:
            now = now.replace(tzinfo=timezone.utc)
        self.now = now
        self._now_epoch = now.timestamp()
        self.name = kw.get("name") or f"{self.metric_name}({column})"

    def row_predicate(self) -> str:
        # A row is "fresh" iff its timestamp is within the age bound.
        # Epoch comparison (timestamp -> double = epoch seconds, an absolute
        # instant) — independent of spark.sql.session.timeZone, unlike a
        # naive timestamp literal, which Spark reads in the session tz.
        bound_sec = self.max_age * FRESHNESS_PERIOD_SECONDS[self.period]
        cutoff_epoch = self._now_epoch - bound_sec
        return (
            f"CAST(CAST({ident(self.column)} AS TIMESTAMP) AS DOUBLE) "
            f">= {sql_literal(cutoff_epoch)}"
        )

    def aggregates(self) -> dict[str, str]:
        # epoch seconds of the newest in-scope timestamp
        ts = f"CAST({ident(self.column)} AS TIMESTAMP)"
        return {"max_ts": f"CAST(max(CASE WHEN ({self.scope()}) THEN {ts} END) AS BIGINT)"}

    def metrics(self, slots: dict[str, object], ctx: RunContext) -> list[MetricResult]:
        max_epoch = slots.get("max_ts")
        if max_epoch is None:
            return [
                self._metric(
                    ctx,
                    column=self.column,
                    value=None,
                    status=CheckStatus.FAILURE,
                    message="FAILURE: no in-scope rows / all-null timestamps",
                )
            ]
        age_sec = self._now_epoch - float(max_epoch)
        age = age_sec / FRESHNESS_PERIOD_SECONDS[self.period]
        status = (
            CheckStatus.SUCCESS if age <= self.max_age else CheckStatus.FAILURE
        )
        return [
            self._metric(
                ctx,
                column=self.column,
                value=age,
                status=status,
                message=(
                    f"{status.value}: newest row is {age:.4f} {self.period.value}(s) old"
                    f" vs max_age {self.max_age}"
                ),
                extra={"period": self.period.value, "max_epoch": str(max_epoch)},
            )
        ]

    def _status(self, value):  # inverted: smaller age is better
        if value is None:
            return CheckStatus.FAILURE
        return CheckStatus.SUCCESS if value <= self.max_age else CheckStatus.FAILURE


def freshness_by_group(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    *,
    stale_after_seconds: float | None = None,
) -> DataFrame:
    """Per-segment freshness lag: each group's latest event against the
    LATEST EVENT IN THE WHOLE TABLE — "which sources stopped sending?".
    A global freshness check passes as long as ANY source is alive; a
    silent partner is only visible per segment. Lag against the global
    max (not wall clock) keeps the report deterministic and
    backfill-safe.

    One row per group: ``(*group_cols, n_rows, latest_ts, lag_seconds,
    is_stale?)`` — ``is_stale`` only when ``stale_after_seconds`` is
    given.

    Shape: one keyed max aggregate + a 1-row global max broadcast back.
    """
    if not group_cols:
        raise ValueError("freshness_by_group: group_cols must be non-empty")
    per = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(ts_col).alias("latest_ts"),
    )
    glob = df.agg(F.max(ts_col).alias("_global_ts"))
    out = per.crossJoin(F.broadcast(glob)).select(
        *group_cols,
        "n_rows",
        "latest_ts",
        (
            F.col("_global_ts").cast("double")
            - F.col("latest_ts").cast("double")
        ).alias("lag_seconds"),
    )
    if stale_after_seconds is not None:
        out = out.withColumn(
            "is_stale", F.col("lag_seconds") > stale_after_seconds
        )
    return out.orderBy(*group_cols)
