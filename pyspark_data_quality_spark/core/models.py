"""Typed metric-result model and its fixed Spark schema.

The 14-field output schema matches the reference's metric DataFrame
(``result_obj.py:15-30``) field-for-field so a user of the reference can
consume this engine's metrics unchanged:

    dataset, run_id, run_ts, metric_name, column, dimension,
    severity_level, threshold_result, threshold_range, threshold,
    value_double, value_string, ingest_datetime, extra_info

Unlike the reference (pydantic models serialized row-by-row,
``core/models.py:6-20``), this is a plain dataclass: the hot path never
serializes per-row through pydantic, and ``extra_info`` is constrained to
``dict[str, str]`` (the reference stuffed a live ``Column`` object into it,
``completeness_raw_check.py:114`` — a serialization bug we do not replicate).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql.types import (
    DoubleType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Fixed metric output schema (14 fields, reference ``result_obj.py:15-30``).
METRIC_SCHEMA = StructType(
    [
        StructField("dataset", StringType(), True),
        StructField("run_id", StringType(), True),
        StructField("run_ts", TimestampType(), True),
        StructField("metric_name", StringType(), True),
        StructField("column", StringType(), True),
        StructField("dimension", StringType(), True),
        StructField("severity_level", StringType(), True),
        StructField("threshold_result", DoubleType(), True),
        StructField("threshold_range", DoubleType(), True),
        StructField("threshold", DoubleType(), True),
        StructField("value_double", DoubleType(), True),
        StructField("value_string", StringType(), True),
        StructField("ingest_datetime", TimestampType(), True),
        StructField("extra_info", MapType(StringType(), StringType()), True),
    ]
)


def _utcnow() -> datetime:
    # AWARE UTC on purpose: TimestampType.toInternal converts a NAIVE
    # datetime via time.mktime — the driver's OS timezone, NOT the
    # session timezone — so naive-UTC values shift by the driver's
    # offset on any non-UTC machine. An aware value goes through
    # calendar.timegm: the correct instant everywhere.
    return datetime.now(timezone.utc)


@dataclass
class MetricResult:
    """One typed observation row (one rule x column)."""

    dataset: str = ""
    run_id: str = ""
    run_ts: datetime = field(default_factory=_utcnow)
    metric_name: str = ""
    column: str = ""
    dimension: str = ""
    severity_level: str = ""
    threshold_result: float | None = None
    threshold_range: float | None = None
    threshold: float | None = None
    value_double: float | None = None
    value_string: str | None = None
    ingest_datetime: datetime = field(default_factory=_utcnow)
    extra_info: dict[str, str] = field(default_factory=dict)

    def as_row(self) -> tuple:
        """Tuple in METRIC_SCHEMA field order (for ``plans/local.local_frame``)."""
        return (
            self.dataset,
            self.run_id,
            self.run_ts,
            self.metric_name,
            self.column,
            self.dimension,
            self.severity_level,
            _f(self.threshold_result),
            _f(self.threshold_range),
            _f(self.threshold),
            _f(self.value_double),
            self.value_string,
            self.ingest_datetime,
            {str(k): str(v) for k, v in (self.extra_info or {}).items()},
        )


def _f(v) -> float | None:
    return None if v is None else float(v)
