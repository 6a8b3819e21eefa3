"""Driver-built result frames as JVM local relations.

Metric tables, report rows and join spines are assembled on the driver
from a handful of Python values. ``spark.createDataFrame(<list>, schema)``
turns such a list into a Python-fed RDD (``Scan ExistingRDD``, one
slice per default-parallelism core): every action on the frame then
runs Python-worker tasks to re-serialize rows the driver already holds,
and the planner sizes the scan at ``spark.sql.defaultSizeInBytes``
(Long.MaxValue), so no join against it can broadcast it unaided.

:func:`local_frame` converts the rows to Arrow on the driver instead and
hands Spark the table: below ``spark.sql.execution.arrow.
localRelationThreshold`` (48 MB by default) the frame is a
``LocalRelation`` — collected without a Spark job, planned as a
``LocalTableScan`` with exact size statistics — and above it a JVM-only
RDD, still with no Python worker behind it.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a local relation.

    ``rows`` are tuples (or ``Row``s / dicts) in ``schema`` field order;
    ``schema`` is a ``StructType`` or a DDL string (``"a long, b
    string"``). Values convert with PySpark's own local-data-to-Arrow
    conversion, so NULLs, NaN, maps, naive datetimes (driver-local
    time) and aware datetimes (their instant) follow
    ``createDataFrame`` semantics, and a ``None`` in a non-nullable
    field raises. Zero rows yield an empty frame of ``schema``."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, False)
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)
