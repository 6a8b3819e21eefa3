"""Schema-first readers for the formats training pipelines actually
ingest (JSONL, CSV) — complementing the parquet fixture loaders.

Both readers REQUIRE an explicit schema: schema inference is a full
extra pass over the data before the real read (a non-starter at 100 TB)
and silently drifts when a new file adds a field. Malformed rows are
captured, not dropped: PERMISSIVE mode routes them into a
``_corrupt_record`` column so the DQ rules can quantify and quarantine
them — ingest errors are a data-quality signal, not noise to discard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from ..functions.expr import _round_value

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType | str) -> StructType:
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if CORRUPT_COL not in schema.fieldNames():
        # COPY before add: StructType.add appends to self.fields and
        # returns self, so adding on the caller's object would
        # permanently widen the schema they passed in
        schema = StructType(list(schema.fields)).add(
            CORRUPT_COL, StringType()
        )
    return schema


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    *,
    capture_corrupt: bool = True,
) -> DataFrame:
    """Read line-delimited JSON with a declared schema. Rows that fail to
    parse land with ``_corrupt_record`` set and data columns null."""
    s = _with_corrupt(schema) if capture_corrupt else schema
    reader = (
        spark.read.schema(s)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    *,
    header: bool = True,
    delimiter: str = ",",
    capture_corrupt: bool = True,
) -> DataFrame:
    """Read CSV with a declared schema; malformed lines are captured the
    same way as :func:`read_jsonl`."""
    s = _with_corrupt(schema) if capture_corrupt else schema
    reader = (
        spark.read.schema(s)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    return reader.csv(path)


def corrupt_stats(df: DataFrame) -> dict:
    """Ingest-gate stats ``{n_rows, n_corrupt, corrupt_ratio}`` for a
    frame read with corrupt capture. Spark refuses queries whose pruned
    schema is ONLY the internal corrupt column on a raw JSON/CSV scan
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so this follows the documented
    pattern — cache, aggregate, unpersist — and returns plain values
    (it is an action either way)."""
    df = df.cache()
    try:
        row = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(
                F.sum(F.col(CORRUPT_COL).isNotNull().cast("long")), F.lit(0)
            ).alias("n_corrupt"),
        ).first()
        n, c = row["n_rows"], row["n_corrupt"]
        return {
            "n_rows": n,
            "n_corrupt": c,
            "corrupt_ratio": _round_value(c / n) if n else 0.0,
        }
    finally:
        df.unpersist()
