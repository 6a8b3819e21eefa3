"""Pre-join key diagnostics: what a join WILL do before you run it.

At 100 TB the expensive failure is discovering after a 40-minute shuffle
that the join exploded (duplicate keys both sides), silently dropped most
rows (key mismatch), or hot-spotted one executor (skewed key). This
operator reports all of that from the key columns alone:

- per-side row/null-key/distinct-key counts;
- matched keys and matched ROWS per side (what an inner join keeps);
- the exact inner-join output size (``sum(lc * rc)`` over matched keys);
- per-side max key multiplicity (the skew red flag).

Shape: each side aggregates to its key-count table (one shuffle on the
key, map-side combined — the table is |distinct keys|, not |rows|), the
two tables full-outer join ON THE SAME KEY (co-partitioned: Catalyst
reuses the agg partitioning, no third shuffle), and ONE global agg folds
the merge into a single diagnostics row, unpivoted to long format. Null
keys never enter the merge (SQL joins don't match NULLs); they are
counted map-side in the same per-side aggregations.

The reference has no cross-table operators at all (SURVEY §2.2 "Not
present"); this extends its consistency dimension (referential
integrity, operators/consistency.py) with the capacity-planning view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import DIGITS


def join_diagnosis(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str | None = None,
) -> DataFrame:
    """Diagnose ``left JOIN right ON left.left_on = right.right_on``.

    Returns long format ``(metric, value)`` — 13 rows, doubles — sorted
    by metric:

    left_rows, right_rows, left_null_keys, right_null_keys,
    left_distinct_keys, right_distinct_keys, matched_keys,
    left_matched_rows, right_matched_rows, inner_join_rows,
    left_max_key_rows, right_max_key_rows, key_overlap_ratio
    (matched / distinct keys of the union of both key sets).
    """
    right_on = right_on or left_on

    def side(df: DataFrame, key: str, tag: str) -> DataFrame:
        return (
            df.select(F.col(key).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias(f"{tag}c"))
        )

    lc, rc = side(left, left_on, "l"), side(right, right_on, "r")
    merged = lc.filter(F.col("k").isNotNull()).join(
        rc.filter(F.col("k").isNotNull()), "k", "full"
    )

    l_has = F.col("lc").isNotNull()
    r_has = F.col("rc").isNotNull()
    key_stats = merged.agg(
        F.sum(F.when(l_has & r_has, F.lit(1))).alias("matched_keys"),
        F.sum(F.when(l_has, F.lit(1))).alias("left_distinct_keys"),
        F.sum(F.when(r_has, F.lit(1))).alias("right_distinct_keys"),
        F.sum(F.when(r_has, F.col("lc"))).alias("left_matched_rows"),
        F.sum(F.when(l_has, F.col("rc"))).alias("right_matched_rows"),
        F.sum(F.col("lc") * F.col("rc")).alias("inner_join_rows"),
        F.max("lc").alias("left_max_key_rows"),
        F.max("rc").alias("right_max_key_rows"),
        F.count(F.lit(1)).alias("_union_keys"),
    )
    l_stats = left.agg(
        F.count(F.lit(1)).alias("left_rows"),
        F.sum(F.when(F.col(left_on).isNull(), F.lit(1)).otherwise(F.lit(0))).alias(
            "left_null_keys"
        ),
    )
    r_stats = right.agg(
        F.count(F.lit(1)).alias("right_rows"),
        F.sum(F.when(F.col(right_on).isNull(), F.lit(1)).otherwise(F.lit(0))).alias(
            "right_null_keys"
        ),
    )
    one = key_stats.crossJoin(l_stats).crossJoin(r_stats)

    metrics = [
        "left_rows",
        "right_rows",
        "left_null_keys",
        "right_null_keys",
        "left_distinct_keys",
        "right_distinct_keys",
        "matched_keys",
        "left_matched_rows",
        "right_matched_rows",
        "inner_join_rows",
        "left_max_key_rows",
        "right_max_key_rows",
    ]
    entries = [
        F.struct(
            F.lit(m).alias("metric"),
            F.coalesce(F.col(m).cast("double"), F.lit(0.0)).alias("value"),
        )
        for m in metrics
    ]
    entries.append(
        F.struct(
            F.lit("key_overlap_ratio").alias("metric"),
            F.round(
                F.coalesce(
                    F.try_divide(
                        F.col("matched_keys").cast("double"),
                        F.col("_union_keys"),
                    ),
                    F.lit(0.0),
                ),
                DIGITS,
            ).alias("value"),
        )
    )
    return (
        one.select(F.explode(F.array(*entries)).alias("e"))
        .select("e.metric", "e.value")
        .orderBy("metric")
    )
