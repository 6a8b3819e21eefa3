"""Cohort retention analysis: first-touch cohorts × period offsets.

"Of the users first seen in week W, what share was still active k
weeks later?" — the standard engagement/health matrix for any
event-producing product, and for corpus curation the same shape
answers "of the domains first crawled in month M, how many still
contribute documents k months on" (source-stability auditing).

Spark-first shape (three hash shuffles, all on bounded keys):

- first-touch: one ``groupBy(user)`` min(ts) — shuffle carries one row
  per user;
- activity: ``distinct`` over (user, period-index) — shuffle carries
  one row per user-period, already far smaller than the event log;
- the activity⟵first-touch equi-join re-uses the user-hash layout both
  sides were just shuffled into (no extra exchange under AQE), and the
  final ``groupBy(cohort, offset)`` emits at most cohorts×periods rows
  — the matrix itself is tiny no matter how big the log is. It is
  ``localCheckpoint``-ed (the operator is EAGER, like triangle_counts)
  and cohort sizes read from its offset-0 rows — every cohort user is
  active in their own first period by definition — so the per-user min
  never runs twice.

Periods are integer indices (epoch days floor-divided by the period
length), which keeps the arithmetic engine-portable (DuckDB replays it
exactly) and avoids calendar-month irregularity; ``period_days``
parameterizes day/week/fortnight/30-day-month cohorts.

First to break at 100 TB: the per-user min(ts) and the distinct both
partial-aggregate map-side, so skewed users (bots) collapse before the
exchange; nothing here scales with raw event count after that.

Reference parity: no cohort surface in the reference (rule framework
only); training-data / analytics extension surface alongside
funnel.py (conversion) and rollup.py (volume trends).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import DIGITS

__all__ = ["retention_matrix"]


def retention_matrix(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
    max_offset: int | None = None,
) -> DataFrame:
    """Cohort retention matrix over an event log.

    Output: one row per (cohort, period_offset) with
    ``cohort`` (bigint period index of the cohort's first-touch
    period), ``period_offset`` (0 = the cohort period itself),
    ``n_cohort`` (users first seen in that period), ``n_active``
    (cohort users with ≥1 event at that offset) and ``retention`` =
    n_active / n_cohort. Offset-0 rows always have retention 1.0 —
    a cheap self-check that survives engine changes.

    NULL users/timestamps are ignored; ``max_offset`` (inclusive)
    truncates the matrix tail when only the first k periods matter.
    """
    if period_days < 1:
        raise ValueError(
            f"retention_matrix: period_days must be >= 1, got {period_days}"
        )
    if max_offset is not None and max_offset < 0:
        raise ValueError(
            f"retention_matrix: max_offset must be >= 0, got {max_offset}"
        )
    period = F.floor(
        F.unix_date(F.col(ts_col).cast("timestamp").cast("date"))
        / period_days
    ).cast("long")
    base = (
        df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(F.col(user_col).alias("_u"), period.alias("_p"))
    )
    firsts = base.groupBy("_u").agg(F.min("_p").alias("cohort"))
    activity = base.distinct()
    joined = activity.join(firsts, "_u").select(
        "cohort", (F.col("_p") - F.col("cohort")).alias("period_offset")
    )
    if max_offset is not None:
        joined = joined.filter(F.col("period_offset") <= max_offset)
    # the matrix is tiny (cohorts × offsets) — localCheckpoint it (this
    # operator is EAGER) so cohort sizes derive from ITS offset-0 rows
    # (every cohort user is active at offset 0 by definition) instead
    # of re-running the per-user min over the full log a second time
    active = (
        joined.groupBy("cohort", "period_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .localCheckpoint()
    )
    cohort_sizes = active.filter(F.col("period_offset") == 0).select(
        "cohort", F.col("n_active").alias("n_cohort")
    )
    return (
        active.join(F.broadcast(cohort_sizes), "cohort")
        .select(
            "cohort",
            "period_offset",
            "n_cohort",
            "n_active",
            F.round(
                F.try_divide(F.col("n_active"), F.col("n_cohort")), DIGITS
            ).alias("retention"),
        )
        .orderBy("cohort", "period_offset")
    )
