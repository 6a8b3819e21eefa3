"""Re-identification-risk audits: k-anonymity, l-diversity, suppression.

The reference framework (``/root/reference/src/pyspark_data_quality``,
749 LoC: completeness/uniqueness checks only) has no privacy surface at
all; this module extends the SURVEY §2.3 training-data scope. A corpus
assembled for model training routinely carries tabular sidecars (user
metadata, annotation records, eval cohorts) whose release risk is not
"does it contain a literal email" (``operators/text.py pii_summary``
covers that) but "can a row be re-identified by joining its
quasi-identifiers against an outside table" — the Sweeney k-anonymity
model and the Machanavajjhala l-diversity refinement.

Semantics:

- An *equivalence class* is one distinct quasi-identifier (QI) tuple;
  NULL is a value (SQL ``GROUP BY`` semantics), because NULL in a
  published QI column is itself observable.
- A dataset is k-anonymous iff every class has ``size >= k``;
  ``kanonymity_report`` measures how far off it is for a ladder of k
  thresholds in one pass (rows/classes below k, % of rows at risk).
- l-diversity guards the homogeneity attack k-anonymity misses: a class
  whose *sensitive* column holds < l distinct non-null values leaks the
  sensitive value even without row-level re-identification.
- ``suppress_below_k`` is the repair twin: NULL out the QI columns of
  every row whose class is smaller than k (cell suppression), leaving
  all other columns intact, so the output IS k-anonymous on the
  non-suppressed rows by construction.

Scale design (100 TB): every audit reduces to ONE hash aggregation keyed
on the QI tuple — map-side partial combine, only the QI values and a
count in the shuffle, never payload columns — followed by a single-row
global aggregate exploded into the threshold ladder (no second scan, no
driver-side loop). ``l_diversity_report`` uses a count-distinct over the
sensitive column, which Catalyst plans as the standard two-phase
Expand aggregate (still counts-only in the shuffle).
``suppress_below_k`` is a window count over the same QI partitioning —
one shuffle, and a giant (hot) class costs only its count. The
threshold ladder lives in one row until the final explode, so adding
thresholds adds zero jobs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..core.errors import RuleConfigurationError
from ..functions.expr import DIGITS
from ..plans.compile import require_columns

__all__ = [
    "equivalence_classes",
    "kanonymity_report",
    "l_diversity_report",
    "riskiest_classes",
    "suppress_below_k",
]


def _check_thresholds(ts: Sequence[int], what: str) -> list[int]:
    out = sorted(set(int(t) for t in ts))
    if not out or out[0] < 2:
        raise RuleConfigurationError(
            f"{what} thresholds must be integers >= 2, got {list(ts)!r}"
        )
    return out


def equivalence_classes(df: DataFrame, quasi_cols: list[str]) -> DataFrame:
    """One row per distinct QI tuple with its ``class_size``.

    The building block the audits share: a single hash aggregation on
    the QI columns (NULL groups as a value, per SQL GROUP BY).
    """
    if not quasi_cols:
        raise RuleConfigurationError("quasi_cols must be non-empty")
    require_columns(df, list(quasi_cols))
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("class_size")
    )


def _ladder(
    classes: DataFrame,
    size_col: str,
    thresholds: list[int],
    label: str,
) -> DataFrame:
    """Fold per-class rows into one global row carrying a conditional
    sum/count per threshold, then explode back to one row per threshold
    — the whole ladder costs a single aggregate."""
    s = F.col(size_col)
    aggs = [
        F.coalesce(F.sum("class_size"), F.lit(0)).alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min(s).alias("min_size"),
    ]
    for t in thresholds:
        below = s < t
        aggs.append(
            F.coalesce(
                F.sum(F.when(below, F.col("class_size"))), F.lit(0)
            ).cast("long").alias(f"_rb_{t}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(below, F.lit(1))), F.lit(0)
            ).cast("long").alias(f"_cb_{t}")
        )
    one = classes.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(t).cast("long").alias("t"),
                F.col(f"_rb_{t}").alias("rb"),
                F.col(f"_cb_{t}").alias("cb"),
            )
            for t in thresholds
        ]
    )
    return (
        one.select(
            "n_rows", "n_classes", "min_size", F.explode(pairs).alias("_p")
        )
        .select(
            F.col("_p.t").alias(label),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_classes").cast("long").alias("n_classes"),
            F.col("min_size").cast("long").alias("min_size"),
            F.col("_p.rb").alias(f"rows_below_{label}"),
            F.col("_p.cb").alias(f"classes_below_{label}"),
            F.round(
                F.try_divide(F.col("_p.rb"), F.col("n_rows")), DIGITS
            ).alias(f"pct_rows_below_{label}"),
        )
        .orderBy(label)
    )


def kanonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    thresholds: Sequence[int] = (2, 5, 10),
) -> DataFrame:
    """k-anonymity risk ladder: one row per k threshold.

    Columns: ``k, n_rows, n_classes, min_size, rows_below_k,
    classes_below_k, pct_rows_below_k``. The dataset is k-anonymous at
    a given k iff ``rows_below_k == 0`` (equivalently
    ``min_size >= k``). ``min_size`` / counts are NULL/0 on an empty
    input rather than raising.
    """
    ts = _check_thresholds(thresholds, "k-anonymity")
    classes = equivalence_classes(df, quasi_cols)
    return _ladder(classes, "class_size", ts, "k")


def l_diversity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    thresholds: Sequence[int] = (2, 3),
) -> DataFrame:
    """Distinct l-diversity ladder over ``sensitive_col``: one row per l.

    A class's diversity is the count of DISTINCT NON-NULL sensitive
    values it holds (count-distinct SQL semantics — an all-NULL class
    has diversity 0 and is flagged below every l). Columns mirror
    :func:`kanonymity_report` with ``l`` in place of ``k`` and
    ``min_size`` = the minimum diversity across classes; ``n_rows``
    still counts input rows so ``pct_rows_below_l`` is a row-level
    exposure share.
    """
    ts = _check_thresholds(thresholds, "l-diversity")
    if sensitive_col in quasi_cols:
        raise RuleConfigurationError(
            "sensitive_col must not be one of the quasi-identifier columns"
        )
    require_columns(df, [*quasi_cols, sensitive_col])
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct(sensitive_col).alias("diversity"),
    )
    return _ladder(classes, "diversity", ts, "l")


def riskiest_classes(
    df: DataFrame,
    quasi_cols: list[str],
    top: int = 10,
) -> DataFrame:
    """The ``top`` smallest equivalence classes (the re-identification
    hot spots), smallest first with the QI tuple as a deterministic
    tie-break. Output is parameter-bounded (``limit(top)``)."""
    if top < 1:
        raise RuleConfigurationError("top must be >= 1")
    classes = equivalence_classes(df, quasi_cols)
    return classes.orderBy(
        "class_size", *[F.col(c).asc_nulls_first() for c in quasi_cols]
    ).limit(top)


def suppress_below_k(
    df: DataFrame,
    quasi_cols: list[str],
    k: int,
    flag_col: str | None = "suppressed",
) -> DataFrame:
    """Cell suppression to k-anonymity: NULL out every QI column on rows
    whose equivalence class has fewer than ``k`` members.

    Non-QI columns pass through untouched; the surviving (non-suppressed)
    rows are k-anonymous by construction. ``flag_col`` (optional) marks
    suppressed rows 1/0 so downstream consumers can quantify or route
    them — suppression is damage control, and damage must stay visible.
    One shuffle: a count window over the QI partitioning.
    """
    (k,) = _check_thresholds([k], "suppression k")
    require_columns(df, list(quasi_cols))
    if flag_col is not None and flag_col in df.columns:
        raise RuleConfigurationError(
            f"flag_col {flag_col!r} already exists in the input"
        )
    size = F.count(F.lit(1)).over(Window.partitionBy(*quasi_cols))
    below = size < k
    out = df.select(
        *[
            F.when(below, F.lit(None).cast(df.schema[c].dataType))
            .otherwise(F.col(c))
            .alias(c)
            if c in quasi_cols
            else F.col(c)
            for c in df.columns
        ],
        *(
            [below.cast("int").alias(flag_col)]
            if flag_col is not None
            else []
        ),
    )
    return out
