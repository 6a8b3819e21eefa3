"""Skew-aware aggregation helpers.

AQE's skew-join handling covers joins, but a plain ``groupBy`` over a
power-law key (the norm in web/event data: one domain, one user, one
fingerprint dominating) still lands the hot key on one reducer. The
classic fix is SALTING: two-stage aggregation over (key, salt) then key.
Only aggregates that decompose into partials qualify (count/sum/min/max —
what the DQ metrics use); the second stage is tiny (distinct keys x
salt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import DIGITS
from .local import local_frame


def salted_agg_counts(
    df: DataFrame,
    keys: list[str],
    *,
    salt: int = 16,
    value_col: str | None = None,
) -> DataFrame:
    """``groupBy(keys).count()`` (plus sum/min/max of ``value_col``) with a
    two-stage salted shuffle.

    Stage 1 groups by (keys..., random salt in [0, salt)) — the hot key's
    rows spread over ``salt`` reducers; stage 2 merges the ``salt``
    partials per key. Equivalent results to the direct groupBy for the
    decomposable aggregates computed here.
    """
    salted = df.withColumn(
        "_salt", (F.rand() * salt).cast("int")
    )
    partial_aggs = [F.count(F.lit(1)).alias("_pc")]
    final_aggs = [F.sum("_pc").alias("count")]
    if value_col is not None:
        partial_aggs += [
            F.sum(value_col).alias("_ps"),
            F.min(value_col).alias("_pmin"),
            F.max(value_col).alias("_pmax"),
        ]
        final_aggs += [
            F.sum("_ps").alias(f"sum_{value_col}"),
            F.min("_pmin").alias(f"min_{value_col}"),
            F.max("_pmax").alias(f"max_{value_col}"),
        ]
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: list[str],
    *,
    how: str = "inner",
    salt: int = 16,
    hot_keys: list | None = None,
    hot_threshold: int = 1_000_000,
    seed: int | None = None,
) -> DataFrame:
    """Equi-join with explicit hot-key salting — the shuffle-join
    fallback when ONE key (the null-surrogate user id, the apex domain,
    the empty-string fingerprint) owns a double-digit share of the fact
    table and even AQE's skew splitting can't help because every split
    of the hot partition still joins the same dim rows.

    Mechanics: hot keys are found with a partial-agg count over the
    fact side (map-side combine collapses the hot key per partition, so
    the detection shuffle carries distinct keys, not rows) and
    broadcast-tagged onto both sides; hot FACT rows get a random salt
    in [0, ``salt``), hot DIM rows are replicated once per salt value
    (cold rows salt 0, no replication), and the join runs on
    ``keys + salt``. Every fact row carries exactly one salt and every
    hot dim row has exactly one replica per salt, so each matching pair
    joins exactly once: results are row-identical to the plain join.

    Pass ``hot_keys`` (list of values for a single key, or tuples for
    compound keys) to skip detection — the production shape where the
    offenders are known and pinned in config. ``hot_threshold`` is in
    fact-side ROWS per key; size it so a key below it fits one reducer
    comfortably.

    Supported ``how``: inner / left / left_semi / left_anti (fact side
    preserved). right/full are refused: unmatched hot DIM rows exist
    once per replica and would duplicate in the output.

    NULL keys behave exactly like the plain join (never equal, dropped
    from inner results); they are also never "hot" — detection and
    tagging both join on the keys, where NULL matches nothing, so NULL
    rows keep salt 0 and fall through untouched.

    Salt placement: results are row-identical to the plain join for ANY
    salt assignment (every hot dim row exists once per salt value), so
    correctness never depends on it. Pass ``seed`` to make placement
    reproducible across runs — ``F.rand(seed)`` is deterministic per
    (partition contents, partition index). Unseeded (default), salt
    assignment is nondeterministic; on a shuffle-fetch-failure stage
    replay over indeterminate map output, rows can be RE-salted
    differently between attempts — Spark's indeterminate-stage rollback
    (rerun all reducers of the stage) is what keeps the join's output
    consistent in that case, not this operator.
    """
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join: how={how!r} unsupported (unmatched hot dim "
            "rows would duplicate under right/full)"
        )
    if salt < 2:
        raise ValueError("salted_join: salt must be >= 2")
    if not keys:
        raise ValueError("salted_join: keys must be non-empty")
    overlap = (set(fact.columns) & set(dim.columns)) - set(keys)
    if overlap:
        raise ValueError(
            f"salted_join: non-key columns {sorted(overlap)} exist on "
            "both sides; rename before joining"
        )
    for c in ("_salt", "_hot"):
        if c in fact.columns or c in dim.columns:
            raise ValueError(f"salted_join: column {c!r} is reserved")

    if hot_keys is not None:
        rows = [
            tuple(k) if isinstance(k, (tuple, list)) else (k,)
            for k in hot_keys
        ]
        hot = local_frame(
            fact.sparkSession, rows, fact.select(*keys).schema
        ).distinct()
    else:
        hot = (
            fact.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= hot_threshold)
            .select(*keys)
        )
    hot = F.broadcast(hot.withColumn("_hot", F.lit(True)))

    rnd = F.rand() if seed is None else F.rand(seed)
    fact_s = fact.join(hot, keys, "left").withColumn(
        "_salt",
        F.when(F.col("_hot"), (rnd * salt).cast("int")).otherwise(
            F.lit(0)
        ),
    ).drop("_hot")
    dim_s = (
        dim.join(hot, keys, "left")
        .withColumn(
            "_salt",
            F.explode(
                F.when(
                    F.col("_hot"),
                    F.sequence(F.lit(0), F.lit(salt - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("_hot")
    )
    return fact_s.join(dim_s, [*keys, "_salt"], how).drop("_salt")


def skew_report(
    df: DataFrame, columns: list[str]
) -> DataFrame:
    """Key-skew diagnosis for shuffle planning: for each candidate
    join/group key column, how lopsided is its value distribution?

    Output one row per column: ``n_rows``, ``n_keys`` (distinct values),
    ``max_count`` (heaviest key), ``avg_count``, ``skew_ratio``
    (max/avg — 1.0 is uniform; >>1 means one reducer eats the key),
    ``top_key`` (the heaviest value, ties broken by value), and
    ``null_count``. This is the number you look at BEFORE choosing
    broadcast/salting/AQE-skew settings for a 100 TB join.

    Scale shape: all columns ride ONE exploded-map shuffle to per-value
    counts (same trick as profile.top_values), then a per-column
    aggregate over the counts — work after the first agg is proportional
    to distinct values, not rows. The heaviest key is picked with
    ``max_by`` inside the same aggregate: no rank window, no second
    shuffle over values.
    """
    pairs = df.select(
        F.explode(
            F.create_map(
                *[
                    x
                    for c in columns
                    for x in (
                        F.lit(c),
                        F.col(c).cast("string"),
                    )
                ]
            )
        ).alias("column", "value")
    )
    counts = pairs.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_col = counts.groupBy("column").agg(
        F.sum(F.when(F.col("value").isNotNull(), F.col("n")).otherwise(0)).alias(
            "_n_rows_nn"
        ),
        F.sum(F.when(F.col("value").isNull(), F.col("n")).otherwise(0)).alias(
            "null_count"
        ),
        F.count(F.when(F.col("value").isNotNull(), F.lit(1))).alias("n_keys"),
        F.max(F.when(F.col("value").isNotNull(), F.col("n"))).alias("max_count"),
        F.max_by(
            "value",
            F.when(
                F.col("value").isNotNull(),
                F.struct(F.col("n"), F.col("value")),
            ),
        ).alias("top_key"),
    )
    avg = F.try_divide(F.col("_n_rows_nn"), F.col("n_keys"))
    return per_col.select(
        "column",
        (F.col("_n_rows_nn") + F.col("null_count")).alias("n_rows"),
        "n_keys",
        "max_count",
        F.round(avg, DIGITS).alias("avg_count"),
        F.round(F.try_divide(F.col("max_count"), avg), DIGITS).alias(
            "skew_ratio"
        ),
        "top_key",
        "null_count",
    )
