"""Metrics persistence: append-only parquet history of DQ runs.

The reference had NO sink at all (metrics lived in a transient DataFrame,
``result_obj.py:60-70``); a production DQ system needs run-over-run
history for trend alerts. Layout: parquet partitioned by ``dataset`` and
``run_date`` — partition pruning makes "this dataset, last N days" reads
cheap, and the 14-field METRIC_SCHEMA stays stable across runs so the
history unions schema-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.anomaly import metrics_regression


def write_metrics(metrics: DataFrame, path: str) -> None:
    """Append one run's metric rows, partitioned for pruned reads.

    One run writes ONE file per ``(dataset, run_date)`` partition: a
    metrics frame holds rules x columns rows, so it is coalesced to a
    single task first — otherwise each slice of the driver-built frame
    appends its own tiny file and the history's file count grows by the
    core count per run."""
    (
        metrics.withColumn("run_date", F.to_date("run_ts"))
        .coalesce(1)
        .write.mode("append")
        .partitionBy("dataset", "run_date")
        .parquet(path)
    )


def read_metrics(
    spark: SparkSession,
    path: str,
    *,
    dataset: str | None = None,
) -> DataFrame:
    """Load metric history; the dataset filter prunes partitions."""
    df = spark.read.parquet(path)
    if dataset is not None:
        df = df.filter(F.col("dataset") == dataset)
    return df


def monitor_metrics(
    spark: SparkSession,
    path: str,
    current: DataFrame,
    *,
    dataset: str | None = None,
    lookback: int = 30,
    threshold: float = 3.0,
    min_periods: int = 3,
    direction: str = "down",
) -> DataFrame:
    """The Deequ anomaly-constraint loop, end-to-end: judge ``current``
    (one run's ``get_metric_results()`` frame) against the persisted
    history at ``path`` via
    :func:`..operators.anomaly.metrics_regression` — "this run's
    completeness dropped 3σ vs the trailing 30 runs". Intended flow::

        metrics = mgr.run().get_metric_results()
        report = monitor_metrics(spark, path, metrics, dataset="orders")
        # ... alert on report.filter("is_regression"), then:
        write_metrics(metrics, path)

    Rows whose ``run_id`` appears in ``current`` are excluded from the
    history (anti-join, broadcastable one-row side), so the call is
    safe in either order around :func:`write_metrics` — a run never
    judges, and can never mask, itself. A pipeline's FIRST EVER run has
    no history path at all; that case degrades to an empty history
    (every metric reports ``insufficient_history``) instead of
    crashing on the missing parquet path. Series key =
    ``(dataset, metric_name, column)``, ordered by ``run_ts``;
    ``direction='down'`` pages on drops only (a metric IMPROVING 3σ is
    not an incident), pass ``'both'`` to flag either way.

    Scale shape: the parquet read partition-prunes on ``dataset``, and
    everything downstream shuffles metric rows only (runs x rules) —
    see metrics_regression's contract."""
    from pyspark.errors import AnalysisException

    try:
        hist = read_metrics(spark, path, dataset=dataset)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        # first ever run: the monitor-then-write flow reaches here
        # before anything exists at `path` — judge against an empty
        # history rather than crash (metrics_regression then reports
        # insufficient_history for every series)
        hist = current.limit(0)
    hist = hist.join(
        current.select("run_id").distinct(), on="run_id", how="left_anti"
    )
    return metrics_regression(
        hist,
        current,
        key_cols=["dataset", "metric_name", "column"],
        value_col="value_double",
        order_col="run_ts",
        lookback=lookback,
        threshold=threshold,
        min_periods=min_periods,
        direction=direction,
    )
