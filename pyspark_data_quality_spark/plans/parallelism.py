"""Input-parallelism guard for Python-kernel stages.

An Arrow-batched kernel is only as parallel as its input partitioning.
A small upstream file (one parquet footer, one coalesced shuffle output)
arrives as ONE partition, and the whole mapInPandas/pandas_udf stage
then serializes onto one core — measured in-repo: the sf0.1 documents
fixture is a single file, and every shingle kernel ran 1-task until this
guard existed.

The guard repartitions ONLY when the incoming partition count is
pathologically low relative to the cluster (below half the default
parallelism). At real scale the input has hundreds of splits and this is
a no-op — no shuffle is added where the data already provides
parallelism; the shuffle it does add in the low-parallelism case moves
exactly the rows the kernel was about to serialize on anyway.

Sizing the input must not EXECUTE it (r15 verdict item 7 / ADVICE):
``DataFrame.rdd`` materializes the adaptive plan, which eagerly runs
every upstream shuffle stage as real jobs — a caller passing a frame
with upstream joins/aggregations paid those stages twice. The guard
therefore estimates the partition count from the NON-ADAPTIVE physical
plan without building any RDD beyond leaf scans (whose RDDs are lazy):

- a stream-side shuffle exchange or cartesian product => the guard
  stands down entirely (the exchange's width is the session conf /
  AQE's business, and a round-robin respread of already-shuffled data
  is pure extra cost);
- broadcast build sides contribute nothing (they do not determine the
  frame's partitioning) and are never descended into (building their
  RDDs would submit the broadcast jobs eagerly);
- an explicit ``coalesce`` reports its pinned width (the guard still
  boosts a caller's ``coalesce(1)``, as the old probe did);
- leaf scans (files, local relations, checkpointed RDDs, in-memory
  caches via their cached plan) report their split count directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _stream_partition_estimate(plan) -> int | None:
    """Partition count of a (non-adaptive) physical plan's stream side,
    WITHOUT scheduling any job. ``None`` means "unknown / already
    redistributed — leave the frame alone". Leaf ``execute()`` calls
    only construct lazy RDDs (FileScanRDD / parallelized local rows);
    the job-submitting nodes (shuffle map stages, broadcast builds) are
    exactly the ones this walk refuses to descend through."""
    name = plan.getClass().getSimpleName()
    if name.startswith("BroadcastExchange"):
        # build side: contributes no stream partitions, and executing
        # it would submit the broadcast job eagerly
        return 0
    if name.startswith("ReusedExchange"):
        return _stream_partition_estimate(plan.child())
    if name.startswith("AdaptiveSparkPlan"):
        return _stream_partition_estimate(plan.initialPlan())
    if "ShuffleExchange" in name or name == "CartesianProductExec":
        # a cartesian product's partitions multiply rather than add;
        # like an exchange, its width is not the guard's to second-guess
        return None
    if name == "CoalesceExec":
        # coalesce pins its own width — that IS the frame's
        # partitioning (pinned contract: the guard must still boost a
        # caller's coalesce(1), as the old .rdd probe did)
        return int(plan.numPartitions())
    if name.startswith("InMemoryTableScan"):
        # a registered cache substitutes this leaf even before it is
        # materialized; size the plan being cached instead of executing
        return _stream_partition_estimate(plan.relation().cachedPlan())
    n_children = plan.children().size()
    if n_children == 0:
        return int(plan.execute().getNumPartitions())
    total = 0
    for i in range(n_children):
        child = _stream_partition_estimate(plan.children().apply(i))
        if child is None:
            return None
        total += child
    return total


def ensure_min_partitions(
    df: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Round-robin repartition iff the frame's stream side resolves to
    fewer than half of ``min_partitions`` (default: the context's
    default parallelism) leaf-scan partitions; a no-op whenever the
    plan already redistributes or the estimate is unavailable."""
    target = (
        min_partitions
        or df.sparkSession.sparkContext.defaultParallelism
    )
    try:
        # executedPlan (NOT .rdd): under AQE this is the un-executed
        # AdaptiveSparkPlanExec whose initialPlan already carries the
        # EnsureRequirements exchanges — walkable without running a
        # single stage (the raw sparkPlan has no Exchange nodes yet)
        est = _stream_partition_estimate(
            df._jdf.queryExecution().executedPlan()
        )
    except Exception:
        # sizing is best-effort; an unrecognized plan shape must never
        # break composition — the guard simply stands down
        est = None
    # est == 0 (an empty scan) boosts too, as the old .rdd probe did
    if est is not None and est * 2 <= target:
        return df.repartition(target)
    return df
