"""Runtime plan telemetry: harvest SQLMetrics from an executed physical
plan — the numbers behind every "the shuffle carries hashes, not
documents" claim in this package, turned into something a test can
assert.

`scripts/audit_plans.py` audits plans STATICALLY (operator shapes,
pushdown, UDF kinds); this module reads the runtime accumulators after
an action: bytes actually written to each shuffle, rows out of each
operator, spill sizes, broadcast data sizes. Use it to pin scale
contracts in CI — e.g. exact dedup over a corpus must shuffle a small
multiple of 8 bytes/doc (the fingerprints), never the document bodies
(tests/test_telemetry.py does exactly that).

Implementation: a py4j walk of ``queryExecution().executedPlan()``,
transparently unwrapping AQE (``AdaptiveSparkPlan`` → its final
``executedPlan``; ``*QueryStage`` wrappers → their ``plan``). Metrics
are SQLMetric accumulators attached to the reused physical plan, so
harvest AFTER an action on the SAME DataFrame object; values accumulate
across repeated actions on that object (re-create the frame for a fresh
count).

:func:`jobs_during` counts the Spark jobs an action starts — the fixed
per-job cost is what dominates at small scale, so tests pin job counts
with it. :func:`py4j_commands` counts the py4j commands the driver sends
— the cost of composing a frame before any job starts, which tests pin
as a budget.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from types import SimpleNamespace
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

_T = TypeVar("_T")

__all__ = [
    "measured_collect",
    "harvest_plan_metrics",
    "summarize_metrics",
    "jobs_during",
    "py4j_commands",
]


def jobs_during(
    spark: SparkSession, action: Callable[[], _T]
) -> tuple[_T, set[int]]:
    """``(action(), ids of the Spark jobs it started)``.

    Job ids are sequential, so the ids are the range between the newest
    job before and after the action: exact in any job group, and even
    when the status store's retention (``spark.ui.retainedJobs``) has
    already dropped some of them. The asynchronous listener bus is
    drained on both sides first — an undrained read can miss jobs that
    already ran."""
    sc = spark.sparkContext._jsc.sc()

    def newest() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    before = newest()
    out = action()
    return out, set(range(before + 1, newest() + 1))


def harvest_plan_metrics(df: DataFrame) -> list[dict[str, Any]]:
    """Post-action metric rows, one per physical operator:
    ``{"node": str, "depth": int, "metrics": {name: value}}`` in
    pre-order. Run an action on ``df`` first.

    Caveat for persisted frames (r11): ``InMemoryTableScan`` is a LEAF
    here — the cached child plan is not reachable via ``children()``,
    so the work done to MATERIALIZE a cache (its source scans, its
    shuffles) is invisible to this walk; only the cache READS appear
    (their ``numOutputRows`` = rows served from the cache). Summaries
    must therefore treat InMemoryTableScan as a cache read, not a
    source scan (see :func:`summarize_metrics`), and a fully-cached
    plan legitimately reports scan_output_rows=0."""
    out: list[dict[str, Any]] = []

    def walk(node, depth):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan(), depth)
            return
        if "QueryStage" in name:
            walk(node.plan(), depth)
            return
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append({"node": name, "depth": depth, "metrics": metrics})
        cit = node.children().iterator()
        while cit.hasNext():
            walk(cit.next(), depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return out


def measured_collect(df: DataFrame):
    """``(rows, metric_rows)``: collect the frame and harvest its
    executed plan's runtime metrics in one call."""
    rows = df.collect()
    return rows, harvest_plan_metrics(df)


def summarize_metrics(metric_rows: list[dict[str, Any]]) -> dict[str, int]:
    """Scale-relevant totals from :func:`harvest_plan_metrics` output:

    - ``shuffle_bytes_written``: sum over Exchange nodes — the real
      cost of every groupBy/join in the plan;
    - ``shuffle_records_written``: its row-count sibling;
    - ``broadcast_bytes``: sum of broadcast ``dataSize`` — how much
      rode to every executor;
    - ``spill_bytes``: memory pressure actually hit;
    - ``scan_output_rows``: rows surviving the scans (post-pushdown).
    """
    totals = {
        "shuffle_bytes_written": 0,
        "shuffle_records_written": 0,
        "broadcast_bytes": 0,
        "spill_bytes": 0,
        "scan_output_rows": 0,
    }
    for row in metric_rows:
        m = row["metrics"]
        node = row["node"]
        if node == "Exchange":
            totals["shuffle_bytes_written"] += int(
                m.get("shuffleBytesWritten", 0)
            )
            totals["shuffle_records_written"] += int(
                m.get("shuffleRecordsWritten", 0)
            )
        if node == "BroadcastExchange":
            totals["broadcast_bytes"] += int(m.get("dataSize", 0))
        totals["spill_bytes"] += int(m.get("spillSize", 0))
        # SOURCE scans only: InMemoryTableScan is a cache READ, not a
        # rescan of the data — counting it as a scan reports an N-fold
        # phantom re-read for every persisted frame with N consumers
        if "Scan" in node and "InMemory" not in node:
            totals["scan_output_rows"] += int(m.get("numOutputRows", 0))
    return totals


@contextmanager
def py4j_commands(spark: SparkSession) -> Iterator[SimpleNamespace]:
    """Count the py4j commands the calling thread sends to the JVM inside
    the ``with`` block: ``with py4j_commands(spark) as sent: ...`` leaves
    the count in ``sent.n`` (readable inside the block too).

    Every JVM call, attribute lookup and reflection query is one
    command, so the count measures the driver-side cost of composing a
    frame independently of host speed. Only the calling thread counts:
    the releases of garbage-collected Java objects, which py4j sends
    from its own thread whenever Python's collector runs, would make
    the count depend on timing."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    shadowed = "send_command" in vars(client)  # an enclosing counter's
    caller = threading.get_ident()
    sent = SimpleNamespace(n=0)

    def counting(*args, **kwargs):
        if threading.get_ident() == caller:
            sent.n += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        if shadowed:
            client.send_command = send
        else:
            del client.send_command
