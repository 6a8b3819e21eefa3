"""Quarantine routing: one DQ pass writes valid rows onward and invalid
rows (with their failure reasons) to a quarantine area.

The standard production pattern the reference never closed the loop on:
its ResultObj exposed the two frames but nothing persisted them. The
batch is classified ONCE: the annotated frame (input + ``failed_rules``)
is materialized with an eager ``localCheckpoint``, and the two sinks are
complementary SQL-text filters (``ALL_PASS`` / ``ANY_FAIL``) of that
one frame. The source is scanned and every
rule evaluated once — including a uniqueness rule's window shuffle and
an FK rule's broadcast probe — and both sides come from the same
classification by construction, even if the source changes between the
two writes. The trade is a cut lineage: a lost executor fails the route
instead of recomputing it (``plans.cache.checkpointed``). If that
happens after the valid write has committed, the batch is half routed;
in append mode a caller that retries the route appends the valid rows a
second time. A checkpoint,
not ``persist()``: it keeps AQE's coalesced partitioning, so each side
writes as few files as the data needs rather than one per shuffle
partition.

Layout: ``<base>/valid/`` (original schema) and ``<base>/invalid/``
(original schema + ``failed_rules array<string>``), both parquet so the
quarantine is queryable for triage and replay. ``partition_by`` columns
apply to both sides (e.g. an ingest-date column keeps replays pruned).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from ..plans.cache import checkpointed
from ..result import ALL_PASS, ANY_FAIL, FAILED_RULES_COL, ResultObj


def _route_classified(
    result: ResultObj,
    base_path: str,
    *,
    mode: str,
    partition_by: list[str] | None = None,
    extra: dict[str, Column] | None = None,
) -> dict[str, str]:
    """Checkpoint ``result.annotated_df()`` once, then write its passing
    rows (``failed_rules`` dropped) to ``<base>/valid`` and its failing
    rows to ``<base>/invalid``; ``extra`` columns go on both sides.
    The valid side is written first: a failure before the invalid write
    commits leaves the batch half routed. Returns the two paths."""
    base = base_path.rstrip("/")
    paths = {"valid": f"{base}/valid", "invalid": f"{base}/invalid"}
    with checkpointed(result.annotated_df()) as ann:
        sides = {
            "valid": ann.filter(ALL_PASS).drop(FAILED_RULES_COL),
            "invalid": ann.filter(ANY_FAIL),
        }
        for name, df in sides.items():
            if extra:
                df = df.withColumns(extra)
            w = df.write.mode(mode)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(paths[name])
    return paths


def quarantine_route(
    result: ResultObj,
    base_path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "append",
) -> dict[str, str]:
    """Write ``result``'s valid rows to ``<base>/valid`` and invalid rows
    (with ``failed_rules``) to ``<base>/invalid``. Both sides come from
    one checkpointed classification; a failure between the two writes
    leaves a half-routed batch, and with ``mode="append"`` retrying the
    route appends the valid rows twice. Returns the two paths."""
    return _route_classified(result, base_path, mode=mode, partition_by=partition_by)


def read_quarantine(spark: SparkSession, base_path: str) -> DataFrame:
    """Load the invalid/quarantined rows for triage."""
    return spark.read.parquet(f"{base_path.rstrip('/')}/invalid")
