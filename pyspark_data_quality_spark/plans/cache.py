"""Operator-level caching — THE cache-lifetime contract.

Operators in this package pin small derived frames (collapsed
histograms, token-count models, pruned projections) that feed two or
more consumers, so the expensive corpus-sized subtree under them
executes once instead of once per consumer (docs/SCALE.md invariant 6).
The contract, stated here once and referenced by every call site:

- Every such pin goes through :func:`pin` (lazy ``MEMORY_AND_DISK``,
  lineage kept); there is no per-operator switch.
- Operators pin shared subtrees until an explicit release. Memory-tier
  blocks can demote to disk, but Spark's CacheManager does NOT
  LRU-evict cache entries: a pinned frame's disk-tier blocks live until
  a release or session end, so a long-lived session that loops
  operators over many frames releases between iterations with
  ``spark.catalog.clearCache()``, or the operator's own handle where
  one exists (``NBModel.unpersist()``). One-shot callers (a report, a
  driver query, a test) let session teardown collect the blocks.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Pin ``df`` so every consumer reads one materialization.

    ``df.persist(MEMORY_AND_DISK)``, released by
    ``spark.catalog.clearCache()`` (see the module docstring for the
    contract). Also the pin for frames whose partition identity must
    be shared by every consumer (prefix-sum offset joins): two
    consumers re-executing a bare lazy ``repartitionByRange`` could
    sample different range boundaries and misalign the offset join."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


@contextmanager
def checkpointed(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` materialized once (eager ``localCheckpoint``) for the
    duration of the ``with`` block, its blocks dropped on exit rather
    than whenever the ContextCleaner collects the frame — a session
    that loops this over many batches holds one batch's blocks at a
    time. The checkpoint compiles through AQE, so its partitions keep
    AQE's coalescing, where a persisted plan can keep the full
    shuffle-partition count. Lineage is cut, unlike :func:`pin`: a
    lost executor fails the consumer instead of recomputing, so a
    consumer that writes twice from the frame can fail after its first
    write has committed. The frame must not be read after the block."""
    ck = df.localCheckpoint(eager=True)
    try:
        yield ck
    finally:
        # SparkContext.unpersistRDD, not RDD.unpersist: the latter logs
        # a lineage warning for every locally checkpointed RDD
        rdd_id = ck._jdf.queryExecution().logical().rdd().id()
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, True)
