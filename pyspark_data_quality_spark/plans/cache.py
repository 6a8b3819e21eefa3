"""Gated operator-level caching — THE cache-lifetime contract.

Operators in this package persist small derived frames (collapsed
histograms, token-count models, pruned projections) that feed two or
more consumers, so the expensive corpus-sized subtree under them
executes once instead of once per consumer (docs/SCALE.md invariant 6).
The lifetime contract, stated here once and referenced by every call
site:

- Storage level is ``MEMORY_AND_DISK``. Memory-tier blocks can demote
  to disk under executor memory pressure, but Spark's CacheManager does
  NOT LRU-evict cache entries: a persisted frame's disk-tier blocks
  live until an explicit ``unpersist()`` or session end. A cache that
  "is small relative to the corpus" is still residue in a long-lived
  session that loops the operator over many frames.
- Therefore every operator that caches internally takes
  ``persist: bool = True``. One-shot callers (a report, a driver query,
  a test) keep the default and let session teardown collect the blocks.
  Long-lived sessions looping an operator pass ``persist=False`` — the
  shared subtree recomputes once per consumer (bounded extra work, no
  CacheManager residue) — or call the operator's explicit release
  handle where one exists (``NBModel.unpersist()``).
- ``persist`` never changes results. Frames whose PARTITION IDENTITY is
  load-bearing (the distributed prefix sums join per-partition offsets
  back on ``spark_partition_id``, so every consumer must observe the
  same ``repartitionByRange`` boundary sample) go through
  :func:`pin_partitions`: with ``persist=False`` they fall back to a
  ``localCheckpoint`` — materialized once, blocks released by the
  ContextCleaner when the result frame is garbage-collected. Two
  documented costs (measured on PySpark 4.1.2): lineage is cut (a lost
  executor fails the job instead of recomputing; the default persisted
  path keeps lineage), and even with ``eager=False`` the checkpoint is
  NOT lazy under AQE — compiling to the checkpointable RDD materializes
  the upstream shuffle stages AT CALL TIME, so the operator does its
  heavy work when constructed rather than when consumed (same total
  work for callers that consume the result, which every operator here
  does immediately; the escape hatch trades call-site laziness for
  zero CacheManager residue).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame


def maybe_persist(df: DataFrame, persist: bool) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK)`` when ``persist`` is true, else
    ``df`` unchanged. For frames that are merely expensive to recompute;
    see the module docstring for the contract."""
    if persist:
        from pyspark import StorageLevel

        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


def pin_partitions(df: DataFrame, persist: bool) -> DataFrame:
    """Materialize-once pin for frames whose partition identity must be
    shared by every consumer (prefix-sum offset joins). ``persist=True``
    -> CacheManager persist (lineage kept, explicit lifetime, lazy);
    ``persist=False`` -> ``localCheckpoint`` (GC-scoped blocks, no
    CacheManager residue, lineage cut, and EAGER under AQE — upstream
    stages run at call time; see the module docstring). Never a plain
    lazy frame: two consumers re-executing a ``repartitionByRange``
    could sample different range boundaries and misalign the offset
    join."""
    if persist:
        return maybe_persist(df, True)
    return df.localCheckpoint(eager=False)


@contextmanager
def checkpointed(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` materialized once (eager ``localCheckpoint``) for the
    duration of the ``with`` block, its blocks dropped on exit rather
    than whenever the ContextCleaner collects the frame — a session
    that loops this over many batches holds one batch's blocks at a
    time. The checkpoint compiles through AQE, so its partitions keep
    AQE's coalescing, where a persisted plan can keep the full
    shuffle-partition count. Lineage is cut, as for
    :func:`pin_partitions`: a lost executor fails the consumer instead
    of recomputing, so a consumer that writes twice from the frame can
    fail after its first write has committed. The frame must not be
    read after the block."""
    ck = df.localCheckpoint(eager=True)
    try:
        yield ck
    finally:
        # SparkContext.unpersistRDD, not RDD.unpersist: the latter logs
        # a lineage warning for every locally checkpointed RDD
        rdd_id = ck._jdf.queryExecution().logical().rdd().id()
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, True)
