"""The measurement harness of ``bench.py``, ``scripts/check_oracle.py`` and
``scripts/audit_plans.py``: the tool session (``build_session`` plus
tool-only confs), warm-up, cache isolation, entry selection, formatted
plan, per-entry job counts, and the bench-artifact format
(``BENCH_r{N}[_c{cpus}].json``, ``docs/bench_full_sf{sf}[_c{cpus}].json``).
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable, Iterable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from pyspark_data_quality_spark.sources.session import (  # noqa: E402
    build_session,
)

#: the standard bench core count (bench.py's default); artifacts
#: without a ``cpus`` stamp (written before it existed) were measured at it
DEFAULT_CPUS = 32

#: confs only the tools need, on top of the library's RECOMMENDED_CONFS
_TOOL_CONFS = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "8g",
    # even with the UI off, AppStatusListener/SQLAppStatusListener
    # retain execution graphs for up to 1000 queries — at 110 entries x
    # 2 passes x multi-job plans that's real heap growth, and late-suite
    # queries were measuring 2-3x their isolated time under the
    # accumulated GC pressure. Keep only a handful — but of jobs (small
    # records) enough for bench.py to read every job of an entry after
    # it ran: dq_pagerank runs ~70 at sf0.01.
    "spark.sql.ui.retainedExecutions": "10",
    "spark.ui.retainedJobs": "200",
    "spark.ui.retainedStages": "50",
    "spark.ui.retainedTasks": "500",
    "spark.ui.retainedDeadExecutors": "1",
}


def session(app: str, cpus: int) -> SparkSession:
    """A ``local[cpus]`` tool session with one shuffle partition per core,
    logging errors only."""
    spark = build_session(
        app,
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_confs=_TOOL_CONFS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Warm the JVM/codegen, the parquet datasource, and the Python UDF
    workers + Arrow channel, so the first measured query isn't charged
    for one-time session startup."""
    import pandas as pd
    from pyspark.sql.functions import col, pandas_udf

    def _identity(s):
        return s

    _identity.__annotations__ = {"s": pd.Series, "return": pd.Series}
    for df in (
        spark.range(1000).selectExpr("sum(id)"),
        spark.read.parquet(f"{sf_dir}/region.parquet"),
        spark.range(1000).select(pandas_udf(_identity, "long")(col("id"))),
    ):
        df.write.format("noop").mode("overwrite").save()


def clear_cache(spark: SparkSession) -> None:
    """Isolate entries: drop every cached frame after one runs. Internal
    operator caches (plans/cache.py) are session-lived, so a pipeline
    entry that persists (e.g. dq_curation) would otherwise leave cache
    pressure that inflates every later measurement."""
    try:
        spark.catalog.clearCache()
    except Exception:  # a broken session must not hide the entry's result
        pass


def dq_name(name: str) -> str:
    """The registry name of an entry: suite lines and command lines may
    drop the uniform ``dq_`` prefix."""
    return name if name.startswith("dq_") else f"dq_{name}"


def entries(
    names: Iterable[str],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registry entries named (``dq_`` prefix optional), in registry
    order; the whole registry when no name is given. An unknown name
    exits with an error."""
    queries = entry_mod.queries()
    want = {dq_name(n) for n in names if n}
    unknown = want - set(queries)
    if unknown:
        sys.exit(f"unknown entries: {sorted(unknown)}")
    return {n: f for n, f in queries.items() if not want or n in want}


def formatted_plan(df: DataFrame) -> str:
    """``df.explain('formatted')`` as a string."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


def job_counts(spark: SparkSession, job_ids: set[int]) -> dict[str, int]:
    """Jobs, and the stages and tasks they ran (skipped ones excluded),
    of ``job_ids`` — read from the status store after the jobs ended."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    oldest = min(job_ids, default=0)
    stages = tasks = 0
    for i in range(jobs.size()):  # newest first
        j = jobs.apply(i)
        if j.jobId() < oldest:
            break
        if j.jobId() in job_ids:
            stages += j.stageIds().size() - j.numSkippedStages()
            tasks += j.numTasks() - j.numSkippedTasks()
    return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}


def bench_full_name(sf: float, cpus: int = DEFAULT_CPUS) -> str:
    """Per-sf, per-cpus artifact name: sf renders as in the testdata dir
    (0.1 -> 'sf0.1'), and a non-default core count is suffixed (8 ->
    'sf0.1_c8'), so runs at different scale factors or core counts never
    overwrite each other's complete map."""
    suffix = "" if cpus == DEFAULT_CPUS else f"_c{cpus}"
    return f"bench_full_sf{sf:g}{suffix}.json"


def load_bench(
    path: str,
) -> tuple[dict[str, float], float | None, int | None, int]:
    """``(queries, sf, round, cpus)`` of a ``BENCH_r{N}[_c{cpus}].json``
    driver artifact (``{"parsed": {...}}``), a bench_full map or a bare
    suite line, keyed by registry name (see :func:`dq_name`)."""
    with open(path) as f:
        raw = json.load(f)
    data = raw.get("parsed", raw) or {}
    rnd = data.get("round")
    if rnd is None:
        m = re.search(r"BENCH_r(\d+)(?:_c\d+)?\.json$", os.path.basename(path))
        if m:
            rnd = int(m.group(1))
    queries = {
        dq_name(k): float(v) for k, v in (data.get("queries") or {}).items()
    }
    return queries, data.get("sf"), rnd, int(raw.get("cpus", DEFAULT_CPUS))


def fill_from_full(
    queries: dict[str, float], sf: float | None, rnd: int | None,
    cpus: int, repo_dir: str,
) -> dict[str, float] | None:
    """``queries`` with the keys the driver's truncated suite line dropped
    restored from ``docs/<bench_full_name(sf, cpus)>``, or None when that
    map does not carry the same round, sf and cpus tags.

    Fill only: a same-round tag does not mean the same run (a mid-round
    full bench shares the tag with the driver's round-close run), so the
    BENCH values stay authoritative for keys present in both."""
    if sf is None or rnd is None:
        return None
    try:
        path = os.path.join(repo_dir, "docs", bench_full_name(sf, cpus))
        with open(path) as f:
            full = json.load(f)
    except (OSError, ValueError):
        return None
    if (
        full.get("round") != rnd
        or full.get("sf") != sf
        or full.get("cpus", DEFAULT_CPUS) != cpus
    ):
        return None
    filled = {dq_name(k): float(v) for k, v in full.get("queries", {}).items()}
    return {**filled, **queries}
