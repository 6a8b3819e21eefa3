"""Spark session pinning and the readings taken from outside the library:
the status store (jobs, stages, cached RDDs), process RSS, and runtime SQL
metrics of executed plans."""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import SparkSession


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def start_session(repo_root: str, work: str, cpus: int) -> SparkSession:
    """``local[cpus]`` with one shuffle partition per core. Every file Spark,
    the JVM and the Python workers write lands under ``work``; the workers
    get the repo on ``PYTHONPATH`` so pickled library UDFs import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed heap size keeps RSS and GC from depending on when the
        # JVM decides to grow the heap
        .config("spark.driver.extraJavaOptions", f"-Xms2g -Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop Spark, then end the JVM the session launched and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


_STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ms": "executorCpuTime",  # ns, converted below
    "gc_ms": "jvmGcTime",
    "input_records": "inputRecords",
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_records": "shuffleWriteRecords",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class JobReader:
    """Jobs that ran since the last call, read from the status store.

    Jobs are found by id range (every job with a larger id than the last one
    seen), not by job group, so jobs submitted from helper threads count
    too. The listener bus is drained first, so the store holds every event
    of the jobs that already ended; reading after each operation means the
    store's retention limits never drop a job before it is read."""

    def __init__(self, spark: SparkSession):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._last = -1
        self.new_jobs()

    def new_jobs(self) -> list[dict]:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last:
                break
            out.append(j)
        if out:
            self._last = out[0].jobId()
        return [self._job(j) for j in reversed(out)]

    def _job(self, j) -> dict:
        sub, done = j.submissionTime(), j.completionTime()
        rec = {
            "id": j.jobId(),
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
            "stages": [],
        }
        ids = j.stageIds()
        for k in range(ids.size()):
            attempts = self._store.stageData(ids.apply(k), False, None, False, None)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                status = s.status().toString()
                if status in ("SKIPPED", "PENDING"):
                    continue
                st = {"id": s.stageId(), "tasks": s.numTasks(),
                      "failed_tasks": s.numFailedTasks()}
                for key, attr in _STAGE_FIELDS.items():
                    st[key] = getattr(s, attr)()
                st["executor_cpu_ms"] /= 1e6
                rec["stages"].append(st)
        return rec

    def cached(self) -> tuple[int, int]:
        """(bytes, blocks) currently held by persisted RDDs."""
        rdds = self._store.rddList(True)
        size = blocks = 0
        for i in range(rdds.size()):
            r = rdds.apply(i)
            size += r.memoryUsed() + r.diskUsed()
            blocks += r.numCachedPartitions()
        return size, blocks


def job_totals(jobs: list[dict]) -> dict[str, float]:
    """Per-operation sums over the given jobs (each stage counted once)."""
    stages = {s["id"]: s for j in jobs for s in j["stages"]}.values()
    out = {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "failed_tasks": sum(s["failed_tasks"] for s in stages),
        "job_ms": 1000.0 * union_length(
            [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
        ),
    }
    for key in _STAGE_FIELDS:
        out[key] = sum(s[key] for s in stages)
    out["spill_bytes"] = out.pop("memory_spill_bytes") + out.pop("disk_spill_bytes")
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class Sampler:
    """Background sampler of driver JVM + Python client RSS (and, when a
    ``JobReader`` is given, of persisted storage). Peaks are kept only while
    ``active`` is set, i.e. inside the timed operations."""

    def __init__(self, spark: SparkSession, reader: JobReader | None = None,
                 period: float = 0.02):
        self._pids = (os.getpid(), int(spark._jvm.ProcessHandle.current().pid()))
        self._reader = reader
        self._period = period
        self.active = threading.Event()
        self._stop = threading.Event()
        self.peak_rss = 0
        self.peak_cache = (0, 0)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def reset_cache_peak(self) -> None:
        self.peak_cache = (0, 0)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active.is_set():
                self.peak_rss = max(self.peak_rss, sum(_rss_bytes(p) for p in self._pids))
                if self._reader is not None:
                    size, blocks = self._reader.cached()
                    self.peak_cache = (
                        max(self.peak_cache[0], size),
                        max(self.peak_cache[1], blocks),
                    )
            time.sleep(self._period)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def python_bytes(df) -> int:
    """Bytes sent to plus received from Python workers by the executed plan
    behind ``df`` (run an action on an equivalent plan first). Descends into
    cached relations, whose materializing plan is where a persisted
    ``mapInPandas`` pass ran."""
    total = 0
    seen = set()

    def walk(node):
        nonlocal total
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        if name == "InMemoryTableScan":
            rel = node.relation()
            key = rel.cacheBuilder().hashCode()
            if key not in seen:
                seen.add(key)
                walk(rel.cacheBuilder().cachedPlan())
            return None
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in ("pythonDataSent", "pythonDataReceived"):
                total += int(kv._2().value())
        children = node.children().iterator()
        while children.hasNext():
            walk(children.next())
        return None

    walk(df._jdf.queryExecution().executedPlan())
    return total
