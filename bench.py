"""Bench harness: time every registered entry query at a given scale factor.

Usage::

    python bench.py                     # sf0.1 (driver default), local[32]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py
    SPARK_GRAFT_CPUS=8 python bench.py

Prints ONE JSON line on stdout::

    {"metric": "dq_suite_seconds", "value": <total>, "unit": "sec",
     "queries": {"metrics_report": 1.2, ...}, "sf": 0.1, "n": 83}

Suite-line keys drop the uniform ``dq_`` prefix (3 bytes x 80+ entries
matters: the driver tail-captures only the last ~2000 chars of output and
the line must fit WHOLE to parse). Everything else — the full-precision
full-name map (``dq_queries_full``), the round-over-round regression
check (``dq_vs_prev``), and any per-query errors — goes to STDERR before
the suite line, so stdout ends with exactly one parseable JSON line.
Each query's plan is
executed end-to-end with a ``noop``-format write — full physical
execution (scans, shuffles, joins) with zero driver-side collection, so
the timing measures the engine, not result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402


def _sf_from_dir(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return -1.0


def _latest_bench_round(repo_dir: str) -> int:
    """Highest N among BENCH_r{N}.json files (0 if none) — the current
    round is this + 1 (the driver writes BENCH_r{N} after round close)."""
    import glob
    import re

    best = 0
    for path in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            best = max(best, int(m.group(1)))
    return best


#: the standard bench core count (bench.py's default); artifacts
#: without a ``cpus`` stamp (written before it existed) were measured at it
_DEFAULT_CPUS = 32


def _bench_full_name(sf: float, cpus: int = _DEFAULT_CPUS) -> str:
    """Per-sf, per-cpus artifact name: sf renders as in the testdata dir
    (0.1 -> 'sf0.1'), and a non-default core count is suffixed (8 ->
    'sf0.1_c8'), so runs at different scale factors or core counts never
    overwrite each other's complete map."""
    suffix = "" if cpus == _DEFAULT_CPUS else f"_c{cpus}"
    return f"bench_full_sf{sf:g}{suffix}.json"


def _prev_bench(
    repo_dir: str, sf: float, cpus: int = _DEFAULT_CPUS
) -> tuple[str, dict] | None:
    """Latest prior BENCH_r{N}.json (or its BENCH_r{N}_c{cpus}.json sibling
    from a non-32-core run) with parseable per-query timings at the same sf AND cpus —
    the regression baseline (VERDICT r2 item 6). Timings at another core
    count are a different machine shape, never a baseline.

    The driver's tail buffer truncates the suite line past ~108 entries
    (suite_line drops sub-threshold timings), so BENCH_r{N} alone loses a
    third of the registry at 150 entries (r13 verdict item 7). bench.py
    therefore also writes ``docs/bench_full_sf{sf}.json`` — all entries,
    full names, full precision, per-sf so a quick run at another sf can
    never clobber the standard sf0.1 map, tagged with the round it
    measured — and the baseline here FILLS the keys the BENCH map
    dropped when the round tags line up. BENCH_r{N} stays authoritative
    for keys present in both: a same-round tag does not mean the same
    run (a mid-round full bench shares the tag with the driver's
    round-close run), so only the truncated tail is restored, never the
    round-close readings replaced."""
    import glob
    import re

    best: tuple[int, str, dict] | None = None
    for path in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)(?:_c\d+)?\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                raw = json.load(f)
            data = raw.get("parsed", raw) or {}
            queries = data.get("queries")
            if not queries or data.get("sf") != sf:
                continue
            if int(raw.get("cpus", _DEFAULT_CPUS)) != cpus:
                continue
            # round-5+ suite lines drop the dq_ prefix; normalize back so
            # cross-round keys line up with the registry names
            queries = {
                (k if k.startswith("dq_") else f"dq_{k}"): v
                for k, v in queries.items()
            }
        except Exception:
            continue
        n = int(m.group(1))
        if best is None or n > best[0]:
            best = (n, os.path.basename(path), queries)
    if best is None:
        return None
    n, label, queries = best
    full_name = _bench_full_name(sf, cpus)
    try:
        with open(os.path.join(repo_dir, "docs", full_name)) as f:
            full = json.load(f)
        if (
            full.get("round") == n
            and full.get("sf") == sf
            and full.get("cpus", _DEFAULT_CPUS) == cpus
        ):
            # fill ONLY the keys the truncated suite map dropped —
            # BENCH_r{N} (the round-close run) stays authoritative
            queries = {**full.get("queries", {}), **queries}
            label += f"+docs/{full_name}"
    except (OSError, ValueError):
        pass
    return label, queries


def _write_full_artifact(
    repo_dir: str, sf: float, cpus: int, timings: dict[str, float], pop: str
) -> str | None:
    """Write the full per-query map to ``docs/`` and return its path.

    The ~2000-char tail capture of the bench output truncates both the
    stderr map and the suite line's per-query detail past ~108 entries,
    so this committed artifact is the only place ALL 150 timings survive
    a round (r13 verdict item 7). It is tagged with the round being measured (latest recorded BENCH
    round + 1), the sf and the core count, so _prev_bench can tell whether
    it describes the same code and machine shape as BENCH_r{N}.json. The
    name is per-sf and per-cpus: neither a quick sf0.01 sanity run nor an
    8-core run can overwrite the standard 32-core sf0.1 map."""
    full_art = {
        "metric": "dq_queries_full",
        "round": _latest_bench_round(repo_dir) + 1,
        "sf": sf,
        "cpus": cpus,
        "pop": pop,
        "value": round(sum(timings.values()), 3),
        "queries": {k: timings[k] for k in sorted(timings)},
    }
    path = os.path.join(repo_dir, "docs", _bench_full_name(sf, cpus))
    try:
        with open(path, "w") as f:
            json.dump(full_art, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:  # read-only checkout must not kill the bench
        print(f"bench full artifact not written: {e}", file=sys.stderr)
        return None
    return path


def suite_line(total: float, timings: dict[str, float], sf: float,
               budget: int = 1900, pop: str | None = None) -> str:
    """The LAST stdout line, compact so it fits WHOLE in the driver's
    ~2000-char tail buffer: no spaces, 1-decimal timings, and the uniform
    ``dq_`` prefix stripped from query keys (~3 bytes x 80+ entries of
    headroom). tests/test_registry.py budgets against this exact
    rendering.

    Bounded BY CONSTRUCTION: if the full per-query map would overflow
    ``budget``, the map keeps only the slowest queries (the ones a perf
    judge needs) and reports how many sub-threshold entries were dropped
    via ``"dropped"``. ``value``/``n`` always cover the FULL suite, and
    the full map always goes to stderr (``dq_queries_full``) regardless —
    so growth in entry count can truncate detail but never the line head
    the driver parses (the round-3 failure mode)."""
    def _render(v: float):
        # integral timings render as "2" not "2.0" — ~2 bytes back per
        # entry, which at 100 entries is the difference between the full
        # map fitting and truncating
        r = round(v, 1)
        return int(r) if r == int(r) else r

    compact = {
        (k[3:] if k.startswith("dq_") else k): _render(v)
        for k, v in timings.items()
    }
    dropped = 0
    while True:
        out = {
            "metric": "dq_suite_seconds",
            "value": round(total, 3),
            "unit": "sec",
            "queries": compact,
            "sf": sf,
            "n": len(timings),
        }
        if pop:
            # which POPULATION the suite total covers (r12 verdict: a
            # "full registry" total and a subset/errored run are
            # non-comparable; make every suite number self-describing)
            out["pop"] = pop
        if dropped:
            out["dropped"] = dropped
        line = json.dumps(out, separators=(",", ":"))
        if len(line) <= budget or not compact:
            return line
        # drop the single fastest entry and re-render (one at a time:
        # a coarser cut throws away per-query detail it didn't need to)
        fastest = min(compact, key=compact.get)
        del compact[fastest]
        dropped += 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pyspark-data-quality-spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        # even with the UI off, AppStatusListener/SQLAppStatusListener
        # retain execution graphs for up to 1000 queries — at 110
        # entries x 2 passes x multi-job plans that's real heap growth,
        # and late-suite queries were measuring 2-3x their isolated
        # time under the accumulated GC pressure. Keep only a handful.
        .config("spark.sql.ui.retainedExecutions", "10")
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "500")
        .config("spark.ui.retainedDeadExecutors", "1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: JVM/codegen, the parquet datasource, and the Python UDF
    # workers + Arrow channel, so the first measured query isn't charged
    # for one-time session startup.
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.read.parquet(f"{sf_dir}/region.parquet").write.format("noop").mode(
        "overwrite"
    ).save()
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import col, pandas_udf

    def _identity(s):
        return s

    _identity.__annotations__ = {"s": pd.Series, "return": pd.Series}
    warm_udf = pandas_udf(_identity, "long")
    spark.range(1000).select(warm_udf(col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()

    # min-of-N passes: the first execution of each plan pays Catalyst
    # analysis + codegen + Python-worker spin-up, which measured ±2x
    # run-to-run — the min is the stable engine number the round-over-
    # round comparison needs.
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))
    # local iteration aid: SPARK_GRAFT_BENCH_ONLY="dq_a,dq_b" times a
    # subset (dq_ prefix optional). The driver never sets it, so official
    # runs always cover the full registry.
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    queries = entry_mod.queries()
    if only_env:
        want = {
            n if n.startswith("dq_") else f"dq_{n}"
            for n in only_env.replace(" ", "").split(",") if n
        }
        unknown = want - set(queries)
        if unknown:
            print(f"SPARK_GRAFT_BENCH_ONLY: unknown queries {sorted(unknown)}",
                  file=sys.stderr)
        queries = {n: f for n, f in queries.items() if n in want}
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for i in range(passes):
        for name, fn in queries.items():
            if name in errors:
                continue
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                t = round(time.perf_counter() - t0, 3)
                timings[name] = min(timings.get(name, t), t)
            except Exception as e:  # one broken query must not kill the bench
                errors[name] = f"{type(e).__name__}: {e}"[:200]
                timings.pop(name, None)
            finally:
                # isolate queries: a pipeline entry that persists (e.g.
                # dq_curation) must not leave cache pressure that inflates
                # every subsequent measurement
                try:
                    spark.catalog.clearCache()
                except Exception:
                    pass
        # between passes: drop accumulated JVM garbage (finished plans,
        # listener state, Arrow allocations) so pass 2 measures the
        # engine, not pass 1's heap debris
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    sf = _sf_from_dir(sf_dir)

    # Regression gate: compare per-query against the latest recorded round
    # bench at the same sf; flag anything >1.5x slower (machine noise on
    # sub-second queries is excluded via a 0.5 s floor). vs_prev and errors
    # go to STDERR, keeping stdout for the suite line only: the driver
    # tail-captures only the last ~2000 chars of output, and round 3 proved
    # that anything appended after the suite line pushes the line head
    # (metric/value) out of the buffer, leaving nothing parseable.
    prev = _prev_bench(os.path.dirname(os.path.abspath(__file__)), sf,
                       int(cpus))
    if prev:
        prev_file, prev_q = prev
        regressions = {
            name: {"prev": prev_q[name], "now": t,
                   "ratio": round(t / prev_q[name], 2)}
            for name, t in timings.items()
            if name in prev_q and prev_q[name] > 0
            and t > 1.5 * prev_q[name] and t - prev_q[name] > 0.5
        }
        vs_prev = {
            "metric": "dq_vs_prev",
            "baseline": prev_file,
            "suite_prev": round(sum(prev_q.values()), 3),
            "regressions": regressions,
        }
        print(json.dumps(vs_prev), file=sys.stderr)
    if errors:
        print(json.dumps({"metric": "dq_errors", "errors": errors}),
              file=sys.stderr)

    # Full-precision, full-name per-query map to stderr (local analysis /
    # cross-round tooling reads this; the driver only parses stdout's last
    # line).
    print(json.dumps({"metric": "dq_queries_full", "queries": timings}),
          file=sys.stderr)

    registry_n = len(entry_mod.queries())
    pop = (
        "all" if len(timings) == registry_n
        else f"{len(timings)}/{registry_n}"
    )

    # ... and to docs/bench_full_sf{sf}[_c{cpus}].json (see
    # _write_full_artifact). Only a full-registry run may overwrite it: a
    # SPARK_GRAFT_BENCH_ONLY subset must not clobber the complete map.
    if len(timings) == registry_n and not only_env:
        _write_full_artifact(
            os.path.dirname(os.path.abspath(__file__)), sf, int(cpus),
            timings, pop,
        )
    line = suite_line(sum(timings.values()), timings, sf, pop=pop)
    if len(line) > 1900:
        print(f"WARNING: suite line {len(line)} chars — the driver tail "
              "buffer will truncate; cut query count or shorten names",
              file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
