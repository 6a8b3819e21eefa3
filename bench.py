"""Bench harness: time every registered entry query at a given scale factor.

Usage::

    python bench.py                     # sf0.1 (driver default), local[32]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py
    SPARK_GRAFT_CPUS=8 python bench.py
    SPARK_GRAFT_BENCH_PASSES=4 SPARK_GRAFT_BENCH_ONLY=winsorize python bench.py

Prints ONE JSON line on stdout::

    {"metric": "dq_suite_seconds", "value": <total>, "unit": "sec",
     "queries": {"metrics_report": 1.2, ...}, "sf": 0.1, "n": 83}

Suite-line keys drop the uniform ``dq_`` prefix (3 bytes x 80+ entries
matters: the driver tail-captures only the last ~2000 chars of output and
the line must fit WHOLE to parse). Everything else — the full-precision
full-name map (``dq_queries_full``), per entry every pass's seconds and
the last pass's jobs/stages/tasks (``dq_entry_runs``, read after each
timed region), the round-over-round regression
check (``dq_vs_prev``), and any per-query errors — goes to STDERR before
the suite line, so stdout ends with exactly one parseable JSON line.
Each query's plan is
executed end-to-end with a ``noop``-format write — full physical
execution (scans, shuffles, joins) with zero driver-side collection, so
the timing measures the engine, not result transfer. The session,
warm-up, entry selection and artifact format come from scripts/harness.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import harness  # noqa: E402

from pyspark_data_quality_spark.plans.telemetry import jobs_during  # noqa: E402


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


def _prev_bench(
    repo_dir: str, sf: float, cpus: int = harness.DEFAULT_CPUS
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
    dropped when the round tags line up (``harness.fill_from_full``)."""
    import glob

    best: tuple[int, str, dict] | None = None
    for path in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        try:
            queries, b_sf, n, b_cpus = harness.load_bench(path)
        except Exception:  # one unreadable artifact must not kill the bench
            continue
        if not queries or b_sf != sf or b_cpus != cpus or n is None:
            continue
        if best is None or n > best[0]:
            best = (n, os.path.basename(path), queries)
    if best is None:
        return None
    n, label, queries = best
    filled = harness.fill_from_full(queries, sf, n, cpus, repo_dir)
    if filled is not None:
        queries = filled
        label += f"+docs/{harness.bench_full_name(sf, cpus)}"
    return label, queries


def _write_full_artifact(
    repo_dir: str, sf: float, cpus: int, timings: dict[str, float],
    runs: dict[str, dict], pop: str,
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
        "runs": runs,
    }
    path = os.path.join(repo_dir, "docs", harness.bench_full_name(sf, cpus))
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


def _run_once(spark, fn, sf_dir: str) -> float:
    """Seconds to build one entry's plan and execute it into a noop sink."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", harness.DEFAULT_CPUS))
    # min-of-N passes: the first execution of each plan pays Catalyst
    # analysis + codegen + Python-worker spin-up, which measured ±2x
    # run-to-run — the min is the stable engine number the round-over-
    # round comparison needs.
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))
    # local iteration aid: SPARK_GRAFT_BENCH_ONLY="dq_a,dq_b" times a
    # subset (dq_ prefix optional). The driver never sets it, so official
    # runs always cover the full registry.
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    queries = harness.entries(only_env.replace(" ", "").split(","))

    spark = harness.session("pyspark-data-quality-spark-bench", cpus)
    harness.warm_up(spark, sf_dir)

    runs: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for _ in range(passes):
        for name, fn in queries.items():
            if name in errors:
                continue
            try:
                t, job_ids = jobs_during(
                    spark, lambda: _run_once(spark, fn, sf_dir)
                )
                run = runs.setdefault(name, {"s": []})
                run["s"].append(t)
                run.update(harness.job_counts(spark, job_ids))
            except Exception as e:  # one broken query must not kill the bench
                errors[name] = f"{type(e).__name__}: {e}"[:200]
                runs.pop(name, None)
            finally:
                harness.clear_cache(spark)
        # between passes: drop accumulated JVM garbage (finished plans,
        # listener state, Arrow allocations) so pass 2 measures the
        # engine, not pass 1's heap debris
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    timings = {name: min(run["s"]) for name, run in runs.items()}
    sf = _sf_from_dir(sf_dir)

    # Regression gate: compare per-query against the latest recorded round
    # bench at the same sf; flag anything >1.5x slower (machine noise on
    # sub-second queries is excluded via a 0.5 s floor). vs_prev and errors
    # go to STDERR, keeping stdout for the suite line only: the driver
    # tail-captures only the last ~2000 chars of output, and round 3 proved
    # that anything appended after the suite line pushes the line head
    # (metric/value) out of the buffer, leaving nothing parseable.
    prev = _prev_bench(REPO, sf, cpus)
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
    print(json.dumps({"metric": "dq_entry_runs", "runs": runs}),
          file=sys.stderr)

    registry_n = len(harness.entries([]))
    pop = (
        "all" if len(timings) == registry_n
        else f"{len(timings)}/{registry_n}"
    )

    # ... and to docs/bench_full_sf{sf}[_c{cpus}].json (see
    # _write_full_artifact). Only a full-registry run may overwrite it: a
    # SPARK_GRAFT_BENCH_ONLY subset must not clobber the complete map.
    if len(timings) == registry_n and not only_env:
        _write_full_artifact(REPO, sf, cpus, timings, runs, pop)
    line = suite_line(sum(timings.values()), timings, sf, pop=pop)
    if len(line) > 1900:
        print(f"WARNING: suite line {len(line)} chars — the driver tail "
              "buffer will truncate; cut query count or shorten names",
              file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
