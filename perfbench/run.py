"""Benchmark driver: one workload, one seed, one result line.

    python3 perfbench/run.py --workload quarantine_batches --seed 1 --seconds 18 --trace 0

Set-up starts a ``local[nproc]`` session, generates the seeded inputs three
times (the median generation time counts, and the three digests must agree),
and runs one untimed warm-up operation. The timed loop then runs operations
back to back until ``--seconds`` have passed, checking every output outside
the timed region.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, every other operation is
traced (spans around each layer call plus one child span per Spark job) and
the spans are written to ``.perfbench/traces/``. The line before the result
is a stamp: host cpus, input size, seed, Spark version, source digest and
input digest. All files the run writes stay under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT_REPEATS = 3


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _source_stamp() -> dict:
    h = hashlib.sha256()
    pkg = os.path.join(REPO, "pyspark_data_quality_spark")
    for d, dirs, files in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, REPO).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        commit = "none"
    return {"src_digest": h.hexdigest()[:16], "git_commit": commit}


class Bench:
    """What a workload's calls need: the session, paths, seed, and whether
    the current operation is traced."""

    def __init__(self, spark, seed: int, cpus: int, work: str):
        self.spark, self.seed, self.cpus, self.work = spark, seed, cpus, work
        self.inputs = os.path.join(work, "inputs")
        self.traced = False


def _span_ms(spans: list[dict], op: int, name: str) -> float:
    return 1000.0 * sum(s["end"] - s["start"] for s in spans
                        if s["op"] == op and s["name"] == name)


def _traced_layers(wl, tracer, root, jobs, sampler, out) -> dict[str, float]:
    """Per-layer readings for one traced operation."""
    from . import sparkstats, trace

    op = root["op"]
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def jobs_under(name):
        return [s for s in spans if s["op"] == op and s["name"] == "spark.job"
                and by_id[s["parent"]]["name"] == name]

    tot = sparkstats.job_totals(jobs)
    op_ms = 1000.0 * (root["end"] - root["start"])
    analysis_ids = {s["job"] for s in jobs_under("result.metrics")}
    analysis_rows = sum(
        st["input_records"] for j in jobs if j["id"] in analysis_ids for st in j["stages"]
    )
    r = {
        "manager.compose_ms": _span_ms(spans, op, "manager.compose"),
        "manager.actions": len(jobs_under("manager.compose")),
        "result.metrics_ms": _span_ms(spans, op, "result.metrics"),
        "result.split_compose_ms": _span_ms(spans, op, "result.split_compose"),
        "analysis.jobs": len(analysis_ids),
        "analysis.scan_ratio": analysis_rows / out["rows"] if analysis_ids else 0.0,
        "catalyst.plan_ms": _span_ms(spans, op, "catalyst.plan"),
        "spark.driver_gap_ms": op_ms - tot["job_ms"],
        "cache.bytes": sampler.peak_cache[0],
        "cache.blocks": sampler.peak_cache[1],
        "sinks.quarantine_ms": _span_ms(spans, op, "sinks.quarantine"),
        "sinks.metrics_ms": _span_ms(spans, op, "sinks.metrics"),
        "curation.compose_ms": _span_ms(spans, op, "curation.compose"),
        "curation.execute_ms": _span_ms(spans, op, "curation.execute")
        + _span_ms(spans, op, "curation.stats"),
        "curation.python_bytes": (
            sparkstats.python_bytes(out["curated"]) if "curated" in out else 0
        ),
        "trace.op_ms": op_ms,
    }
    r.update({f"spark.{k}": v for k, v in tot.items()})
    sink = out.get("sink", {})
    r.update({f"sinks.{k}": sink.get(k, 0) for k in ("bytes_written", "files_written", "write_amp")})
    r.update({f"self_ms.{k}": v for k, v in trace.layer_self_ms(spans, op).items()})
    return r


def _run_entries(bench, wl, reader) -> tuple[dict[str, float], int]:
    """Traced runs: each of the workload's registry entries once, over the
    workload's generated tables, with a noop sink."""
    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    out, failed = {}, 0
    for name in wl.entries:
        t0 = time.perf_counter()
        try:
            ENTRY_QUERIES[name](bench.spark, bench.inputs).write.format("noop").mode(
                "overwrite").save()
        except Exception as e:  # one failing entry must not end the run
            failed += 1
            _log(f"entry {name} failed: {type(e).__name__}: {str(e)[:300]}")
        out[f"entry.{name}.ms"] = 1000.0 * (time.perf_counter() - t0)
        out[f"entry.{name}.jobs"] = len(reader.new_jobs())
        bench.spark.catalog.clearCache()
    return out, failed


def run(args) -> dict:
    from . import inputs, sparkstats, trace
    from .workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    cpus = sparkstats.cpu_count()
    work = inputs.fresh_dir(os.path.join(REPO, ".perfbench", "run"))
    trace_dir = os.path.join(REPO, ".perfbench", "traces")

    t0 = time.perf_counter()
    spark = sparkstats.start_session(REPO, work, cpus)
    session_s = time.perf_counter() - t0
    try:
        import pyspark

        bench = Bench(spark, args.seed, cpus, work)
        gen_s, digests = [], []
        for k in range(INPUT_REPEATS):
            root = inputs.fresh_dir(os.path.join(work, f"gen{k}"))
            t = time.perf_counter()
            wl.make_inputs(bench, root)
            gen_s.append(time.perf_counter() - t)
            digests.append(inputs.dir_digest(root))
        os.rename(root, bench.inputs)
        problems = [] if len(set(digests)) == 1 else [f"input digests differ: {digests}"]

        t = time.perf_counter()
        reader = sparkstats.JobReader(spark)
        wl.load(bench)
        wl.warm_up(bench, wl.warmup_ops)
        reader.new_jobs()
        warmup_s = time.perf_counter() - t
        setup = {"setup.session_s": session_s, "setup.inputs_s": _median(gen_s),
                 "setup.warmup_s": warmup_s}

        tracer = trace.Tracer()
        sampler = sparkstats.Sampler(spark, reader if args.trace else None)
        op_s, untraced_ms, shuffle, layers = [], [], [], []
        rows = 0
        attempted = failed = 0
        deadline = time.perf_counter() + args.seconds
        while attempted == 0 or time.perf_counter() < deadline:
            i = attempted
            attempted += 1
            bench.traced = bool(args.trace) and i % 2 == 0
            tracer.op = i
            span = tracer.span if bench.traced else trace.null_span
            sampler.reset_cache_peak()
            sampler.active.set()
            t = time.perf_counter()
            try:
                with span("op") as root:
                    out = wl.op(bench, i, span)
                dt = time.perf_counter() - t
                sampler.active.clear()
                jobs = reader.new_jobs()
                bad = wl.check(bench, i, out)
            except Exception as e:
                sampler.active.clear()
                bad = [f"{type(e).__name__}: {str(e)[:300]}"]
                _log(traceback.format_exc(limit=3))
            if bad:
                failed += 1
                _log(f"op {i} failed: {bad}")
            else:
                op_s.append(dt)
                rows += out["rows"]
                shuffle.append(sparkstats.job_totals(jobs)["shuffle_write_bytes"])
                if bench.traced:
                    tracer.attach_jobs(root, jobs)
                    layers.append(_traced_layers(wl, tracer, root, jobs, sampler, out))
                elif args.trace:
                    untraced_ms.append(1000.0 * dt)
            wl.after_op(bench)
        sampler.close()

        stamp = {
            "workload": wl.name, "seed": args.seed, "cpus": cpus,
            "rows_per_op": rows / len(op_s) if op_s else 0, "spark": pyspark.__version__,
            "input_digest": digests[0][:16], "ops": len(op_s),
            "op_s": [round(x, 3) for x in op_s],
            **_source_stamp(),
        }
        if problems:
            failed += 1
            attempted += 1
            _log(f"set-up failed: {problems}")

        if args.trace:
            entry_ms, entry_failed = _run_entries(bench, wl, reader) if wl.entries else ({}, 0)
            attempted += len(wl.entries)
            failed += entry_failed
            metrics = per_layer(setup, layers, untraced_ms, entry_ms)
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{wl.name}-seed{args.seed}.json"), stamp)
            stamp["spans"] = len(tracer.spans)
            stamp["nesting_violations"] = len(trace.nesting_violations(tracer.spans))
        else:
            total = sum(op_s)
            metrics = {
                "setup_s": session_s + setup["setup.inputs_s"] + warmup_s,
                "op_s.p50": _median(op_s),
                "ops_per_s": len(op_s) / total if total else 0.0,
                "rows_per_s": rows / total if total else 0.0,
                "shuffle_bytes_per_op": _median(shuffle),
                "peak_rss_mb": sampler.peak_rss / 2**20,
            }
    finally:
        sparkstats.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench_stamp": stamp}))
    units = declared_units("per_layer" if args.trace else "end_to_end")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def per_layer(setup, layers, untraced_ms, entry_ms) -> dict[str, float]:
    """Median over traced operations of each per-layer reading; 0 for a
    layer the workload does not use."""
    spec = declared_units("per_layer")
    values = {name: 0.0 for name in spec}
    values.update(setup)
    for name in spec:
        got = [r[name] for r in layers if name in r]
        if got:
            values[name] = _median(got)
    values.update({k: v for k, v in entry_ms.items() if k in spec})
    values["trace.untraced_op_ms"] = _median(untraced_ms)
    values["trace.overhead_ms"] = values["trace.op_ms"] - values["trace.untraced_op_ms"]
    return values


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, REPO)
    try:
        import pyspark  # noqa: F401

        import pyspark_data_quality_spark  # noqa: F401
    except ImportError as e:
        _log(f"cannot import the library under test: {e}")
        return 2
    # imported as a package module so its relative imports resolve
    from perfbench import run as bench_run
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    result = bench_run.run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
