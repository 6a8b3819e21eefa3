"""The workloads: inputs, one operation, and the output check.

Each workload is a closed loop with one client. ``op`` makes only public
library calls, each wrapped in a span named after the layer it enters;
``check`` returns the list of problems found in the operation's output (an
empty list means correct) and never runs inside the timed region.
"""

from __future__ import annotations

import glob
import os
from collections import Counter
from datetime import datetime, timezone

import pyarrow.parquet as pq

from . import inputs
from .trace import null_span


def _force_plan(bench, span, df) -> None:
    """Traced runs only: plan ``df`` (analysis, optimization, physical
    planning) before it executes, so Catalyst time is its own span."""
    if bench.traced:
        with span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()


def _parquet_rows(path: str) -> tuple[int, int, int, list]:
    """(rows, files, bytes, l_rowid values) of the parquet files under
    ``path``, read from the files themselves."""
    files = sorted(glob.glob(f"{path}/**/*.parquet", recursive=True))
    rows, ids = 0, []
    for f in files:
        t = pq.read_table(f, columns=["l_rowid"])
        rows += t.num_rows
        ids.extend(t.column(0).to_pylist())
    return rows, len(files), inputs.dir_bytes(path), ids


def _metric_problems(rows: list, expect: dict) -> list[str]:
    """Compare collected metric rows with the oracle: one row per rule and
    column, each value as expected (the HLL distinct ratio within 0.03)."""
    got = {(r["metric_name"], r["column"]): r["value_double"] for r in rows}
    want = expect["metrics"]
    problems = []
    if len(rows) != len(want) or set(got) != set(want):
        problems.append(f"metric rows {sorted(got)} != {sorted(want)}")
        return problems
    for key, value in want.items():
        tol = 0.03 if key[0] == "unique_ratio" else 1e-9
        if got[key] is None or abs(got[key] - value) > tol:
            problems.append(f"metric {key}: {got[key]} != {value}")
    return problems


def _warm_up(wl, bench, ops: int) -> None:
    """``ops`` unchecked, untimed operations. The first pays class loading
    and code generation; operation times keep falling for a few more while
    the JVM compiles the planner paths."""
    for k in range(ops):
        wl.op(bench, -1 - k, null_span)
        wl.after_op(bench)


def _rules(orders):
    from pyspark_data_quality_spark.operators import (
        CompletenessColRatioRule,
        FreshnessRule,
        RangeRule,
        ReferentialIntegrityRule,
        SetMembershipRule,
        UniqueRule,
    )

    return [
        CompletenessColRatioRule(
            columns=["l_quantity", "l_extendedprice", "l_returnflag"], threshold=0.99
        ),
        RangeRule(column="l_quantity", min_value=1, max_value=50),
        RangeRule(column="l_discount", min_value=0.0, max_value=0.10),
        SetMembershipRule(column="l_returnflag", allowed=["A", "N", "R"]),
        UniqueRule(columns=["l_orderkey", "l_linenumber"]),
        ReferentialIntegrityRule(
            columns=["l_orderkey"], ref_df=orders, ref_columns=["o_orderkey"]
        ),
        FreshnessRule(
            column="l_shipdate",
            max_age=inputs.MAX_AGE_DAYS,
            now=datetime.fromtimestamp(inputs.NOW_EPOCH, timezone.utc),
        ),
    ]


def _manager(bench, span, df, dataset: str, orders):
    from pyspark_data_quality_spark import DQManager

    with span("manager.compose"):
        mgr = DQManager(bench.spark, dataset=dataset)
        mgr.set_data(df)
        for rule in _rules(orders):
            mgr.add_rule(rule)
        return mgr.run()


class QuarantineBatches:
    """Many ~10k-row batches through the write path: metrics appended to the
    metrics sink, valid/invalid routed to a fresh quarantine path each."""

    name = "quarantine_batches"
    entries = ("dq_metrics_report", "dq_column_profile", "dq_winsorize", "dq_drift_screen")
    n_orders = 30_000
    batch_rows = 10_000
    warmup_ops = 3

    def make_inputs(self, bench, root: str) -> None:
        self.data = inputs.write_lineitem_tables(
            root, bench.seed, self.n_orders, parts=2, batch_rows=self.batch_rows
        )

    def load(self, bench) -> None:
        self.batches = sorted(glob.glob(f"{bench.inputs}/batches/*.parquet"))
        self.expect = [
            inputs.expected_rule_outcomes(self.data.slice(lo, lo + self.batch_rows))
            for lo in range(0, len(self.batches) * self.batch_rows, self.batch_rows)
        ]
        self.orders = bench.spark.read.parquet(f"{bench.inputs}/orders.parquet")
        self.out = inputs.fresh_dir(os.path.join(bench.work, "out"))
        self.metrics_path = os.path.join(self.out, "metrics")
        self.metric_rows = 0

    def op(self, bench, i: int, span) -> dict:
        from pyspark_data_quality_spark.sinks.metrics import write_metrics
        from pyspark_data_quality_spark.sinks.quarantine import quarantine_route

        b = i % len(self.batches)
        with span("source.read"):
            batch = bench.spark.read.parquet(self.batches[b])
        res = _manager(bench, span, batch, "lineitem_batch", self.orders)
        with span("result.metrics"):
            metrics = res.get_metric_results()
        with span("sinks.metrics"):
            write_metrics(metrics, self.metrics_path)
        if bench.traced:
            # the frames quarantine_route builds and writes, built and
            # planned here as well so compose and Catalyst time show
            with span("result.split_compose"):
                frames = (res.get_valid_df(), res.get_invalid_df())
            for df in frames:
                _force_plan(bench, span, df)
        base = os.path.join(self.out, f"op{i}")
        with span("sinks.quarantine"):
            quarantine_route(res, base)
        return {"rows": self.batch_rows, "batch": b, "metrics": metrics, "base": base}

    def warm_up(self, bench, ops: int) -> None:
        _warm_up(self, bench, ops)
        self.out = inputs.fresh_dir(self.out)

    def check(self, bench, i: int, out: dict) -> list[str]:
        expect = self.expect[out["batch"]]
        problems = _metric_problems(out["metrics"].collect(), expect)
        v_rows, v_files, v_bytes, v_ids = _parquet_rows(f"{out['base']}/valid")
        i_rows, i_files, i_bytes, i_ids = _parquet_rows(f"{out['base']}/invalid")
        if v_rows + i_rows != expect["rows"]:
            problems.append(f"written {v_rows} + {i_rows} != {expect['rows']} batch rows")
        if set(i_ids) != expect["invalid_rowids"] or len(i_ids) != expect["invalid"]:
            problems.append(f"invalid parquet holds {i_rows} rows, expected {expect['invalid']}")
        if set(v_ids) & set(i_ids) or len(set(v_ids)) != v_rows:
            problems.append("valid and invalid parquet overlap")
        self.metric_rows += len(expect["metrics"])
        written = sum(
            pq.read_metadata(f).num_rows
            for f in glob.glob(f"{self.metrics_path}/**/*.parquet", recursive=True)
        )
        if written != self.metric_rows:
            problems.append(f"metrics sink holds {written} rows, expected {self.metric_rows}")
        out["sink"] = {
            "bytes_written": v_bytes + i_bytes,
            "files_written": v_files + i_files,
            "write_amp": (v_bytes + i_bytes) / os.path.getsize(self.batches[out["batch"]]),
        }
        return problems

    def after_op(self, bench) -> None:
        pass


class CorpusCuration:
    """The text curation pipeline over a corpus with seeded duplicates."""

    name = "corpus_curation"
    entries = ("dq_tfidf", "dq_zipf", "dq_top_segments", "dq_minhash_pairs")
    n_base = 1500
    warmup_ops = 3

    def make_inputs(self, bench, root: str) -> None:
        self.expect = inputs.write_documents(root, bench.seed, self.n_base, parts=bench.cpus)

    def load(self, bench) -> None:
        self.docs = bench.spark.read.parquet(f"{bench.inputs}/documents.parquet")

    def op(self, bench, i: int, span) -> dict:
        from pyspark_data_quality_spark.pipelines.curation import curate_corpus, curation_stats

        # no language or quality gate: every non-NULL document reaches the
        # dedup stages, so the dup counts are exactly the seeded ones
        with span("curation.compose"):
            curated = curate_corpus(self.docs, languages=None, min_quality=0.0)
        _force_plan(bench, span, curated)
        with span("curation.execute"):
            curated.write.format("noop").mode("overwrite").save()
        with span("curation.stats"):
            stats = curation_stats(curated).collect()
        return {"rows": self.expect.rows, "curated": curated, "stats": stats}

    def warm_up(self, bench, ops: int) -> None:
        # the cold operation reads one input file of four: same generated
        # code, a quarter of the work
        full = self.docs
        self.docs = bench.spark.read.parquet(
            f"{bench.inputs}/documents.parquet/part-0000.parquet"
        )
        try:
            _warm_up(self, bench, 1)
        finally:
            self.docs = full
        _warm_up(self, bench, ops)

    def check(self, bench, i: int, out: dict) -> list[str]:
        counts = Counter()
        for r in out["stats"]:
            counts[r["curation_status"]] += r["n"]
        e = self.expect
        want = {"null_text": e.null_text, "exact_dup": e.exact_dup, "near_dup": e.near_dup,
                "kept": e.rows - e.null_text - e.exact_dup - e.near_dup}
        if dict(counts) != want:
            return [f"curation status counts {dict(counts)} != {want}"]
        return []

    def after_op(self, bench) -> None:
        # curate_corpus persists its profile and drop lists; a later
        # operation must not read this one's cache
        bench.spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (QuarantineBatches, CorpusCuration)}

