"""Self-tests of the benchmark: its declared metrics, seeded inputs, output
checks and traces. Run from the repo root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import inputs, trace  # noqa: E402
from perfbench.workloads import CorpusCuration, QuarantineBatches  # noqa: E402


def _spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_counts():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert 1 <= len(spec["end_to_end"]) <= 16
    assert 1 <= len(spec["per_layer"]) <= 128
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_inputs_are_seeded_and_byte_identical(tmp_path):
    def digest(seed, name):
        root = str(tmp_path / name)
        os.makedirs(root)
        inputs.write_lineitem_tables(root, seed, 400, parts=2, batch_rows=300)
        inputs.write_documents(root, seed, 150, parts=2)
        return inputs.dir_digest(root)

    first = digest(7, "a")
    assert first == digest(7, "b")
    assert first != digest(8, "c")


def test_expected_outcomes_count_every_fault():
    data = inputs.make_lineitem(3, 2000)
    k = max(1, int(data.rows * inputs.FAULT_RATE))
    e = inputs.expected_rule_outcomes(data)
    # one row per fault kind, plus the clean row each dup_key row copies
    assert e["invalid"] == k * (len(inputs.FAULTS) + 1)
    assert len(e["metrics"]) == 9


def _metric_rows(expect, **overrides):
    rows = []
    for (name, col), value in expect["metrics"].items():
        rows.append({"metric_name": name, "column": col,
                     "value_double": overrides.get(name, value)})
    return rows


class _Frame:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


def _quarantine_case(tmp_path, seed=5):
    """A QuarantineBatches instance over one generated batch, with that
    batch's correct quarantine output and metrics sink written by pyarrow."""
    root = str(tmp_path / "in")
    os.makedirs(root)
    wl = QuarantineBatches()
    wl.batch_rows = 500
    data = inputs.write_lineitem_tables(root, seed, 300, parts=1, batch_rows=500)
    wl.batches = [f"{root}/batches/b0000.parquet"]
    wl.expect = [inputs.expected_rule_outcomes(data.slice(0, 500))]
    wl.out = str(tmp_path / "out")
    wl.metrics_path = f"{wl.out}/metrics"
    wl.metric_rows = 0
    os.makedirs(wl.metrics_path)
    pq.write_table(pa.table({"x": list(range(9))}), f"{wl.metrics_path}/part-0.parquet")
    table = pq.read_table(wl.batches[0])
    bad = wl.expect[0]["invalid_rowids"]
    is_bad = pa.array([r in bad for r in table.column("l_rowid").to_pylist()])
    base = f"{wl.out}/op0"
    for side, rows in (("valid", table.filter(pc.invert(is_bad))),
                       ("invalid", table.filter(is_bad))):
        os.makedirs(f"{base}/{side}")
        pq.write_table(rows, f"{base}/{side}/part-0.parquet")
    out = {"rows": 500, "batch": 0, "base": base,
           "metrics": _Frame(_metric_rows(wl.expect[0]))}
    return wl, out


def test_quarantine_check_accepts_correct_output(tmp_path):
    wl, out = _quarantine_case(tmp_path)
    assert wl.check(None, 0, out) == []
    assert out["sink"]["files_written"] == 2


@pytest.mark.parametrize("corruption", ["metric", "moved_row", "lost_row", "sink"])
def test_quarantine_check_rejects_corrupted_output(tmp_path, corruption):
    wl, out = _quarantine_case(tmp_path)
    if corruption == "metric":
        out["metrics"] = _Frame(_metric_rows(wl.expect[0], validity_set=0.5))
    elif corruption in ("moved_row", "lost_row"):
        valid = f"{out['base']}/valid/part-0.parquet"
        invalid = f"{out['base']}/invalid/part-0.parquet"
        v, i = pq.read_table(valid), pq.read_table(invalid)
        if corruption == "moved_row":
            pq.write_table(pa.concat_tables([i, v.slice(0, 1)]), invalid)
        pq.write_table(v.slice(1), valid)
    else:
        os.remove(f"{wl.metrics_path}/part-0.parquet")
    assert wl.check(None, 0, out)


def test_curation_check(tmp_path):
    wl = CorpusCuration()
    wl.expect = inputs.CorpusExpectation(rows=100, null_text=1, exact_dup=10, near_dup=10)
    good = [
        {"curation_status": "kept", "n": 70},
        {"curation_status": "kept", "n": 5},
        {"curation_status": "kept", "n": 4},
        {"curation_status": "null_text", "n": 1},
        {"curation_status": "exact_dup", "n": 10},
        {"curation_status": "near_dup", "n": 10},
    ]
    assert wl.check(None, 0, {"stats": good}) == []
    bad = [dict(r) for r in good]
    bad[-1]["n"] = 9  # one seeded near copy missed
    assert wl.check(None, 0, {"stats": bad})


def test_documents_seed_the_expected_duplicates():
    table, e = inputs.documents_table(11, 400)
    texts = table.column("text").to_pylist()
    non_null = [t for t in texts if t is not None]
    assert len(texts) == e.rows and texts.count(None) == e.null_text
    assert len(non_null) - len(set(non_null)) == e.exact_dup
    assert sum("salt11x" in t for t in non_null) == e.near_dup


def test_tracer_nests_jobs_inside_their_spans():
    t = trace.Tracer()
    t.op = 0
    with t.span("op") as root:
        with t.span("result.metrics") as inner:
            pass
    inner["start"], inner["end"] = root["start"] + 0.1, root["start"] + 0.5
    root["end"] = root["start"] + 1.0
    jobs = [
        {"id": 1, "start": inner["start"] + 0.1, "end": inner["start"] + 0.2, "stages": []},
        # ends (by the status store's clock) after its span: clamped inside
        {"id": 2, "start": inner["start"] + 0.3, "end": inner["end"] + 0.01, "stages": []},
        {"id": 3, "start": root["start"] + 0.6, "end": root["start"] + 0.9, "stages": []},
    ]
    t.attach_jobs(root, jobs)
    assert trace.nesting_violations(t.spans) == []
    parents = {s["job"]: s["parent"] for s in t.spans if s["name"] == "spark.job"}
    assert parents == {1: inner["id"], 2: inner["id"], 3: root["id"]}
    selfs = trace.layer_self_ms(t.spans, 0)
    assert selfs["result"] == pytest.approx(1000 * (0.4 - 0.1 - 0.1), abs=1e-3)
    assert selfs["op"] == pytest.approx(1000 * (1.0 - 0.4 - 0.3), abs=1e-3)


def test_exits_nonzero_without_the_library(tmp_path):
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_curation",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.skipif(os.environ.get("PERFBENCH_SKIP_SPARK") == "1", reason="no Spark run asked")
def test_traced_run_writes_nested_spans():
    """End to end (about a minute): a one-second traced run reports every
    per-layer metric and writes spans that nest, with Spark jobs as
    children."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_curation",
         "--seed", "2", "--seconds", "1", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=175,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in _spec()["per_layer"]}
    with open(os.path.join(REPO, ".perfbench", "traces", "corpus_curation-seed2.json")) as f:
        spans = json.load(f)["spans"]
    assert any(s["name"] == "spark.job" for s in spans)
    assert trace.nesting_violations(spans) == []
