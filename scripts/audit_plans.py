"""Physical-plan audit: dump ``explain('formatted')`` for every entry
query and flag scale smells.

Usage::

    python scripts/audit_plans.py              # summary table
    python scripts/audit_plans.py --assert     # ... and gate it
    python scripts/audit_plans.py NAME         # full formatted plan

The summary is compared line by line with the committed snapshot
(:data:`SNAPSHOT`); every differing line is printed, and under
``--assert`` any differing line fails the gate, so a change that moves a
plan must commit the regenerated snapshot with it.

Smells checked per plan:

- parquet scans with no ``PushedFilters`` while the query filters rows
  (pushdown lost);
- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` (quadratic joins —
  expected ONLY in the documented brute-force baselines);
- more than one row-at-a-time ``BatchEvalPython`` (non-Arrow Python UDF
  — everything Python should be ``ArrowEvalPython`` / ``MapInPandas``);
- any Python-fed ``Scan ExistingRDD`` (driver rows handed over by
  ``spark.createDataFrame(<list>)``: every action on it runs Python-
  worker tasks, and the planner sizes it at Long.MaxValue — driver-built
  frames go through ``plans/local.local_frame`` as local relations).
  Checkpointed frames also plan as ``Scan ExistingRDD`` but run no
  Python, so only scans of an ``applySchemaToPythonRDD`` RDD count;
- ``Exchange`` count (shuffles) for eyeballing round-over-round drift.
"""

from __future__ import annotations

import os
import re
import sys

import harness

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

#: the committed summary the live one must reproduce
SNAPSHOT = os.path.join(harness.REPO, "docs", "plan_audit_r17.txt")

#: entries whose nested-loop joins are documented and bounded: either the
#: deliberate O(n²)/O(n·q) oracle baselines over fixed subsets, or
#: crossJoins that broadcast a 1-ROW aggregate (constant fan-out, not
#: quadratic). `--assert` fails on a nested loop appearing anywhere else.
NESTED_LOOP_OK = {
    "dq_exact_similarity",       # brute-force topk + O(n²) pair baselines
                                 # (former dq_topk_bruteforce /
                                 # dq_embedding_pairs_exact, fixed subsets)
    "dq_mmd",                    # 1-row n/gamma/mmd2 stat broadcasts x2 configs
    "dq_zorder",                 # 1-row global-range broadcast per layout
    "dq_ngram_jaccard",          # exact-path baseline, fixed 100 docs
    "dq_neardup_recall",         # harness ground truths (bounded subsets)
    "dq_curation_floor",         # exact ground truth over fixed <=500 docs
    "dq_sem_recall",             # exact baseline over fixed 500 vectors
    "dq_contamination_bloom",    # 1-row bloom-bitmap broadcast join
    "dq_nb_scores",              # C-row class-spine broadcast crossJoin
    "dq_drift_screen",           # 1-row bounds broadcasts (ks/w1/screen
                                 # parts, former dq_wasserstein's shape)
    "dq_hbos",                   # 1-row bounds broadcast before binning
    "dq_winsorize",              # 1-row bounds broadcast
    "dq_join_diagnosis",         # 1-row totals broadcast
    "dq_fuzzy_pairs",            # 1-row threshold broadcast
    "dq_normalize",              # 1-row global-stats broadcast
    "dq_impute",                 # 1-row global-stat broadcast (ungrouped)
    "dq_outliers",               # 1-row bounds broadcast
    "dq_mahalanobis",            # 1-row covariance broadcast
    "dq_tfidf",                  # 1-row doc-count broadcast
    "dq_unigram_nll",            # 1-row vocab-total broadcast
    "dq_bigram_nll",             # 1-row vocab-total broadcast
    "dq_vocab_richness",         # 1-row totals broadcast
    "dq_zipf",                   # 1-row totals broadcast
    "dq_diversity",              # 1-row totals broadcast
    "dq_corpus_kl",              # 1-row group-total broadcast
    "dq_matched_sample",         # 1-row limiting-stratum scale broadcast
    "dq_emb_drift",              # two 1-row mean vectors joined
    "dq_ab_test",                # two 1-row variant aggregates joined
    "dq_keyness",                # 1-row corpus-total broadcast
    "dq_group_completeness",     # 1-row global-ratio broadcast
    "dq_group_freshness",        # 1-row global-freshness broadcast
    "dq_histogram",              # 1-row min/max bounds broadcast
    "dq_numeric_drift",          # two 1-row stats frames joined
    "dq_heavy",                  # 1-row undercount-bound broadcast
    "dq_c2st",                   # NB class-spine + 1-row broadcasts
    "dq_label_quality",          # kappa 1-row agreement frames +
                                 # calibration bin-total broadcast
    "dq_segment_health",         # constituents' 1-row global broadcasts
    "dq_corpus_card",            # 1-row card-section aggregates
    "dq_privacy",                # 1-row suppression totals x 1-row
                                 # surviving-class stats broadcast
}


def python_rdd_scans(plan: str) -> int:
    """Distinct ``Scan ExistingRDD`` operators of a formatted plan whose
    RDD came from Python rows (its details block names the
    ``applySchemaToPythonRDD`` call site)."""
    return len(
        {
            m.group(1)
            for block in plan.split("\n\n")
            if (m := re.match(r"\((\d+)\) Scan ExistingRDD", block.strip()))
            and "applySchemaToPythonRDD" in block
        }
    )


def plan_counts(plan: str) -> dict[str, int]:
    """The scale-relevant operator counts of a formatted plan. Formatted
    explain lists each operator in the tree AND in the details section,
    so operators count by distinct operator id."""

    def ops(pattern: str) -> int:
        return len(set(re.findall(rf"\((\d+)\) (?:{pattern})", plan)))

    return {
        "shuffles": ops("Exchange"),
        "scans": ops("Scan parquet"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "nested": ops("BroadcastNestedLoopJoin|CartesianProduct"),
        "row_python": ops("BatchEvalPython"),
        "python_rdd": python_rdd_scans(plan),
        "arrow_udf": ops("ArrowEvalPython|MapInPandas"),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
    }


def snapshot_diff(lines: list[str], snapshot: str = SNAPSHOT) -> list[str]:
    """The entries whose summary line differs from ``snapshot``'s (trailing
    blanks ignored), or that only one side has, as ``-``/``+`` pairs."""

    def by_name(ls):
        return {ln.split()[0]: ln.rstrip() for ln in ls if ln.strip()}

    with open(snapshot) as f:
        old = by_name(f)
    new = by_name(lines)
    out = []
    for name in sorted(old.keys() | new.keys()):
        if old.get(name) != new.get(name):
            out += [f"- {old.get(name, '(absent)')}", f"+ {new.get(name, '(absent)')}"]
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--assert"]
    strict = "--assert" in sys.argv[1:]
    queries = harness.entries(args[:1])
    spark = harness.session("plan-audit", 4)
    violations: list[str] = []
    summary: list[str] = []

    # by name, not certification order: an oracle edit must not
    # reorder the committed snapshot
    for name, fn in sorted(queries.items()):
        try:
            plan = harness.formatted_plan(fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001
            summary.append(f"{name:32s} ERROR {type(e).__name__}: {e}"[:120])
            print(summary[-1])
            continue
        if args:
            print(plan)
            continue
        c = plan_counts(plan)
        flags = []
        if c["nested"]:
            flags.append(f"NESTED_LOOP x{c['nested']}")
            if name not in NESTED_LOOP_OK:
                violations.append(f"{name}: unexpected nested-loop join")
        if c["row_python"]:
            flags.append(f"ROW_PYTHON_UDF x{c['row_python']}")
            violations.append(f"{name}: row-at-a-time Python UDF")
        if c["python_rdd"]:
            flags.append(f"PYTHON_RDD_SCAN x{c['python_rdd']}")
            violations.append(f"{name}: Python-fed RDD scan")
        summary.append(
            f"{name:32s} shuffles={c['shuffles']:2d} scans={c['scans']} "
            f"pushed={c['pushed']} arrow_udf={c['arrow_udf']} "
            f"py_rdd={c['python_rdd']} codegen={c['codegen']:2d} "
            f"{' '.join(flags)}"
        )
        print(summary[-1])
    spark.stop()
    if not args:
        diff = snapshot_diff(summary)
        print(
            f"SNAPSHOT {os.path.relpath(SNAPSHOT, harness.REPO)}: "
            f"{len(diff) // 2} differing line(s)",
            file=sys.stderr,
        )
        for ln in diff:
            print(ln, file=sys.stderr)
        if diff:
            violations.append(f"{len(diff) // 2} line(s) differ from the snapshot")
    if strict and violations:
        print("PLAN GATE FAILED:")
        for v in violations:
            print(f"  {v}")
        sys.exit(1)


if __name__ == "__main__":
    main()
