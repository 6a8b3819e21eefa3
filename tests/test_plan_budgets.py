"""Plan-shape regression pins for the composite pipelines.

The r10/r11 shuffle diets (segment_health 27 -> 23 -> 12, the tagged-
union drift fusion, the shared-subtree caches) were verified by ad-hoc
`scripts/audit_plans.py` runs; this test makes the wins regression-
proof: if a rewrite re-introduces a per-section source scan or an
unfused cur-vs-ref shape, the Exchange/Scan count rises and the pin
fails loudly with the offending plan's counts.

Budgets are CEILINGS with one unit of slack over the audited r11
values (AQE and partition-count differences can legally add a local
exchange), not exact counts — the goal is catching +5-shuffle
regressions, not blocking a ±1 replan.
"""

import pytest
from pyspark.sql import functions as F

import audit_plans
import harness


def _counts(df):
    return audit_plans.plan_counts(harness.formatted_plan(df))


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def test_segment_health_shuffle_budget(spark, orders):
    from pyspark_data_quality_spark.pipelines.segment_health import (
        segment_health_report,
    )

    cur = orders.filter(F.col("o_orderkey") % 2 == 0)
    ref = orders.filter(F.col("o_orderkey") % 2 == 1)
    report = segment_health_report(
        cur,
        group_col="o_orderstatus",
        completeness_cols=["o_totalprice", "o_custkey"],
        ts_col="o_orderdate",
        unique_keys=["o_orderkey"],
        psi_cols=["o_orderpriority"],
        ks_col="o_totalprice",
        ref=ref,
    )
    c = _counts(report)
    assert c["shuffles"] <= 13, c  # audited r11: 12
    assert c["row_python"] == 0, c
    assert c["python_rdd"] == 0, c
    # the prune+persist contract: each side contributes ONE logical scan
    # however many sections consume it
    assert c["scans"] <= 2, c
    assert report.count() > 0
    spark.catalog.clearCache()


def test_corpus_card_shuffle_budget(spark, docs):
    from pyspark_data_quality_spark.pipelines.corpus_card import corpus_report

    card = corpus_report(docs.limit(500), "text")
    c = _counts(card)
    assert c["shuffles"] <= 10, c  # audited r11: 9
    assert c["row_python"] == 0, c
    assert c["python_rdd"] == 0, c
    assert card.count() > 0
    spark.catalog.clearCache()


def test_curation_shuffle_budget(spark, docs):
    from pyspark_data_quality_spark.pipelines.curation import curate_corpus

    curated = curate_corpus(docs.limit(500), text_col="text", id_col="doc_id")
    c = _counts(curated)
    assert c["shuffles"] <= 17, c  # audited r11: 16
    assert c["row_python"] == 0, c
    assert c["python_rdd"] == 0, c
    assert curated.count() >= 0
    spark.catalog.clearCache()


#: r13 composite registry entries: (shuffle ceiling, scan ceiling),
#: one unit of slack over the audited r13 values — a rewrite that
#: re-multiplies corpus scans (the dq_text_cleanup one-scan collapse)
#: or unfuses a part must fail loudly here.
_COMPOSITE_BUDGETS = {
    "dq_text_cleanup": (1, 4),       # audited: 0 / 3
    "dq_sequence_audit": (4, 3),     # audited: 3 / 2
    "dq_graph_profile": (9, 1),      # audited: 8 / 0 (checkpointed edges)
    "dq_group_drift": (9, 5),        # audited: 8 / 4
    # r15-opt: +2 round-robin exchanges (readability + gopher parts
    # spread the single-split fixture scan so interpreted HOF lambdas
    # don't serialize on one task; no-op at scale — idle 2.3 -> 1.9 s)
    "dq_doc_quality": (6, 3),        # audited r15-opt: 5 / 2
    "dq_timeseries_shape": (6, 2),   # audited: 5 / 1 (events scan shared)
    # r14: + confident-learning part (softmax/rank windows + threshold
    # broadcast + joint agg over docs x 3 classes)
    "dq_label_quality": (11, 3),     # audited: 10 / 2
    "dq_dup_profile": (7, 3),        # audited: 6 / 2
    # r15-opt: +2-3 round-robin exchanges from ensure_min_partitions in
    # the brute-force faces — tiny bounded subsets repartitioned so the
    # interpreted O(n^2) cosine scoring doesn't serialize on the
    # fixture's single-file scan (idle-median 2.0 -> 1.1 s at sf0.1)
    "dq_exact_similarity": (5, 5),   # audited r15-opt: 4 / 4 (+1 slack)
    "dq_stream_faces": (5, 5),       # audited r13+numeric_psi: 4 / 4
    "dq_user_journeys": (6, 2),      # audited: 5 / 1
    "dq_value_shape": (7, 3),        # audited: 6 / 2
    "dq_unicode_profile": (2, 2),    # audited: 1 / 1
    "dq_privacy": (13, 7),           # audited: 12 / 6
    # static plans below double-count subtrees a runtime
    # ReusedExchange/cache collapses (ks prefix-sum + w1 + screen each
    # re-list the orders scan); the pin guards against a +5 regression,
    # not the dump's double counting
    "dq_drift_screen": (15, 9),      # audited: 14 / 8
    "dq_hbos": (4, 4),               # audited: 3 / 3
    "dq_fd_check": (6, 3),           # audited: 5 / 2
    "dq_outliers": (3, 3),           # audited: 2 / 2 (z + mad parts)
    # r14: series part (1 window shuffle over the daily agg) + runs part
    # (rank/agg/join over runs x rules metric rows — never data-scale)
    "dq_metric_anomalies": (5, 2),   # audited: 4 / 1
    # r14: cusum + ewma parts — one keyed window shuffle each over the
    # same filtered scan (pushed user_id < 20 predicate)
    "dq_cusum": (3, 3),              # audited: 2 / 2
    # r14: fields part (one fused agg) + conversations part (parse +
    # HOF lint riding the documents scan — zero extra shuffles)
    "dq_json_fields": (2, 3),        # audited: 1 / 2
    # r15: ws + bpe parts = two full token_budget_mix 'partitioned'
    # prefix-sum pipelines (range partition + per-source totals +
    # offsets broadcast each); static dump double-counts subtrees the
    # runtime ReusedExchange collapses
    "dq_token_mix": (19, 7),         # audited r15: 18 / 6
    # r15: contract + compat(x3 modes) — driver-side metadata only,
    # LocalTableScan unions; any Exchange or parquet scan appearing
    # here means someone made schema introspection read data
    "dq_schema_report": (1, 1),      # audited r15: 0 / 0
    # r15 md5-oracle face: shingle/sig Arrow stages ride the pushed
    # doc_id<500 scan; ONE bucket shuffle + pair-dedup agg. r17 re-audit
    # after the ids-only band shuffle: still 3 / 1 — the two verify
    # joins back to the pinned signature frame plan as broadcasts at
    # this bounded size, adding no exchange, so the ceiling stays
    "dq_minhash_pairs": (4, 2),      # audited r17: 3 / 1
    # r15 md5-oracle faces for the remaining approximate ops: each is
    # ONE bucket/candidate shuffle (+dedup agg) over a pushed bounded
    # scan; ivf is a broadcast probe join with zero corpus shuffle
    "dq_simhash_pairs": (4, 2),      # audited r15: 3 / 1
    "dq_embedding_pairs_lsh": (3, 2),  # audited r15: 2 / 1
    "dq_lsh_topk": (4, 3),           # audited r15: 3 / 2
    "dq_ivf_topk": (2, 3),           # audited r15: 1 / 2
    # r15 deterministic face: width-bounds agg + two logical-group
    # span aggs (z-cells / ntile) — no repartitionByRange in the entry
    "dq_zorder": (4, 3),             # audited r15: 3 / 2
}


@pytest.mark.parametrize("name", sorted(_COMPOSITE_BUDGETS))
def test_composite_entry_plan_budgets(spark, sf_dir, name):
    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    max_shuffles, max_scans = _COMPOSITE_BUDGETS[name]
    c = _counts(ENTRY_QUERIES[name](spark, sf_dir))
    assert c["shuffles"] <= max_shuffles, (name, c)
    assert c["scans"] <= max_scans, (name, c)
    assert c["row_python"] == 0, (name, c)
    assert c["python_rdd"] == 0, (name, c)
    spark.catalog.clearCache()


#: Arrow passes (ArrowEvalPython + MapInPandas) per entry, exact
#: ceilings: one pass per kernel over the same text. A second Python
#: round trip (the shingle hashes shipped back out to be signed) fails
#: here instead of showing up only as a slower benchmark.
_ARROW_UDF_CEILINGS = {
    "dq_minhash_pairs": 1,   # the MinHash kernel
    "dq_curation_exact": 2,  # text profile + the MinHash kernel
}


@pytest.mark.parametrize("name", sorted(_ARROW_UDF_CEILINGS))
def test_entry_arrow_pass_ceilings(spark, sf_dir, name):
    from pyspark_data_quality_spark.entry_queries import ENTRY_QUERIES

    c = _counts(ENTRY_QUERIES[name](spark, sf_dir))
    assert c["arrow_udf"] <= _ARROW_UDF_CEILINGS[name], (name, c)
    spark.catalog.clearCache()


@pytest.mark.parametrize("family", ["blake2b", "md5"])
def test_minhash_signatures_one_arrow_pass(spark, docs, family):
    """Shingle hashes and signature come out of ONE ArrowEvalPython:
    the struct kernel's two fields are projected from a single
    evaluation, and the NULL-hash filter sits above it instead of
    planning a second copy."""
    import re

    from pyspark_data_quality_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(
        docs, "text", "doc_id", num_hashes=16, shingle="word",
        hash_family=family,
    )
    plan = harness.formatted_plan(sigs)
    assert len(set(re.findall(r"\((\d+)\) ArrowEvalPython", plan))) == 1, plan
    assert "MapInPandas" not in plan, plan


def test_kernel_not_duplicated_around_pushed_filters(spark, docs):
    """r15-opt pin: explode()'s implicit size>0 condition used to be
    pushed below the exchange as a filter ON the kernel output, planning
    a SECOND ArrowEvalPython whose result was projected away — every
    shingle pipeline paid the kernel twice per action. The kernels are
    marked asNondeterministic (deterministic in fact) precisely to stop
    that; this pins the single-evaluation plan."""
    import re

    from pyspark_data_quality_spark.functions.vectors import (
        shingle_hashes_np,
    )
    from pyspark_data_quality_spark.plans.parallelism import (
        ensure_min_partitions,
    )

    h = shingle_hashes_np("char", 8, seed=77)
    q = (
        ensure_min_partitions(docs)
        .select(F.col("doc_id"), h(F.col("text")).alias("_dg"))
        .filter(F.col("_dg").isNotNull())
        .select("doc_id", F.explode("_dg").alias("g"))
    )
    plan = harness.formatted_plan(q)
    arrow_nodes = set(re.findall(r"\((\d+)\) ArrowEvalPython", plan))
    assert len(arrow_nodes) == 1, plan


def _nodes(plan):
    """Every node of a JVM plan tree, pre-order (does not descend into
    cached relations: their plans are not children)."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return out


def _has_array(schema_json: str) -> bool:
    import json

    def walk(t):
        if isinstance(t, dict):
            return t.get("type") == "array" or any(
                walk(v) for v in t.values()
            )
        if isinstance(t, list):
            return any(walk(v) for v in t)
        return False

    return walk(json.loads(schema_json))


def test_minhash_band_shuffle_carries_ids_only(spark, docs):
    """The (_band, _key) bucket exchange and the pair-dedup exchange see
    ids only: no array column (the shingle-hash set) reaches either, so
    the band shuffle costs ~18 B per (document, band), and the pair dedup
    is a HashAggregate, not a SortAggregate dragging two arrays per
    pair. The sets join back to the pinned signature frame instead."""
    from pyspark_data_quality_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    pairs = minhash_near_dup_pairs(
        docs.limit(200), "text", "doc_id", num_hashes=32, num_bands=8,
        shingle="word",
    )
    plan = pairs._jdf.queryExecution().executedPlan().executedPlan()
    exchanges = {}
    for node in _nodes(plan):
        if node.nodeName() != "Exchange":
            continue
        part = node.outputPartitioning().toString()
        for key in ("_band", "id_a"):
            if f"hashpartitioning({key}" in part:
                exchanges[key] = node
    assert set(exchanges) == {"_band", "id_a"}, plan.toString()
    for key, ex in exchanges.items():
        # below the exchange: the map-side partial aggregate, then
        # the rows it combines — neither may carry an array
        feed = ex.child()
        assert "Aggregate" in feed.nodeName(), (key, feed.nodeName())
        if key == "id_a":
            assert feed.nodeName() == "HashAggregate", feed.nodeName()
        assert not _has_array(feed.child().schema().json()), (
            key, feed.child().schema().simpleString()
        )
    spark.catalog.clearCache()


def test_curation_drop_list_union_plans_broadcast(spark, docs):
    """Without CBO a join's static size estimate multiplies its sides, so
    a drop list derived from the verified pairs would carry a terabyte
    estimate and plan the final annotate join as a sort-merge join that
    shuffles the whole annotated corpus. The near-dup list is a semi join
    of the corpus ids (estimate: its left side), so the drop-list union
    stays under the broadcast threshold and the annotate join plans as a
    BroadcastHashJoin before any pinned list has been materialized."""
    from pyspark_data_quality_spark.pipelines.curation import curate_corpus

    spark.catalog.clearCache()
    curated = curate_corpus(docs, text_col="text", id_col="doc_id")
    qe = curated._jdf.queryExecution()
    threshold = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()

    def has_union(node):
        return any(n.nodeName() == "Union" for n in _nodes(node))

    unions = [
        n.right() for n in _nodes(qe.optimizedPlan())
        if n.nodeName() == "Join" and has_union(n.right())
    ]
    assert len(unions) == 1, qe.optimizedPlan().toString()
    size = int(str(unions[0].stats().sizeInBytes()))
    assert 0 < size <= threshold, size

    joins = [
        n for n in _nodes(qe.executedPlan().executedPlan())
        if "Join" in n.nodeName() and has_union(n.right())
    ]
    assert [j.nodeName() for j in joins] == ["BroadcastHashJoin"], [
        j.simpleString(200) for j in joins
    ]
    spark.catalog.clearCache()


def test_distinct_keys_plan_hll_sketch_not_hll_plus_plus(spark, orders):
    """Approximate distinct counting compiles to one DataSketches
    ``hll_sketch_agg`` buffer, never HLL++: at rsd 0.01 HLL++ carries
    1,639 long buffer attributes and costs a fixed ~0.3 s of CPU per map
    task. Guards the fused metrics pass of a UniqueRule (next to the
    other rules' aggregates) and candidate_keys' approx plan."""
    from pyspark_data_quality_spark.operators import (
        CompletenessColRatioRule,
        UniqueRule,
    )
    from pyspark_data_quality_spark.operators.schema import candidate_keys
    from pyspark_data_quality_spark.plans.analysis import AnalysisRunner

    rules = [
        CompletenessColRatioRule(columns=["o_custkey"], threshold=0.9),
        UniqueRule(
            columns=["o_custkey", "o_orderdate"],
            condition="o_orderstatus = 'F'",
        ),
    ]
    fused = orders.agg(*AnalysisRunner.compile_aggregates(orders, rules))
    keys = candidate_keys(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus"], max_width=2
    )
    for name, df in (("fused", fused), ("candidate_keys", keys)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "hll_sketch_agg" in plan, (name, plan)
        for banned in ("HyperLogLogPlusPlus", "approx_count_distinct"):
            assert banned not in plan, (name, banned, plan[:2000])


def test_python_rdd_gate_counts_python_rows_only(spark):
    """The gate counts scans of driver rows handed to Spark through
    Python (``createDataFrame(<list>)``), not checkpointed frames, which
    plan as ``Scan ExistingRDD`` too but run no Python."""
    from pyspark_data_quality_spark.plans.local import local_frame

    py = spark.createDataFrame([(1, "a")], "k bigint, v string")
    assert _counts(py)["python_rdd"] == 1
    assert _counts(py.join(py.select("k"), "k"))["python_rdd"] == 2
    local = local_frame(spark, [(1, "a")], "k bigint, v string")
    assert _counts(local.join(local.select("k"), "k"))["python_rdd"] == 0
    assert _counts(spark.range(3).localCheckpoint())["python_rdd"] == 0
