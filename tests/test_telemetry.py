"""Runtime plan telemetry (plans/telemetry.py): the scale contracts the
docstrings claim, asserted against the REAL executed-plan accumulators."""

from pyspark.sql import functions as F

from pyspark_data_quality_spark.plans.telemetry import (
    harvest_plan_metrics,
    measured_collect,
    summarize_metrics,
)


def _collect_counting_shuffle(spark, df):
    """``(rows, shuffle records)`` of ``df.collect()``, the records
    summed over every stage of the jobs it ran. Unlike the plan walk,
    this counts the shuffles that materialize a pinned subtree, which
    the returned plan shows only as an InMemoryTableScan leaf."""
    from test_sinks_skew import _route_shape

    rows = []
    shuffles, _ = _route_shape(spark, lambda: rows.extend(df.collect()))
    return rows, sum(shuffles)


def test_harvest_walks_aqe_and_stages(spark):
    df = spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count()
    rows, metrics = measured_collect(df)
    assert len(rows) == 7
    names = [m["node"] for m in metrics]
    assert "Exchange" in names and "HashAggregate" in names
    s = summarize_metrics(metrics)
    # partial aggregation collapsed 10k rows to <= partitions*7 partials
    assert 0 < s["shuffle_records_written"] <= 4 * 7
    assert 0 < s["shuffle_bytes_written"] < 10_000


def test_exact_dedup_shuffles_hashes_not_documents(spark, sf_dir):
    """The dedup docstrings' core scale claim, proven at runtime: the
    shuffled bytes are a small multiple of 8 bytes/doc (fingerprints +
    ids + framing), orders of magnitude under the text bytes."""
    from pyspark_data_quality_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text_bytes = docs.agg(F.sum(F.length("text"))).first()[0]
    n_docs = docs.count()

    out = exact_dedup(docs, "text", "doc_id")
    rows, metrics = measured_collect(out)
    s = summarize_metrics(metrics)
    assert len(rows) > 0
    assert s["shuffle_bytes_written"] > 0
    # generous framing allowance: 64 bytes per doc ≈ 8x the fingerprint
    assert s["shuffle_bytes_written"] <= 64 * n_docs
    assert s["shuffle_bytes_written"] < text_bytes / 3


def test_broadcast_side_is_bounded(spark, sf_dir):
    """A 1-row stats broadcast must ship KBs, not the table."""
    from pyspark_data_quality_spark.operators.repair import winsorize

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_extendedprice"
    )
    w = winsorize(li, ["l_extendedprice"], lower=0.05, upper=0.95)
    rows, metrics = measured_collect(w.limit(50))
    s = summarize_metrics(metrics)
    assert len(rows) == 50
    assert 0 < s["broadcast_bytes"] < 64 * 1024
    assert s["spill_bytes"] == 0


def test_bloom_build_shuffle_capped_by_bitmap_size(spark):
    """bloom_build's claim: the shuffle moves bitmap words, not data —
    bounded by num_bits/64 longs regardless of input rows."""
    from pyspark_data_quality_spark.operators.bloom import bloom_build

    num_bits = 64 * 256  # 256 words
    vals = spark.range(20_000).select(
        F.concat(F.lit("value-"), "id").alias("v")
    )
    bloom = bloom_build(vals, "v", num_bits=num_bits, num_hashes=5)
    rows, metrics = measured_collect(bloom)
    assert len(rows) == 1
    s = summarize_metrics(metrics)
    # 20k rows x 5 positions in, <= ~2x256 word-partials out (map-side
    # bit_or partials per partition side of the exchange)
    assert 0 < s["shuffle_records_written"] <= 4 * 256 + 256
    assert s["shuffle_bytes_written"] < 64 * 1024


def test_salted_join_detection_shuffles_distinct_keys(spark):
    """salted_join's detection claim: hot keys are found with a
    partial-agg count, so the detection shuffle carries DISTINCT keys
    (map-side combine collapses each partition to one partial per key),
    and the join itself broadcasts the small replicated dim — the fact
    rows never shuffle at all."""
    from pyspark_data_quality_spark.plans.skew import salted_join

    n_fact = 20_000
    fact = spark.range(n_fact).select(
        F.when(F.col("id") % 10 < 8, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold"), F.col("id") % 2))
        .alias("k"),
        F.col("id").alias("fv"),
    )  # 3 distinct keys total
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold0", "C0"), ("cold1", "C1")],
        "k string, dv string",
    )
    out = salted_join(fact, dim, ["k"], salt=8, hot_threshold=1000)
    rows, metrics = measured_collect(out.groupBy("dv").count())
    assert sum(r["count"] for r in rows) == n_fact
    s = summarize_metrics(metrics)
    # detection partials (<= partitions x 3 keys x 2 exchange sides) +
    # the final 3-row count agg — NEVER the 20k fact rows. (On this toy
    # AQE is free to broadcast EITHER side of the tiny final join — the
    # invariant under test is the detection shuffle, which at scale is
    # the only exchange whose size the operator itself controls.)
    assert 0 < s["shuffle_records_written"] < n_fact / 10
    assert s["spill_bytes"] == 0


def test_nb_scoring_broadcast_bounded_by_features(spark):
    """score_nb_classifier's claim: the scoring join broadcasts the V×C
    feature frame (+ the C-row class spine), never the corpus — the
    broadcast bytes are bounded by the model size regardless of how
    many documents score."""
    from pyspark_data_quality_spark.operators.classify import (
        score_nb_classifier,
        train_nb_classifier,
    )

    docs = spark.range(5000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit("alpha beta gamma delta"))
        .otherwise(F.lit("omega psi chi phi"))
        .alias("text"),
        F.when(F.col("id") % 2 == 0, F.lit("good"))
        .otherwise(F.lit("bad"))
        .alias("label"),
    )
    model = train_nb_classifier(
        docs, "text", "label", num_buckets=None, min_count=1
    )
    scored = score_nb_classifier(docs, model, "text", ["id"])
    rows, metrics = measured_collect(scored.groupBy("label").count())
    assert sum(r["count"] for r in rows) == 2 * 5000  # C=2 rows per doc
    s = summarize_metrics(metrics)
    # V<=8 tokens x C=2 classes + 2 spine rows: model-sized, not corpus-
    # sized (the 5000-doc text column alone is >100 KB)
    assert 0 < s["broadcast_bytes"] < 128 * 1024


def test_cap_per_group_ranks_only_offenders(spark):
    """cap_per_group's two-phase claim: the window ranks offender rows
    only — shuffled records stay ~|offender rows| + counts, far below
    ranking everything."""
    from pyspark_data_quality_spark.operators.split import cap_per_group

    rows = [("big", i) for i in range(5000)] + [
        (f"h{i}", 10_000 + i) for i in range(2000)  # 2000 singleton hosts
    ]
    df = spark.createDataFrame(rows, "host string, id bigint")
    capped = cap_per_group(df, ["host"], "id", 50)
    out, metrics = measured_collect(capped)
    assert len(out) == 50 + 2000
    s = summarize_metrics(metrics)
    # count agg partials + the 5000 offender rows; ranking ALL 7000 rows
    # plus counts would exceed this bound
    assert s["shuffle_records_written"] < 5000 + 3 * 2001 + 100


def test_heavy_hitters_shuffle_bounded_by_capacity(spark):
    """heavy_hitters' claim: the shuffle carries per-partition MG
    summaries (<= partitions x (capacity+1) rows), never the input rows
    — cardinality does not move the bill."""
    from pyspark_data_quality_spark.operators.profile import heavy_hitters

    n = 50_000
    cap = 16
    parts = 8
    # skewed: 4 hot values carry 60% of rows over a 9000-value tail
    # (uniform data would legitimately yield an EMPTY summary — nothing
    # is heavy — so the telemetry probe uses the operator's actual
    # use case)
    df = spark.range(n, numPartitions=parts).select(
        F.when(F.col("id") % 10 < 6,
               F.concat(F.lit("hot"), F.col("id") % 4))
        .otherwise(F.concat(F.lit("u"), F.col("id") % 9000))
        .alias("v")
    )
    out = heavy_hitters(df, "v", k=8, capacity=cap)
    rows, metrics = measured_collect(out)
    got = {r["value"] for r in rows}
    assert {"hot0", "hot1", "hot2", "hot3"} <= got
    s = summarize_metrics(metrics)
    # summary rows (+ sentinel) per partition, x2 for the merge
    # exchange's partial-agg side; the 50k inputs never shuffle
    assert 0 < s["shuffle_records_written"] <= 3 * parts * (cap + 2)


def test_association_matrix_shuffle_carries_cells(spark):
    """association_matrix's claim: the one real exchange moves
    contingency CELLS (vocabulary product), not rows — partial
    aggregation collapses the exploded pairs map-side."""
    from pyspark_data_quality_spark.operators.profile import (
        association_matrix,
    )

    n = 30_000
    df = spark.range(n, numPartitions=6).select(
        (F.col("id") % 4).cast("string").alias("a"),
        (F.col("id") % 3).cast("string").alias("b"),
        (F.col("id") % 5).cast("string").alias("c"),
    )
    out = association_matrix(df, ["a", "b", "c"])
    rows, metrics = measured_collect(out)
    assert len(rows) == 3
    s = summarize_metrics(metrics)
    # cells: 3 pairs x <=20 cells = 60 max distinct; x partitions of
    # map-side partials + the tiny margin/agg exchanges downstream —
    # never the 90k exploded rows
    assert 0 < s["shuffle_records_written"] < n / 20


def test_single_scan_analytics_never_rescan_source(spark, sf_dir):
    """The round-9 single-scan contracts: calibration_report,
    agreement_report and retention_matrix materialize their tiny
    intermediate (driver collect / localCheckpoint) during
    construction, so the RETURNED plan reads the materialized form —
    zero parquet rescans of the source remain."""
    from pyspark_data_quality_spark.operators.classify import (
        calibration_report,
    )
    from pyspark_data_quality_spark.operators.consistency import (
        agreement_report,
    )
    from pyspark_data_quality_spark.operators.retention import (
        retention_matrix,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        F.least(F.length("text") / F.lit(2000.0), F.lit(1.0)).alias("s"),
        (F.length("text") >= 1000).cast("int").alias("y"),
    )
    lab = docs.select(
        F.when(F.length("text") >= 500, "p").otherwise("f").alias("a"),
        F.when(F.length("text") >= 800, "p").otherwise("f").alias("b"),
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    for out in (
        calibration_report(scored, "s", "y"),
        agreement_report(lab, "a", "b"),
        retention_matrix(
            ev.select(
                "user_id", F.col("ts").cast("timestamp").alias("ts")
            )
        ),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan and "Scan parquet" not in plan, (
            f"returned plan still rescans the source:\n{plan[:500]}"
        )
        assert out.count() >= 0  # and it actually runs


def test_single_scan_second_batch_never_rescan_source(spark, sf_dir):
    """Round-9 second batch single-scan contracts: acf_profile
    checkpoints the bucket-count frame (which feeds moments + BOTH lag
    join sides) and ab_test_report checkpoints the 2-row per-variant
    aggregate (which feeds min- and max-variant splits) — so each
    RETURNED plan reads only the materialized form, zero parquet
    rescans of the raw events."""
    from pyspark_data_quality_spark.operators.abtest import ab_test_report
    from pyspark_data_quality_spark.operators.rollup import acf_profile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    for out in (
        acf_profile(ev, ["event_type"], "ts", lags=[1, 2]),
        ab_test_report(
            ev.filter(F.col("user_id").isNotNull()),
            F.when(F.col("user_id") % 2 == 0, F.lit("e")).otherwise("o"),
            "value",
            F.col("value") > 50,
        ),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan and "Scan parquet" not in plan, (
            f"returned plan still rescans the source:\n{plan[:500]}"
        )
        assert out.count() >= 0


def test_pattern_profile_shuffles_masks_not_values(spark, sf_dir):
    """pattern_profile's scale claim at runtime: the shuffle carries
    (column, mask) PARTIALS — format cardinality — not the data. Bytes
    written must be a small constant multiple of (#partitions ×
    #distinct masks), orders of magnitude under the source bytes."""
    from pyspark_data_quality_spark.operators.profile import pattern_profile

    ids = spark.range(20_000).select(
        F.format_string("User#%08d", F.col("id")).alias("uid"),
        F.concat(F.lit("REGION-"), (F.col("id") % 7).cast("string")).alias(
            "seg"
        ),
    )
    src_bytes = ids.agg(F.sum(F.length("uid") + F.length("seg"))).first()[0]
    out = pattern_profile(ids, ["uid", "seg"])
    rows, metrics = measured_collect(out)
    s = summarize_metrics(metrics)
    n_masks = len(rows)  # 2: one mask per column
    n_parts = ids.rdd.getNumPartitions()
    assert n_masks == 2 and s["shuffle_records_written"] > 0
    # partial agg bound: each map task emits at most its local masks
    # (+ the rank/order exchanges over the tiny aggregated frame)
    assert s["shuffle_records_written"] <= 3 * (n_parts + 1) * n_masks
    assert s["shuffle_bytes_written"] < src_bytes / 50


def test_shared_subtrees_scan_once(spark, sf_dir):
    """The r11 shared-subtree caches, pinned at the plan level: the
    final executed plan must consume the persisted intermediate
    (InMemoryTableScan leaves) rather than inlining N copies of the
    source subtree. Dropping any of the persists re-inlines the parquet
    scans into the returned plan — classifier_drift showed 16 visible
    FileSourceScans before the fix — and scan_output_rows (SOURCE scans
    only; cache reads excluded) jumps past the input row count, failing
    the bound below. What this deliberately does NOT claim: cache
    MATERIALIZATION work is invisible to the plan walk (see
    harvest_plan_metrics), so a cache-eviction recompute at runtime is
    out of scope here — the contract pinned is the plan shape."""
    from pyspark_data_quality_spark.operators.drift import (
        classifier_drift,
        corpus_divergence,
        ks_statistic,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]

    # classifier_drift: each side scanned once (persisted tagged split)
    out = classifier_drift(
        docs.filter(F.col("doc_id") <= half),
        docs.filter(F.col("doc_id") > half),
        "text",
        "doc_id",
    )
    rows, metrics = measured_collect(out)
    s = summarize_metrics(metrics)
    assert rows[0]["n_fit"] > 0
    assert s["scan_output_rows"] <= n_docs, (
        f"classifier_drift rescanned its sources: "
        f"{s['scan_output_rows']} scanned rows for {n_docs} input rows"
    )

    # corpus_divergence: one scan feeds all four count consumers
    out = corpus_divergence(docs, "text", "source")
    rows, metrics = measured_collect(out)
    s = summarize_metrics(metrics)
    assert len(rows) > 0
    assert s["scan_output_rows"] <= n_docs, (
        f"corpus_divergence rescanned: {s['scan_output_rows']} rows "
        f"for {n_docs} input rows"
    )

    # ks_statistic (partitioned): the persisted ranged histogram serves
    # both prefix-sum consumers — each side's scan runs once
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_ev = ev.count()
    out = ks_statistic(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
    )
    rows, metrics = measured_collect(out)
    s = summarize_metrics(metrics)
    assert rows[0]["ks"] is not None
    assert s["scan_output_rows"] <= n_ev, (
        f"ks_statistic rescanned: {s['scan_output_rows']} rows for "
        f"{n_ev} input rows"
    )


def test_drift_screen_shuffle_is_row_count_invariant(spark):
    """drift_screen's 100-TB claim, proven at runtime: the shuffled
    record count is bounded by partitions x columns x bins (map-side
    combined partials) plus O(columns) post-agg rows — growing the
    input 10x must NOT grow the shuffle."""
    from pyspark_data_quality_spark.operators.drift import drift_screen

    def run(n):
        base = spark.range(n)
        ref = base.select(
            (F.col("id") % 97).cast("double").alias("a"),
            (F.col("id") % 13).cast("double").alias("b"),
        )
        cur = ref.select((F.col("a") + 5.0).alias("a"), "b")
        out = drift_screen(cur, ref, ["a", "b"], bins=16)
        rows, records = _collect_counting_shuffle(spark, out)
        spark.catalog.clearCache()
        assert len(rows) == 2
        return records

    small, big = run(2_000), run(20_000)
    assert small > 0 and big > 0
    # map-side combine emits at most (map partitions) x cols x bins
    # partials; both sides union before the exchange
    maps = 2 * spark.sparkContext.defaultParallelism
    cap = maps * 2 * 16 + 128  # partials + BH/agg framing rows
    assert small <= cap and big <= cap, (small, big, cap)
    # the invariance itself: 10x rows, same bounded shuffle
    assert big <= small * 2, (small, big)


def test_hbos_scoring_shuffles_only_histogram_partials(spark):
    """hbos_scores' scale claim at runtime: scoring N rows shuffles
    ONLY the histogram partials (bounded by partitions x cols x bins);
    the scored data itself rides broadcast joins, so 10x the rows
    leaves the shuffle bounded."""
    from pyspark_data_quality_spark.operators.repair import hbos_scores

    def run(n):
        df = spark.range(n).select(
            F.col("id"),
            (F.col("id") % 53).cast("double").alias("x"),
            (F.col("id") % 11).cast("double").alias("y"),
        )
        out = hbos_scores(df, ["x", "y"], bins=8)
        rows, records = _collect_counting_shuffle(spark, out)
        spark.catalog.clearCache()
        assert len(rows) == n
        return records

    small, big = run(2_000), run(20_000)
    assert small > 0 and big > 0
    maps = spark.sparkContext.defaultParallelism
    cap = maps * 2 * 8 + 128
    assert small <= cap and big <= cap, (small, big, cap)
    assert big <= small * 2, (small, big)
