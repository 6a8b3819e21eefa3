"""Empty-input robustness: every operator must plan AND execute on an
empty frame without raising (the `.first()`-returns-None / divide-by-
zero class of failure), returning empty or null-stat results."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string")


@pytest.fixture
def empty_vecs(spark):
    return spark.createDataFrame([], "vec_id bigint, embedding array<float>")


def test_text_and_dedup_ops_empty(spark, empty_docs):
    from pyspark_data_quality_spark.operators.dedup import (
        exact_dedup,
        exact_dup_groups,
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )
    from pyspark_data_quality_spark.operators.text import (
        contamination_pairs,
        pii_summary,
        text_profile,
        vocab_top_k,
    )

    assert text_profile(empty_docs, "text").count() == 0
    assert exact_dedup(empty_docs, "text", "doc_id").count() == 0
    assert exact_dup_groups(empty_docs, "text", "doc_id").count() == 0
    assert minhash_near_dup_pairs(empty_docs, "text", "doc_id").count() == 0
    assert simhash_near_dup_pairs(empty_docs, "text", "doc_id").count() == 0
    assert ngram_jaccard_pairs(
        empty_docs, "text", "doc_id", use_lsh_blocking=False
    ).count() == 0
    assert vocab_top_k(empty_docs, "text").count() == 0
    assert contamination_pairs(
        empty_docs, empty_docs, "text", "doc_id"
    ).count() == 0
    pii = pii_summary(empty_docs, "text").collect()
    assert len(pii) == 4 and all(r["docs_affected"] == 0 for r in pii)


def test_similarity_ops_empty(spark, empty_vecs):
    from pyspark_data_quality_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from pyspark_data_quality_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    q = empty_vecs.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    assert embedding_near_dup_pairs(
        empty_vecs, "embedding", "vec_id", dim=8
    ).count() == 0
    assert brute_force_topk(empty_vecs, q, k=5).count() == 0
    assert lsh_topk(empty_vecs, q, k=5, dim=8).count() == 0


def test_profile_and_drift_empty(spark, empty_docs):
    from pyspark_data_quality_spark.operators.anomaly import zscore_anomalies
    from pyspark_data_quality_spark.operators.drift import (
        categorical_drift,
        numeric_drift,
        psi_summary,
    )
    from pyspark_data_quality_spark.operators.profile import (
        column_entropy,
        histogram,
        profile_columns,
        top_values,
        vector_profile,
    )

    e = spark.createDataFrame([], "g string, v double, t int")
    stats = profile_columns(e, ["v", "g"]).collect()
    assert len(stats) > 0  # one row per stat, null values
    assert all(
        r["value"] is None or r["value"] == 0.0
        for r in stats
        if r["stat"] != "distinct_count"
    )
    assert top_values(e, ["g"]).count() == 0
    assert histogram(e, "v").count() == 0  # derived bounds on empty input
    assert histogram(e, "v", lo=0.0, hi=1.0).count() == 0
    assert column_entropy(e, ["g"]).count() == 0
    assert zscore_anomalies(e, "v", ["t"]).count() == 0
    assert categorical_drift(e, e, ["g"]).count() == 0
    assert psi_summary(e, e, ["g"]).count() == 0
    assert numeric_drift(e, e, "v").count() == 0
    ev = spark.createDataFrame([], "vec_id bigint, v array<double>")
    assert vector_profile(ev, "v").count() == 0


def test_joins_splits_repair_empty(spark):
    from pyspark_data_quality_spark.operators.asof import asof_join
    from pyspark_data_quality_spark.operators.range_join import range_join
    from pyspark_data_quality_spark.operators.repair import impute
    from pyspark_data_quality_spark.operators.rollup import time_rollup
    from pyspark_data_quality_spark.operators.split import (
        deterministic_sample,
        deterministic_split,
    )

    left = spark.createDataFrame([], "k string, ts timestamp, x double")
    right = spark.createDataFrame([], "k string, ts timestamp, px double")
    assert asof_join(left, right, on="ts", by=["k"]).count() == 0
    bands = spark.createDataFrame([], "lo double, hi double, b string")
    assert range_join(
        left, bands, value_col="x", lo_col="lo", hi_col="hi", bucket_width=1.0
    ).count() == 0
    assert time_rollup(left, "ts").count() == 0
    assert deterministic_split(left, "k", {"a": 1.0}).count() == 0
    assert deterministic_sample(left, "k", 0.5).count() == 0
    assert impute(left, ["x"], group_by=["k"]).count() == 0
    assert impute(left, ["x"], strategy="median").count() == 0
    assert impute(left, ["x"], strategy="mode", group_by=["k"]).count() == 0


def test_round4_operators_empty(spark, empty_docs):
    from pyspark_data_quality_spark.operators.dedup import (
        dedup_against,
        dup_cluster_profile,
    )
    from pyspark_data_quality_spark.operators.fuzzy import fuzzy_match_pairs
    from pyspark_data_quality_spark.operators.join_audit import join_diagnosis
    from pyspark_data_quality_spark.operators.repair import winsorize
    from pyspark_data_quality_spark.operators.rollup import rolling_stats
    from pyspark_data_quality_spark.operators.text import (
        split_leakage,
        tfidf_top_terms,
    )

    docs = spark.createDataFrame([(1, "some text")], ["doc_id", "text"])
    # empty batch vs non-empty reference and vice versa
    assert dedup_against(empty_docs, docs, "text").count() == 0
    assert dedup_against(docs, empty_docs, "text").count() == 1
    assert dup_cluster_profile(empty_docs, "text").count() == 0
    assert fuzzy_match_pairs(empty_docs, "text", "doc_id").count() == 0
    # join diagnosis on two empty sides: full metric grid, all zeros
    e = spark.createDataFrame([], "k int")
    got = {r["metric"]: r["value"] for r in join_diagnosis(e, e, "k").collect()}
    assert len(got) == 13 and got["inner_join_rows"] == 0.0
    # winsorize empty: null bounds leave the (zero) rows untouched
    nums = spark.createDataFrame([], "x double")
    assert winsorize(nums, ["x"], exact=True).count() == 0
    assert winsorize(nums, ["x"]).count() == 0
    ev = spark.createDataFrame([], "k string, ts timestamp, value double")
    assert rolling_stats(ev, "ts", "value", group_cols=["k"]).count() == 0
    # leakage with an empty holdout: one row of zeros, no div-by-zero
    r = split_leakage(docs, empty_docs, "text", "doc_id").first()
    assert r["n_holdout"] == 0 and r["exact_leak_rate"] == 0.0
    assert tfidf_top_terms(empty_docs, "text", "doc_id").count() == 0
    # sketch rollup on an empty increment: the one __total__ row comes
    # back all-NULL instead of ANSI element_at([],1) throwing (ADVICE r4)
    from pyspark_data_quality_spark.operators.profile import sketch_rollup

    rows = sketch_rollup(nums.withColumn("g", F.lit("a")),
                         "x", group_by=["g"]).collect()
    assert len(rows) == 1
    # sum over zero rows is NULL; the empty HLL union estimates 0
    assert rows[0]["n"] is None and not rows[0]["distinct_est"]
    assert rows[0]["q0.5"] is None


def test_round5_operators_empty(spark, empty_docs):
    from pyspark_data_quality_spark.operators.dedup import (
        segment_dedup_profile,
        strip_duplicate_segments,
    )
    from pyspark_data_quality_spark.operators.drift import corpus_divergence
    from pyspark_data_quality_spark.operators.rollup import group_top_k

    assert segment_dedup_profile(empty_docs, "text", "doc_id").count() == 0
    assert strip_duplicate_segments(empty_docs, "text", "doc_id").count() == 0
    e = spark.createDataFrame([], "src string, text string")
    assert corpus_divergence(e, "text", "src").count() == 0
    g = spark.createDataFrame([], "g string, id bigint, v double")
    assert group_top_k(g, ["g"], "v", tiebreak_col="id").count() == 0


def test_redact_zipf_empty(spark, empty_docs):
    from pyspark_data_quality_spark.operators.repair import redact_pii
    from pyspark_data_quality_spark.operators.text import zipf_profile

    assert redact_pii(empty_docs, "text").count() == 0
    from pyspark_data_quality_spark.operators.repair import unicode_normalize

    assert unicode_normalize(
        empty_docs, "text", form="NFKC", casefold=True,
        strip_controls=True, collapse_whitespace=True,
    ).count() == 0
    e = spark.createDataFrame([], "doc_id bigint, text string, lang string")
    assert zipf_profile(e, "text", "lang").count() == 0
    # ungrouped empty corpus: one row of nulls/zeros is fine, but it must
    # not raise (regr aggregates over zero rows)
    zipf_profile(empty_docs, "text").collect()


def test_pack_chunk_empty(spark, empty_docs):
    from pyspark_data_quality_spark.operators.split import (
        chunk_documents,
        pack_sequences,
    )

    assert pack_sequences(
        empty_docs, "doc_id", text_col="text"
    ).count() == 0
    assert chunk_documents(empty_docs, "text", "doc_id").count() == 0


def test_matched_diversity_richness_empty(spark, empty_docs):
    from pyspark_data_quality_spark.operators.split import matched_sample
    from pyspark_data_quality_spark.operators.text import (
        ngram_diversity,
        vocab_richness,
    )

    e = spark.createDataFrame([], "id bigint, lang string")
    # empty corpus: the plan has no strata, the sample has no rows —
    # the min-over-empty scale must not raise
    assert matched_sample(e, "id", "lang", {"en": 1.0}).count() == 0
    # ungrouped empty corpus: diversity groups by n (empty result);
    # richness is a global aggregate — one row of nulls, must not raise
    # (same convention as zipf_profile)
    assert ngram_diversity(empty_docs, "text").count() == 0
    r = vocab_richness(empty_docs, "text").first()
    assert r["n_tokens"] is None and r["vocab_size"] == 0
    # grouped faces on empty input are empty (no null row)
    d = spark.createDataFrame([], "doc_id bigint, text string, lang string")
    assert ngram_diversity(d, "text", "lang").count() == 0
    assert vocab_richness(d, "text", "lang").count() == 0


def test_scoring_drift_normalize_empty(spark, empty_docs):
    from pyspark_data_quality_spark.operators.drift import embedding_drift
    from pyspark_data_quality_spark.operators.repair import normalize_columns
    from pyspark_data_quality_spark.operators.text import (
        distinctive_terms,
        lexicon_score,
    )

    assert lexicon_score(empty_docs, {"a": 1.0}, "text").count() == 0
    d = spark.createDataFrame([], "doc_id bigint, text string, lang string")
    assert distinctive_terms(d, "text", "lang").count() == 0
    n = spark.createDataFrame([], "g string, x double")
    assert normalize_columns(n, ["x"], group_by=["g"]).count() == 0
    assert normalize_columns(n, ["x"], method="minmax").count() == 0
    # empty embedding sides: one row, NULL metrics, zero counts
    e = spark.createDataFrame([], "id bigint, v array<double>")
    r = embedding_drift(e, e, "v").first()
    assert r["n_cur"] == 0 and r["centroid_cosine"] is None


def test_components_and_curation_empty(spark, empty_docs, tmp_path):
    from pyspark_data_quality_spark.operators.dedup import dedup_components
    from pyspark_data_quality_spark.pipelines.curation import (
        curate_corpus,
        curation_stats,
    )

    empty_pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert dedup_components(empty_pairs).count() == 0

    # full pipeline on an empty corpus: plans, executes, returns empty —
    # including the persisted-state path against a virgin state dir
    out = curate_corpus(
        empty_docs, languages=None, near_dup_threshold=1.5,
        state_dir=str(tmp_path / "virgin"),
    )
    assert out.count() == 0
    assert "curation_status" in out.columns and "split" in out.columns
    assert curation_stats(out).count() == 0


def test_round7_segment_ops_empty(spark):
    """Every round-7 operator planned over empty frames executes and
    returns its schema with zero (or spine-only) rows — no div-by-zero,
    no lost columns."""
    from pyspark_data_quality_spark.operators.drift import (
        ks_by_group,
        psi_by_group,
        quantile_shift_by_group,
    )
    from pyspark_data_quality_spark.operators.split import token_budget_mix
    from pyspark_data_quality_spark.pipelines.segment_health import (
        segment_health_report,
    )

    empty = spark.createDataFrame(
        [], "grp string, sval string, v double, ts timestamp, id bigint"
    )
    assert psi_by_group(empty, empty, ["sval"], "grp").count() == 0
    assert ks_by_group(empty, empty, "v", "grp").count() == 0
    assert quantile_shift_by_group(empty, empty, "v", "grp").count() == 0
    assert token_budget_mix(
        empty, "id", "grp", {"a": 1.0}, token_count_col="id"
    ).count() == 0
    assert segment_health_report(
        empty, "grp",
        ref=empty, completeness_cols=["sval"], ts_col="ts",
        psi_cols=["sval"], ks_col="v",
    ).count() == 0

    # one-sided empties: the non-empty side still reports
    cur = spark.createDataFrame(
        [("g", "a", 1.0, None, 1)],
        "grp string, sval string, v double, ts timestamp, id bigint",
    )
    psi = psi_by_group(cur, empty, ["sval"], "grp").collect()
    assert len(psi) == 1 and psi[0]["drifted"]  # eps-clamped max drift
    ks = ks_by_group(cur, empty, "v", "grp").first()
    assert ks["ks"] == 1.0 and ks["n_ref"] == 0
    qs = quantile_shift_by_group(cur, empty, "v", "grp").collect()
    assert {r["q"] for r in qs} == {0.25, 0.5, 0.75}
    assert all(r["ref_q"] is None for r in qs)


def test_round7b_ops_on_empty_inputs(spark, empty_docs):
    """Bloom dedup, NB classifier, and salted_join over empty frames:
    plans execute, schemas survive, no crashes."""
    from pyspark.sql import functions as F

    from pyspark_data_quality_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
        dedup_against_bloom,
    )
    from pyspark_data_quality_spark.operators.classify import (
        score_nb_classifier,
        train_nb_classifier,
    )
    from pyspark_data_quality_spark.plans.skew import salted_join

    docs = spark.createDataFrame(
        [(1, "alpha beta", "en")], "doc_id bigint, text string, lang string"
    )

    # empty batch probed against a real bloom -> zero rows, schema kept
    bl = bloom_build(
        docs.select(F.col("text").alias("v")), "v", num_bits=640, num_hashes=3
    )
    probed = bloom_probe(empty_docs, bl, "text")
    assert probed.count() == 0
    assert "bloom_maybe" in probed.columns

    # both directions of empty in the dedup
    assert dedup_against_bloom(
        empty_docs, docs, "text", expected_items=10
    ).count() == 0
    kept = dedup_against_bloom(docs, empty_docs, "text", expected_items=10)
    assert kept.count() == 1  # nothing in the reference -> all survive

    # classifier: empty training set -> zero classes; scoring emits 0
    # rows per doc (C=0) rather than crashing
    empty_labeled = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string"
    )
    model = train_nb_classifier(empty_labeled, "text", "lang")
    assert model.classes.count() == 0
    assert score_nb_classifier(docs, model, "text", ["doc_id"]).count() == 0

    # salted_join with an empty side
    fact = docs.select(F.col("doc_id").alias("k"), "text")
    dim_empty = spark.createDataFrame([], "k bigint, dv string")
    assert salted_join(fact, dim_empty, ["k"], hot_threshold=1).count() == 0
    assert salted_join(
        fact, dim_empty, ["k"], how="left", hot_threshold=1
    ).count() == 1


def test_second_analytics_batch_empty(spark, empty_docs):
    from pyspark_data_quality_spark.operators.abtest import ab_test_report
    from pyspark_data_quality_spark.operators.profile import (
        concentration_report,
        pattern_profile,
    )
    from pyspark_data_quality_spark.operators.repair import (
        quantile_normalize,
    )
    from pyspark_data_quality_spark.operators.rollup import acf_profile
    from pyspark_data_quality_spark.operators.text import (
        compression_profile,
    )

    assert pattern_profile(empty_docs, ["text"]).count() == 0
    assert concentration_report(empty_docs, ["doc_id"], "doc_id").count() == 0
    assert compression_profile(empty_docs, "text").count() == 0
    empty_ev = spark.createDataFrame(
        [], "k string, ts timestamp, v double"
    )
    assert acf_profile(empty_ev, ["k"], "ts", lags=[1]).count() == 0
    assert quantile_normalize(
        empty_ev, "v", empty_ev, ["k"]
    ).count() == 0
    # ab_test_report REQUIRES two variants — empty input is a loud
    # ValueError (0 variants), not a silent empty frame
    with pytest.raises(ValueError, match="exactly 2"):
        ab_test_report(empty_ev, "k", "v")


def test_r13_screens_empty(spark):
    """drift_screen / hbos_scores / fd_confidence on empty frames:
    every requested column/pair still reports (spine contract), with
    vacuous statistics rather than NULL poison or a raise."""
    from pyspark_data_quality_spark.operators.consistency import (
        fd_confidence,
    )
    from pyspark_data_quality_spark.operators.drift import drift_screen
    from pyspark_data_quality_spark.operators.repair import hbos_scores

    empty = spark.createDataFrame([], "a double, b double")

    rows = {r["column"]: r
            for r in drift_screen(empty, empty, ["a", "b"]).collect()}
    assert set(rows) == {"a", "b"}
    for r in rows.values():
        assert r["n_cur"] == 0 and r["p_value"] == 1.0
        assert not r["drifted"]

    assert hbos_scores(empty, ["a", "b"]).count() == 0

    fd = fd_confidence(empty, [("a", "b")]).collect()
    assert len(fd) == 1 and fd[0]["holds"]
