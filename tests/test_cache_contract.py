"""The plans/cache.py contract: every operator that caches internally
takes ``persist``; ``persist=False`` leaves ZERO entries in the SQL
CacheManager (no session-lived residue for long-lived looping callers)
and produces identical results to the cached default.

Driver for the test list: the r11 advice — the round added ~12
MEMORY_AND_DISK persists with no release handle and docstrings claiming
LRU eviction Spark does not do. The sweep also guards the escape
hatch's one correctness hazard: the prefix-sum operators join
per-partition offsets on ``spark_partition_id``, so their persist=False
path must PIN partitions (lazy localCheckpoint), never re-execute a
``repartitionByRange`` per consumer.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pyspark_data_quality_spark.operators.bloom import dedup_against_bloom
from pyspark_data_quality_spark.operators.classify import (
    confident_label_errors,
    crossval_nb,
    train_nb_classifier,
    train_quality_model,
)
from pyspark_data_quality_spark.operators.drift import (
    classifier_drift,
    corpus_divergence,
    embedding_drift,
    ks_by_group,
    ks_statistic,
    mmd_drift,
    numeric_drift,
    quantile_drift,
    wasserstein_1d,
)
from pyspark_data_quality_spark.operators.dedup import minhash_near_dup_pairs
from pyspark_data_quality_spark.operators.fuzzy import fuzzy_match_pairs
from pyspark_data_quality_spark.operators.profile import (
    profile_columns,
    value_histogram_stats,
)
from pyspark_data_quality_spark.operators.repair import winsorize
from pyspark_data_quality_spark.pipelines.segment_health import (
    segment_health_report,
)
from pyspark_data_quality_spark.operators.text import (
    bigram_logprob,
    distinctive_terms,
    tfidf_top_terms,
    unigram_logprob,
)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(
            doc_id=i,
            text=f"the quick brown fox {i % 7} jumps over the lazy dog "
            f"number {i % 3} again and again",
            lang="en" if i % 3 else "de",
            score=float(i % 13) + (0.5 if i % 2 else 0.0),
        )
        for i in range(120)
    ]
    return spark.createDataFrame(rows)


def _vecs(d, parity):
    return d.filter(f"doc_id % 2 = {parity}").select(
        F.array("score", F.col("score") * 2).alias("v")
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


# every builder forwards **kw to the ONE operator under test
CASES = [
    ("numeric_drift", lambda d, **kw: numeric_drift(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"), "score", **kw
    )),
    ("ks_statistic", lambda d, **kw: ks_statistic(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"), "score", **kw
    )),
    ("ks_by_group", lambda d, **kw: ks_by_group(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"),
        "score", "lang", **kw
    )),
    ("wasserstein_1d", lambda d, **kw: wasserstein_1d(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"), "score", **kw
    )),
    ("corpus_divergence", lambda d, **kw: corpus_divergence(
        d, "text", "lang", **kw
    )),
    ("embedding_drift", lambda d, **kw: embedding_drift(
        _vecs(d, 0), _vecs(d, 1), "v", **kw
    )),
    ("mmd_drift", lambda d, **kw: mmd_drift(
        _vecs(d, 0), _vecs(d, 1), "v", num_features=8, dim=2, **kw
    )),
    ("confident_label_errors", lambda d, **kw: confident_label_errors(
        d.select("doc_id", "lang").withColumn(
            "label", F.explode(F.array(F.lit("en"), F.lit("de")))
        ).withColumn(
            "score",
            F.when(F.col("label") == F.col("lang"), 2.0).otherwise(0.0),
        ),
        id_cols=["doc_id"], label_col="lang", **kw
    )),
    ("classifier_drift", lambda d, **kw: classifier_drift(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"),
        "text", "doc_id", **kw
    )),
    ("tfidf_top_terms", lambda d, **kw: tfidf_top_terms(
        d, "text", "doc_id", **kw
    )),
    ("unigram_logprob", lambda d, **kw: unigram_logprob(
        d, "text", "doc_id", **kw
    )),
    ("bigram_logprob", lambda d, **kw: bigram_logprob(
        d, "text", "doc_id", **kw
    )),
    ("distinctive_terms", lambda d, **kw: distinctive_terms(
        d, "text", "lang", **kw
    )),
    ("fuzzy_match_pairs", lambda d, **kw: fuzzy_match_pairs(
        d.select(
            "doc_id",
            F.concat(
                F.lit("name"), (F.col("doc_id") % 9).cast("string")
            ).alias("s"),
        ),
        "s", "doc_id", **kw
    )),
    # pins its signature frame: banding and the verify join-back read
    # one materialization of the shingle kernel
    ("minhash_near_dup_pairs", lambda d, **kw: minhash_near_dup_pairs(
        d, "text", "doc_id", num_hashes=32, num_bands=8, shingle="word",
        threshold=0.5, **kw
    )),
    ("dedup_against_bloom", lambda d, **kw: dedup_against_bloom(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 3 = 0"),
        "text", expected_items=100, **kw
    )),
    ("value_histogram_stats", lambda d, **kw: value_histogram_stats(
        d, ["score", "lang"], **kw
    )),
    # transitive cachers (r12 review): public entry points that cache
    # only through a gated callee must still thread the flag
    ("train_quality_model", lambda d, **kw: train_quality_model(
        d, "text",
        good_filter=F.col("score") > 6, bad_filter=F.col("score") <= 2,
        num_buckets=None, **kw
    ).features),
    # strategy='pairs' is the branch that reaches value_histogram_stats;
    # the default 'fused' strategy is a single agg with nothing to cache
    ("profile_columns", lambda d, **kw: profile_columns(
        d, ["score", "lang"], strategy="pairs", **kw
    )),
    ("quantile_drift", lambda d, **kw: quantile_drift(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"), "score", **kw
    )),
    ("winsorize_exact", lambda d, **kw: winsorize(
        d.select("doc_id", "score"), ["score"], exact=True, **kw
    )),
    ("segment_health_report", lambda d, **kw: segment_health_report(
        d.filter("doc_id % 2 = 0"),
        group_col="lang",
        completeness_cols=["text"],
        ks_col="score",
        ref=d.filter("doc_id % 2 = 1"),
        **kw
    )),
]


@pytest.mark.parametrize("name,build", CASES, ids=[c[0] for c in CASES])
def test_persist_false_no_residue_same_result(spark, docs, name, build):
    spark.catalog.clearCache()
    cached = _rows(build(docs))
    assert not _cache_empty(spark), (
        f"{name}: expected the default path to register a cache entry "
        "(if the operator stopped caching, drop it from this sweep)"
    )
    spark.catalog.clearCache()
    uncached = _rows(build(docs, persist=False))
    assert _cache_empty(spark), (
        f"{name}: persist=False left entries in the SQL CacheManager"
    )
    assert cached == uncached, f"{name}: persist flag changed the result"


def test_train_nb_classifier_persist_false(spark, docs):
    spark.catalog.clearCache()
    m = train_nb_classifier(docs, "text", "lang", persist=False)
    m.features.collect()
    m.classes.collect()
    assert _cache_empty(spark)
    m.unpersist()  # must be a harmless no-op on an uncached model


def test_crossval_nb_releases_fold_caches(spark, docs):
    # crossval consumes each fold eagerly and unpersists the fold model
    # (r12 review) — a k-fold run must leave ZERO CacheManager entries.
    # min_count=2 is the regression face: the semi-join pruning path
    # reassigns the count frame, and a release handle captured AFTER
    # the reassignment would be a silent no-op (unpersist only uncaches
    # a plan that sameResults the frame it's called on)
    spark.catalog.clearCache()
    out = crossval_nb(docs, "text", "lang", "doc_id", folds=3, min_count=2)
    assert out.count() == 3
    assert _cache_empty(spark)


def test_pinned_prefix_sum_stress(spark):
    # the persist=False localCheckpoint pin under the shape where a
    # re-sampled repartitionByRange would actually misalign offsets:
    # high-cardinality doubles, one dominant group, and far more range
    # partitions than the conftest default. Both persist faces must
    # agree with each other AND with a driver-side exact KS.
    import bisect

    from pyspark.sql import functions as F

    n = 20000
    base = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 10 < 8, F.lit("big"))
        .otherwise((F.col("id") % 10).cast("string"))
        .alias("grp"),
        (
            F.sin(F.col("id").cast("double")) * 1000.0
            + F.col("id").cast("double") / 7.0
        ).alias("x"),
    ).repartition(32)
    cur = base.filter(F.col("id") % 2 == 0)
    ref = base.filter(F.col("id") % 2 == 1)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        a = {
            r["grp"]: r["ks"]
            for r in ks_by_group(cur, ref, "x", "grp").collect()
        }
        b = {
            r["grp"]: r["ks"]
            for r in ks_by_group(
                cur, ref, "x", "grp", persist=False
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.catalog.clearCache()
    assert a == b
    # exact driver-side ECDF model on the dominant group
    cx = sorted(
        r["x"] for r in cur.filter(F.col("grp") == "big").collect()
    )
    rx = sorted(
        r["x"] for r in ref.filter(F.col("grp") == "big").collect()
    )
    support = sorted(set(cx) | set(rx))
    ks = max(
        abs(
            bisect.bisect_right(cx, v) / len(cx)
            - bisect.bisect_right(rx, v) / len(rx)
        )
        for v in support
    )
    assert abs(a["big"] - round(ks, 6)) < 1e-9


def test_nbmodel_unpersist_releases_pruned_path(spark, docs):
    spark.catalog.clearCache()
    m = train_nb_classifier(docs, "text", "lang", min_count=2)
    m.features.collect()
    assert not _cache_empty(spark)
    m.unpersist()
    assert _cache_empty(spark), (
        "NBModel.unpersist() must release the persisted count frame "
        "even when min_count pruning derived a new plan from it"
    )
