"""The plans/cache.py contract: an operator that reads a subtree twice
pins it in the SQL CacheManager, ``spark.catalog.clearCache()`` (or the
operator's own release handle, ``NBModel.unpersist()``) releases every
pin, and a run after the release returns the same rows — so a long-lived
session that loops operators and clears between iterations keeps no
residue and no stale state.

Driver for the test list: the r11 advice — the round added ~12
MEMORY_AND_DISK persists with no release handle and docstrings claiming
LRU eviction Spark does not do. The sweep also guards the pin's one
correctness hazard: the prefix-sum operators join per-partition offsets
on ``spark_partition_id``, so their range-partitioned histogram must be
pinned, never re-executed per consumer.
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


# every builder calls the ONE operator under test
CASES = [
    ("numeric_drift", lambda d: numeric_drift(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"), "score"
    )),
    ("ks_statistic", lambda d: ks_statistic(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"), "score"
    )),
    ("ks_by_group", lambda d: ks_by_group(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"),
        "score", "lang"
    )),
    ("wasserstein_1d", lambda d: wasserstein_1d(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"), "score"
    )),
    ("corpus_divergence", lambda d: corpus_divergence(
        d, "text", "lang"
    )),
    ("embedding_drift", lambda d: embedding_drift(
        _vecs(d, 0), _vecs(d, 1), "v"
    )),
    ("mmd_drift", lambda d: mmd_drift(
        _vecs(d, 0), _vecs(d, 1), "v", num_features=8, dim=2
    )),
    ("confident_label_errors", lambda d: confident_label_errors(
        d.select("doc_id", "lang").withColumn(
            "label", F.explode(F.array(F.lit("en"), F.lit("de")))
        ).withColumn(
            "score",
            F.when(F.col("label") == F.col("lang"), 2.0).otherwise(0.0),
        ),
        id_cols=["doc_id"], label_col="lang"
    )),
    ("classifier_drift", lambda d: classifier_drift(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"),
        "text", "doc_id"
    )),
    ("tfidf_top_terms", lambda d: tfidf_top_terms(
        d, "text", "doc_id"
    )),
    ("unigram_logprob", lambda d: unigram_logprob(
        d, "text", "doc_id"
    )),
    ("bigram_logprob", lambda d: bigram_logprob(
        d, "text", "doc_id"
    )),
    ("distinctive_terms", lambda d: distinctive_terms(
        d, "text", "lang"
    )),
    ("fuzzy_match_pairs", lambda d: fuzzy_match_pairs(
        d.select(
            "doc_id",
            F.concat(
                F.lit("name"), (F.col("doc_id") % 9).cast("string")
            ).alias("s"),
        ),
        "s", "doc_id"
    )),
    # pins its signature frame: banding and the verify join-back read
    # one materialization of the shingle kernel
    ("minhash_near_dup_pairs", lambda d: minhash_near_dup_pairs(
        d, "text", "doc_id", num_hashes=32, num_bands=8, shingle="word",
        threshold=0.5
    )),
    ("dedup_against_bloom", lambda d: dedup_against_bloom(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 3 = 0"),
        "text", expected_items=100
    )),
    ("value_histogram_stats", lambda d: value_histogram_stats(
        d, ["score", "lang"]
    )),
    # transitive cachers (r12 review): public entry points that cache
    # only through a callee
    ("train_quality_model", lambda d: train_quality_model(
        d, "text",
        good_filter=F.col("score") > 6, bad_filter=F.col("score") <= 2,
        num_buckets=None
    ).features),
    # strategy='pairs' is the branch that reaches value_histogram_stats;
    # the default 'fused' strategy is a single agg with nothing to cache
    ("profile_columns", lambda d: profile_columns(
        d, ["score", "lang"], strategy="pairs"
    )),
    ("quantile_drift", lambda d: quantile_drift(
        d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"), "score"
    )),
    ("winsorize_exact", lambda d: winsorize(
        d.select("doc_id", "score"), ["score"], exact=True
    )),
    ("segment_health_report", lambda d: segment_health_report(
        d.filter("doc_id % 2 = 0"),
        group_col="lang",
        completeness_cols=["text"],
        ks_col="score",
        ref=d.filter("doc_id % 2 = 1"),
    )),
]


@pytest.mark.parametrize("name,build", CASES, ids=[c[0] for c in CASES])
def test_persist_false_no_residue_same_result(spark, docs, name, build):
    """The operator pins a shared subtree; ``clearCache()`` releases it;
    a rerun after the release returns identical rows. (The test id
    predates the pin's single path and is kept so earlier result
    records still match.)"""
    spark.catalog.clearCache()
    first = _rows(build(docs))
    assert not _cache_empty(spark), (
        f"{name}: expected the operator to register a cache entry "
        "(if the operator stopped caching, drop it from this sweep)"
    )
    spark.catalog.clearCache()
    assert _cache_empty(spark), (
        f"{name}: clearCache() left entries in the SQL CacheManager"
    )
    rerun = _rows(build(docs))
    spark.catalog.clearCache()
    assert first == rerun, f"{name}: the rerun after the release differs"


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
    # the pinned range-partitioned histogram under the shape where a
    # re-sampled repartitionByRange would actually misalign offsets:
    # high-cardinality doubles, one dominant group, and far more range
    # partitions than the conftest default. The result must agree with
    # a driver-side exact KS.
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
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.catalog.clearCache()
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


def test_no_callable_takes_a_cache_switch():
    """Pinning has one path (plans/cache.pin): no public callable of the
    package takes a ``persist`` or ``persist_*`` parameter. Output
    precision has one setting too (functions/expr.DIGITS): none takes
    a ``round_to`` parameter."""
    import importlib
    import inspect
    import pkgutil

    import pyspark_data_quality_spark as pkg

    def params(fn):
        try:
            return inspect.signature(fn).parameters
        except (TypeError, ValueError):
            return {}

    offenders, seen = [], set()
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        for name, obj in vars(mod).items():
            if name.startswith("_") or id(obj) in seen:
                continue
            if getattr(obj, "__module__", "") != mod.__name__:
                continue
            seen.add(id(obj))
            fns = [(name, obj)] if inspect.isfunction(obj) else []
            if inspect.isclass(obj):
                fns = [(name, obj)] + [
                    (f"{name}.{m}", f)
                    for m, f in vars(obj).items()
                    if not m.startswith("_") and callable(f)
                ]
            for qual, fn in fns:
                bad = [
                    p for p in params(fn)
                    if p in ("persist", "round_to")
                    or p.startswith("persist_")
                ]
                if bad:
                    offenders.append(f"{mod.__name__}.{qual}{bad}")
    assert len(seen) > 100, "the walk found too few callables to mean much"
    assert not offenders, offenders
