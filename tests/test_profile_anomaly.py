"""Column profiler and metric anomaly-detection operator tests."""

import pytest
from pyspark.sql import functions as F

from pyspark_data_quality_spark.operators.anomaly import (
    iqr_anomalies,
    rate_of_change_anomalies,
    zscore_anomalies,
)
from pyspark_data_quality_spark.operators.profile import (
    profile_columns,
    top_values,
)
from pyspark_data_quality_spark.plans.telemetry import jobs_during


@pytest.fixture
def sample(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "a"),
            (2, 20.0, "bb"),
            (3, 30.0, "bb"),
            (4, None, "ccc"),
            (5, 40.0, None),
        ],
        "id int, x double, s string",
    )


def test_profile_columns_exact(spark, sample):
    out = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_columns(
            sample, ["x", "s"], exact_distinct=True, exact_quantiles=True
        ).collect()
    }
    assert out[("x", "completeness")] == 0.8
    assert out[("x", "distinct_count")] == 4.0
    assert out[("x", "min")] == 10.0
    assert out[("x", "max")] == 40.0
    assert out[("x", "mean")] == 25.0
    assert out[("x", "sum")] == 100.0
    assert out[("x", "q0.5")] == 25.0  # interpolated median of 10,20,30,40
    assert out[("s", "completeness")] == 0.8
    assert out[("s", "distinct_count")] == 3.0
    assert out[("s", "min_length")] == 1.0
    assert out[("s", "max_length")] == 3.0
    assert out[("s", "avg_length")] == 2.0


def test_profile_pairs_matches_fused_exact(spark, sample):
    """strategy='pairs' (no-Expand exact plan) must agree stat-for-stat
    with the fused exact plan, including interpolated quantiles."""
    fused = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_columns(
            sample, ["x", "s"], exact_distinct=True, exact_quantiles=True
        ).collect()
    }
    pairs = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_columns(sample, ["x", "s"], strategy="pairs").collect()
    }
    assert set(fused) == set(pairs)
    for k, v in fused.items():
        if v is None:
            assert pairs[k] is None, k
        else:
            assert pairs[k] == pytest.approx(v, abs=1e-9), k


def test_profile_pairs_empty_and_all_null(spark, sample):
    """Empty input and all-null columns still yield the full stat grid
    with distinct_count=0 and null quantiles (spine join)."""
    out = profile_columns(sample.limit(0), ["x", "s"], strategy="pairs").collect()
    got = {(r["column"], r["stat"]): r["value"] for r in out}
    assert got[("x", "distinct_count")] == 0.0
    assert got[("s", "distinct_count")] == 0.0
    assert got[("x", "q0.5")] is None

    allnull = sample.select(F.lit(None).cast("double").alias("x"))
    got2 = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_columns(allnull, ["x"], strategy="pairs").collect()
    }
    assert got2[("x", "distinct_count")] == 0.0
    assert got2[("x", "completeness")] == 0.0


def test_profile_unknown_strategy_raises(spark, sample):
    with pytest.raises(ValueError, match="unknown strategy"):
        profile_columns(sample, ["x"], strategy="bogus")


def test_profile_columns_single_job(spark, sample):
    """The whole profile is ONE aggregation: exactly one Spark job."""
    _, jobs = jobs_during(spark, profile_columns(sample, ["x", "s"]).collect)
    assert len(jobs) <= 2  # agg job (+ AQE final stage)


def test_profile_unknown_column_raises(spark, sample):
    with pytest.raises(ValueError, match="no such column"):
        profile_columns(sample, ["nope"])


def test_top_values_ties_and_null(spark, sample):
    rows = top_values(sample, ["s"], k=2).collect()
    # bb:2 then three singletons (a, ccc, real NULL) tie-broken by value
    # asc with the NULL bucket LAST (explicit cross-engine order)
    assert [(r["value"], r["count"], r["rank"]) for r in rows] == [
        ("bb", 2, 1),
        ("a", 1, 2),
    ]
    # the NULL bucket is a REAL null row, ranked after all values
    full = top_values(sample, ["s"], k=10).collect()
    assert (None, 1) in [(r["value"], r["count"]) for r in full]
    assert [r["value"] for r in full][-1] is None


def test_zscore_spike_flagged(spark):
    vals = [10.0, 11.0, 9.0, 10.0, 100.0, 10.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "t int, v double"
    )
    rows = {
        r["t"]: r
        for r in zscore_anomalies(
            df, "v", ["t"], lookback=4, threshold=3.0, min_periods=3
        ).collect()
    }
    assert rows[4]["is_anomaly"] is True  # 100 vs trailing ~10
    assert rows[0]["is_anomaly"] is False  # no history
    assert rows[1]["is_anomaly"] is False  # < min_periods
    assert rows[2]["is_anomaly"] is False
    # t=5: the spike is IN the trailing window, inflating stddev -> calm
    assert rows[5]["is_anomaly"] is False


def test_zscore_flat_history_no_flag(spark):
    df = spark.createDataFrame(
        [(i, 5.0) for i in range(4)] + [(4, 7.0)], "t int, v double"
    )
    rows = {r["t"]: r for r in zscore_anomalies(df, "v", ["t"]).collect()}
    # stddev of flat history is 0 -> zscore null -> not flagged
    assert rows[4]["zscore"] is None
    assert rows[4]["is_anomaly"] is False


def test_zscore_partitioned_series_independent(spark):
    data = [("a", i, 10.0) for i in range(4)] + [("a", 4, 50.0)] + [
        ("b", i, 50.0) for i in range(5)
    ]
    df = spark.createDataFrame(data, "k string, t int, v double")
    rows = zscore_anomalies(
        df, "v", ["t"], partition_cols=["k"], lookback=4, threshold=2.0
    ).collect()
    flagged = {(r["k"], r["t"]) for r in rows if r["is_anomaly"]}
    assert flagged == set()  # a's history is flat -> stddev 0 -> no flag
    # but rate-of-change catches it
    roc = rate_of_change_anomalies(
        df, "v", ["t"], partition_cols=["k"], max_change=0.5
    ).collect()
    assert {(r["k"], r["t"]) for r in roc if r["is_anomaly"]} == {("a", 4)}


def test_iqr_fences(spark):
    vals = [10.0, 12.0, 11.0, 13.0, 10.0, 12.0, 11.0, 60.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "t int, v double"
    )
    rows = {
        r["t"]: r
        for r in iqr_anomalies(df, "v", ["t"], lookback=7, k=1.5).collect()
    }
    assert rows[7]["is_anomaly"] is True
    assert not any(rows[t]["is_anomaly"] for t in range(7))


def test_rate_of_change_zero_prev(spark):
    df = spark.createDataFrame(
        [(0, 0.0), (1, 5.0), (2, 5.1), (3, 0.0)], "t int, v double"
    )
    rows = {
        r["t"]: r
        for r in rate_of_change_anomalies(df, "v", ["t"], max_change=0.5).collect()
    }
    assert rows[0]["is_anomaly"] is False  # no prev
    assert rows[1]["is_anomaly"] is True  # 0 -> 5: infinite change
    assert rows[2]["is_anomaly"] is False  # +2%
    assert rows[3]["is_anomaly"] is True  # -100%


def test_vector_profile_findings(spark):
    from pyspark_data_quality_spark.operators.profile import vector_profile

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0]),        # zero norm
            (3, [1.0, float("nan"), 0.0]),  # NaN element
            (4, [1.0, 2.0]),             # wrong dim
            (5, None),                   # null vector
        ],
        "id int, v array<double>",
    )
    rows = {r["dim"]: r for r in vector_profile(df, "v").collect()}
    assert rows[3]["n"] == 3 and rows[3]["n_nan"] == 1 and rows[3]["n_zero_norm"] == 1
    assert rows[2]["n"] == 1
    assert rows[None]["n_null_vec"] == 1
    assert rows[3]["avg_norm"] == 0.5  # NaN norm excluded: avg(1.0, 0.0)


def test_column_entropy(spark):
    import math

    from pyspark_data_quality_spark.operators.profile import column_entropy

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")], "u string, c string"
    )
    rows = {r["column"]: r for r in column_entropy(df, ["u", "c"]).collect()}
    assert rows["u"]["entropy"] == 1.0 and rows["u"]["n_distinct"] == 2
    const = spark.createDataFrame([("k",)] * 5, "z string")
    assert column_entropy(const, ["z"]).collect()[0]["entropy"] == 0.0
    tri = spark.createDataFrame([("a",), ("b",), ("c",), (None,)], "z string")
    r = column_entropy(tri, ["z"]).collect()[0]
    assert abs(r["entropy"] - math.log2(4)) < 1e-9  # NULL is a value
    assert r["n_distinct"] == 4


def test_correlation_matrix(spark):
    from pyspark_data_quality_spark.operators.profile import correlation_matrix

    df = spark.createDataFrame(
        [(float(i), float(2 * i), float(-i), 5.0) for i in range(20)],
        "a double, b double, c double, d double",
    )
    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in correlation_matrix(df, ["a", "b", "c", "d"]).collect()
    }
    assert len(got) == 6  # C(4,2) pairs, one fused agg
    assert got[("a", "b")] == pytest.approx(1.0)
    assert got[("a", "c")] == pytest.approx(-1.0)
    assert got[("a", "d")] is None  # zero-variance column -> NULL, no crash

    with pytest.raises(ValueError, match="two columns"):
        correlation_matrix(df, ["a"])


def test_correlation_matrix_single_job(spark):
    from pyspark_data_quality_spark.operators.profile import correlation_matrix

    df = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(10)], "a double, b double"
    )
    plan = (
        correlation_matrix(df, ["a", "b"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # a fused aggregate: exactly one final HashAggregate pair, no join
    assert "Join" not in plan


def test_benford_profile(spark):
    from pyspark_data_quality_spark.operators.profile import benford_profile

    # 19, 1.5, 0.12 all lead with 1; 900 leads with 9; 0/null/NaN excluded
    df = spark.createDataFrame(
        [(19.0,), (1.5,), (0.12,), (900.0,), (0.0,), (None,), (float("nan"),)],
        "x double",
    )
    rows = {r["digit"]: r for r in benford_profile(df, "x").collect()}
    assert sorted(rows) == list(range(1, 10))  # dense spine: all 9 digits
    assert rows[1]["n"] == 3 and rows[9]["n"] == 1
    assert rows[2]["n"] == 0
    assert rows[1]["p_obs"] == pytest.approx(0.75)
    assert rows[1]["p_exp"] == pytest.approx(0.30103, abs=1e-5)
    total_exp = sum(rows[d]["p_exp"] for d in range(1, 10))
    assert total_exp == pytest.approx(1.0, abs=1e-5)


def test_stratified_sample(spark):
    from pyspark_data_quality_spark.operators.split import stratified_sample

    df = spark.createDataFrame(
        [(i, "big" if i % 2 == 0 else "small") for i in range(2000)],
        "id int, grp string",
    )
    out = stratified_sample(
        df, "id", "grp", {"big": 0.5, "small": 0.1}, default_fraction=0.0
    )
    by_grp = {
        r["grp"]: r["n"]
        for r in out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_grp["big"] == pytest.approx(500, rel=0.15)
    assert by_grp["small"] == pytest.approx(100, rel=0.3)

    # deterministic: identical membership across runs
    a = sorted(r["id"] for r in out.collect())
    b = sorted(r["id"] for r in out.collect())
    assert a == b

    # stratum not in the map -> default fraction (0 -> dropped entirely)
    other = df.withColumn("grp", F.lit("unknown"))
    assert stratified_sample(
        other, "id", "grp", {"big": 0.5}, default_fraction=0.0
    ).count() == 0

    with pytest.raises(ValueError, match="fraction"):
        stratified_sample(df, "id", "grp", {"big": 1.5})


def test_flag_outliers_zscore(spark):
    from pyspark_data_quality_spark.operators.repair import flag_outliers

    rows = [(float(v),) for v in [10, 11, 9, 10, 10, 11, 9, 10, 100]]
    df = spark.createDataFrame(rows, "x double").union(
        spark.createDataFrame([(None,)], "x double")
    )
    out = flag_outliers(df, "x", method="zscore", threshold=2.0,
                        score_col="z").collect()
    flagged = {r["x"] for r in out if r["is_outlier"]}
    assert flagged == {100.0}
    null_row = next(r for r in out if r["x"] is None)
    assert null_row["is_outlier"] is None  # nulls are unscored, not False
    assert all(r["z"] is not None for r in out if r["x"] is not None)


def test_flag_outliers_iqr_grouped(spark):
    from pyspark_data_quality_spark.operators.repair import flag_outliers

    rows = [("a", float(v)) for v in [1, 2, 3, 4, 5, 50]]
    rows += [("b", float(v)) for v in [100, 101, 102, 103]]  # 50 is normal here
    rows += [("b", 50.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = flag_outliers(
        df, "x", method="iqr", threshold=1.5, group_by=["g"]
    ).collect()
    got = {(r["g"], r["x"]): r["is_outlier"] for r in out}
    assert got[("a", 50.0)] is True     # far fence breach in group a
    assert got[("b", 50.0)] is True     # and an outlier among the 100s
    assert got[("a", 3.0)] is False
    assert got[("b", 101.0)] is False

    with pytest.raises(ValueError, match="unknown method"):
        flag_outliers(df, "x", method="nope")

    # constant column: stddev 0 -> zscore undefined -> nothing flagged
    const = spark.createDataFrame([(5.0,)] * 4, "x double")
    flags = flag_outliers(const, "x").select("is_outlier").collect()
    assert all(r["is_outlier"] is False for r in flags)


def test_json_field_profile(spark):
    from pyspark_data_quality_spark.operators.semistructured import (
        json_field_profile,
    )

    rows = [
        ('{"k": 1, "s": "x"}',),
        ('{"k": "oops", "s": "y"}',),   # k present but not castable
        ('{"s": "z"}',),               # k absent
        ("{broken",),                  # malformed JSON
        (None,),                       # null column
    ]
    df = spark.createDataFrame(rows, "props string")
    got = {
        r["field"]: r
        for r in json_field_profile(
            df, "props", {"k": "bigint", "s": "string", "nope": "double"}
        ).collect()
    }
    k = got["k"]
    assert (k["n_rows"], k["n_json_null"]) == (5, 1)
    assert (k["n_present"], k["n_typed"]) == (2, 1)
    assert k["present_ratio"] == 0.5 and k["typed_ratio"] == 0.25
    assert got["s"]["n_present"] == 3 and got["s"]["n_typed"] == 3
    assert got["nope"]["n_present"] == 0

    with pytest.raises(ValueError, match="unsupported types"):
        json_field_profile(df, "props", {"k": "decimal(10,2)"})


def test_winsorize_exact_bounds_and_flags(spark):
    from pyspark_data_quality_spark.operators.repair import winsorize

    vals = [float(v) for v in range(1, 11)]  # 1..10
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = winsorize(
        df, ["x"], lower=0.1, upper=0.9, exact=True,
        suffix="_w", flag_col="nclip",
    ).collect()
    # type-7 quantiles of 1..10 at 0.1/0.9 are 1.9 and 9.1
    by_x = {r["x"]: r for r in out}
    assert by_x[1.0]["x_w"] == pytest.approx(1.9)
    assert by_x[10.0]["x_w"] == pytest.approx(9.1)
    assert by_x[5.0]["x_w"] == 5.0
    assert by_x[1.0]["nclip"] == 1 and by_x[5.0]["nclip"] == 0
    assert sum(r["nclip"] for r in out) == 2


def test_winsorize_overwrite_nulls_and_validation(spark):
    from pyspark_data_quality_spark.operators.repair import winsorize

    df = spark.createDataFrame(
        [(1.0, None), (100.0, None), (2.0, None), (3.0, None)],
        "x double, y double",
    )
    # overwrite in place (no suffix); all-null column passes through
    out = winsorize(df, ["x", "y"], lower=0.0, upper=0.5, exact=True,
                    flag_col="nclip").collect()
    xs = sorted(r["x"] for r in out)
    assert max(xs) == pytest.approx(2.5)  # q0.5 of 1,2,3,100
    assert all(r["y"] is None for r in out)
    assert sum(r["nclip"] for r in out) == 2  # 3.0 and 100.0 clipped

    with pytest.raises(ValueError, match="lower < upper"):
        winsorize(df, ["x"], lower=0.9, upper=0.1)
    with pytest.raises(ValueError, match="no such columns"):
        winsorize(df, ["zz"])


def test_sketch_rollup_tolerance_and_merge(spark):
    """HLL/KLL sketch estimates must land within tolerance of exact, and
    the __total__ row (merged group sketches, never a rescan) must agree
    with a direct whole-table computation."""
    from pyspark_data_quality_spark.operators.profile import sketch_rollup

    df = spark.range(30000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 1000).cast("double").alias("x"),
    )
    rows = sketch_rollup(df, "x", group_by=["g"], quantiles=(0.5,)).collect()
    by_g = {r["g"]: r for r in rows}
    assert set(by_g) == {"0", "1", "2", None}
    for g in ("0", "1", "2"):
        assert by_g[g]["n"] == 10000
        # gcd(3,1000)=1: every residue class mod 3 covers all 1000 values
        assert by_g[g]["distinct_est"] == pytest.approx(1000, rel=0.05)
        assert by_g[g]["q0.5"] == pytest.approx(500, rel=0.05)
    total = by_g[None]
    assert total["n"] == 30000
    assert total["distinct_est"] == pytest.approx(1000, rel=0.05)
    assert total["q0.5"] == pytest.approx(500, rel=0.05)

    with pytest.raises(ValueError, match="group_by"):
        sketch_rollup(df, "x", group_by=[])


def test_value_histogram_multi_partition_prefix_sum(spark):
    """The distributed prefix sum must agree with exact percentile when
    the histogram genuinely spans MANY range partitions (10k distinct
    values over the session's 8 shuffle partitions) — exercises the
    per-(partition, column) offset join, not just the single-partition
    degenerate case."""
    from pyspark_data_quality_spark.operators.profile import (
        value_histogram_stats,
    )

    df = spark.range(10_000).select(
        (F.col("id") * 7 % 10_000).cast("double").alias("x")
    )
    got = {
        r["stat"]: r["value"]
        for r in value_histogram_stats(
            df, ["x"], quantiles=(0.25, 0.5, 0.9)
        ).collect()
    }
    exact = df.agg(
        F.percentile("x", F.lit(0.25)).alias("q25"),
        F.percentile("x", F.lit(0.5)).alias("q50"),
        F.percentile("x", F.lit(0.9)).alias("q90"),
    ).first()
    assert got["distinct_count"] == 10_000.0
    assert got["q0.25"] == pytest.approx(exact["q25"], abs=1e-6)
    assert got["q0.5"] == pytest.approx(exact["q50"], abs=1e-6)
    assert got["q0.9"] == pytest.approx(exact["q90"], abs=1e-6)


def test_mahalanobis_outliers(spark):
    import math

    import pytest

    from pyspark_data_quality_spark.operators.repair import (
        mahalanobis_outliers,
    )

    # uncorrelated unit-ish data + one jointly-extreme point; the model
    # below is the EXACT definition, so flags must match it row-for-row
    import numpy as np

    rows = [(i, float(i % 5), float((i * 3) % 7)) for i in range(40)]
    rows.append((99, 100.0, -100.0))
    rows.append((100, None, 1.0))  # null -> null score, never flagged
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    out = {r["id"]: r for r in mahalanobis_outliers(df, ["x", "y"]).collect()}
    assert out[100]["mahalanobis"] is None
    assert out[100]["is_outlier"] is False

    xs = np.array([x for (_, x, _) in rows if x is not None])
    ys = np.array([y for (i, x, y) in rows if x is not None])
    S = np.cov(np.vstack([xs, ys]))  # ddof=1 == covar_samp
    P = np.linalg.inv(S)
    mu = np.array([xs.mean(), ys.mean()])
    for (i, x, y) in rows:
        if x is None:
            continue
        d = np.array([x, y]) - mu
        expect = math.sqrt(max(d @ P @ d, 0.0))
        assert abs(out[i]["mahalanobis"] - expect) < 1e-4, i
        assert out[i]["is_outlier"] == (expect > 3.0), i
    # the jointly-extreme point scores FAR above every cluster point
    cluster_max = max(
        out[i]["mahalanobis"] for (i, x, _) in rows
        if x is not None and i != 99
    )
    assert out[99]["mahalanobis"] > cluster_max

    # degenerate inputs raise loudly
    with pytest.raises(ValueError):
        mahalanobis_outliers(df, ["x"])
    const = df.withColumn("y", df.x)  # linearly dependent
    with pytest.raises(ValueError):
        mahalanobis_outliers(const.filter("x IS NOT NULL"), ["x", "y"])
    empty = spark.createDataFrame([], "id int, x double, y double")
    with pytest.raises(ValueError):
        mahalanobis_outliers(empty, ["x", "y"])


def test_pca_fit_apply(spark):
    import numpy as np
    import pytest

    from pyspark_data_quality_spark.operators.similarity import (
        pca_apply,
        pca_fit,
    )

    # planted 2-dominant-direction data in 8 dims (deterministic)
    rng = np.random.RandomState(7)
    Z = rng.randn(300, 2)
    A = rng.randn(2, 8)
    X = Z @ A * 5.0 + rng.randn(300, 8) * 0.05
    rows = [(i, [float(x) for x in X[i]]) for i in range(300)]
    rows.append((300, None))
    rows.append((301, []))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    m = pca_fit(df, dim_out=2)
    assert len(m["components"]) == 2 and len(m["components"][0]) == 8
    # two planted directions carry essentially all the variance
    assert sum(m["explained_variance_ratio"]) > 0.99

    out = {r["vec_id"]: r["pca"] for r in pca_apply(df, m).collect()}
    assert out[300] is None and out[301] is None
    # projection matches numpy exactly (float32 tolerance)
    mu = np.array(m["mean"]); W = np.array(m["components"])
    Xf = np.array([np.array(v, dtype=np.float64) for (_, v) in rows[:300]])
    Y = (Xf - mu) @ W.T
    got = np.array([out[i] for i in range(300)])
    assert np.abs(Y - got).max() < 1e-3
    # near-lossless reconstruction of the low-rank data
    recon = got @ W + mu
    rel = np.linalg.norm(recon - Xf) / np.linalg.norm(Xf)
    assert rel < 0.02

    # whiten: projected variance ~1 per component
    mw = pca_fit(df, dim_out=2, whiten=True)
    vw = np.array(
        [r["pca"] for r in pca_apply(df.filter("vec_id < 300"), mw).collect()]
    )
    assert np.allclose(vw.var(axis=0, ddof=1), 1.0, atol=0.05)

    with pytest.raises(ValueError):
        pca_fit(spark.createDataFrame([], "embedding array<float>"), dim_out=2)
    with pytest.raises(ValueError):
        pca_fit(df, dim_out=0)


def test_pca_then_ann_composition(spark, sf_dir):
    """The documented scale path: PCA-project the corpus, run ANN in the
    reduced space, verify recall vs full-dim exact top-k."""
    from pyspark.sql import functions as F

    from pyspark_data_quality_spark.operators.similarity import (
        brute_force_topk,
        pca_apply,
        pca_fit,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = pca_fit(emb, dim_out=16)
    proj = pca_apply(emb, model).select(
        "vec_id", F.col("pca").alias("embedding")
    )

    qs = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    qs_p = pca_apply(
        qs, model, vec_col="query_vec", out_col="qp"
    ).select("query_id", F.col("qp").alias("query_vec"))

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qs, k=10).collect()
    }
    reduced = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(proj, qs_p, k=10).collect()
    }
    # 16-of-64 dims on isotropic fixture vectors is a weak projection,
    # but recall must still crush the ~2% (k/N) a random top-10-of-500
    # would give — the composition ran end-to-end and preserved signal
    overlap = len(exact & reduced) / len(exact)
    assert overlap > 0.3, overlap


def test_normalize_columns(spark):
    from pyspark_data_quality_spark.operators.repair import normalize_columns

    df = spark.createDataFrame(
        [("a", 0.0, 5.0), ("a", 10.0, 5.0), ("b", 4.0, 1.0), ("b", 8.0, 3.0)],
        "g string, x double, y double",
    )
    rows = {
        (r["g"], r["x"]): r
        for r in normalize_columns(
            df, ["x", "y"], method="minmax", group_by=["g"]
        ).collect()
    }
    assert rows[("a", 0.0)]["x_norm"] == 0.0
    assert rows[("a", 10.0)]["x_norm"] == 1.0
    assert rows[("b", 4.0)]["x_norm"] == 0.0
    # constant-within-group column -> NULL, not a throw (ANSI)
    assert rows[("a", 0.0)]["y_norm"] is None
    assert rows[("b", 4.0)]["y_norm"] == 0.0

    # global zscore: mean 5, sd_samp of (0,10) = 7.0710678...
    z = {
        r["x"]: r["x_norm"]
        for r in normalize_columns(
            df.filter(F.col("g") == "a"), ["x"], method="zscore"
        ).collect()
    }
    import math
    sd = math.sqrt(50.0)
    assert z[0.0] == pytest.approx(-5.0 / sd)
    assert z[10.0] == pytest.approx(5.0 / sd)

    # originals untouched, helper stats dropped
    out = normalize_columns(df, ["x"], method="minmax")
    assert set(out.columns) == {"g", "x", "y", "x_norm"}

    # NULL group key gets the NULL group's stats (null-safe join), not
    # NULL normalized values
    withnull = spark.createDataFrame(
        [(None, 0.0), (None, 10.0), ("b", 4.0), ("b", 8.0)],
        "g string, x double",
    )
    ng = {
        (r["g"], r["x"]): r["x_norm"]
        for r in normalize_columns(
            withnull, ["x"], method="minmax", group_by=["g"]
        ).collect()
    }
    assert ng[(None, 0.0)] == 0.0 and ng[(None, 10.0)] == 1.0
    assert ng[("b", 8.0)] == 1.0

    # robust: (x - median) / IQR (approx sketches; exact at this size)
    r5 = spark.createDataFrame(
        [(float(v),) for v in (1, 2, 3, 4, 100)], "x double"
    )
    rob = {
        r["x"]: r["x_norm"]
        for r in normalize_columns(r5, ["x"], method="robust").collect()
    }
    # median 3, IQR = q75 - q25 = 4 - 2 = 2; the outlier doesn't blow
    # up the scale the way zscore's stddev would
    assert rob[3.0] == 0.0
    assert rob[1.0] == pytest.approx(-1.0)
    assert rob[100.0] == pytest.approx(48.5)

    with pytest.raises(ValueError):
        normalize_columns(df, [], method="minmax")
    with pytest.raises(ValueError):
        normalize_columns(df, ["x"], method="quantile")
    with pytest.raises(ValueError):
        normalize_columns(df, ["nope"])


def test_seasonal_anomalies_phase_baseline(spark):
    """A perfectly cyclic series with one corrupted point: the plain
    trailing z-score is blind (the cycle inflates its stddev) or noisy
    (flags normal peaks), while the seasonal detector flags EXACTLY the
    corrupted point — judged only against its own phase's history."""
    import math

    from pyspark_data_quality_spark.operators.anomaly import (
        seasonal_anomalies,
        zscore_anomalies,
    )

    period = 4
    cycle = [100.0, 500.0, 900.0, 500.0]  # daily-shaped pattern
    df = spark.createDataFrame(
        [(t, cycle[t % period]) for t in range(6 * period)],
        "t int, v double",
    )
    # a perfectly flat phase history has stddev 0 -> null zscore, no
    # flag, BY DESIGN (same contract as zscore_anomalies)
    out = seasonal_anomalies(df, "v", ["t"], period=period)
    assert out.filter("is_anomaly").count() == 0
    assert out.filter("seasonal_zscore is not null").count() == 0

    # hand-check the z arithmetic on a jittered phase (t=5 +1.0 gives
    # the phase real variance; t=17 is the corrupted point)
    rows2 = [(t, cycle[t % period] + (1.0 if t == 5 else 0.0))
             for t in range(5 * period)]
    rows2[17] = (17, 700.0)
    df2 = spark.createDataFrame(rows2, "t int, v double")
    out2 = {r["t"]: r for r in seasonal_anomalies(
        df2, "v", ["t"], period=period, lookback_cycles=4, threshold=3.0,
    ).collect()}
    # t=17 (phase 1) priors: t=1,5,9,13 -> [500, 501, 500, 500]
    prior = [500.0, 501.0, 500.0, 500.0]
    m = sum(prior) / 4
    sd = math.sqrt(sum((p - m) ** 2 for p in prior) / 3)
    assert out2[17]["baseline_mean"] == pytest.approx(round(m, 6))
    assert out2[17]["baseline_stddev"] == pytest.approx(round(sd, 6))
    assert out2[17]["seasonal_zscore"] == pytest.approx(
        round((700.0 - m) / sd, 6)
    )
    assert out2[17]["is_anomaly"]

    # the plain trailing z-score on the SAME corrupted series misses it:
    # the cycle's own swing dominates the trailing stddev
    plain = zscore_anomalies(df2, "v", ["t"], lookback=8, threshold=3.0)
    assert not [r["t"] for r in plain.filter("is_anomaly").collect()]

    # early rows (fewer than min_cycles priors) are never flagged
    assert not any(
        out2[t]["is_anomaly"] for t in range(period * 2) if t != 5
    )

    # per-series partitioning: each series judged on its own phases
    two = spark.createDataFrame(
        [("a", t, v) for t, v in rows2] + [("b", t, 50.0) for t in range(20)],
        "s string, t int, v double",
    )
    outp = seasonal_anomalies(
        two, "v", ["t"], period=period, partition_cols=["s"],
    )
    assert sorted(
        (r["s"], r["t"]) for r in outp.filter("is_anomaly").collect()
    ) == [("a", 17)]

    with pytest.raises(ValueError, match="period"):
        seasonal_anomalies(df, "v", ["t"], period=1)
    with pytest.raises(ValueError, match="lookback_cycles"):
        seasonal_anomalies(df, "v", ["t"], period=4, lookback_cycles=0)
    with pytest.raises(ValueError, match="reserved"):
        seasonal_anomalies(
            df.withColumn("_phase", F.lit(1)), "v", ["t"], period=4
        )


def test_value_clusters_fingerprint_method(spark):
    """OpenRefine-style fingerprint clustering: case, punctuation, token
    order and duplicate tokens all collapse; canonical = most frequent
    value with lexicographic tie-break; NULLs ignored; min_values
    filters singletons."""
    from pyspark_data_quality_spark.operators.repair import value_clusters

    rows = (
        [("Acme Inc.",)] * 3
        + [("acme inc",)] * 2
        + [("Inc. ACME",)]
        + [("Widget Co",)]          # singleton cluster
        + [("b a",), ("a b",)]      # tie on count 1+1 -> 'a b' canonical
        + [("a a b",)]              # duplicate token collapses into same fp
        + [(None,)]
    )
    df = spark.createDataFrame(rows, "v string")
    out = {r["fingerprint"]: r for r in value_clusters(df, "v").collect()}
    assert set(out) == {"acme inc", "a b"}
    acme = out["acme inc"]
    assert acme["n_values"] == 3 and acme["n_rows"] == 6
    assert acme["canonical"] == "Acme Inc."
    assert acme["values"] == ["Acme Inc.", "Inc. ACME", "acme inc"]
    ab = out["a b"]
    assert ab["n_values"] == 3
    # count tie at 1 across all three variants: smallest value wins
    assert ab["canonical"] == min(["a b", "b a", "a a b"])

    # min_values=1 exposes singletons too
    all_fp = value_clusters(df, "v", min_values=1).collect()
    assert any(r["fingerprint"] == "co widget" for r in all_fp)

    # pure expression tree: no python UDF in the plan
    plan = value_clusters(df, "v")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_heavy_hitters_exact_regime_and_bounds(spark):
    """Small cardinality (exact regime): result equals the exact top-k
    with tight bounds. Forced-decrement regime: bounds still contain
    every true count, and every value heavier than the global bound is
    present — the MG guarantee, asserted across partitionings."""
    from pyspark_data_quality_spark.operators.profile import heavy_hitters

    rows = (
        [("a",)] * 500 + [("b",)] * 300 + [("c",)] * 120
        + [(f"x{i}",) for i in range(400)]   # long tail of singletons
        + [(None,)] * 7                      # NULLs ignored
    )
    exact = {"a": 500, "b": 300, "c": 120, **{f"x{i}": 1 for i in range(400)}}
    df = spark.createDataFrame(rows, "v string")

    # exact regime: capacity above the cardinality
    top = heavy_hitters(df, "v", k=3, capacity=1000).collect()
    assert [(r["value"], r["count_min"], r["count_max"]) for r in top] == [
        ("a", 500, 500), ("b", 300, 300), ("c", 120, 120)
    ]

    # approximate regime: tiny capacity, multiple partitionings
    for parts in (1, 7):
        got = {
            r["value"]: r
            for r in heavy_hitters(
                df.repartition(parts), "v", k=8, capacity=8
            ).collect()
        }
        bound = next(iter(got.values()))
        err = bound["count_max"] - bound["count_min"]
        for v, r in got.items():
            assert r["count_min"] <= exact[v] <= r["count_max"], (v, dict(r.asDict()))
        # anything heavier than the global undercount bound MUST appear
        for v, c in exact.items():
            if c > err:
                assert v in got, (v, c, err)

    import pytest as _pt
    with _pt.raises(ValueError, match="capacity"):
        heavy_hitters(df, "v", k=10, capacity=5)
    with _pt.raises(ValueError, match="not in df"):
        heavy_hitters(df, "nope")


def test_association_matrix_cramers_v(spark):
    """Hand-checkable contingency tables: perfect association gives
    V=1, independence gives V=0 (chi2=0), a constant column yields NULL
    V, and NULL is a real category."""
    from pyspark_data_quality_spark.operators.profile import (
        association_matrix,
    )

    rows = []
    # a<->b perfectly associated (a determines b and vice versa);
    # c independent of a (balanced 2x2); d constant
    for i in range(40):
        a = "x" if i % 2 == 0 else "y"
        b = "u" if a == "x" else "v"
        c = "p" if (i // 2) % 2 == 0 else "q"
        rows.append((a, b, c, "const"))
    df = spark.createDataFrame(rows, "a string, b string, c string, d string")
    out = {
        (r["col_a"], r["col_b"]): r
        for r in association_matrix(df, ["a", "b", "c", "d"]).collect()
    }
    assert len(out) == 6
    assert out[("a", "b")]["cramers_v"] == 1.0
    assert out[("a", "b")]["chi2"] == 40.0  # chi2 = n for a perfect 2x2
    assert out[("a", "c")]["cramers_v"] == 0.0
    assert out[("a", "d")]["cramers_v"] is None  # constant side
    assert out[("a", "b")]["dof"] == 1

    # NULL category: a NULL exactly when b=='v' -> still perfect
    withnull = df.withColumn(
        "a", F.when(F.col("b") == "v", None).otherwise(F.col("a"))
    )
    nv = {
        (r["col_a"], r["col_b"]): r
        for r in association_matrix(withnull, ["a", "b"]).collect()
    }
    assert nv[("a", "b")]["cramers_v"] == 1.0

    import pytest as _pt
    with _pt.raises(ValueError, match="at least 2"):
        association_matrix(df, ["a"])


def test_hbos_scores_ranks_planted_outliers(spark):
    """Rows planted in sparse histogram bins must out-score the dense
    mass; per-row hbos equals the hand-computed sum of
    ln(max_count/bin_count) over both columns."""
    import math

    from pyspark_data_quality_spark.operators.repair import hbos_scores

    # 99 points at x~[0,10), one far point at x=1000 -> its bin holds 1
    # row vs max 99; y constant -> contributes 0 to everyone
    rows = [(i, float(i % 10), 5.0) for i in range(99)] + [(99, 1000.0, 5.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {r["id"]: r for r in hbos_scores(df, ["x", "y"], bins=10).collect()}
    assert out[99]["hbos"] == round(math.log(99.0 / 1.0), 6)
    assert all(out[i]["hbos"] == 0.0 for i in range(99))
    assert all(r["hbos_cols"] == 2 for r in out.values())


def test_hbos_scores_null_nan_and_empty_validation(spark):
    """NULL/NaN values score 0 for that column and drop out of
    hbos_cols; a NaN row cannot poison the bounds (finite() guard);
    empty cols validates."""
    import pytest as _pytest

    from pyspark_data_quality_spark.operators.repair import hbos_scores

    nan = float("nan")
    df = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 1.0, None), (3, 1.0, nan), (4, 9.0, 1.0)],
        "id long, x double, y double",
    )
    out = {r["id"]: r for r in hbos_scores(df, ["x", "y"], bins=4).collect()}
    assert out[2]["hbos_cols"] == 1 and out[3]["hbos_cols"] == 1
    # the NaN row's y contributes nothing; its x bin (3 rows, max 3) = 0
    assert out[3]["hbos"] == 0.0
    # x=9 sits alone in the top bin: ln(3/1); y shared by rows 1 and 4
    import math

    assert out[4]["hbos"] == round(math.log(3.0), 6)
    with _pytest.raises(ValueError, match="non-empty"):
        hbos_scores(df, [])
    with _pytest.raises(ValueError, match="bins"):
        hbos_scores(df, ["x"], bins=1)


def test_hbos_scoring_is_shuffle_free(spark):
    """The 100-TB claim: after the one histogram aggregation, scoring
    must be broadcast joins + projection — the DATA never exchanges.
    The executed plan may contain exchanges only below the (tiny)
    histogram/bounds subtrees, never between the scan of the scored
    frame and the output projection."""
    from pyspark_data_quality_spark.operators.repair import hbos_scores

    df = spark.range(500).select(
        F.col("id"),
        (F.col("id") % 37).cast("double").alias("x"),
        (F.col("id") % 11).cast("double").alias("y"),
    )
    out = hbos_scores(df, ["x", "y"], bins=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every join the scored rows flow through must be a broadcast join
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(out.collect()) == 500


def test_flag_outliers_mad_hand_computed(spark):
    """Modified z-score on a hand frame: the 6 finite values
    [3,4,5,6,7,20] have median 5.5 and MAD 1.5, so x=20 scores
    0.6745*14.5/1.5 ≈ 6.52; the far point barely moves the median
    (robust) while it would stretch a zscore fence."""
    from pyspark_data_quality_spark.operators.repair import flag_outliers

    vals = [3.0, 4.0, 5.0, 6.0, 7.0, 20.0, None]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, x double")
    out = {r["id"]: r for r in flag_outliers(
        df, "x", method="mad", threshold=3.5, score_col="mz"
    ).collect()}
    # median of 6 finite = 5.5; deviations |x-5.5| = 2.5,1.5,.5,.5,1.5,14.5
    # -> MAD = 1.5; mz(20) = 0.6745*14.5/1.5
    assert out[5]["mz"] == round(0.6745 * 14.5 / 1.5, 6)
    assert out[5]["is_outlier"] and not out[0]["is_outlier"]
    assert out[6]["is_outlier"] is None  # NULL never flagged


def test_flag_outliers_mad_zero_spread_and_nan(spark):
    """MAD=0 (majority identical): deviating rows are flagged with a
    NULL score instead of silently passing; NaN rows flag against the
    clean stats (finite() guard keeps median/MAD sane)."""
    from pyspark_data_quality_spark.operators.repair import flag_outliers

    nan = float("nan")
    rows = [(i, 5.0, "a") for i in range(6)] + [
        (6, 9.0, "a"), (7, nan, "a"),
        (8, 1.0, "b"), (9, 2.0, "b"), (10, 3.0, "b"),
    ]
    df = spark.createDataFrame(rows, "id long, x double, g string")
    out = {r["id"]: r for r in flag_outliers(
        df, "x", method="mad", threshold=3.5, group_by=["g"],
        score_col="mz",
    ).collect()}
    # group a: median 5, MAD 0 -> x=9 flagged with NULL score, 5s clean
    assert out[6]["is_outlier"] and out[6]["mz"] is None
    assert not out[0]["is_outlier"] and out[0]["mz"] == 0.0
    # NaN row: stats not poisoned (group b clean), NaN scores > any t
    assert out[7]["is_outlier"]
    assert not out[8]["is_outlier"] and not out[10]["is_outlier"]


def _mr_history(spark, series_vals):
    """history rows: {series: [v_run1, v_run2, ...]} -> one row per run."""
    rows = [
        (s, i + 1, v)
        for s, vals in series_vals.items()
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "metric string, run_seq int, value double")


def test_metrics_regression_planted_drop(spark):
    """The Deequ anomaly-constraint shape: a metric that dropped hard vs
    a stable trailing history is flagged; a metric inside its band is not;
    a 2-run series is 'insufficient_history' (VERDICT r13 item 6's
    planted-regression test)."""
    from pyspark_data_quality_spark.operators.anomaly import metrics_regression

    hist = _mr_history(spark, {
        # tight band around 0.99 (stddev ~0.0022)
        "completeness": [0.99, 0.988, 0.992, 0.99, 0.987, 0.991, 0.99, 0.993],
        "row_count": [1000.0, 1010.0, 990.0, 1005.0, 995.0, 1000.0, 1002.0, 998.0],
        "new_metric": [0.5, 0.6],
    })
    cur = spark.createDataFrame(
        [("completeness", 9, 0.82), ("row_count", 9, 1001.0),
         ("new_metric", 9, 0.0)],
        "metric string, run_seq int, value double",
    )
    out = {r["metric"]: r for r in metrics_regression(
        hist, cur, key_cols=["metric"], threshold=3.0, min_periods=3,
    ).collect()}
    assert out["completeness"]["is_regression"]
    assert out["completeness"]["status"] == "regression"
    assert out["completeness"]["zscore"] < -3.0
    assert out["completeness"]["n_baseline"] == 8
    assert out["completeness"]["prev_value"] == 0.993
    assert out["row_count"]["status"] == "ok"
    assert not out["row_count"]["is_regression"]
    assert out["new_metric"]["status"] == "insufficient_history"
    assert not out["new_metric"]["is_regression"]

    # broadcast=False escape hatch (r16: high-cardinality key_cols must
    # not be forced through a driver-side broadcast build): identical
    # rows, no broadcast hint on the baseline side
    no_bc = metrics_regression(
        hist, cur, key_cols=["metric"], threshold=3.0, min_periods=3,
        broadcast=False,
    )
    assert {tuple(r) for r in no_bc.collect()} == {
        tuple(r) for r in out.values()
    }


def test_metrics_regression_direction_and_flat_baseline(spark):
    """direction='down' ignores upward spikes; a FLAT baseline flags any
    deviation (stddev 0 must not null the verdict out); lookback trims
    the baseline to the trailing window."""
    from pyspark_data_quality_spark.operators.anomaly import metrics_regression

    hist = _mr_history(spark, {
        "up_spike": [0.5, 0.52, 0.48, 0.5, 0.51],
        "flat": [1.0, 1.0, 1.0, 1.0, 1.0],
        # early garbage outside lookback=4; trailing 4 are tight at ~10
        "windowed": [500.0, 9.9, 10.1, 10.0, 10.0],
    })
    cur = spark.createDataFrame(
        [("up_spike", 6, 0.95), ("flat", 6, 0.999), ("windowed", 6, 200.0)],
        "metric string, run_seq int, value double",
    )
    down = {r["metric"]: r for r in metrics_regression(
        hist, cur, key_cols=["metric"], threshold=3.0, min_periods=3,
        direction="down", lookback=4,
    ).collect()}
    assert down["up_spike"]["status"] == "ok"  # big move, wrong direction
    assert down["flat"]["status"] == "regression"  # flat history, any drop
    assert down["flat"]["zscore"] is None  # unscorable, still flagged
    # lookback=4 excludes the 500.0 run: baseline mean 10, tiny stddev
    assert down["windowed"]["n_baseline"] == 4
    assert abs(down["windowed"]["baseline_mean"] - 10.0) < 0.01
    # 200 is an UP move: not flagged downward...
    assert down["windowed"]["status"] == "ok"
    both = {r["metric"]: r for r in metrics_regression(
        hist, cur, key_cols=["metric"], threshold=3.0, min_periods=3,
        lookback=4,
    ).collect()}
    # ...but flagged under direction='both'
    assert both["windowed"]["status"] == "regression"
    assert both["up_spike"]["status"] == "regression"

    with pytest.raises(ValueError, match="direction"):
        metrics_regression(hist, cur, key_cols=["metric"], direction="side")
    with pytest.raises(ValueError, match="lookback"):
        metrics_regression(hist, cur, key_cols=["metric"], lookback=0)


def test_metrics_regression_nan_history_not_poisoning(spark):
    """A NaN run in the history must not poison the baseline (finite()
    guard): the remaining finite runs still judge the current value, and
    prev_value skips the NaN run."""
    from pyspark_data_quality_spark.operators.anomaly import metrics_regression

    nan = float("nan")
    hist = _mr_history(spark, {
        "m": [0.99, 0.988, 0.992, 0.99, 0.987, 0.991, 0.99, nan],
        "unseen": [0.5, 0.6, 0.7],
    })
    cur = spark.createDataFrame(
        [("m", 9, 0.82), ("brand_new", 9, 1.0)],
        "metric string, run_seq int, value double",
    )
    out = {r["metric"]: r for r in metrics_regression(
        hist, cur, key_cols=["metric"], threshold=3.0, min_periods=3,
    ).collect()}
    assert out["m"]["n_baseline"] == 7  # NaN run excluded
    assert out["m"]["status"] == "regression"
    assert out["m"]["prev_value"] == 0.99  # latest FINITE value, not NaN
    # a series with NO history at all: left join keeps it, never scored
    assert out["brand_new"]["status"] == "insufficient_history"
    assert out["brand_new"]["n_baseline"] == 0


def test_metrics_regression_reserved_and_tie_determinism(spark):
    """Round-tripping the function's own output must fail loudly (the
    join would otherwise throw AMBIGUOUS_REFERENCE deep in Catalyst),
    and duplicate order_col rows (a double-written sink) must resolve
    prev_value deterministically to the GREATEST tied value."""
    from pyspark_data_quality_spark.operators.anomaly import metrics_regression

    hist = _mr_history(spark, {"m": [1.0, 2.0, 3.0, 4.0]})
    # planted tie: two rows share the max run_seq with different values
    tie = hist.union(
        spark.createDataFrame([("m", 4, 0.5)],
                              "metric string, run_seq int, value double")
    )
    cur = spark.createDataFrame([("m", 5, 2.5)],
                                "metric string, run_seq int, value double")
    out = metrics_regression(
        tie, cur, key_cols=["metric"], min_periods=3,
    ).collect()[0]
    assert out["prev_value"] == 4.0  # greatest tied value, every run
    assert out["n_baseline"] == 5

    # tie STRADDLING the lookback cut: which duplicate enters the
    # baseline is value-desc deterministic (greatest first), matching
    # the struct-max rule — not partition-visit-order dependent
    straddle = spark.createDataFrame(
        [("m", 1, 10.0), ("m", 1, 0.0), ("m", 2, 2.0), ("m", 3, 3.0)],
        "metric string, run_seq int, value double",
    )
    out2 = metrics_regression(
        straddle, cur, key_cols=["metric"], lookback=3, min_periods=3,
    ).collect()[0]
    assert out2["n_baseline"] == 3
    assert out2["baseline_mean"] == pytest.approx(5.0)  # {3, 2, 10}

    looped = metrics_regression(hist, cur, key_cols=["metric"])
    with pytest.raises(ValueError, match="output column"):
        metrics_regression(hist, looped, key_cols=["metric"])
    with pytest.raises(ValueError, match="reserved"):
        metrics_regression(hist.withColumn("_rn", F.lit(1)), cur,
                           key_cols=["metric"])


def test_conversation_lint_hand_cases(spark):
    """Every lint dimension on hand-built transcripts: clean multi-turn
    (with system prologue), malformed JSON, empty turn, role typo,
    double-user, mid-conversation system, assistant-first, user-final,
    empty array, NULL column."""
    from pyspark_data_quality_spark.operators.semistructured import (
        conversation_lint,
    )

    def conv(*turns):
        import json
        return json.dumps(
            [{"role": r, "content": c} for r, c in turns]
        )

    rows = [
        (0, conv(("system", "be nice"), ("user", "hi"),
                 ("assistant", "hello"))),
        (1, '[{"role": "user", "content": "hi"'),            # malformed
        (2, conv(("user", "hi"), ("assistant", "  "))),       # empty turn
        (3, conv(("user", "hi"), ("robot", "beep"))),         # bad role
        (4, conv(("user", "a"), ("user", "b"),
                 ("assistant", "c"))),                        # double user
        (5, conv(("user", "a"), ("system", "late"),
                 ("assistant", "b"))),                        # system mid
        (6, conv(("assistant", "first?"), ("user", "hi"))),   # starts wrong
        (7, conv(("user", "hi"), ("assistant", "yo"),
                 ("user", "bye"))),                           # ends user
        (8, "[]"),                                            # zero turns
        (9, None),                                            # NULL column
        # leading NON-SPACE whitespace (\n/\t) is legal JSON — an
        # ltrim-based array test (spaces only) would fail this row
        (10, "\n\t " + conv(("user", "hi"), ("assistant", "yo"))),
        (11, "   \r\n  "),                                    # all whitespace
    ]
    df = spark.createDataFrame(rows, "doc_id long, conv string")
    out = {r["doc_id"]: r for r in conversation_lint(
        df, "conv", id_cols=["doc_id"]
    ).collect()}

    assert out[0]["conversation_ok"] and out[0]["n_turns"] == 3
    assert not out[1]["parse_ok"] and out[1]["n_turns"] is None
    assert not out[1]["conversation_ok"]
    assert out[2]["parse_ok"] and not out[2]["no_empty_content"]
    assert not out[3]["roles_valid"] and out[3]["parse_ok"]
    assert not out[4]["alternation_ok"] and out[4]["roles_valid"]
    assert out[4]["ends_with_assistant"]
    assert not out[5]["system_prefix_ok"]
    # the mid-system turn drops from the body, leaving u,a: alternation
    # judged over the BODY stays ok — the system placement is the crime
    assert out[5]["alternation_ok"]
    assert not out[6]["starts_with_user"]
    assert not out[6]["ends_with_assistant"]  # body ends on the user turn
    assert not out[7]["ends_with_assistant"] and out[7]["starts_with_user"]
    assert not out[8]["parse_ok"]  # an empty conversation is not one
    assert not out[9]["parse_ok"] and not out[9]["conversation_ok"]
    assert out[10]["parse_ok"] and out[10]["conversation_ok"]
    assert not out[11]["parse_ok"] and not out[11]["conversation_ok"]
    # exactly two fully-ok rows
    assert [d for d, r in out.items() if r["conversation_ok"]] == [0, 10]

    with pytest.raises(ValueError, match="reserved"):
        conversation_lint(
            df.withColumn("_conv", F.lit(1)), "conv", id_cols=["doc_id"]
        )
    with pytest.raises(ValueError, match="alphanumeric"):
        conversation_lint(df, "conv", id_cols=["doc_id"],
                          allowed_roles=("user';--",))


def test_conversation_lint_rejects_bare_object_and_empty_roles(spark):
    """A bare message OBJECT is a format violation, not a clean 1-turn
    transcript (from_json would silently wrap it); empty allowed_roles
    fails fast."""
    from pyspark_data_quality_spark.operators.semistructured import (
        conversation_lint,
    )

    df = spark.createDataFrame(
        [(0, '{"role": "user", "content": "hi"}'),
         (1, '  [{"role": "user", "content": "hi"},'
             ' {"role": "assistant", "content": "yo"}]')],
        "doc_id long, conv string",
    )
    out = {r["doc_id"]: r for r in conversation_lint(
        df, "conv", id_cols=["doc_id"]
    ).collect()}
    assert not out[0]["parse_ok"] and not out[0]["conversation_ok"]
    assert out[1]["parse_ok"] and out[1]["conversation_ok"]  # ltrim'd array

    with pytest.raises(ValueError, match="non-empty"):
        conversation_lint(df, "conv", id_cols=["doc_id"], allowed_roles=())
