"""Schema contract and distribution-drift operator tests."""

import math

import pytest
from pyspark.sql import functions as F

from pyspark_data_quality_spark.operators.drift import (
    categorical_drift,
    psi_summary,
)
from pyspark_data_quality_spark.operators.schema import (
    schema_ok,
    schema_report,
)


@pytest.fixture
def typed(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5)], "id bigint, name string, score double"
    )


def test_schema_report_statuses(spark, typed):
    report = {
        r["column"]: r
        for r in schema_report(
            typed,
            {"id": "bigint", "name": "int", "missing_col": "string"},
        ).collect()
    }
    assert report["id"]["status"] == "ok"
    assert report["name"]["status"] == "type_mismatch"
    assert report["name"]["actual_type"] == "string"
    assert report["missing_col"]["status"] == "missing"
    assert report["missing_col"]["actual_type"] is None
    assert report["score"]["status"] == "unexpected"
    assert report["score"]["expected_type"] is None


def test_schema_ok_and_allow_unexpected(spark, typed):
    contract = {"id": "bigint", "name": "string", "score": "double"}
    assert schema_ok(typed, contract)
    assert not schema_ok(typed, {"id": "bigint"})
    assert schema_ok(typed, {"id": "bigint"}, allow_unexpected=True)


def test_categorical_drift_psi_terms(spark):
    cur = spark.createDataFrame(
        [("a",)] * 9 + [("b",)] * 1, "k string"
    )
    ref = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 5, "k string"
    )
    rows = {
        r["value"]: r for r in categorical_drift(cur, ref, ["k"]).collect()
    }
    assert rows["a"]["p_cur"] == 0.9 and rows["a"]["p_ref"] == 0.5
    expected_a = (0.9 - 0.5) * math.log(0.9 / 0.5)
    assert abs(rows["a"]["psi_term"] - expected_a) < 1e-6
    # PSI terms are non-negative by construction ((p-q) and ln(p/q) share sign)
    assert all(r["psi_term"] >= 0 for r in rows.values())


def test_drift_value_absent_on_one_side(spark):
    cur = spark.createDataFrame([("a",), ("c",)], "k string")
    ref = spark.createDataFrame([("a",), ("b",)], "k string")
    rows = {
        r["value"]: r for r in categorical_drift(cur, ref, ["k"]).collect()
    }
    assert rows["c"]["p_ref"] == 0.0 and rows["c"]["psi_term"] > 0
    assert rows["b"]["p_cur"] == 0.0 and rows["b"]["psi_term"] > 0
    assert math.isfinite(rows["c"]["psi_term"])  # eps clamp, no inf/nan


def test_psi_summary_flags_drift(spark):
    cur = spark.createDataFrame([("x",)] * 99 + [("y",)], "k string")
    ref = spark.createDataFrame([("x",)] * 50 + [("y",)] * 50, "k string")
    same = psi_summary(cur, cur, ["k"]).collect()[0]
    assert same["psi"] == 0.0 and same["drifted"] is False
    moved = psi_summary(cur, ref, ["k"]).collect()[0]
    assert moved["psi"] > 0.25 and moved["drifted"] is True


def test_drift_null_bucket(spark):
    # NULL is a REAL null bucket (no 'NULL'-string sentinel), matched
    # null-safely across sides — it can't collide with a literal 'NULL'
    cur = spark.createDataFrame([(None,), ("a",), ("NULL",)], "k string")
    ref = spark.createDataFrame([(None,), ("a",), ("a",)], "k string")
    rows = {
        r["value"]: r for r in categorical_drift(cur, ref, ["k"]).collect()
    }
    null_row = rows[None]
    assert null_row["p_cur"] == pytest.approx(1 / 3)
    assert null_row["p_ref"] == pytest.approx(1 / 3)  # merged across sides
    assert rows["NULL"]["p_ref"] == 0.0  # the literal string stays its own


def test_histogram_explicit_bounds(spark):
    from pyspark_data_quality_spark.operators.profile import histogram

    df = spark.createDataFrame(
        [(float(v),) for v in [0, 1, 2, 5, 9, 10, 15, -3]] + [(None,)],
        "x double",
    )
    rows = {r["bin"]: r for r in histogram(df, "x", bins=5, lo=0.0, hi=10.0).collect()}
    # width 2: [-3->clamp 0] [0,1->0] [2->1] [5->2] [9->4] [10,15->clamp 4]
    assert rows[0]["count"] == 3
    assert rows[1]["count"] == 1
    assert rows[2]["count"] == 1
    assert rows[4]["count"] == 3
    assert rows[0]["bin_lo"] == 0.0 and rows[0]["bin_hi"] == 2.0
    assert sum(r["count"] for r in rows.values()) == 8  # null excluded


def test_histogram_derived_bounds_and_constant(spark):
    from pyspark_data_quality_spark.operators.profile import histogram

    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    rows = histogram(df, "x", bins=2).collect()
    assert sum(r["count"] for r in rows) == 3
    # constant column: degenerate range -> everything in bin 0
    const = spark.createDataFrame([(7.0,)] * 4, "x double")
    crows = histogram(const, "x", bins=3).collect()
    assert len(crows) == 1 and crows[0]["bin"] == 0 and crows[0]["count"] == 4


def test_numeric_drift_shift_detected(spark):
    from pyspark_data_quality_spark.operators.drift import numeric_drift

    ref = spark.createDataFrame([(float(i % 10),) for i in range(100)], "x double")
    cur_same = numeric_drift(ref, ref, "x", bins=5).collect()
    assert all(r["psi_term"] == 0.0 for r in cur_same)
    # shifted distribution: mass beyond ref's max clamps into the top bin
    cur = spark.createDataFrame([(float(20 + i % 3),) for i in range(100)], "x double")
    rows = {r["bin"]: r for r in numeric_drift(cur, ref, "x", bins=5).collect()}
    assert rows[4]["p_cur"] == 1.0  # clamped tail visible, not dropped
    assert sum(r["psi_term"] for r in rows.values()) > 0.25


def test_deterministic_split_stable_and_proportional(spark):
    from pyspark_data_quality_spark.operators.split import deterministic_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "id bigint")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = deterministic_split(df, "id", w).groupBy("split").count().collect()
    b = deterministic_split(df.repartition(7), "id", w).collect()
    counts = {r["split"]: r["count"] for r in a}
    # hash buckets approximate the weights (binomial tolerance)
    assert abs(counts["train"] - 1600) < 120
    assert abs(counts["val"] - 200) < 80
    assert set(counts) == {"train", "val", "test"}
    # stable under repartition: same id -> same split, run to run
    m = {r["id"]: r["split"] for r in b}
    c = {
        r["id"]: r["split"]
        for r in deterministic_split(df, "id", w).collect()
    }
    assert m == c
    # salt re-rolls the assignment
    salted = {
        r["id"]: r["split"]
        for r in deterministic_split(df, "id", w, salt="v2").collect()
    }
    assert salted != c


def test_split_weights_validation(spark):
    from pyspark_data_quality_spark.operators.split import split_assignment

    with pytest.raises(ValueError):
        split_assignment("id", {})
    with pytest.raises(ValueError):
        split_assignment("id", {"a": 0.0})


def test_matched_sample_rebalances_to_target(spark):
    from pyspark_data_quality_spark.operators.split import (
        matched_sample,
        matched_sample_plan,
    )

    # skewed corpus: 1600 en, 300 de, 100 fr -> uniform target.
    rows = (
        [(i, "en") for i in range(1600)]
        + [(1600 + i, "de") for i in range(300)]
        + [(1900 + i, "fr") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "id bigint, lang string")
    target = {"en": 1.0, "de": 1.0, "fr": 1.0}

    plan = {
        r["stratum"]: r
        for r in matched_sample_plan(df, "lang", target).collect()
    }
    # scarcest stratum (fr) keeps everything; bounds scale the others to
    # its feasible size
    assert plan["fr"]["fraction"] == 1.0
    assert plan["fr"]["bucket_bound"] == 10000
    assert plan["en"]["bucket_bound"] == pytest.approx(
        10000 * 100 / 1600, abs=1
    )

    out = matched_sample(df, "id", "lang", target)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # fr fully kept; en/de downsampled to ~fr's size (md5-bucket binomial
    # tolerance)
    assert counts["fr"] == 100
    assert abs(counts["en"] - 100) < 40
    assert abs(counts["de"] - 100) < 40
    # deterministic: rerun and repartition reproduce the identical sample
    ids = sorted(r["id"] for r in out.collect())
    ids2 = sorted(
        r["id"]
        for r in matched_sample(
            df.repartition(7), "id", "lang", target
        ).collect()
    )
    assert ids == ids2
    # schema is passthrough (no helper columns leak)
    assert out.columns == df.columns

    # float-noise guard: shares that don't divide exactly in binary
    # (0.2/0.8 with n=7) put the limiting fraction at 0.999...; the
    # snap must still keep 100% of the scarcest stratum
    fz = spark.createDataFrame(
        [(i, "rare" if i < 7 else "common") for i in range(107)],
        "id bigint, lang string",
    )
    fplan = {
        r["stratum"]: r
        for r in matched_sample_plan(
            fz, "lang", {"rare": 0.2, "common": 0.8}
        ).collect()
    }
    assert fplan["rare"]["bucket_bound"] == 10000


def test_matched_sample_drops_untargeted_and_validates(spark):
    from pyspark_data_quality_spark.operators.split import (
        matched_sample,
        matched_sample_plan,
    )

    df = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "xx"), (4, None)],
        "id bigint, lang string",
    )
    out = matched_sample(df, "id", "lang", {"en": 1.0})
    assert {r["lang"] for r in out.collect()} == {"en"}

    with pytest.raises(ValueError):
        matched_sample_plan(df, "lang", {})
    with pytest.raises(ValueError):
        matched_sample_plan(df, "lang", {"en": 0.0})
    with pytest.raises(ValueError):
        matched_sample_plan(df, "lang", {"en": -1.0, "de": 2.0})


@pytest.fixture
def asof_frames(spark):
    trades = spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:05", 1),
            ("A", "2024-01-01 10:00:10", 2),
            ("A", "2024-01-01 10:02:00", 3),
            ("B", "2024-01-01 10:00:07", 4),
            ("C", "2024-01-01 10:00:01", 5),  # no quotes for C
        ],
        "sym string, ts string, trade_id int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    quotes = spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:00", 100.0),
            ("A", "2024-01-01 10:00:10", 101.0),  # equal-ts case vs trade 2
            ("B", "2024-01-01 10:00:06", 200.0),
        ],
        "sym string, qts string, px double",
    ).withColumn("qts", F.col("qts").cast("timestamp"))
    return trades, quotes


def test_asof_join_backward_inclusive(spark, asof_frames):
    from pyspark_data_quality_spark.operators.asof import asof_join

    trades, quotes = asof_frames
    out = {
        r["trade_id"]: r["px_matched"]
        for r in asof_join(
            trades, quotes, on="ts", by=["sym"], right_on="qts"
        ).collect()
    }
    assert out == {1: 100.0, 2: 101.0, 3: 101.0, 4: 200.0, 5: None}


def test_asof_join_strict_and_tolerance(spark, asof_frames):
    from pyspark_data_quality_spark.operators.asof import asof_join

    trades, quotes = asof_frames
    strict = {
        r["trade_id"]: r["px_matched"]
        for r in asof_join(
            trades, quotes, on="ts", by=["sym"], right_on="qts", strict=True
        ).collect()
    }
    assert strict[2] == 100.0  # equal-ts quote excluded under strict
    tol = {
        r["trade_id"]: r["px_matched"]
        for r in asof_join(
            trades, quotes, on="ts", by=["sym"], right_on="qts",
            tolerance_seconds=30,
        ).collect()
    }
    assert tol[1] == 100.0
    assert tol[3] is None  # quote 110s stale, beyond the 30s horizon


def test_deterministic_sample_and_mix(spark):
    from pyspark_data_quality_spark.operators.split import (
        deterministic_sample,
        mix_corpora,
    )

    df = spark.createDataFrame([(i,) for i in range(2000)], "id bigint")
    s = deterministic_sample(df, "id", 0.25)
    n = s.count()
    assert abs(n - 500) < 80
    # subset property: a smaller fraction's sample nests inside a larger's
    small = {r["id"] for r in deterministic_sample(df, "id", 0.1).collect()}
    big = {r["id"] for r in s.collect()}
    assert small <= big
    assert deterministic_sample(df, "id", 0.0).count() == 0
    assert deterministic_sample(df, "id", 1.0).count() == 2000

    web = spark.createDataFrame([(i, "w") for i in range(1000)], "id bigint, t string")
    code = spark.createDataFrame([(i + 10000, "c") for i in range(1000)], "id bigint, t string")
    mix = mix_corpora({"web": (web, 0.5), "code": (code, 0.1)}, "id")
    by_src = {r["mix_source"]: r["count"] for r in mix.groupBy("mix_source").count().collect()}
    assert abs(by_src["web"] - 500) < 80 and abs(by_src["code"] - 100) < 60


def test_impute_strategies(spark):
    from pyspark_data_quality_spark.operators.repair import impute

    df = spark.createDataFrame(
        [
            ("a", 1.0, "x"),
            ("a", 3.0, "x"),
            ("a", None, None),
            ("b", 10.0, "y"),
            ("b", None, "z"),
            ("c", None, None),  # all-null group
        ],
        "g string, v double, s string",
    )
    mean = {  # per-group mean
        (r["g"], r["v"]) for r in impute(df, ["v"], group_by=["g"]).collect()
    }
    assert ("a", 2.0) in mean and ("b", 10.0) in mean and ("c", None) in mean

    med = impute(df, ["v"], strategy="median").collect()  # global median of 1,3,10
    assert {r["v"] for r in med} == {1.0, 3.0, 10.0}

    mode = {
        (r["g"], r["s"])
        for r in impute(df, ["s"], strategy="mode", group_by=["g"]).collect()
    }
    assert ("a", "x") in mode
    # b's values tie 1-1: smallest value wins deterministically
    assert ("b", "y") in mode and ("b", "z") in mode

    const = impute(df, ["v"], strategy="constant", fill_value=0.0,
                   flag_col="fixed")
    got = {(r["g"], r["v"], r["fixed"]) for r in const.collect()}
    assert ("c", 0.0, True) in got and ("a", 1.0, False) in got

    import pytest as _pt
    with _pt.raises(ValueError):
        impute(df, ["v"], strategy="nope")
    with _pt.raises(ValueError):
        impute(df, ["v"], strategy="constant")


def test_impute_mode_all_null_global(spark):
    """Regression: global mode on an all-null column must keep every row
    (the 0-row crossJoin dropped the dataset)."""
    from pyspark_data_quality_spark.operators.repair import impute

    df = spark.createDataFrame([(1, None), (2, None)], "id int, s string")
    rows = impute(df, ["s"], strategy="mode").collect()
    assert len(rows) == 2 and all(r["s"] is None for r in rows)


def test_impute_mode_null_group_key(spark):
    """A NULL group key is a group of its own: its mode must apply to
    its rows (null-safe join), not leave them unimputed."""
    from pyspark_data_quality_spark.operators.repair import impute

    df = spark.createDataFrame(
        [(None, "x"), (None, "x"), (None, None), ("g", "y"), ("g", None)],
        "grp string, s string",
    )
    rows = impute(df, ["s"], strategy="mode", group_by=["grp"]).collect()
    got = {(r["grp"], i): r["s"] for i, r in enumerate(rows)}
    by_grp = {}
    for (g, _), v in got.items():
        by_grp.setdefault(g, []).append(v)
    assert sorted(by_grp[None]) == ["x", "x", "x"]
    assert sorted(by_grp["g"]) == ["y", "y"]


def test_distinctive_terms_null_group(spark):
    """A NULL group key is a segment of its own in the keyness output
    (null-safe totals join), not silently dropped."""
    from pyspark_data_quality_spark.operators.text import distinctive_terms

    df = spark.createDataFrame(
        [(None, "zebra zebra zebra common"), ("en", "common common word")],
        "lang string, text string",
    )
    out = distinctive_terms(df, "text", "lang", k=2, min_count=1)
    groups = {r["lang"] for r in out.collect()}
    assert None in groups and "en" in groups


def test_rate_of_change_null_value_not_null_flag(spark):
    from pyspark_data_quality_spark.operators.anomaly import (
        rate_of_change_anomalies,
    )

    df = spark.createDataFrame(
        [(0, 5.0), (1, None), (2, 5.0)], "t int, v double"
    )
    rows = {
        r["t"]: r["is_anomaly"]
        for r in rate_of_change_anomalies(df, "v", ["t"]).collect()
    }
    assert rows[1] is False  # null value: unscored, never a null flag


def test_ks_statistic(spark):
    from pyspark_data_quality_spark.operators.drift import ks_statistic

    a = spark.createDataFrame([(float(i % 10),) for i in range(100)], "x double")
    same = ks_statistic(a, a, "x").collect()[0]
    assert same["ks"] == 0.0 and same["n_cur"] == 100 and same["n_ref"] == 100
    # disjoint supports: KS = 1
    b = spark.createDataFrame([(float(100 + i),) for i in range(50)], "x double")
    assert ks_statistic(a, b, "x").collect()[0]["ks"] == 1.0
    # half-shifted: uniform{0..9} vs uniform{5..14} -> KS = 0.5
    c = spark.createDataFrame([(float(5 + i % 10),) for i in range(100)], "x double")
    assert ks_statistic(a, c, "x").collect()[0]["ks"] == 0.5
    # quantize collapses jitter
    d = spark.createDataFrame([(i % 10 + 0.001,) for i in range(100)], "x double")
    assert ks_statistic(a, d, "x", quantize=0).collect()[0]["ks"] == 0.0


def test_ks_partitioned_matches_single_task_and_distributes(spark):
    from pyspark_data_quality_spark.operators.drift import ks_statistic

    # high-cardinality support (every value distinct) across many partitions
    a = spark.range(0, 5000).select((F.col("id") * 1.0).alias("x"))
    b = spark.range(0, 5000).select((F.col("id") * 1.0 + 1500.0).alias("x"))

    part = ks_statistic(a, b, "x").collect()[0]
    single = ks_statistic(a, b, "x", method="single_task").collect()[0]
    assert part == single  # the prefix sum is exact, not an approximation
    assert part["ks"] == 0.3 and part["n_cur"] == 5000 and part["n_ref"] == 5000

    # the distributed plan must contain NO unpartitioned window: every
    # Window node's spec must be keyed by the range-partition id
    plan = (
        ks_statistic(a, b, "x")
        ._jdf.queryExecution().executedPlan().toString()
    )
    windows = [
        ln for ln in plan.splitlines() if ln.lstrip(" +-:").startswith("Window ")
    ]
    assert windows, "expected a per-partition cumulative window"
    assert all("_pid" in ln for ln in windows), plan

    with pytest.raises(ValueError, match="unknown method"):
        ks_statistic(a, b, "x", method="bogus")


def test_quantile_drift_hand_computed(spark):
    from pyspark_data_quality_spark.operators.drift import quantile_drift

    ref = spark.createDataFrame([(float(v),) for v in range(1, 11)], "x double")
    cur = spark.createDataFrame([(float(v),) for v in range(11, 21)], "x double")
    rows = {r["q"]: r for r in quantile_drift(cur, ref, "x").collect()}
    # type-7 median of 1..10 = 5.5, of 11..20 = 15.5
    assert rows[0.5]["ref_q"] == 5.5 and rows[0.5]["cur_q"] == 15.5
    assert rows[0.5]["shift"] == 10.0
    assert rows[0.5]["rel_shift"] == pytest.approx(round(10 / 5.5, 6))
    assert set(rows) == {0.1, 0.25, 0.5, 0.75, 0.9}


def test_mmd_drift_numpy_parity_and_mean_blind_shift(spark):
    """RFF-MMD: exact parity with a NumPy replay of the same seeded
    features; ~0 for identical distributions; and — the reason it
    exists — it FIRES on a mean-preserving variance shift that leaves
    embedding_drift's centroid comparison at zero."""
    import numpy as np

    from pyspark_data_quality_spark.operators.drift import (
        embedding_drift,
        mmd_drift,
    )

    rng = np.random.default_rng(7)
    d, n = 8, 800
    base = rng.normal(0.0, 1.0, size=(n, d))
    same = rng.normal(0.0, 1.0, size=(n, d))
    wide = rng.normal(0.0, 3.0, size=(n, d))  # same mean, 3x the spread

    def frame(m):
        return spark.createDataFrame(
            [(row.tolist(),) for row in m], "v array<double>"
        )

    cur, ref = frame(base), frame(same)
    got = mmd_drift(cur, ref, "v", num_features=128, seed=42).first()
    assert got["n_cur"] == got["n_ref"] == n

    # independent NumPy replay of the exact same seeded RFF pipeline
    def np_mmd2(a, b, D, gamma, seed):
        r = np.random.default_rng(seed)
        W = r.normal(0.0, np.sqrt(2.0 * gamma), size=(D, a.shape[1]))
        bb = r.uniform(0.0, 2.0 * np.pi, size=D)
        s = np.sqrt(2.0 / D)
        za = (s * np.cos(a @ W.T + bb)).mean(axis=0)
        zb = (s * np.cos(b @ W.T + bb)).mean(axis=0)
        return float(((za - zb) ** 2).sum())

    want = np_mmd2(base, same, 128, 1.0 / d, 42)
    assert got["mmd2"] == pytest.approx(round(want, 6), abs=2e-6)
    assert got["mmd2"] < 0.005  # same distribution: near zero

    shifted = mmd_drift(frame(base), frame(wide), "v",
                        num_features=128, seed=42).first()
    assert shifted["mmd2"] > 10 * max(got["mmd2"], 1e-6)
    # centroid metrics stay near sampling noise (~std*sqrt(d/n)≈0.3) on
    # the same shift — no signal, just estimator variance
    cshift = embedding_drift(frame(base), frame(wide), "v").first()
    assert cshift["centroid_shift_l2"] < 0.6
    assert shifted["mmd"] > 0.1

    with pytest.raises(ValueError, match="num_features"):
        mmd_drift(cur, ref, "v", num_features=0)
    empty = spark.createDataFrame([], "v array<double>")
    with pytest.raises(ValueError, match="no non-null"):
        mmd_drift(empty, empty, "v")
    # explicit dim skips the loud probe; a vector-less side must then
    # report NULL mmd2 AND NULL mmd — never 0.0 ("no drift") from a
    # comparison that had no data (greatest() skips NULLs)
    nodata = mmd_drift(empty, ref, "v", num_features=16, dim=d).first()
    assert nodata["n_cur"] == 0
    assert nodata["mmd2"] is None and nodata["mmd"] is None


def test_embedding_drift(spark):
    from pyspark_data_quality_spark.operators.drift import embedding_drift

    base = [(i, [1.0, 0.0, 2.0]) for i in range(10)]
    a = spark.createDataFrame(base, "id bigint, v array<double>")
    # identical corpora: cosine 1, zero shift, equal norms
    r = embedding_drift(a, a, "v").first()
    assert r["n_cur"] == 10 and r["n_ref"] == 10
    assert r["centroid_cosine"] == pytest.approx(1.0)
    assert r["centroid_shift_l2"] == 0.0
    assert r["centroid_norm_cur"] == r["centroid_norm_ref"]

    # orthogonal centroids: cosine 0, shift = hypotenuse
    b = spark.createDataFrame(
        [(i, [0.0, 3.0, 0.0]) for i in range(10)],
        "id bigint, v array<double>",
    )
    r2 = embedding_drift(a, b, "v").first()
    assert r2["centroid_cosine"] == pytest.approx(0.0)
    import math
    assert r2["centroid_shift_l2"] == pytest.approx(
        round(math.sqrt(1 + 9 + 4), 6)
    )
    assert r2["centroid_norm_ref"] == pytest.approx(3.0)


def test_value_set_drift(spark):
    from pyspark_data_quality_spark.operators.drift import value_set_drift

    cur = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", None)], "k string, s string"
    )
    ref = spark.createDataFrame(
        [("a", "x"), ("d", "y")], "k string, s string"
    )
    rows = {r["column"]: r for r in value_set_drift(cur, ref, ["k", "s"]).collect()}
    k = rows["k"]
    # cur {a,b,c} vs ref {a,d}: 2 new, 1 gone, jaccard 1/4
    assert (k["n_cur_values"], k["n_ref_values"]) == (3, 2)
    assert (k["n_new"], k["n_gone"]) == (2, 1)
    assert k["jaccard"] == pytest.approx(0.25)
    # NULL is tracked as a value; s: cur {x,NULL} vs ref {x,y}
    s = rows["s"]
    assert (s["n_new"], s["n_gone"]) == (1, 1)
    # identical sides: full jaccard, nothing new/gone
    same = value_set_drift(cur, cur, ["k"]).first()
    assert same["jaccard"] == 1.0 and same["n_new"] == 0
    # a real NULL and the literal string 'NULL' are DIFFERENT domain
    # values (no sentinel collision): cur {NULL} vs ref {'NULL'}
    ncur = spark.createDataFrame([(None,)], "v string")
    nref = spark.createDataFrame([("NULL",)], "v string")
    nrow = value_set_drift(ncur, nref, ["v"]).first()
    assert (nrow["n_new"], nrow["n_gone"]) == (1, 1)
    assert nrow["jaccard"] == 0.0
    # and a NULL on both sides matches itself (null-safe join)
    nsame = value_set_drift(ncur, ncur, ["v"]).first()
    assert nsame["jaccard"] == 1.0 and nsame["n_new"] == 0
    with pytest.raises(ValueError):
        value_set_drift(cur, ref, [])


def test_completeness_by_group(spark):
    from pyspark_data_quality_spark.operators.profile import (
        completeness_by_group,
    )

    rows = [
        ("a", 1.0, 1.0), ("a", None, 1.0), ("a", None, 1.0), ("a", None, 1.0),
        ("b", 1.0, 1.0), ("b", 1.0, 1.0), ("b", 1.0, 1.0), ("b", 1.0, None),
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {
        (r["g"], r["column"]): r
        for r in completeness_by_group(df, ["x", "y"], ["g"]).collect()
    }
    # x: segment-localized missingness (a=25%, b=100%, global 62.5%)
    assert out[("a", "x")]["ratio"] == 0.25
    assert out[("b", "x")]["ratio"] == 1.0
    assert out[("a", "x")]["global_ratio"] == 0.625
    assert out[("a", "x")]["lift"] == pytest.approx(-0.375)
    assert out[("b", "x")]["lift"] == pytest.approx(0.375)
    assert out[("a", "x")]["n_rows"] == 4
    with pytest.raises(ValueError):
        completeness_by_group(df, [], ["g"])
    with pytest.raises(ValueError):
        completeness_by_group(df, ["x"], [])


def test_token_budget_mix_hand_computed(spark):
    """Token-weighted mix: budgets derive from the FEASIBLE total
    (min over sources of tokens/share), greedy md5-prefix fill never
    exceeds a budget, both prefix-sum methods agree, and non-target /
    NULL sources are annotated out, not dropped."""
    import hashlib
    import math

    from pyspark_data_quality_spark.operators.split import token_budget_mix

    rows = [(1, "A", 5), (2, "A", 4), (3, "A", 3), (4, "B", 6), (5, "B", 1),
            (6, None, 9), (7, "C", 4)]
    df = spark.createDataFrame(rows, "id bigint, src string, nt bigint")

    def py_model(target, cap=None):
        shares = {k: v / sum(target.values()) for k, v in target.items()}
        tot = {}
        for i, s, n in rows:
            if s in shares:
                tot[s] = tot.get(s, 0) + n
        T = (min(math.floor(tot[s] / shares[s]) for s in shares)
             if set(tot) == set(shares) else 0)
        if cap is not None:
            T = min(T, cap)
        bud = {s: math.floor(shares[s] * T) for s in tot}
        keep = {}
        for s in {r[1] for r in rows}:
            grp = sorted(
                (r for r in rows if r[1] == s),
                key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]),
            )
            c = 0
            for i, _, n in grp:
                c += n
                keep[i] = (s in bud) and c <= bud[s]
        return keep

    for method in ("partitioned", "single_task"):
        out = token_budget_mix(
            df, "id", "src", {"A": 0.5, "B": 0.5},
            token_count_col="nt", method=method,
        ).collect()
        got = {r["id"]: r["mix_keep"] for r in out}
        assert got == py_model({"A": 1, "B": 1}), method
        assert len(out) == len(rows)  # annotate-not-filter

        capped = {
            r["id"]: r["mix_keep"]
            for r in token_budget_mix(
                df, "id", "src", {"A": 0.5, "B": 0.5},
                token_count_col="nt", total_tokens=8, method=method,
            ).collect()
        }
        assert capped == py_model({"A": 1, "B": 1}, cap=8), method

        # a target source absent from the data -> feasible total 0
        empty = token_budget_mix(
            df, "id", "src", {"A": 0.5, "Z": 0.5},
            token_count_col="nt", method=method,
        ).collect()
        assert not any(r["mix_keep"] for r in empty), method

    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        token_budget_mix(df, "id", "src", {}, token_count_col="nt")
    with _pytest.raises(ValueError, match="must be > 0"):
        token_budget_mix(df, "id", "src", {"A": 0.0}, token_count_col="nt")
    with _pytest.raises(ValueError, match="exactly one"):
        token_budget_mix(df, "id", "src", {"A": 1.0})


def test_psi_by_group_hand_computed(spark):
    """Per-segment PSI: hand-checked values, one-sided segments clamp to
    eps (maximal drift, not a dropped row), NULL segment is a segment."""
    import math

    from pyspark_data_quality_spark.operators.drift import psi_by_group

    cur = spark.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("g1", "b"), ("g2", "x"), (None, "y")],
        "grp string, v string",
    )
    ref = spark.createDataFrame(
        [("g1", "a"), ("g1", "b"), ("g1", "b"), (None, "y")],
        "grp string, v string",
    )
    rows = {r["grp"]: r for r in psi_by_group(cur, ref, ["v"], "grp").collect()}
    assert set(rows) == {"g1", "g2", None}
    # g1: (2/3-1/3)ln2 + (1/3-2/3)ln(1/2) = (2/3)ln2 ~= 0.462 > 0.25
    assert rows["g1"]["psi"] == pytest.approx(round(2 / 3 * math.log(2), 6))
    assert rows["g1"]["drifted"]
    # g2 exists only in cur: ref ratio clamps to eps -> huge PSI, drifted
    assert rows["g2"]["psi"] > 10 and rows["g2"]["drifted"]
    # NULL segment identical on both sides -> zero drift
    assert rows[None]["psi"] == 0.0 and not rows[None]["drifted"]

    with pytest.raises(ValueError, match="non-empty"):
        psi_by_group(cur, ref, [], "grp")


def test_ks_by_group_matches_scipy_model(spark):
    """Per-segment KS equals the classic two-sample formula computed in
    python per group; one-sided segments report KS 1.0; the NULL
    segment is a segment; matches ks_statistic on a single segment."""
    import bisect

    from pyspark_data_quality_spark.operators.drift import (
        ks_by_group,
        ks_statistic,
    )

    cur_rows = [("g1", 1.0), ("g1", 2.0), ("g1", 2.0), ("g1", 9.0),
                ("g2", 5.0), (None, 1.0), (None, 3.0)]
    ref_rows = [("g1", 1.0), ("g1", 7.0), ("g1", 8.0),
                (None, 1.0), (None, 3.0), ("g3", 4.0)]
    cur = spark.createDataFrame(cur_rows, "grp string, v double")
    ref = spark.createDataFrame(ref_rows, "grp string, v double")

    def py_ks(a, b):
        if not a or not b:
            return 1.0
        sa, sb = sorted(a), sorted(b)
        support = sorted(set(a) | set(b))
        return round(
            max(
                abs(
                    bisect.bisect_right(sa, x) / len(sa)
                    - bisect.bisect_right(sb, x) / len(sb)
                )
                for x in support
            ),
            6,
        )

    got = {r["grp"]: r for r in ks_by_group(cur, ref, "v", "grp").collect()}
    by_grp_cur: dict = {}
    by_grp_ref: dict = {}
    for s, v in cur_rows:
        by_grp_cur.setdefault(s, []).append(v)
    for s, v in ref_rows:
        by_grp_ref.setdefault(s, []).append(v)
    for grp in set(by_grp_cur) | set(by_grp_ref):
        a = by_grp_cur.get(grp, [])
        b = by_grp_ref.get(grp, [])
        assert got[grp]["ks"] == pytest.approx(py_ks(a, b)), grp
        assert got[grp]["n_cur"] == len(a) and got[grp]["n_ref"] == len(b)
    # one-sided segments reach 1.0 (not NULL, not dropped)
    assert got["g2"]["ks"] == 1.0 and got["g3"]["ks"] == 1.0
    # single-segment parity with the corpus-level operator
    one = ks_by_group(
        cur.filter("grp = 'g1'"), ref.filter("grp = 'g1'"), "v", "grp"
    ).first()
    whole = ks_statistic(
        cur.filter("grp = 'g1'").select("v"),
        ref.filter("grp = 'g1'").select("v"),
        "v",
    ).first()
    assert one["ks"] == whole["ks"]


def test_quantile_shift_by_group(spark):
    """Per-segment quantile shifts: sketch estimates within the KLL rank
    tolerance of exact per-group percentiles; one-sided and NULL
    segments report instead of dropping."""
    import numpy as np

    from pyspark_data_quality_spark.operators.drift import (
        quantile_shift_by_group,
    )

    rng = np.random.RandomState(7)
    cur_vals = {"g1": rng.normal(100, 10, 400), None: rng.uniform(0, 1, 200)}
    ref_vals = {"g1": rng.normal(80, 10, 400), None: rng.uniform(0, 1, 200),
                "gone": rng.normal(5, 1, 50)}
    cur = spark.createDataFrame(
        [(g, float(v)) for g, vs in cur_vals.items() for v in vs],
        "grp string, v double",
    )
    ref = spark.createDataFrame(
        [(g, float(v)) for g, vs in ref_vals.items() for v in vs],
        "grp string, v double",
    )
    rows = quantile_shift_by_group(cur, ref, "v", "grp").collect()
    by = {(r["grp"], r["q"]): r for r in rows}
    assert {g for g, _ in by} == {"g1", None, "gone"}

    # sketch medians within rank tolerance of the exact percentiles:
    # compare through the exact CDF (value-space tolerance follows)
    for grp, vals in (("g1", cur_vals["g1"]), (None, cur_vals[None])):
        est = by[(grp, 0.5)]["cur_q"]
        rank = (vals <= est).mean()
        assert abs(rank - 0.5) <= 0.05, (grp, est, rank)
    # the ~20-point mean shift in g1 shows up in the median shift
    g1_mid = by[("g1", 0.5)]
    assert 10 < g1_mid["shift"] < 30
    assert g1_mid["rel_shift"] == pytest.approx(
        g1_mid["shift"] / abs(g1_mid["ref_q"]), abs=1e-6
    )
    # vanished segment: cur side NULL, counted 0, still reported
    gone = by[("gone", 0.5)]
    assert gone["cur_q"] is None and gone["n_cur"] == 0 and gone["n_ref"] == 50
    # NULL segment ~identical distributions: small shift
    assert abs(by[(None, 0.5)]["shift"]) < 0.1

    with pytest.raises(ValueError, match="non-empty"):
        quantile_shift_by_group(cur, ref, "v", "grp", quantiles=())


def test_psi_by_group_single_segment_parity(spark):
    """A one-segment frame must reproduce the corpus-level psi_summary
    exactly — the per-segment operator is a strict generalization."""
    from pyspark_data_quality_spark.operators.drift import (
        psi_by_group,
        psi_summary,
    )

    cur = spark.createDataFrame(
        [("s", v) for v in ["a"] * 9 + ["b"] * 1], "grp string, k string"
    )
    ref = spark.createDataFrame(
        [("s", v) for v in ["a"] * 5 + ["b"] * 5], "grp string, k string"
    )
    seg = psi_by_group(cur, ref, ["k"], "grp").first()
    whole = psi_summary(cur.drop("grp"), ref.drop("grp"), ["k"]).first()
    assert seg["psi"] == whole["psi"]
    assert seg["drifted"] == whole["drifted"]


def test_temperature_shares_math_and_integration(spark):
    """p_s ∝ n_s^τ: τ=1 keeps natural proportions, τ→0 flattens toward
    uniform, monotone in between; output feeds token_budget_mix as-is."""
    import pytest as _pytest

    from pyspark_data_quality_spark.operators.split import (
        temperature_shares,
        token_budget_mix,
    )

    totals = {"web": 900.0, "code": 90.0, "books": 10.0}
    nat = temperature_shares(totals, 1.0)
    assert nat["web"] == _pytest.approx(0.9)
    assert nat["books"] == _pytest.approx(0.01)
    flat = temperature_shares(totals, 1e-9)
    for v in flat.values():
        assert v == _pytest.approx(1 / 3, abs=1e-6)
    mid = temperature_shares(totals, 0.5)
    assert sum(mid.values()) == _pytest.approx(1.0)
    # temperature upsamples the tail, downsamples the head
    assert nat["books"] < mid["books"] < flat["books"] + 1e-6
    assert nat["web"] > mid["web"] > flat["web"] - 1e-6

    with _pytest.raises(ValueError):
        temperature_shares({}, 0.5)
    with _pytest.raises(ValueError):
        temperature_shares(totals, 0.0)
    with _pytest.raises(ValueError):
        temperature_shares({"a": 0.0}, 0.5)

    # end-to-end: the dict plugs into token_budget_mix and the kept
    # token mass tracks the temperature shares
    rows = [(i, "web" if i < 90 else "code", 10) for i in range(100)]
    df = spark.createDataFrame(rows, "id bigint, src string, nt bigint")
    shares = temperature_shares({"web": 900.0, "code": 100.0}, 0.5)
    out = token_budget_mix(
        df, "id", "src", shares, token_count_col="nt"
    ).filter("mix_keep")
    got = {
        r["src"]: r["t"]
        for r in out.groupBy("src")
        .agg(F.sum("mix_tokens").alias("t"))
        .collect()
    }
    ratio = got["web"] / (got["web"] + got["code"])
    assert ratio == _pytest.approx(shares["web"], abs=0.02)


def test_cap_per_group_exact_and_approx(spark):
    """Per-group cap: under-cap groups pass untouched (incl. the NULL
    group), offenders keep exactly `cap` (exact) or ≈cap (approx)
    deterministic survivors; both modes are pure functions of ids."""
    from pyspark_data_quality_spark.operators.split import cap_per_group

    rows = (
        [("big.com", i) for i in range(200)]
        + [("small.com", 1000), ("small.com", 1001)]
        + [(None, 2000 + i) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "host string, id bigint")

    out = cap_per_group(df, ["host"], "id", 50)
    got = {
        r["host"]: r["n"]
        for r in out.groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got["big.com"] == 50         # exactly cap
    assert got["small.com"] == 2        # untouched
    assert got[None] == 3               # NULL group untouched (null-safe)
    # deterministic: same call, same survivors
    a = sorted(r.id for r in out.filter("host = 'big.com'").collect())
    b = sorted(
        r.id
        for r in cap_per_group(df, ["host"], "id", 50)
        .filter("host = 'big.com'")
        .collect()
    )
    assert a == b
    # salt changes the survivor set but not its size
    c = sorted(
        r.id
        for r in cap_per_group(df, ["host"], "id", 50, salt="v2")
        .filter("host = 'big.com'")
        .collect()
    )
    assert len(c) == 50 and c != a

    approx = cap_per_group(df, ["host"], "id", 50, exact=False)
    ga = {
        r["host"]: r["n"]
        for r in approx.groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert ga["small.com"] == 2 and ga[None] == 3
    assert 30 <= ga["big.com"] <= 70    # ≈cap, md5-bucket thresholding
    assert approx.columns == df.columns

    # NULL group over the cap is capped too (null-safe semi/anti)
    df2 = spark.createDataFrame(
        [(None, i) for i in range(20)], "host string, id bigint"
    )
    assert cap_per_group(df2, ["host"], "id", 5).count() == 5

    import pytest as _pytest

    with _pytest.raises(ValueError):
        cap_per_group(df, ["host"], "id", 0)
    with _pytest.raises(ValueError):
        cap_per_group(df, [], "id", 5)
    # a user column named like an internal temporary would be silently
    # overwritten and dropped — refuse instead
    with _pytest.raises(ValueError, match="_rn"):
        cap_per_group(df.withColumn("_rn", F.lit(1)), ["host"], "id", 5)


def test_token_budget_mix_reserved_column_raises(spark):
    import pytest as _pytest

    from pyspark_data_quality_spark.operators.split import token_budget_mix

    df = spark.createDataFrame(
        [(1, "a", "x y"), (2, "b", "z")], "id bigint, src string, text string"
    ).withColumn("_end", F.lit(0))
    with _pytest.raises(ValueError, match="_end"):
        token_budget_mix(df, "id", "src", {"a": 1.0}, text_col="text")


def test_url_helpers(spark):
    from pyspark_data_quality_spark.functions.text import (
        normalize_url,
        url_host,
    )

    df = spark.createDataFrame(
        [
            ("https://WWW.Example.COM/Path?a=1&utm_source=x&b=2#frag",),
            ("http://a.b/x?utm_campaign=z",),
            ("https://h.io/p?fbclid=123&gclid=4",),
            ("not a url",),
            (None,),
        ],
        "u string",
    )
    got = {
        r.u: (r.h, r.n)
        for r in df.select(
            "u", url_host("u").alias("h"), normalize_url("u").alias("n")
        ).collect()
    }
    assert got["https://WWW.Example.COM/Path?a=1&utm_source=x&b=2#frag"] == (
        "www.example.com",
        "https://www.example.com/Path?a=1&b=2",
    )
    assert got["http://a.b/x?utm_campaign=z"] == ("a.b", "http://a.b/x")
    assert got["https://h.io/p?fbclid=123&gclid=4"] == ("h.io", "https://h.io/p")
    assert got["not a url"] == (None, "not a url")  # never throws
    assert got[None] == (None, None)


def test_cap_per_group_approx_mega_group_never_vanishes(spark):
    """Regression: a group larger than cap*10000 rows used to get a
    floor(0) keep-threshold in approximate mode and vanish entirely —
    the exact hosts the cap exists to tame. The threshold floors at 1
    bucket now: mega-groups keep a small, non-zero sliver."""
    from pyspark_data_quality_spark.operators.split import cap_per_group

    rows = [("mega", i) for i in range(20_001)] + [("tiny", 99_999)]
    df = spark.createDataFrame(rows, "host string, id bigint")
    out = cap_per_group(df, ["host"], "id", 1, exact=False)
    got = {
        r["host"]: r["n"]
        for r in out.groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got["tiny"] == 1
    assert 1 <= got["mega"] < 100  # non-zero, tiny sliver of 20k


def test_weighted_sample_proportional_and_deterministic(spark):
    """A-RES weighted sampling: deterministic per salt, excludes
    non-positive weights, and across many independent salts the
    inclusion frequency tracks the weights (the heavy item wins n=1
    draws roughly weight-share often)."""
    from pyspark_data_quality_spark.operators.split import weighted_sample

    df = spark.createDataFrame(
        [(1, 1.0), (2, 1.0), (3, 8.0), (4, 0.0), (5, None), (6, -2.0)],
        "id bigint, w double",
    )
    a = sorted(r["id"] for r in weighted_sample(df, "id", "w", 2).collect())
    b = sorted(r["id"] for r in weighted_sample(df, "id", "w", 2).collect())
    assert a == b and len(a) == 2            # deterministic, exactly n
    assert not {4, 5, 6} & set(a)            # w<=0/NULL never sampled
    big = weighted_sample(df, "id", "w", 50).collect()
    assert sorted(r["id"] for r in big) == [1, 2, 3]  # n > eligible: all

    # inclusion frequency ~ weight share: item 3 holds 80% of the mass,
    # so over 60 salts it should win the n=1 draw far more than half
    wins = 0
    rows = [(1, 1.0), (2, 1.0), (3, 8.0)]
    d3 = spark.createDataFrame(rows, "id bigint, w double")
    for s in range(60):
        got = weighted_sample(d3, "id", "w", 1, salt=f"s{s}").first()["id"]
        wins += got == 3
    assert wins >= 36, wins  # E=48, sigma~3.1 -> 36 is ~4 sigma slack

    with pytest.raises(ValueError, match="n must be"):
        weighted_sample(df, "id", "w", 0)


def test_candidate_keys_exact_and_approx(spark):
    """Hand-built table with a known key structure: id is a key, (g,v)
    jointly unique, g alone is not, NULL-bearing columns disqualified;
    approx mode agrees on this tiny input and runs as ONE
    ObjectHashAggregate pass with no Expand."""
    import pytest
    from pyspark_data_quality_spark.operators.schema import candidate_keys

    rows = [
        (1, "a", 10, 5), (2, "a", 20, 5), (3, "b", 10, None), (4, "b", 20, 5),
    ]
    df = spark.createDataFrame(rows, "id int, g string, v int, n int")
    out = {
        r["key_cols"]: r
        for r in candidate_keys(df, exact=True, max_width=2).collect()
    }
    assert out["id"]["is_key"] and out["id"]["uniqueness"] == 1.0
    assert not out["g"]["is_key"] and out["g"]["n_distinct"] == 2
    assert out["g,v"]["is_key"]
    # n has a NULL: disqualified from keyhood outright
    assert not out["n"]["is_key"] and out["n"]["n_null_rows"] == 1
    assert out["n"]["n_distinct"] == 1  # NULL-free rows only: {5}
    assert out["n"]["uniqueness"] == pytest.approx(round(1 / 3, 6))
    # widths enumerate singles + pairs over 4 cols = 4 + 6
    assert len(out) == 10

    approx = {
        r["key_cols"]: r for r in candidate_keys(df, max_width=2).collect()
    }
    assert {k: v["is_key"] for k, v in approx.items()} == {
        k: v["is_key"] for k, v in out.items()
    }
    assert approx["n"]["n_distinct"] == 1  # NULL-free semantics carried
    plan = (
        candidate_keys(df, max_width=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in plan  # HLL path: one pass, no row duplication

    with pytest.raises(ValueError, match="max_combos"):
        candidate_keys(df, max_width=2, max_combos=5)
    with pytest.raises(ValueError, match="not in df"):
        candidate_keys(df, ["nope"])


def test_time_split_embargo(spark):
    """Boundary semantics: strict < train_end is train, the embargo
    window excludes both sides, at/after embargo-end is test; zero
    embargo degenerates to a two-way cut; NULL ts gets NULL label."""
    from pyspark_data_quality_spark.operators.split import time_split

    df = spark.createDataFrame(
        [(1, "2024-06-30 23:59:59"), (2, "2024-07-01 00:00:00"),
         (3, "2024-07-01 11:59:59"), (4, "2024-07-01 12:00:00"),
         (5, None)],
        "id int, ts string",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    out = {
        r["id"]: r["split"]
        for r in time_split(
            df, "ts", train_end="2024-07-01 00:00:00",
            embargo_seconds=12 * 3600,
        ).collect()
    }
    assert out == {1: "train", 2: "embargo", 3: "embargo",
                   4: "test", 5: None}

    zero = {
        r["id"]: r["split"]
        for r in time_split(
            df, "ts", train_end="2024-07-01 00:00:00"
        ).collect()
    }
    assert zero[1] == "train" and zero[2] == "test" and zero[3] == "test"

    with pytest.raises(ValueError, match="embargo_seconds"):
        time_split(df, "ts", train_end="2024-01-01", embargo_seconds=-1)
    with pytest.raises(ValueError, match="already exists"):
        time_split(df.withColumn("split", F.lit("x")), "ts",
                   train_end="2024-01-01")


def test_classifier_drift_detects_and_nulls(spark):
    """Separable corpora push AUC to ~1; identical-distribution sides
    sit near 0.5; determinism across runs; empty eval side -> NULL."""
    from pyspark_data_quality_spark.operators.drift import classifier_drift

    words_a = ["spark", "shuffle", "partition", "catalyst", "executor"]
    words_b = ["violin", "sonata", "orchestra", "tempo", "aria"]
    rows_a = [(i, " ".join(words_a[j % 5] for j in range(i, i + 7)))
              for i in range(120)]
    rows_b = [(i, " ".join(words_b[j % 5] for j in range(i, i + 7)))
              for i in range(120)]
    cur = spark.createDataFrame(rows_a, "id int, text string")
    ref = spark.createDataFrame(rows_b, "id int, text string")
    r1 = classifier_drift(cur, ref, "text", "id").collect()[0]
    assert r1["auc"] is not None and r1["auc"] > 0.95 and r1["drifted"]
    assert r1["n_eval_cur"] > 0 and r1["n_eval_ref"] > 0
    assert r1["n_fit"] + r1["n_eval_cur"] + r1["n_eval_ref"] == 240
    # deterministic: same inputs, same statistic
    r2 = classifier_drift(cur.repartition(7), ref, "text", "id").collect()[0]
    assert r1.asDict() == r2.asDict()

    # same distribution both sides: no separation signal
    same = classifier_drift(
        cur, cur.withColumn("id", F.col("id") + 1000), "text", "id"
    ).collect()[0]
    assert same["auc"] is not None and abs(same["auc"] - 0.5) < 0.2
    assert not same["drifted"]

    # empty side -> NULL auc, never a crash
    empty = classifier_drift(cur, ref.filter("id < 0"), "text", "id")
    e = empty.collect()[0]
    assert e["auc"] is None and e["n_eval_ref"] == 0

    with pytest.raises(ValueError, match="train_fraction"):
        classifier_drift(cur, ref, "text", "id", train_fraction=1.0)
    with pytest.raises(ValueError, match="missing"):
        classifier_drift(cur.drop("text"), ref, "text", "id")


def test_drift_screen_flags_only_shifted_columns(spark):
    """One genuinely shifted column among three: the BH step-up flags it
    (rank 1) and leaves the same-distribution columns unflagged; every
    bh_crit renders the rank/m*alpha ladder."""
    from pyspark_data_quality_spark.operators.drift import drift_screen

    n = 3000
    base = spark.range(n)
    ref = base.select(
        (F.col("id") % 100).cast("double").alias("a"),
        (F.col("id") % 7).cast("double").alias("b"),
        ((F.col("id") * 37) % 11).cast("double").alias("c"),
    )
    cur = base.select(
        ((F.col("id") % 100) + 60).cast("double").alias("a"),  # shifted
        (F.col("id") % 7).cast("double").alias("b"),
        ((F.col("id") * 37) % 11).cast("double").alias("c"),
    )
    rows = {
        r["column"]: r
        for r in drift_screen(cur, ref, ["a", "b", "c"], bins=16).collect()
    }
    assert rows["a"]["drifted"] and rows["a"]["bh_rank"] == 1
    assert not rows["b"]["drifted"] and not rows["c"]["drifted"]
    assert rows["a"]["ks"] > 0.4 and rows["a"]["p_value"] < 0.001
    # identical distributions -> zero binned KS, p exactly 1
    assert rows["b"]["ks"] == 0.0 and rows["b"]["p_value"] == 1.0
    m, alpha = 3, 0.05
    for r in rows.values():
        assert r["bh_crit"] == round(r["bh_rank"] * alpha / m, 6)
        assert r["n_cur"] == n and r["n_ref"] == n


def test_drift_screen_nonfinite_constant_and_null_columns(spark):
    """NaN values drop out of the histogram (n excludes them), +Inf
    clamps into the top edge bin (still counted), a constant reference
    column degenerates to one bin without a divide error, and an
    all-NULL column yields p=1/drifted=False rather than a NULL that
    would poison the BH ordering."""
    from pyspark_data_quality_spark.operators.drift import drift_screen

    nan, inf = float("nan"), float("inf")
    data = [(float(i % 10), 5.0, None) for i in range(100)]
    ref = spark.createDataFrame(data, "x double, k double, z double")
    cur = spark.createDataFrame(
        data[:98] + [(nan, 5.0, None), (inf, 5.0, None)],
        "x double, k double, z double",
    )
    rows = {
        r["column"]: r
        for r in drift_screen(cur, ref, ["x", "k", "z"], bins=8).collect()
    }
    # NaN dropped: 99 finite values (98 clean + Inf); Inf still counted
    assert rows["x"]["n_cur"] == 99 and rows["x"]["n_ref"] == 100
    assert rows["k"]["ks"] == 0.0 and rows["k"]["psi"] == 0.0
    assert rows["k"]["p_value"] == 1.0 and not rows["k"]["drifted"]
    assert rows["z"]["n_cur"] == 0 and rows["z"]["n_ref"] == 0
    assert rows["z"]["p_value"] == 1.0 and not rows["z"]["drifted"]


def test_drift_screen_single_shuffle_plan(spark):
    """The whole column family's paired histogram must materialize in
    ONE exchange over data-scale rows — the operator's 100-TB claim.
    Bounded post-aggregation exchanges (windows/ranking over <=
    columns*bins rows) are fine; a per-column data shuffle is not."""
    from pyspark_data_quality_spark.operators.drift import drift_screen

    ref = spark.range(2000).select(
        (F.col("id") % 50).cast("double").alias("a"),
        (F.col("id") % 3).cast("double").alias("b"),
        (F.col("id") % 13).cast("double").alias("c"),
        (F.col("id") % 17).cast("double").alias("d"),
    )
    cur = ref.select(
        (F.col("a") + 10.0).alias("a"), "b", "c", "d"
    )
    out = drift_screen(cur, ref, ["a", "b", "c", "d"], bins=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    n_exchange = len(re.findall(r"Exchange (?:hash|range)partitioning",
                                plan))
    # 1 data shuffle (column,bin groupBy) + bounded ordered stages:
    # per-column windows + final agg + BH ranking
    assert 1 <= n_exchange <= 5, f"{n_exchange} exchanges:\n{plan[:2000]}"
    assert len(out.collect()) == 4


def test_clamped_bin_sql_inf_proof_matches_spark(spark):
    """The shared DuckDB replay of hist.clamped_bin (_clamped_bin_sql)
    must survive ±Inf — a direct BIGINT cast of floor(Inf) is a DuckDB
    conversion ERROR (r13 advisor) — and agree bin-for-bin with the
    Spark face on adversarial values: ±Inf saturate to the edge bins,
    NULL/NaN get no bin, width 0 folds to bin 0."""
    import duckdb

    from pyspark_data_quality_spark.entry_queries import _clamped_bin_sql
    from pyspark_data_quality_spark.operators.hist import clamped_bin

    inf, nan = float("inf"), float("nan")
    vals = [-inf, -5.0, 0.0, 3.7, 9.999, 10.0, 25.0, inf, nan, None]
    lo, hi, bins = 0.0, 10.0, 4

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    spark_bins = [
        r["bin"]
        for r in df.select(
            clamped_bin(F.col("v"), F.lit(lo), F.lit(hi), bins).alias("bin")
        ).collect()
    ]

    con = duckdb.connect()
    sql = f"""
      WITH lng AS (
        SELECT unnest([{", ".join(
            "CAST('nan' AS DOUBLE)" if v is not None and math.isnan(v)
            else "CAST('inf' AS DOUBLE)" if v == inf
            else "CAST('-inf' AS DOUBLE)" if v == -inf
            else "CAST(NULL AS DOUBLE)" if v is None else repr(v)
            for v in vals
        )}]) AS v
      ), bnd AS (SELECT {lo} AS lo, {hi} AS hi)
      SELECT CASE WHEN v IS NULL OR isnan(v) THEN NULL
                  ELSE {_clamped_bin_sql(bins)} END AS bin
      FROM lng CROSS JOIN bnd
    """
    duck_bins = [r[0] for r in con.execute(sql).fetchall()]
    assert duck_bins == spark_bins
    assert duck_bins[0] == 0 and duck_bins[7] == bins - 1  # ±Inf edges
    assert duck_bins[8] is None and duck_bins[9] is None   # NaN/NULL

    # width 0 (hi = lo): every finite value folds to bin 0 on both sides
    z = con.execute(
        f"SELECT {_clamped_bin_sql(bins)} FROM (SELECT 5.0 AS v) "
        "CROSS JOIN (SELECT 1.0 AS lo, 1.0 AS hi)"
    ).fetchone()[0]
    zs = df.filter("v = 3.7").select(
        clamped_bin(F.col("v"), F.lit(1.0), F.lit(1.0), bins).alias("b")
    ).collect()[0]["b"]
    assert z == 0 and zs == 0


def test_mmd_md5_weights_mode(spark):
    """weights='md5' must be deterministic (same W/b every call, no RNG
    state), distributionally sane (mean~0, sd~sqrt(2g)), reject unknown
    modes, and still separate a planted shift like the rng mode."""
    import numpy as np

    from pyspark_data_quality_spark.operators.drift import (
        _md5_rff_weights,
        mmd_drift,
    )

    W1, b1 = _md5_rff_weights(64, 16, 1.0 / 16, 7)
    W2, b2 = _md5_rff_weights(64, 16, 1.0 / 16, 7)
    assert (W1 == W2).all() and (b1 == b2).all()
    Ws, _ = _md5_rff_weights(64, 16, 1.0 / 16, 8)
    assert (W1 != Ws).any()  # seed participates in the tags
    sd = (2.0 / 16) ** 0.5
    # 64x16 = 1024 draws -> se(mean) ~ 0.011; allow ~3.5 sigma
    assert abs(W1.mean()) < 0.04 and abs(W1.std() - sd) < 0.03
    assert (b1 >= 0).all() and (b1 < 2 * np.pi).all()

    rows_a = [([0.0 + i * 0.001] * 8,) for i in range(64)]
    rows_b = [([3.0 + i * 0.001] * 8,) for i in range(64)]
    a = spark.createDataFrame(rows_a, "embedding array<double>")
    b = spark.createDataFrame(rows_b, "embedding array<double>")
    null_mmd = mmd_drift(
        a, a, "embedding", num_features=64, dim=8, weights="md5"
    ).collect()[0]["mmd"]
    shift_mmd = mmd_drift(
        a, b, "embedding", num_features=64, dim=8, weights="md5"
    ).collect()[0]["mmd"]
    assert null_mmd == 0.0  # identical inputs -> identical feature means
    assert shift_mmd > 0.5

    with pytest.raises(ValueError, match="weights"):
        mmd_drift(a, b, "embedding", dim=8, weights="xorshift")


def test_schema_compat_registry_semantics(spark):
    """Confluent/Avro vocabulary on columnar-lake types: backward = the
    NEW reader over OLD data (widenings pass, additions break);
    forward = the OLD reader over NEW data (narrowings pass, removals
    break); full = only unchanged."""
    from pyspark_data_quality_spark.operators.schema import (
        schema_compat,
        schema_compat_ok,
    )

    old = {"id": "int", "price": "float", "note": "string",
           "day": "date", "big": "bigint"}
    new = {"id": "bigint", "price": "float", "tag": "string",
           "day": "timestamp", "big": "double"}

    rep = {r["column"]: r for r in
           schema_compat(old, new, mode="backward").collect()}
    assert rep["id"]["change"] == "widened" and rep["id"]["compatible"]
    assert rep["day"]["change"] == "widened" and rep["day"]["compatible"]
    # bigint -> double is NOT a widening (2^53 precision loss)
    assert rep["big"]["change"] == "type_changed"
    assert not rep["big"]["compatible"]
    # new reader needs 'tag', old files never wrote it
    assert rep["tag"]["change"] == "added" and not rep["tag"]["compatible"]
    # new reader stopped asking for 'note'
    assert rep["note"]["change"] == "removed" and rep["note"]["compatible"]
    assert rep["price"]["change"] == "unchanged"

    fwd = {r["column"]: r for r in
           schema_compat(old, new, mode="forward").collect()}
    assert fwd["tag"]["compatible"]          # old reader ignores it
    assert not fwd["note"]["compatible"]     # old reader left dangling
    assert not fwd["id"]["compatible"]       # bigint value can't read as int
    # the mirror direction: narrowing passes forward
    nar = {r["column"]: r for r in
           schema_compat({"n": "bigint"}, {"n": "int"},
                         mode="forward").collect()}
    assert nar["n"]["change"] == "narrowed" and nar["n"]["compatible"]

    full = {r["column"]: r for r in
            schema_compat(old, new, mode="full").collect()}
    assert [c for c, r in full.items() if r["compatible"]] == ["price"]

    assert schema_compat_ok({"a": "int"}, {"a": "bigint"}, mode="backward")
    assert not schema_compat_ok({"a": "int"}, {"a": "bigint"},
                                mode="forward")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="mode"):
        schema_compat(old, new, mode="sideways")


def test_schema_compat_exact_float_promotions(spark):
    """Integer->float moves pass exactly when the mantissa covers the
    whole range: int->double yes, int->float no, bigint->double no."""
    from pyspark_data_quality_spark.operators.schema import schema_compat_ok

    assert schema_compat_ok({"a": "int"}, {"a": "double"}, mode="backward")
    assert schema_compat_ok({"a": "smallint"}, {"a": "float"},
                            mode="backward")
    assert not schema_compat_ok({"a": "int"}, {"a": "float"},
                                mode="backward")
    assert not schema_compat_ok({"a": "bigint"}, {"a": "double"},
                                mode="backward")
