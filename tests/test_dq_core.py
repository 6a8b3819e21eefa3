"""Core framework tests: parity semantics from the reference's own tests
(SURVEY.md §5 / FIXTURES.md §A) plus the fused-analysis rebuild semantics."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pyspark_data_quality_spark import (
    ColumnNotFoundError,
    DQManager,
    METRIC_SCHEMA,
    NoDataError,
)
from pyspark_data_quality_spark.operators import (
    CompletenessColRatioRule,
    CompletenessRawRatioRule,
    UniqueRule,
)


@pytest.fixture
def people(spark):
    # FIXTURES.md A1 shape with injected nulls to exercise the failure path.
    df = spark.range(100).select(
        F.col("id").cast("int").alias("name_id"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.concat(F.lit("name_"), F.col("id")))
        .alias("name"),
        F.floor(F.rand(42) * 11).cast("int").alias("age"),
        F.concat(F.lit("city_"), F.col("id")).alias("city"),
    )
    return df


def test_completeness_col_ratio_metrics(spark, people):
    mgr = DQManager(spark, dataset="people")
    mgr.set_data(people)
    mgr.add_check(CompletenessColRatioRule(columns=["name", "age", "city"], threshold=0.95))
    res = mgr.run()
    metrics = res.get_metric_results()
    assert metrics.schema == METRIC_SCHEMA
    rows = {r["column"]: r for r in metrics.collect()}
    assert rows["name"]["value_double"] == pytest.approx(0.9)
    assert rows["name"]["value_string"].startswith("FAILURE")
    assert rows["age"]["value_double"] == 1.0
    assert rows["age"]["value_string"].startswith("SUCCESS")
    assert rows["city"]["threshold"] == 0.95


def test_valid_invalid_partition(spark, people):
    mgr = DQManager(spark).set_data(people)
    mgr.add_rule(CompletenessColRatioRule(columns=["name"], threshold=0.5, name="name_nn"))
    res = mgr.run()
    valid = res.get_valid_df()
    invalid = res.get_invalid_df()
    assert valid.count() == 90
    assert invalid.count() == 10
    assert valid.columns == people.columns
    reasons = invalid.select("failed_rules").distinct().collect()
    assert reasons == [Row(failed_rules=["name_nn"])]


def test_scope_condition(spark, people):
    # Only rows with name_id < 50 are in scope; nulls at ids 0,10,20,30,40.
    rule = CompletenessColRatioRule(
        columns=["name"], threshold=1.0, condition="name_id < 50", name="scoped"
    )
    res = DQManager(spark).set_data(people).add_rule(rule).run()
    m = res.get_metric_results().collect()[0]
    assert m["value_double"] == pytest.approx(0.9)  # 45/50
    # Out-of-scope null rows (ids 50..90 step 10) are NOT invalid.
    assert res.get_invalid_df().count() == 5


def test_raw_ratio_threshold_respected(spark, people):
    # Reference bug (completeness_raw_check.py:96): status ignored threshold.
    rule = CompletenessRawRatioRule(columns=["name", "city"], threshold=0.95)
    res = DQManager(spark).set_data(people).add_rule(rule).run()
    m = res.get_metric_results().collect()[0]
    assert m["value_double"] == pytest.approx(0.9)
    assert m["value_string"].startswith("FAILURE")
    assert m["column"] == ""


def test_unique_rule_reference_fixture(spark):
    # FIXTURES.md A2: (1,a),(1,a),(2,b),(2,c) on id.
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (2, "c")], ["id", "name"]
    )
    rule = UniqueRule(columns=["id"], threshold=1.0, exact=True, name="uniq_id")
    res = DQManager(spark).set_data(df).add_rule(rule).run()

    dedup = res.get_deduplicated_df()
    assert sorted(r["id"] for r in dedup.collect()) == [1, 2]

    groups = res.get_group_diagnostics()["uniq_id"]
    assert {(r["id"], r["count"]) for r in groups.collect()} == {(1, 2), (2, 2)}

    m = res.get_metric_results().collect()[0]
    assert m["value_double"] == pytest.approx(0.5)
    assert m["dimension"] == "uniqueness"  # reference mislabeled completeness
    assert m["value_string"].startswith("FAILURE")

    # Row-level: all 4 rows sit in duplicate groups -> all invalid.
    assert res.get_invalid_df().count() == 4
    assert res.get_valid_df().count() == 0


def test_missing_column_raises(spark):
    df = spark.createDataFrame([Row(id=1)])
    rule = UniqueRule(columns=["id", "missing_col"])
    with pytest.raises(ColumnNotFoundError):
        DQManager(spark).set_data(df).add_rule(rule).run()


def test_run_before_set_data_raises(spark):
    with pytest.raises(NoDataError):
        DQManager(spark).run()


def test_fused_single_job(spark, people):
    """All rules' metrics must compile into ONE agg (one expression list)."""
    from pyspark_data_quality_spark.plans import AnalysisRunner

    rules = [
        CompletenessColRatioRule(columns=["name", "age"]),
        CompletenessRawRatioRule(columns=["name", "city"]),
        UniqueRule(columns=["name_id"]),
    ]
    exprs = AnalysisRunner.compile_aggregates(rules)
    # 2 (per-col) + 1 (raw ratio) + 2 (distinct+total) slots, one agg call.
    assert len(exprs) == 5


def test_empty_rules_metrics_empty(spark, people):
    res = DQManager(spark).set_data(people).run()
    metrics = res.get_metric_results()
    assert metrics.count() == 0
    assert metrics.schema == METRIC_SCHEMA


def test_env_config(spark, monkeypatch):
    from pyspark_data_quality_spark import DQManager
    from pyspark_data_quality_spark.core.config import Config

    monkeypatch.setenv("DQ_DATASET", "from_env")
    monkeypatch.setenv("DQ_SEVERITY", "medium")
    cfg = Config()
    assert cfg.dataset == "from_env"
    assert cfg.severity_level == "medium"
    mgr = DQManager(spark)
    assert mgr.dataset == "from_env"
    # explicit arg wins over env
    assert DQManager(spark, dataset="explicit").dataset == "explicit"


def test_shared_rule_reports_each_managers_severity(spark, people):
    # the config default resolves per run, never by mutating the rule: a
    # rule shared by two managers reports each manager's own severity
    from pyspark_data_quality_spark.core.config import Config
    from pyspark_data_quality_spark.core.enums import SeverityLevel

    rule = CompletenessColRatioRule(columns=["name"], threshold=0.5)
    high = DQManager(spark, config=Config(severity_level="high"))
    low = DQManager(spark, config=Config(severity_level="low"))
    high.set_data(people).add_rule(rule)
    low.set_data(people).add_rule(rule)

    def severities(mgr):
        return {
            r["severity_level"]
            for r in mgr.run().get_metric_results().collect()
        }

    assert severities(high) == {"high"}
    assert severities(low) == {"low"}
    assert rule.severity_level is None
    # an explicit rule severity still wins over the manager default
    pinned = CompletenessColRatioRule(
        columns=["name"], severity_level=SeverityLevel.CRITICAL
    )
    assert severities(
        DQManager(spark, config=Config(severity_level="low"))
        .set_data(people)
        .add_rule(pinned)
    ) == {"critical"}


def test_unique_rule_hll_default(spark):
    # default estimator is an HLL sketch: scale-safe, no Expand; value
    # must land within the configured rsd of the exact ratio
    from pyspark_data_quality_spark.operators import UniqueRule

    df = spark.range(20000).selectExpr("id % 5000 AS k")
    approx_rule = UniqueRule(columns=["k"], rsd=0.02)
    exact_rule = UniqueRule(columns=["k"], exact=True)
    res = DQManager(spark).set_data(df)
    m_approx = (
        res.add_rule(approx_rule).run().get_metric_results().collect()[0]
    )
    exact = 5000 / 20000
    assert m_approx["value_double"] == pytest.approx(exact, rel=0.06)  # 3x rsd
    assert "hll" in m_approx["extra_info"]["estimator"]
    m_exact = (
        DQManager(spark).set_data(df).add_rule(exact_rule).run()
        .get_metric_results().collect()[0]
    )
    assert m_exact["value_double"] == exact


def test_unique_rule_sketch_matches_exact(spark):
    """The HLL-sketch path counts what COUNT(DISTINCT a, b, c) counts:
    scoped multi-column keys where out-of-scope rows and NULL-bearing
    keys are skipped, a double key part whose 0.0 / -0.0 and NaN rows
    collapse as in grouping, real duplicates, at ~10 / 5,000 / 200,000
    distinct keys. Exact equality while the sketch is still a coupon
    list; within 3 x rsd once it is in HLL mode."""
    from pyspark_data_quality_spark.functions.expr import hll_lg_k

    rsd = 0.01
    df = spark.range(400_000).selectExpr(
        "id % 10 AS k10",
        "id % 5000 AS k5000",
        "id % 200000 AS k200000",
        # 4 raw values, 3 after -0.0 -> 0.0: the k10 keys vary over
        # them, the larger keys are duplicated with the same value
        "CASE (id DIV 10) % 4 WHEN 0 THEN 0.0D WHEN 1 THEN -0.0D "
        "WHEN 2 THEN CAST('NaN' AS DOUBLE) ELSE 1.5D END AS d",
        "CASE WHEN id % 13 = 0 THEN NULL ELSE 'x' END AS s",
        "id % 11 <> 0 AS in_scope",
    )
    mgr = DQManager(spark).set_data(df)
    for n in (10, 5000, 200_000):
        for exact in (False, True):
            mgr.add_rule(
                UniqueRule(
                    columns=[f"k{n}", "d", "s"], condition="in_scope",
                    exact=exact, rsd=rsd,
                    name=f"u{n}_{'exact' if exact else 'approx'}",
                )
            )
    rows = mgr.run().get_metric_results().collect()
    got = {
        (r["column"], r["extra_info"]["estimator"] == "exact"): r
        for r in rows
    }
    for n in (10, 5000, 200_000):
        col = f"k{n},d,s"
        approx, exact = got[(col, False)], got[(col, True)]
        assert approx["extra_info"]["total"] == exact["extra_info"]["total"]
        a = int(approx["extra_info"]["distinct"])
        e = int(exact["extra_info"]["distinct"])
        if n == 10:
            assert e == 30  # 10 keys x {0.0, NaN, 1.5}
            assert a == e
        else:
            # a few keys lose every row to the scope or a NULL part
            assert 0.95 * n < e <= n
            assert abs(a - e) <= 3 * rsd * e
        assert approx["extra_info"]["estimator"] == (
            f"hll_sketch(lgk=14,rsd={rsd})"
        )

    assert [hll_lg_k(r) for r in (0.3, 0.05, 0.02, 0.01, 0.001)] == [
        4, 9, 12, 14, 21
    ]
    for bad in (0.5, 0.0005, 0.0, float("nan")):
        with pytest.raises(ValueError, match="lgConfigK"):
            UniqueRule(columns=["k10"], rsd=bad)
    UniqueRule(columns=["k10"], rsd=0.5, exact=True)  # rsd unused


def test_rules_from_config_end_to_end(spark):
    """A JSON-shaped suite compiles to rules and runs through the fused
    manager exactly like fluent-API rules."""
    import pytest

    from pyspark_data_quality_spark import DQManager
    from pyspark_data_quality_spark.core.errors import RuleConfigurationError
    from pyspark_data_quality_spark.plans.config import rules_from_config

    df = spark.createDataFrame(
        [(1, 10.0, "US"), (2, -5.0, "DE"), (3, None, "US"), (3, 7.0, "XX")],
        "id int, amount double, country string",
    )
    ref = spark.createDataFrame([("US",), ("DE",)], ["code"])
    suite = [
        {"type": "completeness", "columns": ["amount"], "threshold": 0.9},
        {"type": "range", "column": "amount", "min_value": 0.0,
         "severity_level": "high"},
        {"type": "unique", "columns": ["id"], "exact": True},
        {"type": "predicate", "predicate": "id > 0", "columns": ["id"]},
        {"type": "fk", "columns": ["country"], "ref_table": "codes",
         "ref_columns": ["code"]},
    ]
    rules = rules_from_config(suite, tables={"codes": ref})
    mgr = DQManager(spark, dataset="t", run_id="r").set_data(df)
    for r in rules:
        mgr.add_rule(r)
    res = mgr.run()
    metrics = {r["metric_name"]: r for r in res.get_metric_results().collect()}
    assert metrics["completeness_col_ratio"]["value_double"] == 0.75
    assert metrics["validity_range"]["severity_level"] == "high"
    # invalid split catches the negative amount, the null, the dup id,
    # and the non-FK country
    assert res.get_invalid_df().count() == 3

    with pytest.raises(RuleConfigurationError, match="unknown rule type"):
        rules_from_config([{"type": "nope"}])
    with pytest.raises(RuleConfigurationError, match="bad severity_level"):
        rules_from_config([{"type": "unique", "columns": ["id"],
                            "severity_level": "extreme"}])
    with pytest.raises(RuleConfigurationError, match="ref_table"):
        rules_from_config([{"type": "fk", "columns": ["country"]}])
    with pytest.raises(RuleConfigurationError, match="bad parameters"):
        rules_from_config([{"type": "range", "column": "x",
                            "min_value": 0, "bogus_param": 1}])


def test_dup_rate_by_group(spark):
    from pyspark_data_quality_spark.operators.uniqueness import (
        dup_rate_by_group,
    )

    df = spark.createDataFrame(
        [("s1", 1), ("s1", 1), ("s1", 2), ("s2", 3), (None, 4), (None, 4)],
        "src string, k bigint",
    )
    rows = {r["src"]: r for r in dup_rate_by_group(df, ["k"], ["src"]).collect()}
    assert rows["s1"]["n_rows"] == 3 and rows["s1"]["n_distinct"] == 2
    assert rows["s1"]["dup_ratio"] == pytest.approx(round(1 - 2 / 3, 6))
    assert rows["s2"]["dup_ratio"] == 0.0
    # NULL segment is a segment; duplicate NULL-segment keys count
    assert rows[None]["n_rows"] == 2 and rows[None]["dup_ratio"] == 0.5
    with pytest.raises(ValueError, match="non-empty"):
        dup_rate_by_group(df, [], ["src"])


def test_dedup_keeps_rows_with_null_scope(spark):
    """A NULL scope condition means OUT of scope: the row passes in the
    valid/invalid classification, and get_deduplicated_df must keep it
    too — the un-coalesced predicate used to evaluate NULL and silently
    DROP it from the dedup output only."""
    from pyspark_data_quality_spark.manager import DQManager
    from pyspark_data_quality_spark.operators import RangeRule

    df = spark.createDataFrame(
        [(1, "F", 5.0), (2, None, -1.0), (3, "O", -1.0)],
        ["id", "status", "v"],
    )
    res = (
        DQManager(spark)
        .set_data(df)
        .add_rule(
            RangeRule(
                column="v", min_value=0.0, condition="status = 'F'",
                name="scoped_range",
            )
        )
        .run()
    )
    valid_ids = sorted(r["id"] for r in res.get_valid_df().collect())
    dedup_ids = sorted(
        r["id"] for r in res.get_deduplicated_df().collect()
    )
    # id=2 (NULL status -> NULL scope -> out of scope) passes BOTH ways;
    # id=3 is in-scope-false only if its status matched — it doesn't, so
    # it passes too; nothing may differ between the two accessors
    assert valid_ids == [1, 2, 3]
    assert dedup_ids == valid_ids


def test_run_suite_with_monitor_block(spark, tmp_path):
    """The whole config-driven Deequ loop: N healthy runs through
    run_suite (rules + monitor block), then a degraded run — the
    regression report flags the dropped completeness metric, the
    history carries every written run, and write=false gates the
    append."""
    from pyspark_data_quality_spark.plans.config import (
        RuleConfigurationError,
        run_suite,
    )
    from pyspark_data_quality_spark.sinks import read_metrics

    path = str(tmp_path / "suite_metrics")

    def cfg(run, write=True):
        return {
            "dataset": "t1",
            "run_id": f"r{run:02d}",
            "rules": [{"type": "completeness", "columns": ["id", "name"]}],
            "monitor": {"path": path, "min_periods": 3, "write": write},
        }

    def frame(null_every):
        rows = [
            (i, None if (null_every and i % null_every == 0) else f"n{i}")
            for i in range(1, 101)
        ]
        return spark.createDataFrame(rows, ["id", "name"])

    for run in range(5):
        out = run_suite(spark, frame(100), cfg(run))
        assert out.regressions is not None

    degraded = run_suite(spark, frame(4), cfg(9, write=False))
    rep = {r["column"]: r for r in degraded.regressions.collect()}
    assert rep["name"]["is_regression"]
    assert rep["id"]["status"] == "ok"
    # write=false: the degraded run never entered the history
    hist = read_metrics(spark, path, dataset="t1")
    assert hist.filter("run_id = 'r09'").count() == 0
    assert hist.select("run_id").distinct().count() == 5

    with pytest.raises(RuleConfigurationError, match="no rules"):
        run_suite(spark, frame(None), {"rules": []})
    with pytest.raises(RuleConfigurationError, match="path"):
        run_suite(spark, frame(None),
                  {"rules": [{"type": "completeness", "columns": ["id"]}],
                   "monitor": {}})


def test_run_suite_monitor_guards_and_idempotence(spark, tmp_path):
    """Monitor-block typos fail the suite LOAD (before any scan), the
    dataset used for the history read matches the one written, and a
    retried run_id never double-appends."""
    import warnings as _warnings

    from pyspark_data_quality_spark.plans.config import (
        RuleConfigurationError,
        run_suite,
    )
    from pyspark_data_quality_spark.sinks import read_metrics

    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    path = str(tmp_path / "m")
    base = {"dataset": "t1", "run_id": "rX",
            "rules": [{"type": "completeness", "columns": ["name"]}]}

    with pytest.raises(RuleConfigurationError, match="thresold"):
        run_suite(spark, df, {**base, "monitor": {
            "path": path, "thresold": 2.0}})
    with pytest.raises(RuleConfigurationError, match="direction"):
        run_suite(spark, df, {**base, "monitor": {
            "path": path, "direction": "sideways"}})

    run_suite(spark, df, {**base, "monitor": {"path": path}})
    # retry with the same run_id: append skipped, loudly
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        run_suite(spark, df, {**base, "monitor": {"path": path}})
    assert any("double-weight" in str(x.message) for x in w)
    hist = read_metrics(spark, path, dataset="t1")
    assert hist.filter("run_id = 'rX'").count() == 1
