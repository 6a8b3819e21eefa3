"""Validity / accuracy / consistency / freshness rule tests."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from pyspark_data_quality_spark import DQManager
from pyspark_data_quality_spark.core.enums import Dimension, FreshnessPeriod
from pyspark_data_quality_spark.core.errors import RuleConfigurationError
from pyspark_data_quality_spark.operators import (
    FreshnessRule,
    PredicateRule,
    RangeRule,
    RegexMatchRule,
    SetMembershipRule,
)


@pytest.fixture
def items(spark):
    return spark.createDataFrame(
        [
            (1, "SKU-001", 10.0, "A", "2026-01-01 00:00:00"),
            (2, "SKU-002", -5.0, "B", "2026-01-02 00:00:00"),
            (3, "bad sku", 20.0, "C", "2026-01-03 00:00:00"),
            (4, "SKU-004", 30.0, "Z", "2025-01-01 00:00:00"),
            (5, None, None, "A", None),
        ],
        ["id", "sku", "price", "grade", "updated"],
    ).withColumn("updated", F.col("updated").cast("timestamp"))


def _one_metric(spark, df, rule):
    return DQManager(spark).set_data(df).add_rule(rule).run().get_metric_results().collect()[0]


def test_regex_rule(spark, items):
    m = _one_metric(spark, items, RegexMatchRule(column="sku", pattern="SKU-\\d{3}", threshold=0.9))
    # 3 of 5 match; null sku and 'bad sku' fail.
    assert m["value_double"] == pytest.approx(0.6)
    assert m["dimension"] == "validity"
    assert m["value_string"].startswith("FAILURE")


def test_range_rule_null_fails(spark, items):
    m = _one_metric(spark, items, RangeRule(column="price", min_value=0.0))
    # -5 fails, NULL fails (null-safe): 3/5 pass.
    assert m["value_double"] == pytest.approx(0.6)


def test_set_membership(spark, items):
    m = _one_metric(spark, items, SetMembershipRule(column="grade", allowed=["A", "B", "C"]))
    assert m["value_double"] == pytest.approx(0.8)


def test_predicate_rule_cross_column(spark, items):
    rule = PredicateRule(
        predicate="price > 0 AND grade IN ('A','B','C')",
        dimension=Dimension.CONSISTENCY,
        threshold=0.5,
    )
    m = _one_metric(spark, items, rule)
    assert m["value_double"] == pytest.approx(0.4)  # ids 1,3
    assert m["dimension"] == "consistency"


def test_predicate_rule_joins_split(spark, items):
    mgr = DQManager(spark).set_data(items)
    mgr.add_rule(RangeRule(column="price", min_value=0.0, name="price_ok"))
    mgr.add_rule(RegexMatchRule(column="sku", pattern="SKU-\\d{3}", name="sku_ok"))
    res = mgr.run()
    invalid = {r["id"]: sorted(r["failed_rules"]) for r in res.get_invalid_df().collect()}
    assert invalid == {2: ["price_ok"], 3: ["sku_ok"], 5: ["price_ok", "sku_ok"]}
    assert {r["id"] for r in res.get_valid_df().collect()} == {1, 4}


def test_range_rule_requires_bound():
    with pytest.raises(RuleConfigurationError):
        RangeRule(column="price")


def test_freshness(spark, items):
    rule = FreshnessRule(
        column="updated",
        max_age=5.0,
        period=FreshnessPeriod.DAY,
        now=datetime(2026, 1, 5),
    )
    m = _one_metric(spark, items, rule)
    assert m["value_double"] == pytest.approx(2.0)  # newest = Jan 3, now = Jan 5
    assert m["value_string"].startswith("SUCCESS")
    assert m["dimension"] == "freshness"

    stale = FreshnessRule(
        column="updated", max_age=1.0, period=FreshnessPeriod.DAY, now=datetime(2026, 1, 5)
    )
    m2 = _one_metric(spark, items, stale)
    assert m2["value_string"].startswith("FAILURE")


def test_freshness_row_predicate(spark, items):
    rule = FreshnessRule(
        column="updated", max_age=30.0, period=FreshnessPeriod.DAY,
        now=datetime(2026, 1, 5), name="fresh30d",
    )
    res = DQManager(spark).set_data(items).add_rule(rule).run()
    # id=4 (2025-01-01) and id=5 (null) are stale rows.
    assert {r["id"] for r in res.get_invalid_df().collect()} == {4, 5}


def test_freshness_tz_independent(spark, items):
    # Row classification and the metric must agree in a NON-UTC session tz:
    # both paths compare absolute epochs derived from the same normalized
    # `now` (a naive datetime is declared to mean UTC).
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        rule = FreshnessRule(
            column="updated", max_age=3.0, period=FreshnessPeriod.DAY,
            now=datetime(2026, 1, 5),
        )
        n_fresh = items.filter(rule.row_predicate()).count()
        utc_rule = FreshnessRule(
            column="updated", max_age=3.0, period=FreshnessPeriod.DAY,
            now=datetime(2026, 1, 5, tzinfo=timezone.utc),
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert items.filter(utc_rule.row_predicate()).count() == n_fresh
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_freshness_by_group(spark):
    import datetime as dt

    from pyspark_data_quality_spark.operators.freshness import (
        freshness_by_group,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        ("alive", t0), ("alive", t0 + dt.timedelta(hours=2)),
        ("silent", t0 - dt.timedelta(days=1)), ("silent", t0),
    ]
    df = spark.createDataFrame(rows, "src string, ts timestamp")
    out = {r["src"]: r for r in freshness_by_group(df, "ts", ["src"]).collect()}
    # lag is against the GLOBAL max (alive's latest), not wall clock
    assert out["alive"]["lag_seconds"] == 0.0
    assert out["silent"]["lag_seconds"] == 2 * 3600.0
    assert out["silent"]["n_rows"] == 2
    flagged = {
        r["src"]: r["is_stale"]
        for r in freshness_by_group(
            df, "ts", ["src"], stale_after_seconds=3600
        ).collect()
    }
    assert flagged == {"alive": False, "silent": True}
    with pytest.raises(ValueError):
        freshness_by_group(df, "ts", [])
