"""Rules compiled to SQL text: differential checks against the Column API.

Every built-in rule states its predicates and aggregates as SQL text
(``plans/compile``). These tests pin that the text means what the
``F.lit`` / ``F.col`` trees it replaced meant: literal types and values,
identifiers holding ``.`` or a backtick, Column and callable conditions
(bound as marker columns), and the py4j budget of composing a run.
"""

from __future__ import annotations

import os
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_data_quality_spark import DQManager
from pyspark_data_quality_spark.core.errors import RuleConfigurationError
from pyspark_data_quality_spark.operators import (
    CompletenessColRatioRule,
    CompletenessRawRatioRule,
    FreshnessRule,
    PredicateRule,
    RangeRule,
    ReferentialIntegrityRule,
    RegexMatchRule,
    SetMembershipRule,
    UniqueRule,
)
from pyspark_data_quality_spark.plans.compile import ident, sql_literal

ESCAPES = "spark.sql.parser.escapedStringLiterals"

UTC_PLUS_0530 = timezone(timedelta(hours=5, minutes=30))

#: (column DDL type, rule bound, other column values) — each bound is
#: also the first data value, so equality cases are exercised
LITERALS = [
    ("string", "it's", ["it", "its", "it''s", "zz", None]),
    ("string", "back\\slash\\n", ["back\\slash\n", "back", "c", None]),
    ("string", "naïve ünï 日本 \U0001f600", ["naive", "z", None]),
    ("string", 'dq"uote', ["dq", "e", None]),
    ("double", float("nan"), [0.0, 1.5, float("inf"), None]),
    ("double", float("inf"), [0.0, float("-inf"), float("nan"), None]),
    ("double", float("-inf"), [0.0, float("inf"), None]),
    ("double", -0.0, [0.0, -1e-300, 1e-300, None]),
    ("double", 0.1, [0.1000000001, 0.09999999, 1e300, None]),
    ("bigint", 2**63 - 1, [0, -(2**63), None]),
    ("bigint", -(2**63), [0, 2**63 - 1, None]),
    ("bigint", 2**31, [2**31 - 1, 2**31 + 1, None]),
    ("int", -(2**31), [0, 2**31 - 1, None]),
    ("decimal(12,4)", Decimal("1.50"), [Decimal("1.4999"), Decimal("1.5001"), None]),
    ("decimal(12,4)", Decimal("-0.001"), [Decimal("0"), Decimal("-0.0011"), None]),
    ("date", date(2020, 1, 2), [date(2020, 1, 1), date(2020, 1, 3), None]),
    (
        "timestamp",
        datetime(2020, 1, 2, 3, 4, 5, 678901, tzinfo=timezone.utc),
        [datetime(2020, 1, 2, 3, 4, 5, tzinfo=timezone.utc), None],
    ),
    (
        "timestamp",
        datetime(2020, 1, 2, 3, 4, 5, 1, tzinfo=UTC_PLUS_0530),
        [datetime(2020, 1, 1, 21, 34, 5, 1, tzinfo=timezone.utc), None],
    ),
    ("timestamp", datetime(1969, 12, 31, 23, 59, 59, 999999), [datetime(1970, 1, 1), None]),
]


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return repr(a) == repr(b)
    return a == b


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_sql_literal_types_and_values_match_f_lit(spark, escaped):
    """Each rendered literal has ``F.lit``'s type and value under both
    escape settings (one row, one job per setting)."""
    numpy = [np.int8(-5), np.int16(300), np.int32(7), np.int64(2**40),
             np.float32(1.5), np.float64(0.25), np.bool_(True)]
    values = [v for _, v, _ in LITERALS] + [None, True, 7, b"\x00\xff'", *numpy]
    prev = spark.conf.get(ESCAPES)
    spark.conf.set(ESCAPES, escaped)
    try:
        base = spark.range(1)
        want = base.select(*[F.lit(v).alias(f"v{i}") for i, v in enumerate(values)])
        got = base.selectExpr(*[f"{sql_literal(v)} AS v{i}" for i, v in enumerate(values)])
        # types match; a cast (NaN, infinities) is nullable until folded
        assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
        got_row, want_row = got.first(), want.first()
        for i, v in enumerate(values):
            assert _same(got_row[i], want_row[i]), (v, got_row[i], want_row[i])
    finally:
        spark.conf.set(ESCAPES, prev)


def test_sql_literal_rejects_what_f_lit_rejects():
    assert sql_literal(0.1) == "0.1D"  # a bare 0.1 would parse as DECIMAL
    for bad in (2**63, Decimal("NaN"), object()):
        with pytest.raises(RuleConfigurationError):
            sql_literal(bad)


@pytest.mark.parametrize("escaped", ["false", "true"])
@pytest.mark.parametrize("dtype,bound,others", LITERALS, ids=lambda x: repr(x)[:24])
def test_literal_rules_match_column_expectation(spark, escaped, dtype, bound, others):
    """Range bounds and a set with NULL, compiled as text: the split and
    the metrics equal those of the ``F.lit`` trees they replaced."""
    values = [bound, *others]
    df = spark.createDataFrame(list(enumerate(values)), f"id int, v {dtype}")
    rules = [
        RangeRule(column="v", min_value=bound, name="ge"),
        RangeRule(column="v", max_value=bound, name="le"),
        SetMembershipRule(column="v", allowed=[bound, None], name="in"),
    ]
    v = F.col("v")
    expected = {
        "ge": v >= F.lit(bound),
        "le": v <= F.lit(bound),
        "in": v.isin([bound, None]),
    }
    prev = spark.conf.get(ESCAPES)
    spark.conf.set(ESCAPES, escaped)
    try:
        want = df.select(
            "id", *[F.coalesce(c, F.lit(False)).alias(n) for n, c in expected.items()]
        ).collect()
        mgr = DQManager(spark).set_data(df)
        for r in rules:
            mgr.add_rule(r)
        res = mgr.run()
        got_failed = {r["id"]: sorted(r["failed_rules"]) for r in res.get_invalid_df().collect()}
        got_valid = {r["id"] for r in res.get_valid_df().collect()}
        metrics = [r["value_double"] for r in res.get_metric_results().collect()]
    finally:
        spark.conf.set(ESCAPES, prev)
    want_failed = {
        r["id"]: sorted(n for n in expected if not r[n]) for r in want
    }
    assert got_failed == {i: f for i, f in want_failed.items() if f}
    assert got_valid == {i for i, f in want_failed.items() if not f}
    want_ratios = [sum(r[n] for r in want) / len(want) for n in expected]
    assert metrics == pytest.approx(want_ratios)


def test_rule_specs_render_quoted_typed_text():
    """Range bounds and set members render as typed literals against one
    quoted identifier."""
    rule = RangeRule(column="a.b", min_value=0.5, max_value=Decimal("2.25"))
    assert rule.row_predicate() == "((`a.b` >= 0.5D) AND (`a.b` <= 2.25BD))"
    assert ident("c`d") == "`c``d`"
    s = SetMembershipRule(column="x", allowed=["it's", None, 3])
    assert s.row_predicate() == "(`x` IN (CAST(X'69742773' AS STRING), NULL, 3))"


# -- identifiers with `.` and a backtick -----------------------------------

DOTTED = "a.b"
TICKED = "c`d"
TS = "t.s"


@pytest.fixture
def awkward(spark):
    """Columns whose names need quoting: ``a.b`` (int, a duplicate and a
    NULL), ``c`d`` (string), ``t.s`` (timestamp)."""
    rows = [
        (1, 1, "x", datetime(2026, 1, 4, tzinfo=timezone.utc)),
        (2, 1, "y", datetime(2026, 1, 4, tzinfo=timezone.utc)),
        (3, 2, "x", datetime(2025, 1, 1, tzinfo=timezone.utc)),
        (4, None, None, None),
        (5, 9, "zz", datetime(2026, 1, 3, tzinfo=timezone.utc)),
    ]
    return spark.createDataFrame(
        rows, "id int, `a.b` int, `c``d` string, `t.s` timestamp"
    )


def _every_rule_type(ref_df, col, text_col):
    return [
        CompletenessColRatioRule(columns=[col], threshold=0.9),
        CompletenessRawRatioRule(columns=[col, text_col], threshold=0.9),
        UniqueRule(columns=[col]),
        UniqueRule(columns=[col, text_col], exact=True),
        RangeRule(column=col, min_value=1, max_value=5),
        SetMembershipRule(column=col, allowed=[1, 2]),
        RegexMatchRule(column=text_col, pattern="[xy]"),
        PredicateRule(predicate=f"{ident(col)} < 9", columns=[col]),
        FreshnessRule(
            column=TS, max_age=2.0, now=datetime(2026, 1, 5, tzinfo=timezone.utc)
        ),
        ReferentialIntegrityRule(columns=[col], ref_df=ref_df, ref_columns=["r.k"]),
    ]


@pytest.mark.parametrize("col", [DOTTED, TICKED])
def test_every_rule_type_on_names_needing_quotes(spark, awkward, col):
    """A name holding ``.`` is one column, not struct access, and a
    backtick is doubled: metrics, split, dedup and diagnostics all run."""
    text_col = TICKED if col == DOTTED else DOTTED
    df = awkward.select(  # the int key under `col`, the strings under text_col
        "id",
        F.col("`a.b`").alias(col),
        F.col("`c``d`").alias(text_col),
        F.col("`t.s`").alias(TS),
    )
    ref = spark.createDataFrame([(1,), (2,), (5,)], "`r.k` int")
    mgr = DQManager(spark).set_data(df)
    rules = _every_rule_type(ref, col, text_col)
    for r in rules:
        mgr.add_rule(r)
    res = mgr.run()
    metrics = res.get_metric_results().collect()
    assert len(metrics) == len(rules)
    by_name = {r["metric_name"]: r["value_double"] for r in metrics}
    assert by_name["completeness_col_ratio"] == pytest.approx(0.8)
    assert by_name["validity_range"] == pytest.approx(0.6)  # 1, 1, 2 in range
    assert by_name["validity_set"] == pytest.approx(0.6)
    assert by_name["referential_integrity"] == pytest.approx(0.6)
    valid = {r["id"] for r in res.get_valid_df().collect()}
    invalid = {r["id"] for r in res.get_invalid_df().collect()}
    assert valid | invalid == {1, 2, 3, 4, 5} and not valid & invalid
    assert res.get_valid_df().columns == df.columns
    assert res.get_deduplicated_df().columns == df.columns
    res.get_deduplicated_df().collect()
    dup = res.get_group_diagnostics()
    assert {tuple(r) for r in dup[rules[2].name].collect()} == {(1, 2)}


# -- Column and callable conditions ------------------------------------------


def _outputs(spark, df, rules):
    mgr = DQManager(spark).set_data(df)
    for r in rules:
        mgr.add_rule(r)
    res = mgr.run()
    return (
        sorted((r["metric_name"], r["value_double"]) for r in res.get_metric_results().collect()),
        sorted((r["id"], tuple(r["failed_rules"])) for r in res.get_invalid_df().collect()),
        sorted(r["id"] for r in res.get_valid_df().collect()),
        sorted(r["id"] for r in res.get_deduplicated_df().collect()),
        res.get_invalid_df().columns,
    )


@pytest.mark.parametrize("form", ["column", "callable"])
def test_column_and_callable_conditions_match_sql_text(spark, awkward, form):
    """A Column or callable scope and a Column or callable predicate are
    bound once as marker columns: every output equals the same rules
    with SQL-string conditions, and no marker leaks into an output."""
    df = awkward.withColumnRenamed("a.b", "k").withColumnRenamed("c`d", "s")
    scope_sql, pred_sql = "s <> 'zz'", "k < 2"
    scope_col, pred_col = F.col("s") != "zz", F.col("k") < 2
    as_form = (lambda c: c) if form == "column" else (lambda c: (lambda frame: c))

    def rules(scope, pred):
        return [
            CompletenessColRatioRule(columns=["k"], condition=scope, name="nn"),
            UniqueRule(columns=["k"], condition=scope, name="uq"),
            PredicateRule(predicate=pred, condition=scope, name="pr"),
            RangeRule(column="k", min_value=1, condition=scope, name="rg"),
        ]

    want = _outputs(spark, df, rules(scope_sql, pred_sql))
    got = _outputs(spark, df, rules(as_form(scope_col), as_form(pred_col)))
    assert got == want
    assert want[4] == [*df.columns, "failed_rules"]
    # the diagnostic paths bind the marker themselves
    uq = rules(as_form(scope_col), as_form(pred_col))[1]
    assert {tuple(r) for r in uq.group_diagnostics(df).collect()} == {(1, 2)}
    assert uq.deduplicated(df).columns == df.columns


def test_callable_condition_must_return_column(spark, awkward):
    rule = CompletenessColRatioRule(columns=["id"], condition=lambda frame: "id > 1")
    with pytest.raises(RuleConfigurationError):
        DQManager(spark).set_data(awkward).add_rule(rule).run().get_valid_df()
    with pytest.raises(RuleConfigurationError):
        CompletenessColRatioRule(columns=["id"], condition=42)


# -- compose budget ----------------------------------------------------------

#: py4j commands allowed for composing one run of perfbench's 7-rule set:
#: build the manager and rules, run(), the metrics aggregate and the
#: annotation. Column-built trees took ~1,350 for the last two alone.
COMPOSE_BUDGET = 200


def test_compose_py4j_budget(spark, sf_dir):
    """Composing the fused aggregate plus the annotated frame for the
    ``quarantine_batches`` rule set stays within COMPOSE_BUDGET py4j
    commands (warmed); building the rules sends none."""
    from perfbench.workloads import _rules

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    client = spark.sparkContext._gateway._gateway_client
    sent = [0]
    send = client.send_command

    def counting(*a, **k):
        sent[0] += 1
        return send(*a, **k)

    counts = []
    for _ in range(2):
        batch = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        client.send_command = counting
        try:
            sent[0] = 0
            rules = _rules(orders)
            built = sent[0]
            mgr = DQManager(spark, dataset="b").set_data(batch)
            for r in rules:
                mgr.add_rule(r)
            res = mgr.run()
            compiled = res._compiled
            compiled.prepared.selectExpr(*compiled.aggregates)
            res.annotated_df()
            counts.append((built, sent[0]))
        finally:
            client.send_command = send
    built, total = counts[-1]
    assert built == 0, counts
    assert total <= COMPOSE_BUDGET, counts
