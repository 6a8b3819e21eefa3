"""ReferentialIntegrityRule tests: metrics, valid/invalid split, null FK
semantics, orphan diagnostics, and composition with other rules in the
fused pass."""

import re

import pytest
from pyspark.sql import functions as F

from pyspark_data_quality_spark import DQManager
from pyspark_data_quality_spark.core.errors import RuleConfigurationError
from pyspark_data_quality_spark.operators import (
    CompletenessColRatioRule,
    ReferentialIntegrityRule,
)


@pytest.fixture
def facts(spark):
    rows = [
        (1, 10, "a"),
        (2, 20, "b"),
        (3, 99, "c"),     # orphan FK
        (4, None, "d"),   # NULL FK
        (5, 20, None),    # valid FK, null payload
    ]
    return spark.createDataFrame(rows, ["id", "dim_id", "payload"])


@pytest.fixture
def dim(spark):
    # duplicate key on purpose: the rule must not fan out fact rows
    return spark.createDataFrame(
        [(10, "x"), (20, "y"), (20, "y2"), (30, "z")], ["dim_key", "name"]
    )


def test_fk_metrics_and_split(spark, facts, dim):
    rule = ReferentialIntegrityRule(
        columns=["dim_id"], ref_df=dim, ref_columns=["dim_key"], name="fk_dim"
    )
    res = DQManager(spark).set_data(facts).add_rule(rule).run()

    m = res.get_metric_results().collect()[0]
    assert m["metric_name"] == "referential_integrity"
    assert m["dimension"] == "consistency"
    assert m["value_double"] == pytest.approx(3 / 5)
    assert m["value_string"].startswith("FAILURE")

    valid_ids = sorted(r["id"] for r in res.get_valid_df().collect())
    assert valid_ids == [1, 2, 5]  # join must not duplicate id=2/5 (dup ref key)
    assert res.annotated_df().count() == 5
    invalid = {r["id"]: r["failed_rules"] for r in res.get_invalid_df().collect()}
    assert set(invalid) == {3, 4}
    assert invalid[3] == ["fk_dim"]
    # no helper/marker columns leak into outputs
    assert set(res.get_valid_df().columns) == {"id", "dim_id", "payload"}


def test_fk_ignore_nulls(spark, facts, dim):
    rule = ReferentialIntegrityRule(
        columns=["dim_id"], ref_df=dim, ref_columns=["dim_key"],
        ignore_nulls=True,
    )
    res = DQManager(spark).set_data(facts).add_rule(rule).run()
    assert res.get_metric_results().collect()[0]["value_double"] == pytest.approx(4 / 5)
    assert sorted(r["id"] for r in res.get_valid_df().collect()) == [1, 2, 4, 5]


def test_fk_composes_with_other_rules(spark, facts, dim):
    rules = [
        ReferentialIntegrityRule(
            columns=["dim_id"], ref_df=dim, ref_columns=["dim_key"], name="fk"
        ),
        CompletenessColRatioRule(columns=["payload"], name="nn"),
    ]
    mgr = DQManager(spark).set_data(facts)
    for r in rules:
        mgr.add_rule(r)
    res = mgr.run()
    metrics = {m["metric_name"]: m["value_double"] for m in res.get_metric_results().collect()}
    assert metrics["referential_integrity"] == pytest.approx(3 / 5)
    assert metrics["completeness_col_ratio"] == pytest.approx(4 / 5)
    inv = {r["id"]: sorted(r["failed_rules"]) for r in res.get_invalid_df().collect()}
    assert inv == {3: ["fk"], 4: ["fk"], 5: ["nn"]}


def test_fk_orphan_keys(spark, facts, dim):
    rule = ReferentialIntegrityRule(
        columns=["dim_id"], ref_df=dim, ref_columns=["dim_key"]
    )
    orphans = {(r["dim_id"], r["count"]) for r in rule.orphan_keys(facts).collect()}
    assert orphans == {(99, 1), (None, 1)}


def test_fk_config_errors(spark, dim):
    with pytest.raises(RuleConfigurationError):
        ReferentialIntegrityRule(columns=[], ref_df=dim)
    with pytest.raises(RuleConfigurationError):
        ReferentialIntegrityRule(
            columns=["a", "b"], ref_df=dim, ref_columns=["dim_key"]
        )


def test_fk_broadcast_plan(spark, facts, dim):
    rule = ReferentialIntegrityRule(
        columns=["dim_id"], ref_df=dim, ref_columns=["dim_key"]
    )
    plan = rule.prepare(facts)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # zero fact-side shuffle


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_fk_composite_keys(spark):
    facts = spark.createDataFrame(
        [(1, 1, "x"), (2, 1, "y"), (3, 2, "x"), (4, None, "x"), (5, 3, "z")],
        "id int, a int, b string",
    )
    # (1, 'y') exists only split across rows: a=1 and b='y' never pair up.
    # (NULL, 'x') is in the reference too, yet fact 4 (NULL, 'x') must
    # still fail: the struct probe compares per column, and NULL = NULL
    # is not a match
    ref = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "x"), (2, "y"), (3, "z"), (None, "x")],
        "ra int, rb string",
    )
    rule = ReferentialIntegrityRule(
        columns=["a", "b"], ref_df=ref, ref_columns=["ra", "rb"], name="fk_ab"
    )
    res = DQManager(spark).set_data(facts).add_rule(rule).run()
    assert res.get_metric_results().collect()[0]["value_double"] == pytest.approx(3 / 5)
    assert _ids(res.get_valid_df()) == [1, 3, 5]
    assert {r["id"]: r["failed_rules"] for r in res.get_invalid_df().collect()} == {
        2: ["fk_ab"], 4: ["fk_ab"],
    }
    orphans = {(r["a"], r["b"], r["count"]) for r in rule.orphan_keys(facts).collect()}
    assert orphans == {(1, "y", 1), (None, "x", 1)}
    plan = rule.prepare(facts)._jdf.queryExecution().executedPlan().toString()
    assert "ExistenceJoin" in plan and "BroadcastHashJoin" in plan
    assert re.search(r"BroadcastHashJoin \[a#\d+, b#\d+\], \[ra#\d+, rb#\d+\]", plan)


def test_fk_null_reference_key(spark, facts):
    """A NULL among the reference keys matches nothing: an IN-subquery's
    unknown result for an unmatched key still counts as a failure, and a
    matched key still passes."""
    ref = spark.createDataFrame([(10,), (None,), (20,)], "dim_key int")
    rule = ReferentialIntegrityRule(
        columns=["dim_id"], ref_df=ref, ref_columns=["dim_key"]
    )
    res = DQManager(spark).set_data(facts).add_rule(rule).run()
    assert res.get_metric_results().collect()[0]["value_double"] == pytest.approx(3 / 5)
    assert _ids(res.get_valid_df()) == [1, 2, 5]
    assert _ids(res.get_invalid_df()) == [3, 4]
    orphans = {(r["dim_id"], r["count"]) for r in rule.orphan_keys(facts).collect()}
    assert orphans == {(99, 1), (None, 1)}

    lenient = ReferentialIntegrityRule(
        columns=["dim_id"], ref_df=ref, ref_columns=["dim_key"], ignore_nulls=True
    )
    res = DQManager(spark).set_data(facts).add_rule(lenient).run()
    assert _ids(res.get_valid_df()) == [1, 2, 4, 5]


def test_fk_int_against_long_reference(spark):
    facts = spark.createDataFrame([(1, 7), (2, 8), (3, None)], "id int, fk int")
    ref = spark.createDataFrame([(7,), (2**40,)], "key bigint")
    rule = ReferentialIntegrityRule(columns=["fk"], ref_df=ref, ref_columns=["key"])
    res = DQManager(spark).set_data(facts).add_rule(rule).run()
    assert _ids(res.get_valid_df()) == [1]
    assert _ids(res.get_invalid_df()) == [2, 3]


def _fk_plan(spark, facts, dim, broadcast, threshold):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    try:
        rule = ReferentialIntegrityRule(
            columns=["dim_id"], ref_df=dim, ref_columns=["dim_key"],
            broadcast=broadcast,
        )
        prepared = rule.prepare(facts)
        plan = prepared._jdf.queryExecution().executedPlan().toString()
        ok = {r["id"] for r in prepared.filter(F.col(rule._marker)).collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert ok == {1, 2, 5}
    assert "ExistenceJoin" in plan
    return plan


def test_fk_broadcast_hint_overrides_disabled_threshold(spark, facts, dim):
    plan = _fk_plan(spark, facts, dim, broadcast=True, threshold="-1")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "hashpartitioning" not in plan


def test_fk_no_broadcast_leaves_join_to_planner(spark, facts):
    # a Range reference carries size statistics the planner can act on
    dim = spark.range(0, 40, 10).toDF("dim_key")
    shuffled = _fk_plan(spark, facts, dim, broadcast=False, threshold="-1")
    assert "SortMergeJoin" in shuffled and "BroadcastHashJoin" not in shuffled
    small = _fk_plan(spark, facts, dim, broadcast=False, threshold="10MB")
    assert "BroadcastHashJoin" in small


def test_fd_violations(spark):
    from pyspark_data_quality_spark.operators.consistency import fd_violations

    df = spark.createDataFrame(
        [
            ("10001", "Springfield"),
            ("10001", "Springfield"),
            ("10002", "Shelbyville"),
            ("10002", "Ogdenville"),   # zip -> city violated
            ("10003", None),           # null dependent: not a violation alone
            ("10003", "CapitalCity"),
        ],
        "zip string, city string",
    )
    rows = {
        r["zip"]: r
        for r in fd_violations(df, ["zip"], "city", max_examples=2).collect()
    }
    assert set(rows) == {"10002"}
    assert rows["10002"]["n_distinct"] == 2
    assert rows["10002"]["examples"] == ["Ogdenville", "Shelbyville"]


def test_sequence_gaps(spark):
    from pyspark_data_quality_spark.operators.consistency import sequence_gaps

    rows = [("a", 1), ("a", 2), ("a", 5), ("a", 6), ("b", 10), ("b", 14), ("c", 3)]
    df = spark.createDataFrame(rows, "grp string, seq int")
    got = {
        (r["grp"], r["gap_after"], r["gap_before"]): r["n_missing"]
        for r in sequence_gaps(df, "seq", ["grp"]).collect()
    }
    assert got == {("a", 2, 5): 2, ("b", 10, 14): 3}

    # step > 1: even ids, one missing
    evens = spark.createDataFrame([("x", 0), ("x", 2), ("x", 6)], "grp string, seq int")
    g = sequence_gaps(evens, "seq", ["grp"], step=2).collect()
    assert len(g) == 1 and g[0]["n_missing"] == 1

    # the window must be partitioned by the group columns (no global sort)
    plan = sequence_gaps(df, "seq", ["grp"])._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if ln.lstrip(" +-:").startswith("Window ")]
    assert win_lines and all("grp" in ln for ln in win_lines)


def test_sequence_completeness(spark):
    from pyspark_data_quality_spark.operators.consistency import (
        sequence_completeness,
    )

    rows = [("a", 1), ("a", 2), ("a", 5), ("b", 7), ("b", 7)]
    df = spark.createDataFrame(rows, "grp string, seq int")
    got = {
        r["grp"]: (r["n_expected"], r["n_actual"], r["n_missing"])
        for r in sequence_completeness(df, "seq", ["grp"]).collect()
    }
    assert got["a"] == (5, 3, 2)   # 1..5 expected, {1,2,5} present
    assert got["b"] == (1, 1, 0)   # duplicates don't inflate n_actual


def test_monotonicity_report_hand_computed(spark):
    import pytest

    from pyspark_data_quality_spark.operators.consistency import (
        monotonicity_report,
    )

    rows = [
        ("a", 1, 10.0), ("a", 2, 12.0), ("a", 3, 11.0), ("a", 4, None),
        ("b", 1, 5.0), ("b", 2, 5.0), ("b", 3, 6.0),
        ("c", 1, 9.0),
    ]
    df = spark.createDataFrame(rows, "k string, o int, v double")
    got = {r["k"]: r for r in monotonicity_report(
        df, "o", "v", group_cols=["k"]).collect()}
    assert got["a"]["n_violations"] == 1 and got["a"]["is_monotonic"] is False
    assert got["a"]["violation_rate"] == pytest.approx(round(1 / 3, 6))
    assert got["b"]["n_violations"] == 0 and got["b"]["is_monotonic"] is True
    assert got["c"]["n_violations"] == 0  # singleton: no transitions
    assert got["c"]["violation_rate"] is None  # 0 transitions -> NULL rate

    desc = {r["k"]: r for r in monotonicity_report(
        df, "o", "v", group_cols=["k"], direction="nonincreasing").collect()}
    assert desc["a"]["n_violations"] == 1  # 10 -> 12 rises
    assert desc["b"]["n_violations"] == 1  # 5 -> 6 rises

    with pytest.raises(ValueError, match="unknown direction"):
        monotonicity_report(df, "o", "v", group_cols=["k"], direction="up")
    with pytest.raises(ValueError, match="group_cols"):
        monotonicity_report(df, "o", "v", group_cols=[])


def test_null_runs_islands(spark):
    from pyspark_data_quality_spark.operators.consistency import null_runs

    # series per key: nulls at positions 2,3 and 6 (k=a); none for k=b
    rows = [
        ("a", 1, 1.0), ("a", 2, None), ("a", 3, None), ("a", 4, 4.0),
        ("a", 5, 5.0), ("a", 6, None),
        ("b", 1, 1.0), ("b", 2, 2.0),
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    runs = null_runs(df, ["t"], "v", ["k"]).collect()
    got = [(r["k"], r["start_t"], r["end_t"], r["run_length"]) for r in runs]
    assert got == [("a", 2, 3, 2), ("a", 6, 6, 1)]
    # min_length filters the singleton run
    long_runs = null_runs(df, ["t"], "v", ["k"], min_length=2).collect()
    assert [(r["start_t"], r["run_length"]) for r in long_runs] == [(2, 2)]
    # all-null series: one run covering everything
    allnull = spark.createDataFrame(
        [("a", i, None) for i in range(1, 5)], "k string, t int, v double"
    )
    r = null_runs(allnull, ["t"], "v", ["k"]).first()
    assert (r["start_t"], r["end_t"], r["run_length"]) == (1, 4, 4)
    # empty input + validation
    e = spark.createDataFrame([], "k string, t int, v double")
    assert null_runs(e, ["t"], "v", ["k"]).count() == 0
    with pytest.raises(ValueError):
        null_runs(df, [], "v")


def test_merge_duplicates_policies(spark):
    from pyspark_data_quality_spark.operators.merge import merge_duplicates

    rows = [
        ("g1", 3, "web", 10, None),
        ("g1", 1, "book", 30, "x"),
        ("g1", 2, "web", 20, None),
        ("g2", 5, "news", 7, "y"),
    ]
    df = spark.createDataFrame(
        rows, "g string, id bigint, src string, n int, tag string"
    )
    out = {
        r["g"]: r
        for r in merge_duplicates(
            df, "g", "id",
            {"src": "most_common", "n": "max",
             "tag": "first_non_null"},
        ).collect()
    }
    g1 = out["g1"]
    assert g1["id"] == 1 and g1["n_records"] == 3
    assert g1["src"] == "web"          # modal value (2 of 3)
    assert g1["n"] == 30               # max
    assert g1["tag"] == "x"            # smallest id with non-null tag
    assert out["g2"]["n_records"] == 1

    # min_group_size=2 drops singletons
    dups = merge_duplicates(
        df, "g", "id", {"n": "sum"}, min_group_size=2
    ).collect()
    assert len(dups) == 1 and dups[0]["n"] == 60

    # modal tie breaks to the SMALLER value (deterministic golden record)
    tie = spark.createDataFrame(
        [("g", 1, "b"), ("g", 2, "a")], "g string, id bigint, src string"
    )
    assert merge_duplicates(
        tie, "g", "id", {"src": "most_common"}
    ).first()["src"] == "a"

    # NULL never competes for the mode: a NULL-modal group still elects
    # the best real value; only an all-NULL group merges to NULL
    nullish = spark.createDataFrame(
        [("g1", 1, None), ("g1", 2, None), ("g1", 3, "web"),
         ("g2", 4, None), ("g2", 5, None)],
        "g string, id bigint, src string",
    )
    got = {
        r["g"]: r["src"]
        for r in merge_duplicates(
            nullish, "g", "id", {"src": "most_common"}
        ).collect()
    }
    assert got["g1"] == "web" and got["g2"] is None

    # a NULL group KEY is a group of its own and still receives its
    # elected mode (null-safe join back)
    nullkey = spark.createDataFrame(
        [(None, 1, "web"), (None, 2, "web"), (None, 3, "api")],
        "g string, id bigint, src string",
    )
    nk = merge_duplicates(nullkey, "g", "id", {"src": "most_common"}).first()
    assert nk["g"] is None and nk["src"] == "web" and nk["n_records"] == 3

    with pytest.raises(ValueError):
        merge_duplicates(df, "g", "id", {})
    with pytest.raises(ValueError):
        merge_duplicates(df, "g", "id", {"nope": "max"})
    with pytest.raises(ValueError):
        merge_duplicates(df, "g", "id", {"n": "median"})


def test_interval_overlaps_sweep(spark):
    """Hand-built calendar: chains, touching intervals (half-open: NOT
    overlapping), containment, invalid rows excluded from the sweep,
    and per-group isolation."""
    from pyspark_data_quality_spark.operators.consistency import (
        interval_overlaps,
    )

    rows = [
        # room A: [0,10) [10,20) touch -> no overlap; [15,30) overlaps
        # the second; [18,19) nested inside the third
        ("A", 1, 0.0, 10.0),
        ("A", 2, 10.0, 20.0),
        ("A", 3, 15.0, 30.0),
        ("A", 4, 18.0, 19.0),
        # room B: same times, isolated from A; one invalid (end<start)
        ("B", 5, 0.0, 10.0),
        ("B", 6, 5.0, 7.0),
        ("B", 7, 6.0, 4.0),     # invalid: must not poison the sweep
        ("B", 8, 9.0, 12.0),
        # NULL endpoint: invalid, unscored
        ("B", 9, None, 20.0),
    ]
    df = spark.createDataFrame(rows, "room string, id int, s double, e double")
    out = {
        r["id"]: r
        for r in interval_overlaps(df, "s", "e", group_cols=["room"]).collect()
    }
    assert not out[1]["is_overlap"] and out[1]["overlap_amount"] == 0.0
    assert not out[2]["is_overlap"]  # touching at 10: half-open
    assert out[3]["is_overlap"] and out[3]["overlap_amount"] == 5.0  # 15..20
    assert out[4]["is_overlap"] and out[4]["overlap_amount"] == 1.0  # nested
    assert not out[5]["is_overlap"]  # room B starts fresh
    assert out[6]["is_overlap"] and out[6]["overlap_amount"] == 2.0  # 5..7
    assert out[7]["is_invalid"] and not out[7]["is_overlap"]
    # id=8 starts at 9 < running max 10 (id=5's end; id=7 contributed
    # nothing despite ending later in sort order)
    assert out[8]["is_overlap"] and out[8]["overlap_amount"] == 1.0
    assert out[9]["is_invalid"] and not out[9]["is_overlap"]

    # timestamp endpoints: overlap_amount in seconds
    tdf = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
         (2, "2024-01-01 00:30:00", "2024-01-01 02:00:00")],
        "id int, s string, e string",
    ).select("id", F.col("s").cast("timestamp").alias("s"),
             F.col("e").cast("timestamp").alias("e"))
    tout = {r["id"]: r for r in interval_overlaps(tdf, "s", "e").collect()}
    assert tout[2]["is_overlap"] and tout[2]["overlap_amount"] == 1800.0

    # a same-named OUTPUT column would be silently clobbered — refuse;
    # internal-looking names are NOT reserved (the sweep is expressions)
    with pytest.raises(ValueError, match="is_overlap"):
        interval_overlaps(df.withColumn("is_overlap", F.lit(1)), "s", "e")
    assert interval_overlaps(
        df.withColumn("_pme", F.lit(1)), "s", "e", group_cols=["room"]
    ).count() == len(rows)


def test_interval_overlaps_id_col_tiebreak(spark):
    """Duplicate intervals tie on (start, end); without a tiebreaker
    WHICH of the pair gets flagged is unspecified. id_col= pins it: the
    id-later row sees the id-earlier row's end in its prefix and is the
    flagged one — deterministically, run after run."""
    from pyspark_data_quality_spark.operators.consistency import (
        interval_overlaps,
    )

    rows = [("A", 2, 5.0, 9.0), ("A", 1, 5.0, 9.0), ("A", 3, 20.0, 21.0)]
    df = spark.createDataFrame(rows, "g string, id int, s double, e double")
    for _ in range(3):  # stable across repeated runs
        out = {
            r["id"]: r
            for r in interval_overlaps(
                df, "s", "e", group_cols=["g"], id_col="id"
            ).collect()
        }
        assert not out[1]["is_overlap"]  # id=1 sorts first among the tie
        assert out[2]["is_overlap"] and out[2]["overlap_amount"] == 4.0
        assert not out[3]["is_overlap"]
    # either way exactly one of the tied pair is flagged (the aggregate
    # reading id_col exists to stabilise, not change)
    n = (
        interval_overlaps(df, "s", "e", group_cols=["g"])
        .filter("is_overlap").count()
    )
    assert n == 1


def test_merge_intervals_spans(spark):
    """Union of intervals per group: chains and containment merge,
    TOUCHING intervals merge (half-open coverage has no gap at the
    shared endpoint), disjoint spans stay separate, invalid rows are
    excluded, groups isolated, timestamps keep native span bounds."""
    from pyspark_data_quality_spark.operators.consistency import (
        merge_intervals,
    )

    rows = [
        ("A", 0.0, 10.0), ("A", 10.0, 20.0),   # touch -> one span
        ("A", 15.0, 30.0),                     # chains into it
        ("A", 18.0, 19.0),                     # contained
        ("A", 40.0, 50.0),                     # disjoint second span
        ("B", 5.0, 6.0),
        ("B", 7.0, 3.0),                       # invalid: excluded
        ("B", None, 9.0),                      # invalid: excluded
    ]
    df = spark.createDataFrame(rows, "g string, s double, e double")
    out = merge_intervals(df, "s", "e", group_cols=["g"]).collect()
    spans = [(r["g"], r["span_start"], r["span_end"], r["n_intervals"],
              r["span_length"]) for r in out]
    assert spans == [
        ("A", 0.0, 30.0, 4, 30.0),
        ("A", 40.0, 50.0, 1, 10.0),
        ("B", 5.0, 6.0, 1, 1.0),
    ]

    # timestamps: native bounds, span_length in seconds
    tdf = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
         (2, "2024-01-01 00:30:00", "2024-01-01 02:00:00"),
         (3, "2024-01-01 05:00:00", "2024-01-01 05:30:00")],
        "id int, s string, e string",
    ).select(F.col("s").cast("timestamp").alias("s"),
             F.col("e").cast("timestamp").alias("e"))
    tout = merge_intervals(tdf, "s", "e").collect()
    assert len(tout) == 2
    assert str(tout[0]["span_start"]) == "2024-01-01 00:00:00"
    assert str(tout[0]["span_end"]) == "2024-01-01 02:00:00"
    assert tout[0]["span_length"] == 7200.0
    assert tout[1]["n_intervals"] == 1

    with pytest.raises(ValueError, match="span_start"):
        merge_intervals(df.withColumn("span_start", F.lit(1)), "s", "e")


def test_scd_chain_audit(spark):
    """Hand-built SCD histories: clean closed-then-current chain, a gap,
    an overlap, double-current, invalid rows excluded, open-version
    sweep as +inf."""
    from pyspark_data_quality_spark.operators.consistency import (
        scd_chain_audit,
    )

    rows = [
        # k1: clean chain [0,10) [10,20) [20,None) -> ok
        ("k1", 0.0, 10.0), ("k1", 10.0, 20.0), ("k1", 20.0, None),
        # k2: gap between 10 and 15
        ("k2", 0.0, 10.0), ("k2", 15.0, None),
        # k3: overlap (second starts before first ends)
        ("k3", 0.0, 10.0), ("k3", 5.0, None),
        # k4: TWO open versions; the second overlaps the first's +inf
        ("k4", 0.0, None), ("k4", 5.0, None),
        # k5: invalid (end<start) + NULL start; survivors clean
        ("k5", 10.0, 5.0), ("k5", None, 30.0), ("k5", 0.0, None),
        # k6: retired key, closed chain, zero current -> still ok
        ("k6", 0.0, 5.0), ("k6", 5.0, 9.0),
    ]
    df = spark.createDataFrame(rows, "k string, s double, e double")
    out = {r["k"]: r for r in scd_chain_audit(df, ["k"], "s", "e").collect()}
    assert out["k1"]["chain_ok"] and out["k1"]["n_current"] == 1
    assert out["k1"]["n_overlaps"] == 0 and out["k1"]["n_gaps"] == 0
    assert not out["k2"]["chain_ok"]
    assert out["k2"]["n_gaps"] == 1 and out["k2"]["gap_total"] == 5.0
    assert not out["k3"]["chain_ok"] and out["k3"]["n_overlaps"] == 1
    assert not out["k4"]["chain_ok"]
    assert out["k4"]["n_current"] == 2 and out["k4"]["n_overlaps"] == 1
    assert not out["k5"]["chain_ok"] and out["k5"]["n_invalid"] == 2
    assert out["k5"]["n_overlaps"] == 0  # invalid rows unscored
    assert out["k6"]["chain_ok"] and out["k6"]["n_current"] == 0

    with pytest.raises(ValueError, match="key_cols"):
        scd_chain_audit(df, [], "s", "e")
    with pytest.raises(ValueError, match="chain_ok"):
        scd_chain_audit(df.withColumn("chain_ok", F.lit(1)), ["k"], "s", "e")


def test_implication_report_fused(spark):
    """Hand-built implications: support/confidence math, NULL predicate
    = false, never-fired antecedent -> NULL confidence; the whole rule
    list runs as ONE aggregation job."""
    from pyspark_data_quality_spark.operators.consistency import (
        implication_report,
    )

    df = spark.createDataFrame(
        [("R", "F", 10.0), ("R", "F", 5.0), ("R", "O", 1.0),
         ("N", "O", 2.0), ("N", None, 3.0)],
        "flag string, status string, v double",
    )
    rules = [
        ("returned_final", "flag = 'R'", "status = 'F'"),
        ("null_status_cheap", "status IS NULL", "v < 10"),
        ("never_fires", "flag = 'Z'", "v > 0"),
    ]
    out = {r["rule"]: r for r in implication_report(df, rules).collect()}
    rf = out["returned_final"]
    assert rf["n_rows"] == 5 and rf["n_antecedent"] == 3
    assert rf["n_violations"] == 1
    assert rf["support"] == 0.6
    assert rf["confidence"] == pytest.approx(round(2 / 3, 6))
    assert out["null_status_cheap"]["n_antecedent"] == 1
    assert out["null_status_cheap"]["n_violations"] == 0
    nf = out["never_fires"]
    assert nf["n_antecedent"] == 0 and nf["confidence"] is None

    sc = spark.sparkContext
    before = sc.statusTracker().getJobIdsForGroup(None)
    implication_report(df, rules).collect()
    after = sc.statusTracker().getJobIdsForGroup(None)
    assert len(after) - len(before) <= 2  # one fused agg (+ AQE stage)

    with pytest.raises(ValueError, match="distinct"):
        implication_report(df, [("a", "1=1", "1=1"), ("a", "1=1", "1=1")])
    with pytest.raises(ValueError, match="non-empty"):
        implication_report(df, [])


def test_agreement_report_hand_checked(spark):
    """Cohen's kappa against a hand-computed confusion matrix, NULL
    exclusion, and the constant-rater NULL convention."""
    from pyspark_data_quality_spark.operators.consistency import (
        agreement_report,
    )

    # confusion: yes/yes 4, yes/no 1, no/yes 1, no/no 4 -> n=10
    rows = (
        [("y", "y")] * 4 + [("y", "n")] + [("n", "y")] + [("n", "n")] * 4
        + [(None, "y"), ("y", None)]                     # excluded
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = agreement_report(df, "a", "b").collect()[0]
    # po = 8/10; marginals a: y5 n5, b: y5 n5 -> pe = .25+.25 = .5
    assert r["n_rows"] == 10
    assert r["observed_agreement"] == 0.8
    assert r["expected_agreement"] == 0.5
    assert r["kappa"] == round((0.8 - 0.5) / 0.5, 6)  # 0.6

    # constant raters: pe = 1 -> kappa undefined (NULL), not 1.0
    const = spark.createDataFrame(
        [("y", "y")] * 3, "a string, b string"
    )
    rc = agreement_report(const, "a", "b").collect()[0]
    assert rc["observed_agreement"] == 1.0
    assert rc["kappa"] is None

    with pytest.raises(Exception, match="not found"):
        agreement_report(df, "a", "zzz")


def test_fd_confidence_hand_computed(spark):
    """g3 confidence on a hand-built frame: key->value holds exactly,
    a dirty FD reports the majority-survivor fraction, and the reverse
    direction measures its own (different) confidence."""
    from pyspark_data_quality_spark.operators.consistency import (
        fd_confidence,
    )

    rows = [
        # zip -> city: 10001 clean (3 rows NYC), 10002 dirty (2 LA, 1 SF)
        (1, "10001", "NYC"), (2, "10001", "NYC"), (3, "10001", "NYC"),
        (4, "10002", "LA"), (5, "10002", "LA"), (6, "10002", "SF"),
    ]
    df = spark.createDataFrame(rows, "id long, zip string, city string")
    out = {
        (r["determinant"], r["dependent"]): r
        for r in fd_confidence(
            df, [("zip", "city"), ("id", "city"), ("city", "zip")]
        ).collect()
    }
    dirty = out[("zip", "city")]
    assert dirty["n_rows"] == 6 and dirty["n_classes"] == 2
    assert dirty["n_violating_classes"] == 1
    assert dirty["n_violating_rows"] == 1  # the lone SF row
    assert dirty["confidence"] == round(5 / 6, 6) and not dirty["holds"]
    key = out[("id", "city")]
    assert key["holds"] and key["confidence"] == 1.0
    rev = out[("city", "zip")]  # city -> zip holds here (each city 1 zip)
    assert rev["holds"] and rev["n_classes"] == 3


def test_fd_confidence_null_semantics_and_validation(spark):
    """NULL is a real group on both sides: consistently-NULL dependents
    agree, mixed NULL/value violates; a NULL determinant forms its own
    class. Empty pair list raises."""
    import pytest as _pytest

    from pyspark_data_quality_spark.operators.consistency import (
        fd_confidence,
    )

    rows = [
        ("a", None), ("a", None),          # consistent NULL dep -> holds
        ("b", "x"), ("b", None),           # mixed -> 1 violating row
        (None, "y"), (None, "y"),          # NULL det class, consistent
    ]
    df = spark.createDataFrame(rows, "d string, p string")
    r = fd_confidence(df, [("d", "p")]).collect()[0]
    assert r["n_rows"] == 6 and r["n_classes"] == 3
    assert r["n_violating_classes"] == 1 and r["n_violating_rows"] == 1
    assert r["confidence"] == round(5 / 6, 6) and not r["holds"]
    with _pytest.raises(ValueError, match="non-empty"):
        fd_confidence(df, [])


def test_fd_confidence_empty_input_keeps_pairs(spark):
    """An empty frame must still report every requested pair (0 rows,
    vacuous confidence 1) — a monitoring run on an empty partition
    should not silently drop its checks."""
    from pyspark_data_quality_spark.operators.consistency import (
        fd_confidence,
    )

    df = spark.createDataFrame([], "a string, b string")
    rows = fd_confidence(df, [("a", "b"), ("b", "a")]).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["n_rows"] == 0 and r["confidence"] == 1.0 and r["holds"]
