"""Driver-built frames (``plans/local.local_frame``): local relations
with ``createDataFrame`` semantics, collected without Spark jobs."""

import re
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pyspark_data_quality_spark import DQManager, METRIC_SCHEMA
from pyspark_data_quality_spark.core.models import MetricResult
from pyspark_data_quality_spark.operators import CompletenessColRatioRule
from pyspark_data_quality_spark.plans.local import local_frame
from pyspark_data_quality_spark.plans.telemetry import jobs_during


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _metrics(spark, rules):
    people = spark.range(20).select(
        F.col("id").cast("int").alias("id"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.lit("x")).alias("name"),
    )
    mgr = DQManager(spark, dataset="people", run_id="r1").set_data(people)
    for rule in rules:
        mgr.add_rule(rule)
    return mgr.run().get_metric_results()


def test_metric_results_plan_as_local_table_scan_and_collect_without_jobs(spark):
    metrics = _metrics(spark, [CompletenessColRatioRule(columns=["id", "name"])])
    assert metrics.schema == METRIC_SCHEMA  # nullability included
    assert "LocalTableScan" in _physical_plan(metrics)
    rows, jobs = jobs_during(spark, metrics.collect)
    assert jobs == set(), f"collect started jobs {sorted(jobs)}"
    assert {r["column"]: r["value_double"] for r in rows} == {
        "id": 1.0,
        "name": 0.75,
    }


def test_metric_results_without_rules_are_an_empty_local_frame(spark):
    metrics = _metrics(spark, [])
    assert metrics.schema == METRIC_SCHEMA
    assert "LocalTableScan" in _physical_plan(metrics)
    rows, jobs = jobs_during(spark, metrics.collect)
    assert rows == [] and jobs == set()


def test_metric_rows_keep_empty_extra_info_and_instants_off_utc(spark):
    """An empty ``extra_info`` stays ``{}`` (not NULL), and the aware
    run/ingest timestamps keep their instant when the session time zone
    is not UTC."""
    ts = datetime(2024, 3, 10, 9, 30, 15, 123456, tzinfo=timezone.utc)
    row = MetricResult(
        dataset="d", metric_name="m", run_ts=ts, ingest_datetime=ts
    ).as_row()
    expect_us = (ts - datetime(1970, 1, 1, tzinfo=timezone.utc)) // timedelta(
        microseconds=1
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        frame = local_frame(spark, [row], METRIC_SCHEMA)
        got = frame.select(
            F.unix_micros("run_ts").alias("run_us"),
            F.unix_micros("ingest_datetime").alias("ingest_us"),
            "extra_info",
        ).first()
        before = datetime.now(timezone.utc)
        metrics = _metrics(spark, [CompletenessColRatioRule(columns=["id"])])
        live = metrics.select(F.unix_micros("run_ts").alias("us")).first()["us"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert got["run_us"] == got["ingest_us"] == expect_us
    assert got["extra_info"] == {}
    # the metrics frame's own run_ts: the instant the run was stamped
    before_us = int(before.timestamp() * 1e6)
    assert before_us - 60_000_000 <= live <= before_us + 60_000_000


def test_schema_checks_start_no_jobs(spark):
    from pyspark_data_quality_spark.operators.schema import (
        schema_compat_ok,
        schema_ok,
    )

    df = spark.range(3).select(F.col("id"), F.col("id").cast("string").alias("s"))
    ok, jobs = jobs_during(
        spark, lambda: schema_ok(df, {"id": "bigint", "s": "string"})
    )
    assert ok is True and jobs == set()
    bad, jobs = jobs_during(spark, lambda: schema_ok(df, {"id": "int"}))
    assert bad is False and jobs == set()
    compat, jobs = jobs_during(
        spark,
        lambda: schema_compat_ok({"a": "int"}, {"a": "bigint", "b": "string"}),
    )
    assert compat is False and jobs == set()  # an added column breaks backward


_PARITY_SCHEMA = (
    "id int, d double, s string, arr array<double>, ts timestamp, "
    "ntz timestamp_ntz, m map<string,string>, st struct<a: int, b: string>"
)


def _canon(v):
    """Order-free, NaN- and sign-of-zero-exact comparison key."""
    if isinstance(v, float):
        return repr(v)  # 'nan', '-0.0' and '0.0' stay distinct
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rows(df):
    return sorted((_canon(r) for r in df.collect()), key=repr)


def test_local_frame_matches_create_data_frame(spark):
    naive = datetime(2024, 1, 2, 3, 4, 5, 678901)
    aware = datetime(2024, 6, 1, 12, 0, tzinfo=timezone(timedelta(hours=5)))
    rows = [
        (1, None, None, None, None, None, None, None),
        (2, float("nan"), "x", [], aware, naive, {}, (1, "a")),
        (3, -0.0, "", [None, 1.5, float("nan")], naive, naive, {"k": None}, None),
        (4, 0.0, "ü", [-0.0], aware, None, {"a": "1", "b": "2"}, (None, None)),
        (5, float("-inf"), None, [float("inf")], None, naive, None, (7, None)),
    ]
    local = local_frame(spark, rows, _PARITY_SCHEMA)
    ref = spark.createDataFrame(rows, _PARITY_SCHEMA)
    assert local.schema == ref.schema
    assert "LocalTableScan" in _physical_plan(local)
    assert _rows(local) == _rows(ref)
    # JVM-side values agree too (the instant of a naive/aware timestamp,
    # the sign of zero), not only their Python round trip
    probe = [
        "id",
        F.unix_micros("ts").alias("us"),
        F.col("d").cast("string").alias("ds"),
        F.size("m").alias("nm"),
    ]
    assert _rows(local.select(*probe)) == _rows(ref.select(*probe))


def test_local_frame_struct_schema_empty_rows_and_nullability(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("v", StringType(), True),
        ]
    )
    assert local_frame(spark, [(1, "a")], "k bigint not null, v string").schema == schema
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema
    assert "LocalTableScan" in _physical_plan(empty)
    assert empty.collect() == []
    assert local_frame(spark, iter([(2, None)]), schema).collect()[0]["k"] == 2
    with pytest.raises(Exception):
        local_frame(spark, [(None, "a")], schema)  # NULL in a NOT NULL field


def test_no_create_data_frame_outside_the_local_frame_helper():
    """Every driver-built frame in the library goes through
    ``local_frame``: a bare ``createDataFrame(<list>)`` is a Python-fed
    RDD scan whose every action runs Python-worker tasks."""
    pkg = Path(__file__).resolve().parents[1] / "pyspark_data_quality_spark"
    helper = pkg / "plans" / "local.py"
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p != helper
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"createDataFrame\(", line)
    ]
    assert offenders == []
