"""Metrics sink and skew-salting helper tests."""

from pyspark.sql import functions as F

from pyspark_data_quality_spark import DQManager
from pyspark_data_quality_spark.operators import CompletenessColRatioRule
from pyspark_data_quality_spark.plans.skew import salted_agg_counts
from pyspark_data_quality_spark.sinks import read_metrics, write_metrics


def test_metrics_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "name"])
    path = str(tmp_path / "metrics")
    for run in range(2):
        res = (
            DQManager(spark, dataset="t1", run_id=f"r{run}")
            .set_data(df)
            .add_rule(CompletenessColRatioRule(columns=["name"]))
            .run()
        )
        write_metrics(res.get_metric_results(), path)

    hist = read_metrics(spark, path, dataset="t1")
    assert hist.count() == 2
    assert {r["run_id"] for r in hist.collect()} == {"r0", "r1"}
    assert hist.filter(F.col("value_double") == 0.5).count() == 2
    # partition layout: dataset=... directories exist (pruned reads)
    assert (tmp_path / "metrics" / "dataset=t1").exists()


def test_write_metrics_adds_one_file_per_partition(spark, tmp_path):
    """Each ``write_metrics`` call appends exactly ONE parquet file per
    ``(dataset, run_date)`` partition, however many slices the metrics
    frame has."""
    from datetime import datetime, timezone

    from pyspark_data_quality_spark.core.models import METRIC_SCHEMA, MetricResult
    from pyspark_data_quality_spark.plans.local import local_frame

    def day(d):
        return datetime(2024, 5, d, 12, tzinfo=timezone.utc)

    rows = [
        MetricResult(dataset=ds, run_id="r", run_ts=day(d), metric_name=f"m{i}").as_row()
        for ds in ("a", "b")
        for d in (1, 2)
        for i in range(5)
    ]
    metrics = local_frame(spark, rows, METRIC_SCHEMA).repartition(4)
    path = tmp_path / "metrics"
    parts = [f"dataset={ds}/run_date=2024-05-0{d}" for ds in "ab" for d in (1, 2)]
    for n in (1, 2):
        write_metrics(metrics, str(path))
        assert {p: len(list((path / p).glob("*.parquet"))) for p in parts} == {
            p: n for p in parts
        }
    assert read_metrics(spark, str(path)).count() == 2 * len(rows)


def test_salted_agg_matches_direct(spark):
    rows = [(i % 3, float(i)) for i in range(300)]  # key 0/1/2, skewless base
    rows += [(0, 1.0)] * 200                        # make key 0 hot
    df = spark.createDataFrame(rows, ["k", "v"])
    direct = {
        (r["k"]): (r["count"], r["sum_v"], r["min_v"], r["max_v"])
        for r in df.groupBy("k").agg(
            F.count(F.lit(1)).alias("count"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        ).collect()
    }
    salted = {
        (r["k"]): (r["count"], r["sum_v"], r["min_v"], r["max_v"])
        for r in salted_agg_counts(df, ["k"], salt=8, value_col="v").collect()
    }
    assert salted == direct


def test_quarantine_route(spark, tmp_path):
    from pyspark_data_quality_spark.sinks import quarantine_route, read_quarantine

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], ["id", "name"]
    )
    res = (
        DQManager(spark, dataset="q1", run_id="r0")
        .set_data(df)
        .add_rule(CompletenessColRatioRule(columns=["name"]))
        .run()
    )
    base = str(tmp_path / "routed")
    paths = quarantine_route(res, base)
    valid = spark.read.parquet(paths["valid"])
    invalid = read_quarantine(spark, base)
    assert {r["id"] for r in valid.collect()} == {1, 3}
    assert {r["id"] for r in invalid.collect()} == {2, 4}
    assert valid.columns == ["id", "name"]  # original schema, no DQ columns
    assert "failed_rules" in invalid.columns
    bad = invalid.filter(F.col("id") == 2).first()
    assert len(bad["failed_rules"]) == 1  # the completeness rule name


def _route_inputs(spark, tmp_path):
    """A one-file parquet batch (one input partition): ids 0-59 with keys
    (k1, k2) unique except ids 58/59, FK ``fk`` in 0-19 with 15-19
    orphans; and a reference whose keys 0-14 each appear three times, so
    a fan-out would duplicate rows."""
    rows = [(i, i, i % 3, i % 20) for i in range(58)]
    rows += [(58, 100, 0, 3), (59, 100, 0, 4)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "id int, k1 int, k2 int, fk int").coalesce(
        1
    ).write.parquet(src)
    ref = spark.createDataFrame([(i,) for i in range(15)] * 3, "rk long")
    return src, ref


def _route_rules(ref):
    from pyspark_data_quality_spark.operators import (
        ReferentialIntegrityRule,
        UniqueRule,
    )

    return [
        UniqueRule(columns=["k1", "k2"]),
        ReferentialIntegrityRule(columns=["fk"], ref_df=ref, ref_columns=["rk"]),
    ]


def _route_shape(spark, run):
    """Run ``run()`` and read back what it executed: the shuffle-write
    record count of every shuffle stage of its jobs and the
    hash-partitioning keys of every exchange in its SQL plans. Both come
    from the status stores behind ``statusTracker`` (which itself exposes
    no shuffle metrics), read after the listener bus drains."""
    import re

    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()

    def last_ids():
        # ids only grow; the stores may have evicted older entries
        jobs, execs = store.jobsList(None), sql.executionsList()
        return (
            max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1),
            max((execs.apply(i).executionId() for i in range(execs.size())), default=-1),
        )

    sc.listenerBus().waitUntilEmpty()
    last_job, last_exec = last_ids()
    run()
    sc.listenerBus().waitUntilEmpty()
    shuffles, jobs = [], store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() <= last_job:
            continue
        ids = job.stageIds()
        for k in range(ids.size()):
            attempts = store.stageData(ids.apply(k), False, None, False, None)
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.status().toString() == "COMPLETE" and st.shuffleWriteRecords():
                    shuffles.append(st.shuffleWriteRecords())
    keys, execs = set(), sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > last_exec:
            for args in re.findall(r"hashpartitioning\((.*?), \d+\)", e.physicalPlanDescription()):
                keys.add(tuple(re.sub(r"#\d+L?", "", a) for a in args.split(", ")))
    return shuffles, keys


def _assert_route_split(spark, base, n_rows):
    """One parquet file per side; the two sides partition the input."""
    import glob

    for side in ("valid", "invalid"):
        assert len(glob.glob(f"{base}/{side}/*.parquet")) == 1, side
    valid = [r["id"] for r in spark.read.parquet(f"{base}/valid").collect()]
    invalid = spark.read.parquet(f"{base}/invalid").collect()
    bad = {r["id"]: set(r["failed_rules"]) for r in invalid}
    assert len(valid) == len(set(valid)) and len(invalid) == len(bad)
    assert not set(valid) & set(bad)
    assert set(valid) | set(bad) == set(range(n_rows))
    assert set(bad) == {15, 16, 17, 18, 19, 35, 36, 37, 38, 39, 55, 56, 57, 58, 59}
    assert bad[58] == bad[59] == {"unique_ratio(k1,k2)"}
    assert bad[15] == {"fk(fk)"}


def test_quarantine_route_classifies_once(spark, tmp_path):
    """The route evaluates the rules ONCE for both sinks: the uniqueness
    window's shuffle runs a single time (keyed on the uniqueness
    columns, carrying each input row once), the FK reference is probed
    through a broadcast with no shuffle of its own (no dedup, no
    fan-out), and each side is one file (the checkpoint keeps AQE's
    coalesced partitioning)."""
    from pyspark_data_quality_spark.sinks import quarantine_route

    src, ref = _route_inputs(spark, tmp_path)
    res = DQManager(spark).set_data(spark.read.parquet(src))
    for rule in _route_rules(ref):
        res.add_rule(rule)
    res = res.run()
    base = str(tmp_path / "routed")
    shuffles, keys = _route_shape(spark, lambda: quarantine_route(res, base))
    assert shuffles == [60]
    assert keys == {("k1", "k2")}
    _assert_route_split(spark, base, 60)


def test_stream_quarantine_route_classifies_once(spark, tmp_path):
    """The streaming writer goes through the same classify-once path."""
    from pyspark_data_quality_spark.streaming import stream_quarantine_route

    src, ref = _route_inputs(spark, tmp_path)
    stream = spark.readStream.schema("id int, k1 int, k2 int, fk int").parquet(src)
    base = str(tmp_path / "routed")

    def run():
        q = stream_quarantine_route(
            stream, _route_rules(ref), base,
            checkpoint_path=str(tmp_path / "ckpt"),
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        assert q.exception() is None

    shuffles, keys = _route_shape(spark, run)
    assert shuffles == [60]
    assert keys == {("k1", "k2")}
    _assert_route_split(spark, base, 60)


def test_skew_report(spark):
    from pyspark_data_quality_spark.plans.skew import skew_report

    rows = [("hot", i % 3, None if i % 5 == 0 else "x") for i in range(8)]
    rows += [("k%d" % i, i, "x") for i in range(4)]
    df = spark.createDataFrame(rows, "a string, b int, c string")
    got = {r["column"]: r for r in skew_report(df, ["a", "b", "c"]).collect()}

    ra = got["a"]
    assert ra["n_rows"] == 12 and ra["n_keys"] == 5 and ra["max_count"] == 8
    assert ra["top_key"] == "hot"
    assert ra["skew_ratio"] == round(8 / (12 / 5), 6)
    assert ra["null_count"] == 0

    rc = got["c"]
    assert rc["null_count"] == 2        # the i%5==0 rows
    assert rc["n_keys"] == 1 and rc["top_key"] == "x"

    # flatter key: counts are {0: 4, 1: 4, 2: 3, 3: 1}; ties on the max
    # count break toward the larger value (max_by over (n, value))
    rb = got["b"]
    assert rb["max_count"] == 4 and rb["top_key"] == "1"


def test_ensure_min_partitions(spark):
    from pyspark_data_quality_spark.plans.parallelism import (
        ensure_min_partitions,
    )

    one = spark.createDataFrame([(i,) for i in range(100)], "x int").coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    boosted = ensure_min_partitions(one, 8)
    assert boosted.rdd.getNumPartitions() == 8
    assert boosted.count() == 100

    # already-parallel input is untouched (no shuffle added)
    wide = spark.createDataFrame([(i,) for i in range(100)], "x int").repartition(8)
    assert ensure_min_partitions(wide, 8) is wide


def test_ensure_min_partitions_never_executes_upstream(spark):
    """r16: the guard sizes the plan WITHOUT executing it. The old
    ``df.rdd`` probe materialized the adaptive plan, eagerly running
    every upstream shuffle stage as real jobs — a caller passing a
    frame with upstream joins/aggregations paid those stages twice
    (r15 ADVICE). Pins: (a) zero Spark jobs are scheduled while the
    guard decides, for a shuffle-bearing AND a broadcast-join frame;
    (b) a frame that already passed through a shuffle is left alone;
    (c) the stream side of a broadcast join is still sized from its
    scan (the guard fires on a 1-split stream side)."""
    from pyspark.sql import functions as F

    from pyspark_data_quality_spark.plans.parallelism import (
        ensure_min_partitions,
    )

    from pyspark_data_quality_spark.plans.telemetry import jobs_during

    # parquet-backed so the aggregate keeps a real Exchange (a local
    # relation would be constant-folded to another LocalRelation)
    base = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    agg = base.groupBy("r_regionkey").agg(F.count(F.lit(1)).alias("n"))
    small = spark.createDataFrame([(0, "a")], "r_regionkey bigint, lbl string")
    joined = base.join(F.broadcast(small), "r_regionkey", "left")

    def guard():
        assert ensure_min_partitions(agg, 8) is agg  # shuffle upstream
        return ensure_min_partitions(joined, 8)

    boosted, jobs = jobs_during(spark, guard)
    assert jobs == set(), "guard scheduled Spark jobs while sizing"
    assert boosted is not joined  # 1-split stream side -> still boosts
    assert boosted.rdd.getNumPartitions() == 8


def test_ensure_min_partitions_boosts_empty_scan(spark):
    """An estimate of 0 partitions (an empty scan) is a low estimate, not
    an unknown one: the guard boosts it."""
    from pyspark_data_quality_spark.plans.parallelism import (
        _stream_partition_estimate,
        ensure_min_partitions,
    )

    empty = spark.sql("SELECT id FROM range(10) WHERE false")
    plan = empty._jdf.queryExecution().executedPlan()
    assert _stream_partition_estimate(plan) == 0
    boosted = ensure_min_partitions(empty, 8)
    assert boosted is not empty
    assert boosted.count() == 0


def test_ensure_min_partitions_stands_down_on_cartesian(spark, sf_dir):
    """A cartesian product's partitions multiply, so summing its children
    would misjudge it: the estimate is unknown and the guard stands down."""
    from pyspark_data_quality_spark.plans.parallelism import (
        _stream_partition_estimate,
        ensure_min_partitions,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        cross = region.select("r_regionkey").crossJoin(nation.select("n_nationkey"))
        plan = cross._jdf.queryExecution().executedPlan()
        assert "CartesianProduct" in plan.toString()
        assert _stream_partition_estimate(plan) is None
        assert ensure_min_partitions(cross, 8) is cross
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _rows_set(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def test_salted_join_matches_plain_join(spark):
    from pyspark_data_quality_spark.plans.skew import salted_join

    # skewed fact: key 'hot' owns 80% of rows; plus a NULL key and a
    # fact-only key
    fact_rows = [("hot", i) for i in range(80)] + [
        ("a", 100), ("b", 101), ("only_fact", 102), (None, 103),
    ]
    fact = spark.createDataFrame(fact_rows, "k string, fv int")
    dim = spark.createDataFrame(
        [("hot", "H"), ("a", "A"), ("only_dim", "D"), (None, "N")],
        "k string, dv string",
    )
    for how in ("inner", "left", "left_semi", "left_anti"):
        plain = fact.join(dim, ["k"], how)
        salted = salted_join(
            fact, dim, ["k"], how=how, salt=4, hot_threshold=10
        )
        assert _rows_set(salted) == _rows_set(plain), how
        assert salted.columns == plain.columns, how


def test_salted_join_seed_reproducible_placement(spark):
    """With seed, the SALT ASSIGNMENT itself (not just the join result,
    which is salt-invariant) is identical across runs: observed by
    joining the internal (key, salt) placement out via a dim that keeps
    the salt visible — here simply by checking two seeded runs produce
    byte-identical results AND the seed threads to F.rand."""
    from pyspark_data_quality_spark.plans import skew as skew_mod
    from pyspark_data_quality_spark.plans.skew import salted_join

    fact = spark.createDataFrame(
        [("hot", i) for i in range(40)] + [("a", 1)], "k string, fv int"
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("a", "A")], "k string, dv string"
    )
    seen = []
    orig = skew_mod.F.rand

    def spy(seed=None):
        seen.append(seed)
        return orig(seed) if seed is not None else orig()

    try:
        skew_mod.F.rand = spy
        a = salted_join(
            fact, dim, ["k"], salt=4, hot_threshold=10, seed=7
        )
        b = salted_join(
            fact, dim, ["k"], salt=4, hot_threshold=10, seed=7
        )
        salted_join(fact, dim, ["k"], salt=4, hot_threshold=10)
    finally:
        skew_mod.F.rand = orig
    assert seen == [7, 7, None]  # seed threads; default stays unseeded
    assert _rows_set(a) == _rows_set(b) == _rows_set(
        fact.join(dim, ["k"], "inner")
    )


def test_salted_join_explicit_hot_keys_and_compound(spark):
    from pyspark_data_quality_spark.plans.skew import salted_join

    fact = spark.createDataFrame(
        [("x", 1, i) for i in range(50)] + [("y", 2, 0), ("z", 3, 1)],
        "k1 string, k2 int, fv int",
    )
    dim = spark.createDataFrame(
        [("x", 1, "X"), ("y", 2, "Y")], "k1 string, k2 int, dv string"
    )
    plain = fact.join(dim, ["k1", "k2"], "inner")
    salted = salted_join(
        fact, dim, ["k1", "k2"], salt=3, hot_keys=[("x", 1)]
    )
    assert _rows_set(salted) == _rows_set(plain)


def test_salted_join_validation(spark):
    import pytest

    from pyspark_data_quality_spark.plans.skew import salted_join

    fact = spark.createDataFrame([("a", 1)], "k string, v int")
    dim = spark.createDataFrame([("a", 2)], "k string, v int")
    with pytest.raises(ValueError, match="non-key columns"):
        salted_join(fact, dim, ["k"])
    dim2 = dim.withColumnRenamed("v", "w")
    with pytest.raises(ValueError, match="unsupported"):
        salted_join(fact, dim2, ["k"], how="full")
    with pytest.raises(ValueError, match="salt"):
        salted_join(fact, dim2, ["k"], salt=1)
    with pytest.raises(ValueError, match="keys"):
        salted_join(fact, dim2, [])


def test_monitor_metrics_end_to_end(spark, tmp_path):
    """The full Deequ anomaly-constraint loop: N runs written via
    write_metrics, then a degraded run judged via monitor_metrics —
    the dropped metric flags, the stable one does not, and the call is
    self-masking-proof (current run's rows already in the history are
    anti-joined out)."""
    from pyspark_data_quality_spark.sinks import monitor_metrics, write_metrics

    path = str(tmp_path / "metrics")

    def run_metrics(run: int, null_every: int | None):
        ids = list(range(1, 101))
        rows = [
            (i, None if (null_every and i % null_every == 0) else f"n{i}")
            for i in ids
        ]
        df = spark.createDataFrame(rows, ["id", "name"])
        return (
            DQManager(spark, dataset="t1", run_id=f"r{run:02d}")
            .set_data(df)
            .add_rule(CompletenessColRatioRule(columns=["id", "name"]))
            .run()
            .get_metric_results()
        )

    # 6 healthy runs: id complete, name ~99% complete (every-100th null)
    for run in range(6):
        write_metrics(run_metrics(run, null_every=100), path)

    # run 7: name completeness collapses to 75%
    cur = run_metrics(7, null_every=4)
    rep = {
        r["column"]: r
        for r in monitor_metrics(
            spark, path, cur, dataset="t1", min_periods=3
        ).collect()
    }
    assert rep["name"]["is_regression"]
    # flat all-1.0 history + unchanged current: ok, not flagged
    assert rep["id"]["status"] == "ok" and not rep["id"]["is_regression"]
    assert rep["name"]["n_baseline"] == 6

    # write-then-monitor order: the current run's own rows must not
    # enter its baseline (anti-join on run_id)
    write_metrics(cur, path)
    rep2 = {
        r["column"]: r
        for r in monitor_metrics(
            spark, path, cur, dataset="t1", min_periods=3
        ).collect()
    }
    assert rep2["name"]["is_regression"]
    assert rep2["name"]["n_baseline"] == 6  # still 6, not 7


def test_monitor_metrics_first_run_no_history(spark, tmp_path):
    """The documented monitor-then-write flow must survive the pipeline's
    FIRST ever run: no parquet at the path yet -> every metric reports
    insufficient_history instead of PATH_NOT_FOUND."""
    from pyspark_data_quality_spark.sinks import monitor_metrics

    df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "name"])
    cur = (
        DQManager(spark, dataset="t1", run_id="r0")
        .set_data(df)
        .add_rule(CompletenessColRatioRule(columns=["name"]))
        .run()
        .get_metric_results()
    )
    rep = monitor_metrics(
        spark, str(tmp_path / "never_written"), cur, dataset="t1"
    ).collect()
    assert rep and all(r["status"] == "insufficient_history" for r in rep)
    assert all(not r["is_regression"] for r in rep)
