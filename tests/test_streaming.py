"""Streaming DQ operator tests: batch/stream parity over the same plans.

Streams are driven from parquet directories with trigger(availableNow) into
memory sinks — fully deterministic, no timers.
"""

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from pyspark_data_quality_spark.operators.completeness import (
    CompletenessColRatioRule,
)
from pyspark_data_quality_spark.operators.validity import RangeRule
from pyspark_data_quality_spark.sources.tables import (
    load_events_batch,
    load_events_stream,
    load_table,
)
from pyspark_data_quality_spark.streaming import (
    dedup_within_watermark,
    windowed_counts,
    windowed_pass_ratios,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # readStream needs a directory of parquet files; the fixture table is a
    # single file inside the sf dir, so copy it into its own directory.
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def _run_stream(spark, stream_df, name=None, output_mode="complete"):
    """availableNow -> memory sink -> return the sink contents as a df."""
    name = name or f"t_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_windowed_counts_batch(spark):
    rows = [
        (1, "2024-01-01 00:05:00", "click", 1.0),
        (2, "2024-01-01 00:55:00", "click", 3.0),
        (3, "2024-01-01 01:05:00", "view", 5.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = windowed_counts(
        df, ts_col="ts", duration="1 hour", group_cols=["event_type"],
        value_col="value",
    ).collect()
    got = {(r["window_start"].hour, r["event_type"]): (r["n_events"], r["avg_value"]) for r in out}
    assert got[(0, "click")] == (2, 2.0)
    assert got[(1, "view")] == (1, 5.0)


def test_windowed_counts_stream_matches_batch(spark, sf_dir, events_dir):
    batch = load_table(spark, "events", sf_dir)
    expected = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in windowed_counts(
            batch, duration="1 hour", group_cols=["event_type"]
        ).collect()
    }
    stream = load_events_stream(spark, events_dir)
    sdf = windowed_counts(stream, duration="1 hour", group_cols=["event_type"])
    assert sdf.isStreaming
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in _run_stream(spark, sdf).collect()
    }
    assert got == expected  # identical plan, batch == stream at availableNow


def test_sliding_windows(spark):
    rows = [(1, "2024-01-01 00:10:00", "a", 1.0)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = windowed_counts(df, duration="1 hour", slide="30 minutes").collect()
    # one event falls into two sliding windows
    assert len(out) == 2 and all(r["n_events"] == 1 for r in out)


def test_dedup_within_watermark_stream(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:00:01", "click", 1.0),
        (1, "2024-01-01 00:00:05", "click", 1.0),   # dup key within watermark
        (2, "2024-01-01 00:01:00", "view", 2.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path / "dups")
    df.coalesce(1).write.parquet(d)

    # batch path
    assert dedup_within_watermark(df, ["event_id"]).count() == 2

    # streaming path: dropDuplicatesWithinWatermark keeps the first arrival
    stream = spark.readStream.schema(df.schema).parquet(d)
    out = _run_stream(
        spark,
        dedup_within_watermark(stream, ["event_id"], watermark="10 minutes"),
        output_mode="append",
    )
    assert out.count() == 2
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2]


def test_windowed_pass_ratios_batch_and_stream(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:05:00", "click", 5.0),
        (2, "2024-01-01 00:15:00", "click", 50.0),   # out of range
        (3, "2024-01-01 00:25:00", None, 5.0),       # null event_type
        (4, "2024-01-01 01:05:00", "view", 5.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    rules = [
        CompletenessColRatioRule(columns=["event_type"], name="et_nn"),
        RangeRule(column="value", min_value=0.0, max_value=10.0, name="val_range"),
    ]
    out = windowed_pass_ratios(df, rules, duration="1 hour")
    rows_out = {r["window_start"].hour: r for r in out.collect()}
    assert rows_out[0]["n_rows"] == 3
    assert rows_out[0]["et_nn_ratio"] == pytest.approx(2 / 3, abs=1e-6)
    assert rows_out[0]["val_range_ratio"] == pytest.approx(2 / 3, abs=1e-6)
    assert rows_out[1]["et_nn_ratio"] == 1.0

    d = str(tmp_path / "ratios")
    df.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(df.schema).parquet(d)
    sout = _run_stream(
        spark, windowed_pass_ratios(stream, rules, duration="1 hour")
    )
    srows = {r["window_start"].hour: r for r in sout.collect()}
    assert srows[0]["et_nn_ratio"] == rows_out[0]["et_nn_ratio"]
    assert srows[1]["val_range_ratio"] == rows_out[1]["val_range_ratio"]


def test_session_counts_batch(spark):
    from pyspark_data_quality_spark.streaming import session_counts

    rows = [
        (1, "2024-01-01 00:00:00", 7, "a", 1.0),
        (2, "2024-01-01 00:10:00", 7, "a", 1.0),   # same session (10m gap)
        (3, "2024-01-01 01:00:00", 7, "a", 1.0),   # new session (50m gap)
        (4, "2024-01-01 00:05:00", 9, "a", 1.0),   # other user
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = session_counts(df, gap="30 minutes", group_cols=["user_id"]).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[7]) == 2 and len(by_user[9]) == 1
    first = min(by_user[7], key=lambda r: r["session_start"])
    assert first["n_events"] == 2
    # session end = last event + gap (Spark's session_window definition)
    assert (first["session_end"] - first["last_event"]).total_seconds() == 1800


def test_session_counts_stream_smoke(spark, events_dir):
    from pyspark_data_quality_spark.streaming import session_counts

    stream = load_events_stream(spark, events_dir)
    sdf = session_counts(
        stream, gap="30 minutes", group_cols=["user_id"], watermark="1 hour"
    )
    assert sdf.isStreaming
    out = _run_stream(spark, sdf, output_mode="complete")
    batch_src = load_events_batch(spark, events_dir)
    batch = session_counts(batch_src, gap="30 minutes", group_cols=["user_id"])
    assert out.count() == batch.count()  # availableNow: stream == batch


def test_running_totals_stateful(spark, events_dir):
    from pyspark_data_quality_spark.streaming import running_totals

    batch_src = load_events_batch(spark, events_dir)
    expected = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in running_totals(batch_src, ["user_id"], value_col="value").collect()
    }

    stream = load_events_stream(spark, events_dir)
    sdf = running_totals(stream, ["user_id"], value_col="value")
    assert sdf.isStreaming
    out = _run_stream(spark, sdf, output_mode="update")
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in out.collect()
    }
    assert got == expected  # single availableNow batch == batch totals


def test_streaming_zscore_parity(spark, tmp_path):
    from pyspark_data_quality_spark.streaming import streaming_zscore

    rows = []
    # key "a": stable ~10 then a spike; key "b": stable, plus a null value
    for i in range(8):
        rows.append(("a", f"2024-01-01 00:0{i}:00", [10.0, 11.0, 9.0, 10.0, 10.5, 9.5, 10.0, 95.0][i]))
    for i in range(6):
        rows.append(("b", f"2024-01-01 00:0{i}:00", 50.0 + (i % 2)))
    rows.append(("b", "2024-01-01 00:06:00", None))
    df = spark.createDataFrame(rows, "k string, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    d = str(tmp_path / "zs_stream")
    df.coalesce(1).write.parquet(d)

    batch_src = spark.read.parquet(d)
    expected = {
        (r["k"], str(r["ts"])): (r["zscore"], r["is_anomaly"])
        for r in streaming_zscore(batch_src, ["k"], "v", "ts").collect()
    }
    spike = expected[("a", "2024-01-01 00:07:00")]
    assert spike[1] is True  # 95 vs trailing ~10
    assert expected[("b", "2024-01-01 00:06:00")] == (None, False)  # null value

    stream = spark.readStream.schema(batch_src.schema).parquet(d)
    sdf = streaming_zscore(stream, ["k"], "v", "ts")
    assert sdf.isStreaming
    out = _run_stream(spark, sdf, output_mode="update")
    got = {
        (r["k"], str(r["ts"])): (r["zscore"], r["is_anomaly"])
        for r in out.collect()
    }
    assert set(got) == set(expected)
    for key in expected:
        ez, ef = expected[key]
        gz, gf = got[key]
        assert gf == ef, key
        if ez is None:
            assert gz is None, key
        else:
            assert abs(gz - ez) < 1e-6, key


def test_windowed_pass_ratios_with_fk_rule(spark):
    """prepare() must be folded: join-shaped rules add marker columns the
    predicates reference (regression: UNRESOLVED_COLUMN without the fold)."""
    from pyspark_data_quality_spark.operators.consistency import (
        ReferentialIntegrityRule,
    )

    rows = [
        (1, "2024-01-01 00:05:00", 10),
        (2, "2024-01-01 00:10:00", 11),
        (3, "2024-01-01 00:15:00", 99),  # FK violation
        (4, "2024-01-01 01:05:00", 10),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "ref_id"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ref = spark.createDataFrame([(10,), (11,)], ["k"])
    rule = ReferentialIntegrityRule(
        columns=["ref_id"], ref_df=ref, ref_columns=["k"], name="fk"
    )
    out = {
        str(r["window_start"]): r["fk_ratio"]
        for r in windowed_pass_ratios(
            df, rules=[rule], ts_col="ts", duration="1 hour"
        ).collect()
    }
    assert out["2024-01-01 00:00:00"] == round(2 / 3, 6)
    assert out["2024-01-01 01:00:00"] == 1.0


def test_windowed_psi_batch_values(spark):
    from pyspark_data_quality_spark.streaming.windows import windowed_psi

    import math

    # hour 0: uniform over a/b (matches ref) -> psi ~ 0
    # hour 1: all a -> heavy drift; hour 2: novel category -> other bucket
    rows = (
        [(i, "2024-01-01 00:0%d:00" % i, "a") for i in range(3)]
        + [(i + 10, "2024-01-01 00:1%d:00" % i, "b") for i in range(3)]
        + [(i + 20, "2024-01-01 01:0%d:00" % i, "a") for i in range(4)]
        + [(30, "2024-01-01 02:00:00", "zzz")]
    )
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["window_start"].hour: r
        for r in windowed_psi(
            df, "event_type", {"a": 0.5, "b": 0.5}, duration="1 hour"
        ).collect()
    }
    assert out[0]["psi"] == pytest.approx(0.0, abs=1e-9)
    assert out[0]["drifted"] is False
    # hour 1: p_a=1 (clamped vs 0.5), p_b=eps vs 0.5 -> the closed form
    eps = 1e-6
    expected = (1.0 - 0.5) * math.log(1.0 / 0.5) + (eps - 0.5) * math.log(eps / 0.5)
    assert out[1]["psi"] == pytest.approx(round(expected, 6), abs=1e-6)
    assert out[1]["drifted"] is True
    # hour 2: all mass in the "other" bucket — PSI adds the novel-mass
    # term AND both reference categories' mass-went-to-zero terms
    gone = (eps - 0.5) * math.log(eps / 0.5)
    other = (1.0 - eps) * math.log(1.0 / eps) + 2 * gone
    assert out[2]["psi"] == pytest.approx(round(other, 6), abs=1e-6)

    with pytest.raises(ValueError, match="non-empty"):
        windowed_psi(df, "event_type", {})


def test_windowed_psi_stream_matches_batch(spark, sf_dir, events_dir):
    from pyspark_data_quality_spark.streaming.windows import windowed_psi

    ref = {"click": 0.2, "error": 0.2, "purchase": 0.2, "signup": 0.2,
           "view": 0.2}
    batch = load_table(spark, "events", sf_dir)
    expected = {
        r["window_start"]: (r["n_events"], r["psi"], r["drifted"])
        for r in windowed_psi(batch, "event_type", ref, duration="1 hour").collect()
    }
    stream = load_events_stream(spark, events_dir)
    sdf = windowed_psi(stream, "event_type", ref, duration="1 hour")
    assert sdf.isStreaming  # single aggregation: streaming-legal
    got = {
        r["window_start"]: (r["n_events"], r["psi"], r["drifted"])
        for r in _run_stream(spark, sdf).collect()
    }
    assert got == expected


def test_cusum_batch_hand_computed(spark):
    from pyspark_data_quality_spark.streaming import streaming_cusum

    # target 10, slack 1: values drift up by 3 each step from t=3
    rows = [("a", f"2024-01-01 00:0{i}:00", v) for i, v in enumerate(
        [10.0, 9.0, 10.0, 13.0, 13.0, 13.0]
    )] + [("a", "2024-01-01 00:06:00", None)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = streaming_cusum(
        df, ["k"], "v", "ts", target=10.0, slack=1.0, threshold=4.0
    ).collect()
    by_ts = {str(r["ts"])[14:16]: r for r in out}
    # d_up = v - 11: -1, -2, -1, 2, 2, 2 -> s_pos: 0,0,0,2,4,6
    assert [by_ts[m]["s_pos"] for m in ("00", "01", "02", "03", "04", "05")] \
        == [0.0, 0.0, 0.0, 2.0, 4.0, 6.0]
    assert [by_ts[m]["is_alarm"] for m in ("03", "04", "05")] == [
        False, False, True
    ]
    # null row: sums unchanged, never alarms
    assert by_ts["06"]["s_pos"] == 6.0 and by_ts["06"]["is_alarm"] is False


def test_cusum_stream_batch_parity(spark, tmp_path):
    from pyspark_data_quality_spark.streaming import streaming_cusum

    rows = []
    for i in range(30):
        rows.append(("a", f"2024-01-01 00:{i:02d}:00",
                     10.0 + (3.0 if i >= 20 else 0.0)))
        rows.append(("b", f"2024-01-01 00:{i:02d}:00", 5.0))
    src = spark.createDataFrame(rows, ["k", "ts", "v"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    path = str(tmp_path / "cusum_src")
    src.write.parquet(path)

    kw = dict(target=10.0, slack=0.5, threshold=5.0)
    batch = {
        (r["k"], str(r["ts"])): (r["s_pos"], r["s_neg"], r["is_alarm"])
        for r in streaming_cusum(
            spark.read.parquet(path), ["k"], "v", "ts", **kw
        ).collect()
    }
    stream_df = streaming_cusum(
        spark.readStream.schema(src.schema).parquet(path),
        ["k"], "v", "ts", **kw,
    )
    assert stream_df.isStreaming
    out = _run_stream(spark, stream_df, output_mode="update")
    got = {
        (r["k"], str(r["ts"])): (r["s_pos"], r["s_neg"], r["is_alarm"])
        for r in out.collect()
    }
    assert got == batch
    # key a actually alarms after the shift; key b's s_neg climbs
    assert any(v[2] for k, v in batch.items() if k[0] == "a")
    assert all(v[1] > 0 for k, v in batch.items() if k[0] == "b")


def test_windowed_cardinality_batch_exact_and_stream_hll(spark, events_dir):
    from pyspark_data_quality_spark.streaming import windowed_cardinality

    batch_src = load_events_batch(spark, events_dir)
    exact = {
        str(r["window_start"]): (r["n_events"], r["n_distinct"])
        for r in windowed_cardinality(batch_src, duration="1 hour").collect()
    }
    assert exact and all(d <= n for n, d in exact.values())

    # exact on a stream must refuse loudly
    stream = load_events_stream(spark, events_dir)
    with pytest.raises(ValueError, match="not streamable"):
        windowed_cardinality(stream, duration="1 hour", exact=True)

    sdf = windowed_cardinality(stream, duration="1 hour")
    assert sdf.isStreaming
    out = _run_stream(spark, sdf, output_mode="complete")
    got = {
        str(r["window_start"]): (r["n_events"], r["n_distinct"])
        for r in out.collect()
    }
    assert set(got) == set(exact)
    for w, (n, d_est) in got.items():
        n_exact, d_exact = exact[w]
        assert n == n_exact  # event counts are exact on both faces
        assert d_est == pytest.approx(d_exact, rel=0.1)  # HLL tolerance


def test_stream_quarantine_route(spark, tmp_path):
    from pyspark_data_quality_spark.operators import (
        CompletenessColRatioRule,
        RangeRule,
    )
    from pyspark_data_quality_spark.streaming import stream_quarantine_route

    src_path = str(tmp_path / "src")
    rows = [(1, 10.0), (2, -3.0), (3, None), (4, 7.0)]
    spark.createDataFrame(rows, "id int, amount double").write.parquet(src_path)

    stream = spark.readStream.schema("id int, amount double").parquet(src_path)
    rules = [
        CompletenessColRatioRule(columns=["amount"], threshold=0.9),
        RangeRule(column="amount", min_value=0.0),
    ]
    base = str(tmp_path / "routed")
    q = stream_quarantine_route(
        stream, rules, base,
        checkpoint_path=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    valid = spark.read.parquet(f"{base}/valid")
    invalid = spark.read.parquet(f"{base}/invalid")
    assert sorted(r["id"] for r in valid.collect()) == [1, 4]
    bad = {r["id"]: set(r["failed_rules"]) for r in invalid.collect()}
    assert set(bad) == {2, 3}
    assert any("range" in x for x in bad[2])
    assert all(r["_batch_id"] == 0 for r in invalid.collect())

    # batch frames are rejected with a pointer to the batch sink
    with pytest.raises(ValueError, match="batch frame"):
        stream_quarantine_route(
            spark.read.parquet(src_path), rules, base,
            checkpoint_path=str(tmp_path / "ckpt2"),
        )


def test_windowed_top_values_stream_parity(spark, sf_dir, events_dir):
    from pyspark.sql.window import Window

    from pyspark_data_quality_spark.streaming import windowed_top_values

    batch = load_table(spark, "events", sf_dir)
    expected = {
        (r["window_start"], r["rank"]): (r["value"], r["n"])
        for r in windowed_top_values(
            batch, ts_col="ts", value_col="event_type",
            duration="1 hour", k=3,
        ).collect()
    }
    assert expected  # fixture has data
    assert all(rk <= 3 for (_, rk) in expected)

    # streaming face: streaming-legal windowed counts; the rank step is
    # applied on the (availableNow-complete) output, exactly the
    # foreachBatch shape the docstring prescribes
    stream = load_events_stream(spark, events_dir)
    sdf = windowed_top_values(
        stream, ts_col="ts", value_col="event_type", duration="1 hour"
    )
    assert sdf.isStreaming
    assert "rank" not in sdf.columns  # no rank over a streaming agg
    counts = _run_stream(spark, sdf)
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("value").asc()
    )
    got = {
        (r["window_start"], r["rank"]): (r["value"], r["n"])
        for r in counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    }
    assert got == expected


def test_streaming_bloom_dedup_against_static_corpus(spark, sf_dir, tmp_path):
    """Stream-static incremental dedup WITHOUT state: a bloom bitmap
    built from the historical corpus rides into the streaming plan as a
    static broadcast, so each micro-batch filters known documents with
    zero stateful operators and zero stream-side shuffle. availableNow
    over the fixture must agree with the batch probe."""
    import shutil

    from pyspark_data_quality_spark.operators.bloom import (
        bloom_build,
        bloom_params,
        bloom_probe,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = str(tmp_path / "docs_stream")
    (tmp_path / "docs_stream").mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", f"{d}/part-0.parquet")

    m, k = bloom_params(200, 0.01)
    ref = docs.filter("doc_id < 100").select(F.col("text").alias("v"))
    bloom = bloom_build(ref, "v", num_bits=m, num_hashes=k)

    sdf = spark.readStream.schema(docs.schema).parquet(d)
    probed = bloom_probe(
        sdf.select("doc_id", "text"), bloom, "text",
        num_bits=m, num_hashes=k,
    )
    out = _run_stream(
        spark, probed.filter(~F.col("bloom_maybe")), output_mode="append"
    )
    batch = bloom_probe(
        docs.select("doc_id", "text"), bloom, "text",
        num_bits=m, num_hashes=k,
    ).filter(~F.col("bloom_maybe"))
    got = sorted(r.doc_id for r in out.collect())
    expected = sorted(r.doc_id for r in batch.collect())
    assert got == expected
    # every historical doc is caught (no false negatives)
    assert not any(i < 100 for i in got)


def test_streaming_heavy_hitters_state_across_batches(spark, tmp_path):
    """MG summaries persist as shard state: counts accumulate across
    micro-batches (maxFilesPerTrigger=1 forces two), each value lives
    in exactly one shard, and the batch operator agrees in the exact
    regime. Decrement regime still bounds true counts."""
    import pandas as pd

    from pyspark_data_quality_spark.streaming.topk import (
        streaming_heavy_hitters,
    )

    src_dir = tmp_path / "hh_src"
    src_dir.mkdir()
    rows1 = [("a",)] * 30 + [("b",)] * 10 + [("c",)] * 5
    rows2 = [("a",)] * 20 + [("b",)] * 15 + [("d",)] * 3
    spark.createDataFrame(rows1, "v string").coalesce(1).write.parquet(
        str(src_dir / "f1")
    )
    spark.createDataFrame(rows2, "v string").coalesce(1).write.parquet(
        str(src_dir / "f2")
    )
    stream = (
        spark.readStream.schema("v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*"))
    )
    out = streaming_heavy_hitters(stream, "v", capacity=64, num_shards=4)
    sink = _run_stream(spark, out, output_mode="update")
    pdf = sink.toPandas()
    # exact regime: no decrements, so per (shard, value) the LATEST
    # (= max) count_min is the cumulative exact count
    latest = pdf.groupby(["shard", "value"])["count_min"].max()
    totals = latest.groupby("value").sum().to_dict()
    assert totals == {"a": 50, "b": 25, "c": 5, "d": 3}
    assert (pdf["count_max"] == pdf["count_min"]).all()  # err stays 0
    # one shard per value — the union-of-shards contract
    assert (pdf.groupby("value")["shard"].nunique() == 1).all()

    # decrement regime: bounds still contain the true counts
    tight = streaming_heavy_hitters(
        spark.readStream.schema("v string").parquet(str(src_dir / "*")),
        "v", capacity=1, num_shards=1,
    )
    tp = _run_stream(spark, tight, output_mode="update").toPandas()
    exact = {"a": 50, "b": 25, "c": 5, "d": 3}
    last = tp.drop_duplicates(subset=["value"], keep="last")
    for _, r in last.iterrows():
        assert r["count_min"] <= exact[r["value"]] <= r["count_max"]

    import pytest as _pt
    with _pt.raises(ValueError, match="not a stream"):
        streaming_heavy_hitters(
            spark.createDataFrame(rows1, "v string"), "v"
        )


def test_windowed_numeric_psi_batch_values(spark):
    """Hand-computed binned PSI: a window matching the reference bins
    reads ~0; a window with all mass clamped into the top edge bin
    drifts; NULL/NaN mass lands in the other bucket (registers, never
    vanishes). Config validation raises."""
    import math

    from pyspark_data_quality_spark.streaming.windows import (
        windowed_numeric_psi,
    )

    nan = float("nan")
    rows = (
        # hour 0: one value per bin of [0,4) x 2 bins -> uniform
        [(1, "2024-01-01 00:01:00", 1.0), (2, "2024-01-01 00:02:00", 3.0)]
        # hour 1: everything far above hi -> clamped into top bin
        + [(3, "2024-01-01 01:01:00", 99.0),
           (4, "2024-01-01 01:02:00", 500.0)]
        # hour 2: NULL + NaN only -> all mass in "other"
        + [(5, "2024-01-01 02:01:00", None),
           (6, "2024-01-01 02:02:00", nan)]
    )
    df = spark.createDataFrame(
        rows, "event_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["window_start"].hour: r
        for r in windowed_numeric_psi(
            df, "value", 0.0, 4.0, [0.5, 0.5], duration="1 hour"
        ).collect()
    }
    eps = 1e-6
    assert out[0]["psi"] == pytest.approx(0.0, abs=1e-9)
    assert out[0]["drifted"] is False
    shifted = (1.0 - 0.5) * math.log(1.0 / 0.5) + (eps - 0.5) * math.log(
        eps / 0.5
    )
    assert out[1]["psi"] == pytest.approx(round(shifted, 6), abs=1e-6)
    assert out[1]["drifted"] is True
    gone = (eps - 0.5) * math.log(eps / 0.5)
    other = (1.0 - eps) * math.log(1.0 / eps) + 2 * gone
    assert out[2]["psi"] == pytest.approx(round(other, 6), abs=1e-6)

    with pytest.raises(ValueError, match=">= 2 bins"):
        windowed_numeric_psi(df, "value", 0.0, 4.0, [1.0])
    with pytest.raises(ValueError, match="hi > lo"):
        windowed_numeric_psi(df, "value", 4.0, 4.0, [0.5, 0.5])


def test_windowed_numeric_psi_stream_matches_batch(spark, sf_dir, events_dir):
    from pyspark_data_quality_spark.streaming.windows import (
        windowed_numeric_psi,
    )

    ref = [0.1] * 10
    batch = load_table(spark, "events", sf_dir)
    expected = {
        r["window_start"]: (r["n_events"], r["psi"], r["drifted"])
        for r in windowed_numeric_psi(
            batch, "value", 0.0, 200.0, ref, duration="1 hour"
        ).collect()
    }
    stream = load_events_stream(spark, events_dir)
    sdf = windowed_numeric_psi(
        stream, "value", 0.0, 200.0, ref, duration="1 hour"
    )
    assert sdf.isStreaming  # single aggregation: streaming-legal
    got = {
        r["window_start"]: (r["n_events"], r["psi"], r["drifted"])
        for r in _run_stream(spark, sdf).collect()
    }
    assert got == expected


def test_ewma_batch_hand_computed(spark):
    """Closed-form batch face against the hand recurrence: alpha=0.5,
    target 10 — z walks 10→10→11.5→12.75 on [10,13,14]; NaN/null rows are
    unscored and leave the state untouched; validation raises."""
    from pyspark_data_quality_spark.streaming import streaming_ewma

    rows = [("a", f"2024-01-01 00:0{i}:00", v) for i, v in enumerate(
        [10.0, 13.0, None, 14.0]
    )]
    df = spark.createDataFrame(rows, ["k", "ts", "v"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {str(r["ts"])[14:16]: r for r in streaming_ewma(
        df, ["k"], "v", "ts", target=10.0, sigma=2.0, alpha=0.5, L=3.0
    ).collect()}
    # z_1 = .5*10+.5*10 = 10; z_2 = .5*13+.5*10 = 11.5; null skipped;
    # z_3 = .5*14+.5*11.5 = 12.75
    assert out["00"]["ewma"] == 10.0
    assert out["01"]["ewma"] == 11.5
    assert out["02"]["ewma"] is None and out["02"]["is_alarm"] is False
    assert out["03"]["ewma"] == 12.75
    # bands: L*sigma*sqrt(a/(2-a))*sqrt(1-(1-a)^(2t)), t = valid index
    import math
    asym = 3.0 * 2.0 * math.sqrt(0.5 / 1.5)
    assert out["00"]["band"] == round(asym * math.sqrt(1 - 0.25), 6)
    assert out["03"]["band"] == round(asym * math.sqrt(1 - 0.5 ** 6), 6)
    # |12.75-10| = 2.75 < band ~3.43 -> no alarm yet
    assert out["03"]["is_alarm"] is False

    with pytest.raises(ValueError, match="alpha"):
        streaming_ewma(df, ["k"], "v", "ts", target=0, sigma=1, alpha=1.0)
    with pytest.raises(ValueError, match="sigma"):
        streaming_ewma(df, ["k"], "v", "ts", target=0, sigma=0.0)


def test_ewma_batch_overflow_horizon_raises(spark):
    """Past ~240/-log10(1-alpha) valid points the closed form's scaled
    cumsum overflows double — the face must raise loudly, not corrupt."""
    from pyspark_data_quality_spark.streaming import streaming_ewma

    # alpha=0.99 -> a=0.01 -> horizon = 120 points
    rows = [("a", i, 1.0) for i in range(130)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    with pytest.raises(Exception, match="exceeds 120 valid points"):
        streaming_ewma(
            df, ["k"], "v", "t", target=1.0, sigma=1.0, alpha=0.99
        ).collect()
    # one fewer than the horizon: fine
    ok = streaming_ewma(
        df.filter("t < 120"), ["k"], "v", "t",
        target=1.0, sigma=1.0, alpha=0.99,
    ).collect()
    assert len(ok) == 120


def test_ewma_stream_batch_parity(spark, tmp_path):
    """availableNow stream == batch face on a shifted series with NaN
    gaps and two keys; the shifted key alarms, the stable key never."""
    from pyspark_data_quality_spark.streaming import streaming_ewma

    rows = []
    for i in range(40):
        v = 10.0 + (2.5 if i >= 25 else 0.0)
        rows.append(("a", f"2024-01-01 00:{i:02d}:00", v))
        rows.append(("b", f"2024-01-01 00:{i:02d}:00", 10.0 - (i % 2) * 0.2))
    rows.append(("a", "2024-01-01 00:40:00", None))
    src = spark.createDataFrame(rows, ["k", "ts", "v"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    path = str(tmp_path / "ewma_src")
    src.write.parquet(path)

    kw = dict(target=10.0, sigma=0.5, alpha=0.2, L=3.0)
    batch = {
        (r["k"], str(r["ts"])): (r["ewma"], r["band"], r["is_alarm"])
        for r in streaming_ewma(
            spark.read.parquet(path), ["k"], "v", "ts", **kw
        ).collect()
    }
    sdf = streaming_ewma(
        spark.readStream.schema(src.schema).parquet(path),
        ["k"], "v", "ts", **kw,
    )
    assert sdf.isStreaming
    out = _run_stream(spark, sdf, output_mode="update")
    got = {
        (r["k"], str(r["ts"])): (r["ewma"], r["band"], r["is_alarm"])
        for r in out.collect()
    }
    assert set(got) == set(batch)
    for key in batch:
        bz, bb, bf = batch[key]
        gz, gb, gf = got[key]
        assert gf == bf, key
        if bz is None:
            assert gz is None, key
        else:
            assert abs(gz - bz) < 1e-6 and abs(gb - bb) < 1e-6, key
    assert any(v[2] for k, v in batch.items() if k[0] == "a")
    assert not any(v[2] for k, v in batch.items() if k[0] == "b")


def test_round_like_spark_matches_f_round(spark):
    """The streaming faces' display rounding must equal F.round
    bit-for-bit — including DECIMAL half-boundaries where both
    np.round (half-even) and the naive floor(abs*scale+.5) trick
    (rounds the binary value: 0.285*100 = 28.4999...) diverge from
    Java's shortest-decimal HALF_UP."""
    import math
    import random

    from pyspark_data_quality_spark.streaming.anomaly import _round_like_spark

    vals = [0.285, 1.005, 2.675, -0.285, -1.005, 2.5, -2.5, -3.75,
            0.1234565, 1e-7, 123456.789, 0.0, -0.0, 1e16,
            1.0000005, -1.0000005, float("nan"), float("inf")]
    random.seed(5)
    vals += [random.uniform(-50, 50) for _ in range(300)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    for nd in (0, 2, 6):
        want = [r[0] for r in df.select(F.round("v", nd)).collect()]
        got = list(_round_like_spark(vals, nd))
        for v, w, g in zip(vals, want, got):
            assert w == g or (math.isnan(w) and math.isnan(g)), (v, nd, w, g)


def test_ewma_stream_rounding_half_up(spark, tmp_path):
    """Both faces round like F.round at the 6-digit output precision:
    x=0.015625/alpha=.5/target=0 puts the ewma EXACTLY on 0.0078125 (a
    binary half — np.round would emit 0.007812, batch 0.007813), and
    target=x=0.0019955 plants a DECIMAL half (binary 0.00199549...,
    shortest repr '0.0019955' — the naive floor(abs*1e6+.5) trick would
    emit 0.001995, F.round 0.001996)."""
    from pyspark_data_quality_spark.streaming import streaming_ewma

    src = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 0.015625),
         ("a", "2024-01-01 00:01:00", -0.0546875)],
        ["k", "ts", "v"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "ewma_half")
    src.write.parquet(path)

    kw = dict(target=0.0, sigma=1.0, alpha=0.5, L=3.0)
    batch = {str(r["ts"])[14:16]: r["ewma"] for r in streaming_ewma(
        spark.read.parquet(path), ["k"], "v", "ts", **kw
    ).collect()}
    # z_1 = 0.0078125 -> 0.007813 half-up; z_2 = .5*(-0.0546875) +
    # .5*0.0078125 = -0.0234375 -> -0.023438 (away from zero on the
    # negative side too)
    assert batch == {"00": 0.007813, "01": -0.023438}
    out = _run_stream(spark, streaming_ewma(
        spark.readStream.schema(src.schema).parquet(path),
        ["k"], "v", "ts", **kw,
    ), output_mode="update")
    got = {str(r["ts"])[14:16]: r["ewma"] for r in out.collect()}
    assert got == batch

    # decimal half-boundary: z_1 = .5*target + .5*x = target exactly
    src2 = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 0.0019955)], ["k", "ts", "v"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path2 = str(tmp_path / "ewma_half2")
    src2.write.parquet(path2)
    kw2 = dict(target=0.0019955, sigma=1.0, alpha=0.5, L=3.0)
    b2 = streaming_ewma(
        spark.read.parquet(path2), ["k"], "v", "ts", **kw2
    ).collect()[0]["ewma"]
    assert b2 == 0.001996  # F.round(0.0019955, 6): shortest-decimal HALF_UP
    s2 = _run_stream(spark, streaming_ewma(
        spark.readStream.schema(src2.schema).parquet(path2),
        ["k"], "v", "ts", **kw2,
    ), output_mode="update").collect()[0]["ewma"]
    assert s2 == b2
