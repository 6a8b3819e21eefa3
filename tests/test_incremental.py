"""Incremental corpus state: fold batches, query history without rescans."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture
def batches(spark):
    b1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "web"),
            (2, "delta epsilon", "web"),
            (3, "alpha beta gamma", "books"),  # exact dup of doc 1
        ],
        ["doc_id", "text", "source"],
    )
    b2 = spark.createDataFrame(
        [
            (10, "alpha beta gamma", "web"),      # dup of history
            (11, "zeta eta theta iota", "web"),   # all-novel tokens
            (12, "delta epsilon zeta", "books"),  # half-novel
        ],
        ["doc_id", "text", "source"],
    )
    return b1, b2


def test_incremental_state_roundtrip(spark, tmp_path, batches):
    from pyspark_data_quality_spark.pipelines.incremental import (
        batch_vs_history,
        history_summary,
        read_state,
        update_corpus_state,
    )

    b1, b2 = batches
    state_dir = str(tmp_path / "state")
    assert read_state(spark, state_dir) is None
    with pytest.raises(ValueError):
        batch_vs_history(spark, state_dir, b2)

    update_corpus_state(spark, state_dir, b1)
    st = read_state(spark, state_dir)
    # 2 distinct texts, 5 distinct tokens, per-source sketches
    assert st.fingerprints.count() == 2
    vocab = {r["token"]: r["n"] for r in st.vocab.collect()}
    assert vocab == {
        "alpha": 2, "beta": 2, "gamma": 2, "delta": 1, "epsilon": 1,
    }

    ann = {
        r["doc_id"]: (r["is_new_text"], r["novel_token_ratio"])
        for r in batch_vs_history(spark, state_dir, b2).collect()
    }
    assert ann[10] == (False, 0.0)     # known text, known tokens
    assert ann[11][0] is True and ann[11][1] == 1.0
    assert ann[12][0] is True and abs(ann[12][1] - 1 / 3) < 1e-6

    # fold batch 2; totals must reflect BOTH batches (merge, not replace)
    update_corpus_state(spark, state_dir, b2)
    st2 = read_state(spark, state_dir)
    assert st2.fingerprints.count() == 4  # 2 + 2 new distinct texts
    vocab2 = {r["token"]: r["n"] for r in st2.vocab.collect()}
    assert vocab2["alpha"] == 3 and vocab2["zeta"] == 2

    summ = {r["group"]: r for r in history_summary(spark, state_dir).collect()}
    assert summ["__total__"]["n"] == 6
    assert summ["web"]["n"] == 4 and summ["books"]["n"] == 2
    # HLL estimate of 4 distinct texts total (exact at this cardinality)
    assert round(summ["__total__"]["distinct_est"]) == 4
    # median token length across all 6 docs is 3
    assert summ["__total__"]["len_q0.5"] == 3.0


def test_incremental_state_crash_safety(spark, tmp_path, batches):
    """A failed update must leave the previous state readable."""
    from pyspark_data_quality_spark.pipelines.incremental import (
        read_state,
        update_corpus_state,
    )

    b1, _ = batches
    state_dir = str(tmp_path / "state")
    update_corpus_state(spark, state_dir, b1)
    bad = b1.withColumn("text", F.col("doc_id"))  # wrong type downstream
    try:
        update_corpus_state(
            spark, state_dir, bad.select("doc_id", "text", "nope")
        )
    except Exception:
        pass
    st = read_state(spark, state_dir)
    assert st is not None and st.fingerprints.count() == 2


def test_incremental_state_on_fixture(spark, tmp_path, sf_dir):
    """Drive the state pipeline with the real documents fixture: fold the
    corpus in two halves; history stats must equal the one-shot fold."""
    from pyspark_data_quality_spark.pipelines.incremental import (
        batch_vs_history,
        history_summary,
        update_corpus_state,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half1 = docs.filter("doc_id % 2 = 0")
    half2 = docs.filter("doc_id % 2 = 1")

    s_inc = str(tmp_path / "inc")
    update_corpus_state(spark, s_inc, half1)
    update_corpus_state(spark, s_inc, half2)
    s_once = str(tmp_path / "once")
    update_corpus_state(spark, s_once, docs)

    inc = {r["group"]: r for r in history_summary(spark, s_inc).collect()}
    once = {r["group"]: r for r in history_summary(spark, s_once).collect()}
    assert set(inc) == set(once)
    for g in inc:
        assert inc[g]["n"] == once[g]["n"], g
        # HLL estimates of the SAME set reached via merge vs one-shot
        # agree within sketch tolerance (~2%)
        a, b = inc[g]["distinct_est"], once[g]["distinct_est"]
        assert abs(a - b) <= 0.02 * max(a, b) + 1, g

    # every fixture doc is known text vs its own history
    ann = batch_vs_history(spark, s_inc, docs.limit(50))
    assert ann.filter("is_new_text").count() == 0
    assert ann.filter("novel_token_ratio > 0").count() == 0


def test_stream_update_corpus_state(spark, tmp_path, batches):
    """availableNow stream over a docs directory folds into the SAME
    state a batch fold produces."""
    import pytest

    from pyspark_data_quality_spark.pipelines.incremental import (
        history_summary,
        read_state,
        stream_update_corpus_state,
        update_corpus_state,
    )

    b1, b2 = batches
    docs_dir = str(tmp_path / "docs")
    b1.unionByName(b2).write.parquet(docs_dir)

    with pytest.raises(ValueError):
        stream_update_corpus_state(
            b1, str(tmp_path / "x"), checkpoint_path=str(tmp_path / "cp0")
        )

    s_stream = str(tmp_path / "stream_state")
    stream = spark.readStream.schema(
        "doc_id bigint, text string, source string"
    ).parquet(docs_dir)
    q = stream_update_corpus_state(
        stream, s_stream,
        checkpoint_path=str(tmp_path / "cp"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    s_batch = str(tmp_path / "batch_state")
    update_corpus_state(spark, s_batch, spark.read.parquet(docs_dir))

    got = {r["group"]: r for r in history_summary(spark, s_stream).collect()}
    want = {r["group"]: r for r in history_summary(spark, s_batch).collect()}
    assert set(got) == set(want)
    for g in got:
        assert got[g]["n"] == want[g]["n"]
    assert (
        read_state(spark, s_stream).fingerprints.count()
        == read_state(spark, s_batch).fingerprints.count()
    )


def test_curate_corpus_reads_persisted_state(spark, tmp_path):
    """Two-batch incremental curation via state_dir == one-shot curation:
    the persisted fingerprint set stands in for yesterday's corpus."""
    from pyspark_data_quality_spark.pipelines.curation import curate_corpus
    from pyspark_data_quality_spark.pipelines.incremental import (
        update_corpus_state,
    )

    b1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "epsilon zeta eta theta"),
            (3, "alpha beta gamma delta"),   # in-batch dup of 1
        ],
        ["doc_id", "text"],
    )
    b2 = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta"),  # dup of history
            (11, "iota kappa lambda mu"),    # novel
            (12, "epsilon zeta eta theta"),  # dup of history
            (13, "iota kappa lambda mu"),    # in-batch dup of 11
        ],
        ["doc_id", "text"],
    )
    kw = dict(min_quality=0.0, languages=None, near_dup_threshold=1.5)

    state_dir = str(tmp_path / "state")
    # day 1: virgin state directory behaves as "no history"
    s1 = {
        r["doc_id"]: r["curation_status"]
        for r in curate_corpus(b1, state_dir=state_dir, **kw).collect()
    }
    assert s1 == {1: "kept", 2: "kept", 3: "exact_dup"}
    update_corpus_state(
        spark, state_dir, b1.withColumn("source", F.lit("web"))
    )

    # day 2: history dups drop as ref_dup straight from the state frame
    s2 = {
        r["doc_id"]: r["curation_status"]
        for r in curate_corpus(b2, state_dir=state_dir, **kw).collect()
    }
    assert s2 == {
        10: "ref_dup", 11: "kept", 12: "ref_dup", 13: "exact_dup",
    }

    # incremental kept set == one-shot kept set over both batches
    once = curate_corpus(b1.unionByName(b2), **kw)
    kept_once = {
        r["doc_id"] for r in once.collect()
        if r["curation_status"] == "kept"
    }
    kept_inc = {k for k, v in {**s1, **s2}.items() if v == "kept"}
    assert kept_once == kept_inc == {1, 2, 11}


def test_state_update_is_atomic_and_guards_reserved(spark, tmp_path):
    """A crashed update (version directory written, pointer not renamed)
    must be invisible: read_state keeps serving the committed version.
    The old delete-then-swap could lose the fingerprint set outright
    mid-update — 100 TB of dedup history gone silently."""
    import os

    from pyspark_data_quality_spark.pipelines.incremental import (
        batch_vs_history,
        read_state,
        update_corpus_state,
    )

    sd = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [(i, f"doc {i} alpha", "s") for i in range(20)],
        ["doc_id", "text", "source"],
    )
    update_corpus_state(spark, sd, b1)
    n0 = read_state(spark, sd).fingerprints.count()
    assert n0 == 20

    # simulate a crash: a half-written NEXT version with no commit
    orphan = os.path.join(sd, "v=99", "fingerprints")
    spark.createDataFrame([(1,)], ["fp"]).write.parquet(orphan)
    assert read_state(spark, sd).fingerprints.count() == n0

    # a second committed update still folds correctly on top
    b2 = spark.createDataFrame(
        [(i, f"doc {i} alpha", "s") for i in range(15, 30)],
        ["doc_id", "text", "source"],
    )
    update_corpus_state(spark, sd, b2)
    assert read_state(spark, sd).fingerprints.count() == 30

    # reserved output/work columns collide loudly, not silently
    bad = b2.withColumn("fp", F.lit(1))
    with pytest.raises(Exception, match="fp"):
        batch_vs_history(spark, sd, bad)
