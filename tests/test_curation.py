"""End-to-end curation pipeline (pipelines/curation.py)."""

import pytest
from pyspark.sql import functions as F

from pyspark_data_quality_spark.pipelines import curate_corpus, curation_stats


@pytest.fixture
def corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs away "
        "to the forest where it hides from the hunter all day long"
    )
    rows = [
        (1, base),                       # kept (survivor of 1/2/3)
        (2, base),                       # exact dup of 1
        (3, base.replace("hunter", "farmer")),  # near dup of 1
        (4, "el perro corre por la calle y el gato duerme en la casa "
            "mientras los ninos juegan en el parque con la pelota"),  # spanish
        (5, None),                       # null text
        (6, "aaaaaaaaaaaaaaaaaaaaaa bbbbbbbbbbbbbbbbbbbb"),  # low quality
        # (2 giant tokens: bad count, no stopwords, mean word length > 12)
        (7, "this document is about the secret benchmark question that "
            "should never appear in the training data at all ever"),  # contaminated
        (8, "a completely ordinary english document about cooking rice "
            "with onions and garlic in a large pot over the stove at home"),  # kept
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_corpus_statuses(spark, corpus):
    probes = spark.createDataFrame(
        [(100, "the secret benchmark question that should never appear")],
        "doc_id long, text string",
    )
    out = curate_corpus(
        corpus,
        min_quality=0.3,
        languages=("en",),
        near_dup_threshold=0.5,
        probes=probes,
        contamination_threshold=0.3,
    )
    got = {r["doc_id"]: r["curation_status"] for r in out.collect()}
    assert got[5] == "null_text"
    assert got[4] == "wrong_lang"
    assert got[6] == "low_quality"
    assert got[2] == "exact_dup"
    assert got[3] == "near_dup"
    assert got[7] == "contaminated"
    assert got[1] == "kept" and got[8] == "kept"

    # kept rows carry a split; dropped rows do not
    splits = {r["doc_id"]: r["split"] for r in out.collect()}
    assert splits[1] in {"train", "val", "test"} and splits[8] is not None
    assert all(splits[i] is None for i in (2, 3, 4, 5, 6, 7))

    # every input row comes back exactly once (annotate, never filter)
    assert out.count() == corpus.count()

    stats = {
        (r["curation_status"], r["split"]): r["n"]
        for r in curation_stats(out).collect()
    }
    assert sum(n for (s, _), n in stats.items() if s == "kept") == 2
    assert sum(stats.values()) == 8


def test_curate_corpus_unicode_form(spark):
    # composed vs decomposed forms of the SAME visible text: without
    # normalization they carry different fingerprints and both survive;
    # unicode_form="NFC" folds them into one exact-dup group
    base = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "sleeps while the fox runs away into the quiet forest tonight"
    )
    docs = spark.createDataFrame(
        [
            (1, base + " caf\u00e9"),          # composed U+00E9
            (2, base + " cafe\u0301"),          # decomposed e + U+0301
        ],
        "doc_id long, text string",
    )
    plain = {
        r["doc_id"]: r["curation_status"]
        for r in curate_corpus(docs, languages=None).collect()
    }
    # near-dup MAY catch them (1-token diff), exact dedup must NOT
    assert "exact_dup" not in plain.values()
    normed = {
        r["doc_id"]: r["curation_status"]
        for r in curate_corpus(
            docs, languages=None, unicode_form="NFC"
        ).collect()
    }
    assert sorted(normed.values()) == ["exact_dup", "kept"]


def test_curate_corpus_no_probes_deterministic(spark, corpus):
    a = curate_corpus(corpus).collect()
    b = curate_corpus(corpus).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_curate_corpus_incremental_reference(spark):
    """Incremental mode: batch rows whose fingerprint already exists in
    the reference corpus drop as ref_dup BEFORE in-batch dedup; without
    a reference the pipeline is unchanged (no ref_dup status)."""
    from pyspark_data_quality_spark.pipelines import curate_corpus, curation_stats

    text = "the quick brown fox jumps over the lazy dog "
    ref = spark.createDataFrame(
        [(100, text * 3 + "history one"), (101, text * 3 + "history two")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (1, text * 3 + "history one"),     # already curated yesterday
            (2, text * 3 + "fresh content"),
            (3, text * 3 + "fresh content"),   # in-batch exact dup of 2
            (4, text * 3 + "entirely new doc today"),
        ],
        ["doc_id", "text"],
    )
    out = curate_corpus(
        batch, reference=ref, languages=None, min_quality=0.0,
        near_dup_threshold=0.99,
    )
    by_id = {r["doc_id"]: r["curation_status"] for r in out.collect()}
    assert by_id[1] == "ref_dup"
    assert by_id[2] == "kept"
    assert by_id[3] == "exact_dup"
    stats = {r["curation_status"] for r in curation_stats(out).collect()}
    assert "ref_dup" in stats

    # no reference: same batch, no ref_dup status anywhere
    out2 = curate_corpus(
        batch, languages=None, min_quality=0.0,
        near_dup_threshold=0.99,
    )
    assert "ref_dup" not in {r["curation_status"] for r in out2.collect()}


def test_curate_corpus_strip_boilerplate(spark):
    from pyspark_data_quality_spark.pipelines.curation import curate_corpus

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, shared + " unique tail for doc one goes here now ok"),
            (2, shared + " another different ending entirely for two"),
            (3, "completely unrelated body of text with enough words here"),
        ],
        ["doc_id", "text"],
    )
    out = curate_corpus(
        docs,
        min_quality=0.0,
        languages=None,
        strip_boilerplate=True,
        segment_k=8,
        near_dup_threshold=0.95,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    # schema gained the two stage columns
    assert "dup_segment_ratio" in out.columns
    assert "text_dedup" in out.columns
    # the shared 8-token prefix counts as boilerplate for docs 1 and 2
    assert rows[1]["dup_segment_ratio"] > 0
    assert shared not in rows[1]["text_dedup"]
    assert shared not in rows[2]["text_dedup"]
    assert "unique tail for doc one" in rows[1]["text_dedup"]
    assert rows[3]["dup_segment_ratio"] == 0.0
    # default OFF: schema unchanged
    plain = curate_corpus(docs, min_quality=0.0, languages=None)
    assert "dup_segment_ratio" not in plain.columns


def test_curation_rebalance_stage(spark):
    """rebalance_target downsamples the SURVIVORS to the target mix at
    the largest feasible size; sampled-out rows get rebalanced_out and
    no split, and the default-off path leaves statuses unchanged."""
    from pyspark_data_quality_spark.pipelines import curate_corpus

    # 40 distinct "en"-looking docs vs 5 "de"-looking ones, no dups
    en = [
        (i, f"the quick brown fox number {i} and some more words of it")
        for i in range(40)
    ]
    de = [
        (100 + i, f"der schnelle braune fuchs nummer {i} und noch mehr")
        for i in range(5)
    ]
    docs = spark.createDataFrame(en + de, ["doc_id", "text"])
    out = curate_corpus(
        docs,
        min_quality=0.0,
        languages=None,
        near_dup_threshold=0.95,
        rebalance_target={"en": 0.5, "de": 0.5},
    )
    rows = out.collect()
    by_status = {}
    for r in rows:
        by_status.setdefault(r["curation_status"], []).append(r)
    # every input row comes back, sampled-out rows are labeled not lost
    assert len(rows) == 45
    assert "rebalanced_out" in by_status
    kept = by_status["kept"]
    # the scarce stratum survives whole; the flood is cut toward parity
    kept_langs = [r["lang_pred"] for r in kept]
    assert kept_langs.count("de") == 5
    assert kept_langs.count("en") < 40
    # kept rows get splits, rebalanced-out rows don't
    assert all(r["split"] is not None for r in kept)
    assert all(r["split"] is None for r in by_status["rebalanced_out"])
    # default off: no rebalanced_out status appears
    plain = curate_corpus(
        docs, min_quality=0.0, languages=None, near_dup_threshold=0.95
    )
    assert not [
        r for r in plain.collect()
        if r["curation_status"] == "rebalanced_out"
    ]


def test_curation_minhash_stage_meets_recall_floor(spark, sf_dir):
    """Self-certify the ONE approximate curation stage: the near-dup
    MinHash config curate_corpus ships (64 hashes x 16 bands, 3-word
    shingles, t=0.8) must recover the exact word-shingle Jaccard>=0.8
    pairs on the fixture corpus. 16 bands x 4 rows catches s>=0.8 with
    ~99.98% probability, so the floor is strict; precision is floored
    too because candidates are verified against the signature-estimated
    jaccard. Complements dq_neardup_recall (which certifies the char-
    gram and SimHash shapes) with the exact config curation uses."""
    from pyspark_data_quality_spark.functions.text import word_shingles
    from pyspark_data_quality_spark.operators.dedup import (
        minhash_near_dup_pairs,
        near_dup_eval,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").localCheckpoint()
    sh = docs.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(word_shingles("text", 3)).alias("_sh"),
    ).withColumn("_n", F.size("_sh"))
    l, r = sh.alias("l"), sh.alias("r")
    inter = F.size(F.array_intersect(F.col("l._sh"), F.col("r._sh")))
    jac = F.try_divide(
        inter.cast("double"), F.col("l._n") + F.col("r._n") - inter
    )
    exact = (
        l.join(r, F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            jac.alias("j"),
        )
        .filter(F.col("j") >= 0.8)
        .select("id_a", "id_b")
    )
    approx = minhash_near_dup_pairs(
        docs, "text", "doc_id", num_hashes=64, num_bands=16,
        shingle="word", shingle_n=3, threshold=0.8,
    ).select("id_a", "id_b")
    ev = near_dup_eval(approx, exact).first()
    assert ev["n_exact"] > 0, "fixture lost its near-dup pairs"
    assert ev["recall"] >= 0.9, f"curation MinHash recall {ev['recall']}"
    assert ev["precision"] >= 0.9, f"curation MinHash precision {ev['precision']}"


def test_segment_health_report_composite(spark):
    """The composite unions every per-segment signal into one routable
    report: planted issues (one segment's nulls, one's drift, one's
    staleness) each flag in their own check rows and nowhere else."""
    import datetime

    from pyspark_data_quality_spark.pipelines.segment_health import (
        segment_health_report,
    )

    t0 = datetime.datetime(2026, 1, 1)
    hour = datetime.timedelta(hours=1)
    cur_rows = (
        # healthy segment
        [("ok", "x", 1.0, t0 + 10 * hour) for _ in range(20)]
        # nully segment: half the payloads missing
        + [("holes", None if i % 2 else "x", 1.0, t0 + 10 * hour)
           for i in range(20)]
        # drifted segment: value mix flipped vs ref, numeric shifted
        + [("moved", "y", 50.0, t0 + 10 * hour) for _ in range(20)]
        # stale segment: last event 10h behind the global max
        + [("late", "x", 1.0, t0) for _ in range(20)]
    )
    ref_rows = [
        (g, "x", 1.0, t0)
        for g in ("ok", "holes", "moved", "late")
        for _ in range(20)
    ]
    schema = "seg string, payload string, v double, ts timestamp"
    cur = spark.createDataFrame(cur_rows, schema)
    ref = spark.createDataFrame(ref_rows, schema)

    # plant duplicates in one segment: same (seg, v, ts, payload) rows
    # already exist, so key on a synthetic id that repeats only in 'ok'
    cur = cur.withColumn(
        "rid",
        F.when(F.col("seg") == "ok", F.lit(1)).otherwise(
            F.monotonically_increasing_id() + 100
        ),
    )
    rep = segment_health_report(
        cur, "seg",
        ref=ref,
        completeness_cols=["payload"],
        ts_col="ts",
        stale_after_seconds=3600.0,
        unique_keys=["rid"],
        psi_cols=["payload"],
        ks_col="v",
    ).collect()
    flags = {(r["segment"], r["check"]): r["flag"] for r in rep}
    # each planted issue fires exactly its own check
    assert flags[("holes", "completeness")] is True
    assert flags[("ok", "completeness")] is False
    assert flags[("late", "freshness")] is True
    assert flags[("ok", "freshness")] is False
    assert flags[("moved", "psi")] is True
    assert flags[("ok", "psi")] is False
    assert flags[("moved", "ks")] is True
    assert flags[("ok", "ks")] is False
    assert flags[("ok", "uniqueness")] is True   # planted repeated key
    assert flags[("late", "uniqueness")] is False
    # one row per (segment, check): 4 segments x 5 checks
    assert len(rep) == 20

    import pytest as _pytest
    with _pytest.raises(ValueError, match="need a ref"):
        segment_health_report(cur, "seg", psi_cols=["payload"])
    with _pytest.raises(ValueError, match="no sections"):
        segment_health_report(cur, "seg")


def test_segment_health_constituent_parity(spark):
    """The composite's inlined completeness/freshness base-aggregate
    math (one fused per-segment pass deriving the global points from
    per-segment sums/maxes) must equal the standalone oracle-certified
    operators row-for-row — the 'certified via constituents' claim is
    a delegation again, not an algebraic argument (r10 verdict weak
    finding). NULL segment and NULL values included deliberately —
    NULL key values too: the uniqueness fold counts distinct key
    STRUCTS, and a struct of NULLs is a non-NULL value that groups like
    dup_rate_by_group's NULL group key."""
    import datetime

    from pyspark_data_quality_spark.operators.freshness import (
        freshness_by_group,
    )
    from pyspark_data_quality_spark.operators.profile import (
        completeness_by_group,
    )
    from pyspark_data_quality_spark.operators.uniqueness import (
        dup_rate_by_group,
    )
    from pyspark_data_quality_spark.pipelines.segment_health import (
        segment_health_report,
    )

    t0 = datetime.datetime(2026, 1, 1)
    hour = datetime.timedelta(hours=1)
    rows = []
    for i in range(97):
        seg = [None, "a", "b", "c"][i % 4]
        rows.append(
            (
                seg,
                None if i % 3 == 0 else f"v{i % 5}",
                None if i % 7 == 0 else float(i),
                None if i % 11 == 0 else t0 + (i % 13) * hour,
                # repeated keys, and NULL keys (several per segment)
                None if i % 5 == 0 else i % 9,
            )
        )
    cur = spark.createDataFrame(
        rows, "seg string, payload string, v double, ts timestamp, k int"
    )

    rep = segment_health_report(
        cur, "seg", completeness_cols=["payload", "v"], ts_col="ts",
        unique_keys=["k", "payload"],
    ).collect()

    comp = {
        (r["seg"], r["column"]): r["lift"]
        for r in completeness_by_group(
            cur, ["payload", "v"], ["seg"]
        ).collect()
    }
    fresh = {
        r["seg"]: round(r["lag_seconds"], 6)
        for r in freshness_by_group(cur, "ts", ["seg"]).collect()
    }
    got_comp = {
        (r["segment"], r["column"]): r["value"]
        for r in rep
        if r["check"] == "completeness"
    }
    got_fresh = {
        r["segment"]: r["value"] for r in rep if r["check"] == "freshness"
    }
    assert len(got_comp) == len(comp) == 8  # 4 segments x 2 columns
    assert len(got_fresh) == len(fresh) == 4
    for (g, c), lift in comp.items():
        assert got_comp[(g, c)] == lift, (g, c)
    for g, lag in fresh.items():
        assert got_fresh[g] == lag, g

    dup = {
        r["seg"]: r["dup_ratio"]
        for r in dup_rate_by_group(cur, ["k", "payload"], ["seg"]).collect()
    }
    got_dup = {
        r["segment"]: r["value"] for r in rep if r["check"] == "uniqueness"
    }
    assert len(got_dup) == len(dup) == 4
    assert any(v > 0 for v in dup.values())  # the keys do repeat
    for g, rate in dup.items():
        assert got_dup[g] == rate, g


def test_corpus_report_card(spark, sf_dir):
    """The corpus card's numbers must agree with independent hand
    computations over the fixture corpus."""
    from pyspark_data_quality_spark.pipelines.corpus_card import corpus_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = corpus_report(docs, "text", top_langs=3).collect()
    by = {(r["section"], r["metric"]): r["value"] for r in rep}

    n_docs = docs.count()
    assert by[("volume", "n_docs")] == n_docs
    assert by[("volume", "null_text_share")] == 0.0
    # duplication agrees with a direct distinct count of the same hash
    from pyspark_data_quality_spark.functions.text import doc_fingerprint

    n_distinct = (
        docs.select(doc_fingerprint("text").alias("f")).distinct().count()
    )
    assert by[("duplication", "exact_dup_ratio")] == pytest.approx(
        round(1 - n_distinct / n_docs, 6)
    )
    # language shares: top rows sum to <= 1 and are ordered by share
    langs = [r for r in rep if r["section"] == "language"]
    assert 0 < len(langs) <= 3
    assert sum(r["value"] for r in langs) <= 1.0 + 1e-9
    # vocab estimate within HLL tolerance of the exact distinct count
    from pyspark.sql import functions as SF

    from pyspark_data_quality_spark.functions.text import tokenize

    exact_vocab = (
        docs.select(SF.explode(tokenize("text")).alias("t"))
        .agg(SF.count_distinct("t"))
        .first()[0]
    )
    est = by[("vocab", "approx_distinct_tokens")]
    assert abs(est - exact_vocab) / exact_vocab < 0.05
    # gopher pass share agrees with a direct expression count
    from pyspark_data_quality_spark.functions.text import gopher_pass

    direct = docs.agg(
        SF.round(SF.avg(gopher_pass("text").cast("double")), 6)
    ).first()[0]
    assert by[("quality", "gopher_pass_share")] == direct
    assert 0.0 <= direct <= 1.0
    # long-format shape: every row carries section/metric, value double
    assert all(r["section"] and r["metric"] for r in rep)


def test_curation_model_quality_gate(spark):
    """quality_model gate: a trained NB classifier drops rows predicted
    outside model_keep_labels as model_rejected, placed before dedup so
    rejected rows never join candidate generation."""
    from pyspark_data_quality_spark.operators.classify import (
        train_nb_classifier,
    )
    from pyspark_data_quality_spark.pipelines import curate_corpus

    good = "the quick brown fox jumps over the lazy dog again and again "
    spammy = "click here buy now free offer click here buy now winner "
    train = spark.createDataFrame(
        [(i, good + f"v{i}", "good") for i in range(10)]
        + [(100 + i, spammy + f"s{i}", "spam") for i in range(10)],
        ["doc_id", "text", "label"],
    )
    model = train_nb_classifier(train, "text", "label")

    batch = spark.createDataFrame(
        [
            (1, good * 2 + "article one"),
            (2, spammy * 2 + "promo blast"),
            (3, good * 2 + "article two"),
            (4, spammy * 2 + "promo blast"),  # exact dup of a REJECTED row
        ],
        ["doc_id", "text"],
    )
    out = curate_corpus(
        batch, languages=None, min_quality=0.0,
        near_dup_threshold=0.99,
        quality_model=model, model_keep_labels=("good",),
    )
    by_id = {r["doc_id"]: r["curation_status"] for r in out.collect()}
    assert by_id[1] == "kept"
    assert by_id[3] == "kept"
    assert by_id[2] == "model_rejected"
    # the dup of a rejected row is ALSO model_rejected, not exact_dup:
    # rejected rows never enter the dedup stage
    assert by_id[4] == "model_rejected"

    # keep-labels validation
    with pytest.raises(ValueError, match="model_keep_labels"):
        curate_corpus(batch, quality_model=model)


def test_curation_ref_dups_do_not_influence_near_dedup(spark):
    """A ref_dup row must not knock out other batch rows via the
    near-dup stage: dropped rows are excluded from every later stage's
    input (the accumulated passed filters)."""
    from pyspark_data_quality_spark.pipelines import curate_corpus

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    # doc 1 is already in the reference; doc 2 is a near-dup of doc 1
    # but of nothing else in the batch
    ref = spark.createDataFrame([(100, base * 5 + "x y z")], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [
            (1, base * 5 + "x y z"),
            (2, base * 5 + "x y w"),
            (3, "completely different content about other things entirely"),
        ],
        ["doc_id", "text"],
    )
    out = curate_corpus(
        batch, reference=ref, languages=None, min_quality=0.0,
        near_dup_threshold=0.5, shingle="word", shingle_n=2,
    )
    by_id = {r["doc_id"]: r["curation_status"] for r in out.collect()}
    assert by_id[1] == "ref_dup"
    # doc 2 survives: its only near-dup partner already fell out as
    # ref_dup and therefore never entered the MinHash stage
    assert by_id[2] == "kept"
    assert by_id[3] == "kept"


def test_curation_compression_gate(spark):
    from pyspark_data_quality_spark.pipelines.curation import (
        curate_corpus,
        curation_stats,
    )

    good_a = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through different fields with various words appearing once each"
    )
    good_b = (
        "meanwhile a completely separate paragraph discusses harvest "
        "logistics near the coastal village where fishermen mend nets"
    )
    spammy = "buy cheap now " * 120  # compresses extremely well
    rows = [(1, good_a), (2, good_b), (3, spammy)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = curate_corpus(
        docs,
        languages=None,
        min_quality=0.0,
        compression_band=(0.2, 1.2),
    )
    st = {r["doc_id"]: r["curation_status"] for r in out.collect()}
    assert st[3] == "bad_compression"
    assert st[1] == "kept" and st[2] == "kept"
    # default off: no bad_compression status, identical statuses otherwise
    off = curate_corpus(docs, languages=None, min_quality=0.0)
    st_off = {r["doc_id"]: r["curation_status"] for r in off.collect()}
    assert st_off[3] != "bad_compression"
    # stats roll the new status like any other
    assert any(
        r["curation_status"] == "bad_compression"
        for r in curation_stats(out).collect()
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compression_band"):
        curate_corpus(docs, compression_band=(0.9, 0.5))


def test_rebalance_salt_decorrelated_from_split(spark):
    """Rebalance retention and split assignment hash the same md5 bucket
    of (id || salt); with a SHARED salt every kept row of a stratum
    sampled at fraction <= the train weight would have bucket < the
    train cutoff and land 100% in 'train' — zero val/test rows, a
    silently broken eval split. The salts are domain-separated now."""
    from pyspark_data_quality_spark.pipelines.curation import curate_corpus

    docs = spark.createDataFrame(
        [
            (i, f"document body number {i} with unique text {i * 37}",
             "web" if i < 400 else "books")
            for i in range(500)
        ],
        ["doc_id", "text", "source"],
    )
    out = curate_corpus(
        docs,
        text_col="text",
        id_col="doc_id",
        rebalance_col="source",
        rebalance_target={"web": 0.5, "books": 0.5},
        salt="s1",
    ).filter(F.col("curation_status") == "kept")
    splits = {
        r["source"]: set()
        for r in out.select("source").distinct().collect()
    }
    for r in out.select("source", "split").collect():
        splits[r["source"]].add(r["split"])
    # the DOWN-SAMPLED stratum (web, kept at ~half) must still receive
    # val/test rows, not train-only
    assert "val" in splits["web"] or "test" in splits["web"], splits


def test_curation_stats_sorts_in_one_task(spark, sf_dir):
    """After the write, the summary costs the aggregate's shuffle plus a
    single-task sort (<= 3 jobs; a global orderBy added a range-partition
    sample and a sort exchange: 5), with the rows and order of
    ``orderBy(status, split)``."""
    from pyspark_data_quality_spark.plans.telemetry import jobs_during

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    curated = curate_corpus(docs, languages=None, min_quality=0.0)
    curated.write.format("noop").mode("overwrite").save()
    rows, jobs = jobs_during(spark, lambda: curation_stats(curated).collect())
    assert len(jobs) <= 3, sorted(jobs)
    expected = (
        curated.groupBy("curation_status", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("curation_status", "split")
        .collect()
    )
    assert rows == expected
    # several statuses and splits, so the order is actually checked
    assert len(rows) >= 4, rows
    spark.catalog.clearCache()


def test_curate_corpus_quotes_column_names(spark, sf_dir):
    """Every name reaches the composed SQL text quoted: an id column
    named ``doc.id`` and a text column holding a backtick give each row
    the (status, split) the plain names give."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # copies of every 50th document, so the exact-dup stage drops some
    docs = docs.unionByName(
        docs.filter("doc_id % 50 = 0").withColumn("doc_id", F.col("doc_id") + 10**6)
    )
    odd = docs.withColumnRenamed("doc_id", "doc.id").withColumnRenamed(
        "text", "te`xt"
    )
    kw = {"min_quality": 0.8}
    plain = {
        r[0]: (r[1], r[2])
        for r in curate_corpus(docs, **kw)
        .select("doc_id", "curation_status", "split")
        .collect()
    }
    got = {
        r[0]: (r[1], r[2])
        for r in curate_corpus(odd, text_col="te`xt", id_col="doc.id", **kw)
        .select("`doc.id`", "curation_status", "split")
        .collect()
    }
    assert got == plain
    # both gates, both dedup stages and the split all decided something
    assert set(plain.values()) >= {
        ("kept", "train"), ("kept", "val"), ("kept", "test"),
        ("low_quality", None), ("wrong_lang", None),
        ("exact_dup", None), ("near_dup", None),
    }, set(plain.values())
    spark.catalog.clearCache()
