"""Naive Bayes text classifier (operators/classify.py): planted-signal
accuracy floors, hashed features, pruning, persistence, NULL handling."""

import pytest
from pyspark.sql import Row, functions as F

from pyspark_data_quality_spark.operators.classify import (
    NBModel,
    predict_nb,
    score_nb_classifier,
    train_nb_classifier,
)


@pytest.fixture(scope="module")
def planted(spark):
    """60 docs in 3 classes with disjoint class vocabularies plus shared
    filler — a classifier that learns anything must hit ~100% here."""
    vocab = {
        "sport": ["goal", "match", "team", "score", "league"],
        "tech": ["compiler", "kernel", "tensor", "shader", "runtime"],
        "food": ["basil", "roast", "simmer", "dough", "umami"],
    }
    rows = []
    i = 0
    for label, words in vocab.items():
        for n in range(20):
            body = " ".join(words[(n + j) % 5] for j in range(6))
            rows.append(
                Row(
                    doc_id=i,
                    # rare{i} is a per-doc hapax: min_count=2 prunes it
                    text=f"the and of {body} with rare{i}",
                    label=label,
                )
            )
            i += 1
    return spark.createDataFrame(rows)


def test_planted_accuracy_unhashed(spark, planted):
    model = train_nb_classifier(planted, "text", "label")
    scored = score_nb_classifier(planted, model, "text", ["doc_id"])
    pred = predict_nb(scored, ["doc_id"])
    joined = pred.join(planted, "doc_id")
    acc = joined.agg(
        F.avg((F.col("predicted") == F.col("label")).cast("double"))
    ).first()[0]
    assert acc == 1.0
    # margin is positive when the prediction is clear
    assert joined.filter(F.col("margin") <= 0).count() == 0


def test_planted_accuracy_hashed(spark, planted):
    model = train_nb_classifier(planted, "text", "label", num_buckets=1 << 12)
    pred = predict_nb(
        score_nb_classifier(planted, model, "text", ["doc_id"]), ["doc_id"]
    )
    acc = (
        pred.join(planted, "doc_id")
        .agg(F.avg((F.col("predicted") == F.col("label")).cast("double")))
        .first()[0]
    )
    assert acc >= 0.95  # a few bucket collisions are allowed


def test_scores_shape_and_normalization(spark, planted):
    model = train_nb_classifier(planted, "text", "label")
    scored = score_nb_classifier(planted, model, "text", ["doc_id"])
    n_docs = planted.count()
    n_classes = model.classes.count()
    assert scored.count() == n_docs * n_classes
    # scores are log-probabilities: strictly negative
    assert scored.filter(F.col("score") >= 0).count() == 0


def test_min_count_prunes_vocab(spark, planted):
    full = train_nb_classifier(planted, "text", "label")
    pruned = train_nb_classifier(planted, "text", "label", min_count=2)
    v_full = full.features.select("feature").distinct().count()
    v_pruned = pruned.features.select("feature").distinct().count()
    assert 0 < v_pruned < v_full
    # pruning the tail must not break the planted separation
    pred = predict_nb(
        score_nb_classifier(planted, pruned, "text", ["doc_id"]), ["doc_id"]
    )
    acc = (
        pred.join(planted, "doc_id")
        .agg(F.avg((F.col("predicted") == F.col("label")).cast("double")))
        .first()[0]
    )
    assert acc == 1.0


def test_null_label_and_null_text(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="alpha alpha beta", label="a"),
            Row(doc_id=1, text="gamma gamma delta", label="b"),
            Row(doc_id=2, text="alpha beta", label=None),  # excluded
            Row(doc_id=3, text=None, label="a"),  # zero tokens, counts in prior
        ]
    )
    model = train_nb_classifier(df, "text", "label")
    assert model.classes.count() == 2
    # null-text doc scores on prior alone, and scoring emits C rows for it
    scored = score_nb_classifier(df, model, "text", ["doc_id"])
    assert scored.filter("doc_id = 3").count() == 2
    prior_only = {
        r.label: r.score for r in scored.filter("doc_id = 3").collect()
    }
    priors = {
        r.label: r.log_prior for r in model.classes.collect()
    }
    for lbl, s in prior_only.items():
        assert abs(s - priors[lbl]) < 1e-9
    # the unlabeled doc still gets scored (and leans to its vocabulary)
    pred = predict_nb(scored, ["doc_id"])
    assert pred.filter("doc_id = 2").first().predicted == "a"


def test_model_save_load_roundtrip(spark, planted, tmp_path):
    model = train_nb_classifier(
        planted, "text", "label", num_buckets=1 << 10, smoothing=0.5
    )
    path = str(tmp_path / "nb_model")
    model.save(path)
    loaded = NBModel.load(spark, path)
    assert loaded.num_buckets == 1 << 10
    assert loaded.smoothing == 0.5
    a = score_nb_classifier(planted, model, "text", ["doc_id"])
    b = score_nb_classifier(planted, loaded, "text", ["doc_id"])
    diff = (
        a.withColumnRenamed("score", "s1")
        .join(b.withColumnRenamed("score", "s2"), ["doc_id", "label"])
        .filter(F.abs(F.col("s1") - F.col("s2")) > 1e-9)
        .count()
    )
    assert diff == 0


def test_train_validation(spark, planted):
    with pytest.raises(ValueError):
        train_nb_classifier(planted, "text", "label", smoothing=0.0)
    with pytest.raises(ValueError):
        train_nb_classifier(planted, "text", "label", min_count=0)


def test_predict_tie_break_deterministic(spark):
    # two classes with perfectly symmetric vocabularies -> equal scores;
    # the higher label string must win, on both the tied and scored docs
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="x", label="a"),
            Row(doc_id=1, text="y", label="b"),
        ]
    )
    model = train_nb_classifier(df, "text", "label")
    scored = score_nb_classifier(
        spark.createDataFrame([Row(doc_id=9, text="z z")]),
        model,
        "text",
        ["doc_id"],
    )
    row = predict_nb(scored, ["doc_id"]).first()
    assert row.predicted == "b"
    assert row.margin == 0.0


def test_train_quality_model_weak_supervision(spark):
    """CCNet-style: heuristic good/bad predicates label the training
    set, the model generalizes to unlabeled rows; both-match rows are
    excluded; max_per_class caps imbalance deterministically."""
    from pyspark_data_quality_spark.operators.classify import (
        predict_nb,
        score_nb_classifier,
        train_quality_model,
    )

    good = "thoughtful prose with varied vocabulary and careful structure "
    bad = "click click buy buy free free winner winner spam spam "
    rows = (
        [Row(doc_id=i, text=good + f"g{i}", src="wiki") for i in range(30)]
        + [Row(doc_id=100 + i, text=bad + f"b{i}", src="junk") for i in range(10)]
        # unlabeled target rows: neither predicate matches
        + [
            Row(doc_id=200, text=good + "unseen essay", src="web"),
            Row(doc_id=201, text=bad + "unseen promo", src="web"),
        ]
    )
    df = spark.createDataFrame(rows)
    model = train_quality_model(
        df,
        "text",
        good_filter=F.col("src") == "wiki",
        bad_filter=F.col("src") == "junk",
        num_buckets=1 << 12,
        min_count=1,
        max_per_class=20,
        id_col="doc_id",
    )
    labels = {r["label"] for r in model.classes.collect()}
    assert labels == {"good", "bad"}
    pred = {
        r.doc_id: r.predicted
        for r in predict_nb(
            score_nb_classifier(df, model, "text", ["doc_id"]), ["doc_id"]
        ).collect()
    }
    assert pred[200] == "good"
    assert pred[201] == "bad"

    # id_col required with max_per_class
    import pytest as _pytest

    with _pytest.raises(ValueError, match="id_col"):
        train_quality_model(
            df, "text",
            good_filter=F.col("src") == "wiki",
            bad_filter=F.col("src") == "junk",
            max_per_class=5,
        )


def test_uncertainty_sample_picks_lowest_margin(spark, planted):
    from pyspark_data_quality_spark.operators.classify import (
        score_nb_classifier,
        train_nb_classifier,
        uncertainty_sample,
    )

    model = train_nb_classifier(planted, "text", "label")
    # append a contentless doc: prior-only scores -> the smallest margin
    target = planted.unionByName(
        spark.createDataFrame(
            [(999, "the and of with", "sport")],
            "doc_id bigint, text string, label string",
        )
    )
    scored = score_nb_classifier(target, model, "text", ["doc_id"])
    picked = uncertainty_sample(scored, ["doc_id"], 3)
    assert picked.count() == 3
    rows = picked.collect()
    # sorted ascending by margin, the filler-only doc leads
    assert rows[0].doc_id == 999
    assert rows[0].margin <= rows[1].margin <= rows[2].margin
    # TakeOrdered plan, not a global sort
    plan = picked._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan

    import pytest as _pytest

    with _pytest.raises(ValueError):
        uncertainty_sample(scored, ["doc_id"], 0)


def test_crossval_nb_generalization(spark, planted):
    from pyspark_data_quality_spark.operators.classify import crossval_nb

    cv = crossval_nb(planted, "text", "label", "doc_id", folds=3).collect()
    assert [r.fold for r in cv] == [0, 1, 2]
    assert sum(r.n_docs for r in cv) == planted.count()
    # disjoint-vocabulary planted classes: held-out accuracy is perfect
    for r in cv:
        assert r.n_docs > 0
        assert r.accuracy == 1.0
    # deterministic: identical folds and numbers on rerun
    again = crossval_nb(planted, "text", "label", "doc_id", folds=3).collect()
    assert sorted(map(tuple, cv)) == sorted(map(tuple, again))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        crossval_nb(planted, "text", "label", "doc_id", folds=1)


def test_crossval_accuracy_rounds_like_f_round(spark):
    """A held-out fold with 1 correct prediction in 128 reads 0.007813,
    as F.round (HALF_UP) rounds 1/128 = 0.0078125 — Python's round()
    (half-to-even) would give 0.007812."""
    import hashlib

    from pyspark_data_quality_spark.operators.classify import crossval_nb

    def fold(i: int) -> int:
        # the md5 bucket of deterministic_split: weights 0.5/0.5 put
        # buckets below 5000 in fold 0
        return int(int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000 >= 5000)

    held = [i for i in range(1000) if fold(i) == 0][:128]
    train = [i for i in range(1000) if fold(i) == 1][:20]
    rows = [(i, "alpha alpha", "a" if i == held[0] else "b") for i in held]
    rows += [(i, "alpha" if k % 2 else "beta", "a" if k % 2 else "b")
             for k, i in enumerate(train)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, label string")
    cv = {r.fold: r for r in crossval_nb(docs, "text", "label", "doc_id", folds=2).collect()}
    assert (cv[0].n_docs, cv[0].n_correct) == (128, 1)
    assert cv[0].accuracy == 0.007813


def test_crossval_excludes_null_labels(spark, planted):
    from pyspark_data_quality_spark.operators.classify import crossval_nb

    with_nulls = planted.unionByName(
        spark.createDataFrame(
            [(1000 + i, "unlabeled text", None) for i in range(6)],
            "doc_id bigint, text string, label string",
        )
    )
    cv = crossval_nb(with_nulls, "text", "label", "doc_id", folds=3).collect()
    # NULL-labeled rows are excluded from the denominators: the planted
    # classes still cross-validate perfectly
    assert sum(r.n_docs for r in cv) == planted.count()
    for r in cv:
        assert r.accuracy == 1.0


def test_score_null_text_robust_to_legacy_size_of_null(spark):
    """size(NULL) is -1 on non-ANSI/legacy sessions; the token count
    must still be 0 for NULL text (regression: -1 flipped the OOV
    term's sign)."""
    from pyspark.sql import Row

    from pyspark_data_quality_spark.operators.classify import (
        score_nb_classifier,
        train_nb_classifier,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="alpha alpha", label="a"),
            Row(doc_id=1, text="beta beta", label="b"),
            Row(doc_id=2, text=None, label="a"),
        ]
    )
    model = train_nb_classifier(df, "text", "label")
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
        scored = {
            r.label: r.score
            for r in score_nb_classifier(df, model, "text", ["doc_id"])
            .filter("doc_id = 2")
            .collect()
        }
        priors = {r.label: r.log_prior for r in model.classes.collect()}
        for lbl, s in scored.items():
            assert abs(s - priors[lbl]) < 1e-9  # prior-only, no -1 * oov
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev_ansi)
        spark.conf.unset("spark.sql.legacy.sizeOfNull")


def test_predict_nb_single_class_model(spark):
    """Regression: a one-class model's margin used element_at(_s, 2),
    which THROWS under ANSI instead of returning NULL."""
    from pyspark_data_quality_spark.operators.classify import (
        predict_nb,
        score_nb_classifier,
        train_nb_classifier,
    )

    df = spark.createDataFrame(
        [(0, "alpha beta", "only"), (1, "beta gamma", "only")],
        "doc_id bigint, text string, label string",
    )
    model = train_nb_classifier(df, "text", "label")
    assert model.classes.count() == 1
    pred = predict_nb(
        score_nb_classifier(df, model, "text", ["doc_id"]), ["doc_id"]
    ).collect()
    assert len(pred) == 2
    for r in pred:
        assert r.predicted == "only"
        assert r.margin == 0.0  # top-2 absent -> margin degrades to 0


def test_calibration_report_hand_checked(spark):
    """Reliability bins + ECE against hand-computed values; score 1.0
    folds into the top bin; out-of-range scores raise; NULLs drop."""
    from pyspark_data_quality_spark.operators.classify import (
        calibration_report,
    )

    rows = [
        # bin 0 of 2 ([0, .5)): scores .1 .2 .3 .4, labels 1 0 0 0
        (0.1, 1), (0.2, 0), (0.3, 0), (0.4, 0),
        # bin 1 ([.5, 1]): scores .6 .8 1.0, labels 1 1 0
        (0.6, 1), (0.8, 1), (1.0, 0),
        (None, 1), (0.5, None),                       # dropped
    ]
    df = spark.createDataFrame(rows, "s double, y int")
    out = calibration_report(df, "s", "y", bins=2).collect()
    by = {r["bin"]: r for r in out}
    assert set(by) == {-1, 0, 1}
    b0, b1, tot = by[0], by[1], by[-1]
    assert (b0["n"], b0["mean_score"], b0["positive_rate"]) == (4, 0.25, 0.25)
    assert b0["abs_gap"] == 0.0
    assert (b1["n"], b1["mean_score"], b1["positive_rate"]) == (
        3, 0.8, round(2 / 3, 6)
    )
    gap1 = abs(0.8 - 2 / 3)
    assert b1["abs_gap"] == round(gap1, 6)
    assert tot["n"] == 7
    assert tot["abs_gap"] == round((4 * 0.0 + 3 * gap1) / 7, 6)  # ECE

    import pytest as _pt
    with _pt.raises(Exception, match="outside"):
        calibration_report(
            spark.createDataFrame([(1.5, 1)], "s double, y int"), "s", "y"
        ).collect()
    with _pt.raises(ValueError, match="bins"):
        calibration_report(df, "s", "y", bins=0)


def test_calibration_report_label_guard_and_empty(spark):
    """Labels outside {0,1} raise in-plan (the {-1,1} margin
    convention must not silently corrupt positive_rate); all-NULL
    input yields an EMPTY report, not a NULL-filled summary row."""
    from pyspark_data_quality_spark.operators.classify import (
        calibration_report,
    )

    bad = spark.createDataFrame([(0.5, -1)], "s double, y int")
    import pytest as _pt
    with _pt.raises(Exception, match="not in"):
        calibration_report(bad, "s", "y").collect()

    empty = spark.createDataFrame(
        [(None, 1), (0.5, None)], "s double, y int"
    )
    out = calibration_report(empty, "s", "y")
    assert out.count() == 0
    assert out.columns == [
        "bin", "n", "mean_score", "positive_rate", "abs_gap"
    ]

    # boolean labels keep working
    b = spark.createDataFrame(
        [(0.95, True), (0.05, False)], "s double, y boolean"
    )
    rows = {r["bin"]: r for r in calibration_report(b, "s", "y").collect()}
    assert rows[9]["positive_rate"] == 1.0
    assert rows[0]["positive_rate"] == 0.0

    # a FRACTIONAL label must raise, not truncate to 0 and pass (the
    # r9 advice bug: cast('int').cast('double') silently floored 0.7)
    frac = spark.createDataFrame([(0.5, 0.7)], "s double, y double")
    with _pt.raises(Exception, match="not in"):
        calibration_report(frac, "s", "y").collect()

    # a non-numeric string label must raise loudly, never cast to NULL
    # and silently drop (ANSI cast error or the in-plan guard — either
    # way the job fails instead of shrinking the denominator)
    txt = spark.createDataFrame([(0.5, "abc")], "s double, y string")
    with _pt.raises(Exception):
        calibration_report(txt, "s", "y").collect()

    # numeric strings that ARE 0/1 still work (cast parity)
    oks = spark.createDataFrame(
        [(0.95, "1"), (0.05, "0")], "s double, y string"
    )
    rows = {r["bin"]: r
            for r in calibration_report(oks, "s", "y").collect()}
    assert rows[9]["positive_rate"] == 1.0
    assert rows[0]["positive_rate"] == 0.0

    # the SCORE side gets the same raw-vs-cast guard (r10 advice): a
    # non-numeric string score must raise, not cast to NULL and fall
    # into the NULL-drop arm
    txt_s = spark.createDataFrame([("abc", 1)], "s string, y int")
    with _pt.raises(Exception):
        calibration_report(txt_s, "s", "y").collect()

    # ...while numeric-string scores keep casting fine
    ok_s = spark.createDataFrame(
        [("0.95", 1), ("0.05", 0)], "s string, y int"
    )
    rows = {r["bin"]: r
            for r in calibration_report(ok_s, "s", "y").collect()}
    assert rows[9]["mean_score"] == 0.95


def test_confident_label_errors_planted(spark):
    """Confident learning over hand-built scores: 12 examples in 3
    classes; two have given labels that contradict a confident model
    (high p for another class) and must flag with that class assigned;
    borderline examples below the other class's threshold must not."""
    from pyspark_data_quality_spark.operators.classify import (
        confident_label_errors,
    )

    # scores: true class 5.0, others 0.0 -> p_true ~ 0.9866
    rows = []
    classes = ["a", "b", "c"]
    for i in range(12):
        given = classes[i % 3]
        true = given
        if i in (3, 7):            # planted errors: true label rotated
            true = classes[(i + 1) % 3]
        for c in classes:
            rows.append((i, given, c, 5.0 if c == true else 0.0))
    df = spark.createDataFrame(rows, "ex long, given string, label string, score double")
    out = {r["ex"]: r for r in confident_label_errors(
        df, id_cols=["ex"], label_col="given",
    ).collect()}
    assert out[3]["is_label_issue"] and out[3]["assigned_label"] == "b"
    assert out[7]["is_label_issue"] and out[7]["assigned_label"] == "c"
    clean = [r for ex, r in out.items() if ex not in (3, 7)]
    assert all(not r["is_label_issue"] for r in clean)
    assert all(r["assigned_label"] == r["given"] for r in clean)
    # self-confidence of a clean example ~ e^5/(e^5+2)
    import math
    p_true = math.exp(5) / (math.exp(5) + 2)
    assert abs(out[0]["self_confidence"] - p_true) < 1e-4
    # planted example's self-confidence is the tiny off-class p
    assert out[3]["self_confidence"] < 0.05
    assert out[3]["assigned_confidence"] > 0.9
    # thresholds are the given-class mean p: class b's threshold blends
    # 3 confident + 1 planted-low doc
    assert 0.7 < out[3]["threshold"] < p_true


def test_confident_label_errors_nb_integration_and_guards(spark):
    """End-to-end with the NB classifier: a corpus with one mislabeled
    doc; the CL pass flags exactly it. NULL given labels are scored but
    never flagged; reserved output columns raise."""
    from pyspark_data_quality_spark.operators.classify import (
        confident_label_errors,
        score_nb_classifier,
        train_nb_classifier,
    )

    en = ["the cat sat on the mat", "a dog and a cat", "the bird flew home",
          "cats and dogs play", "the mat was warm"]
    fr = ["le chat est sur le tapis", "un chien et un chat",
          "l oiseau vole haut", "les chats jouent bien", "le tapis est chaud"]
    rows = [(i, t, "en") for i, t in enumerate(en)]
    rows += [(10 + i, t, "fr") for i, t in enumerate(fr)]
    rows.append((20, "le chat est sur le tapis et le chien et les chats jouent sur le tapis", "en"))  # mislabeled
    rows.append((21, "completely unseen words entirely", None))  # no label
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    model = train_nb_classifier(docs.filter("lang IS NOT NULL"), "text", "lang")
    scored = score_nb_classifier(docs, model, "text", ["doc_id"])
    joined = scored.join(docs.select("doc_id", "lang"), "doc_id")
    out = {r["doc_id"]: r for r in confident_label_errors(
        joined, id_cols=["doc_id"], label_col="lang",
    ).collect()}
    assert out[20]["is_label_issue"] and out[20]["assigned_label"] == "fr"
    flagged = [d for d, r in out.items() if r["is_label_issue"]]
    assert flagged == [20]
    assert out[21]["is_label_issue"] is False
    assert out[21]["lang"] is None

    with pytest.raises(ValueError, match="rename or drop"):
        confident_label_errors(
            joined.withColumn("is_label_issue", F.lit(True)),
            id_cols=["doc_id"], label_col="lang",
        )


def test_confident_label_errors_nan_score_not_poisoning(spark):
    """One NaN score must not poison its class's threshold (finite()
    routing): detection INTO that class keeps working, the NaN row's
    own class is treated as absent for its example, and the example's
    remaining classes renormalize."""
    from pyspark_data_quality_spark.operators.classify import (
        confident_label_errors,
    )

    rows = []
    classes = ["a", "b"]
    for i in range(8):
        given = classes[i % 2]
        true = given
        if i == 5:                  # planted: given b, model says a
            true = "a"
        # vary the confident logit so no class threshold degenerates to
        # exactly the clean docs' shared p (identical p's make
        # p >= avg(p) a 1-ulp coin flip)
        for c in classes:
            rows.append((i, given, c,
                         (3.5 + 0.3 * (i % 3)) if c == true else 0.0))
    # example 6 (given a): its class-a score is NaN — without the
    # finite() guard this NaN reaches t_a's average and disables every
    # detection into class a (including example 5's planted error)
    rows = [r if not (r[0] == 6 and r[2] == "a")
            else (6, "a", "a", float("nan")) for r in rows]
    df = spark.createDataFrame(
        rows, "ex long, given string, label string, score double"
    )
    out = {r["ex"]: r for r in confident_label_errors(
        df, id_cols=["ex"], label_col="given",
    ).collect()}
    assert out[5]["is_label_issue"] and out[5]["assigned_label"] == "a"
    import math
    assert not math.isnan(out[5]["threshold"])
    # the NaN example: class a absent -> b is its only (renormalized)
    # class, p_b = 1.0; given-a self-confidence is NULL, never flagged
    # as an ERROR of class a (b's threshold ~0.98 from clean b docs
    # means p_b=1.0 qualifies, so it reads as a b-assignment)
    assert out[6]["self_confidence"] is None
    assert out[6]["assigned_confidence"] == 1.0
