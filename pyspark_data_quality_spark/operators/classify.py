"""DataFrame-native trainable text classifier: multinomial Naive Bayes
over (optionally hashed) token features — the fastText-style quality /
domain / language filter every LLM data pipeline runs over its corpus,
expressed entirely as Spark aggregations and broadcast joins.

Why Naive Bayes and not an MLlib estimator: training IS two groupBys
(token counts per class, document counts per class) and scoring IS one
explode + broadcast join + re-aggregation — no iterative solver, no
driver-side state beyond the model frames, trivially incremental
(counts merge), and the whole thing stays inside whole-stage codegen.
At 100 TB the model is the only thing that moves: V×C count rows
(capped by ``num_buckets``) broadcast to executors, while the corpus is
scanned once for training and once per scoring run.

Scoring math (standard Laplace-smoothed multinomial NB, factored so
unseen tokens need no join hit):

    score(d, c) = log P(c) + n_tokens(d) · log_oov(c)
                  + Σ_{token t ∈ d} delta(t, c)

with ``log_oov(c) = ln(α) − ln(total_c + α·V)`` the log-probability of
a token unseen in class c, and ``delta(t,c) = ln(cnt(t,c)+α) − ln(α)``
the boost a seen token adds over that floor. Tokens absent from the
model (pruned by ``min_count`` or truly new) contribute exactly the
``log_oov`` floor via the ``n_tokens`` term, so the scoring join is a
plain inner join on the seen features — no null-handling in the hot
path.

Reference parity: the reference engine has no trainable classifier
(src/pyspark_data_quality covers rule checks only); this module is part
of the training-data extension surface (SURVEY §2 LLM-pipeline ops),
certified against a DuckDB replica of the same math (dq_nb_scores).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.expr import DIGITS, _round_value
from ..functions.text import tokenize
from ..plans.local import local_frame

__all__ = [
    "NBModel",
    "train_nb_classifier",
    "train_quality_model",
    "score_nb_classifier",
    "predict_nb",
    "uncertainty_sample",
    "crossval_nb",
    "calibration_report",
]


@dataclass(frozen=True)
class NBModel:
    """A trained classifier: two small DataFrames plus the featurizer
    parameters needed to score consistently.

    ``features``: (feature, label, delta) — one row per (seen feature,
    class); at most V×C rows where V ≤ ``num_buckets`` when hashing.
    ``classes``: (label, log_prior, log_oov) — C rows.

    A freshly TRAINED model's frames derive from a pinned count
    frame (see train_nb_classifier); call :meth:`unpersist` when done
    with a model you will not score again in this application —
    cached blocks stay reachable (and disk-tier blocks uncollected)
    for as long as the model's lineage is referenced.
    """

    features: DataFrame
    classes: DataFrame
    num_buckets: int | None
    smoothing: float
    _cached: DataFrame | None = None

    def unpersist(self) -> None:
        """Release the training-time cache backing this model's frames
        (no-op for loaded models, whose frames come from parquet)."""
        if self._cached is not None:
            self._cached.unpersist()

    def save(self, path: str) -> None:
        """Persist as two parquet datasets + params encoded in the
        classes frame (scale: the model is metadata-sized)."""
        self.features.write.mode("overwrite").parquet(f"{path}/features")
        self.classes.withColumns(
            {
                "_num_buckets": F.lit(
                    -1 if self.num_buckets is None else self.num_buckets
                ),
                "_smoothing": F.lit(self.smoothing),
            }
        ).write.mode("overwrite").parquet(f"{path}/classes")

    @staticmethod
    def load(spark: SparkSession, path: str) -> "NBModel":
        classes = spark.read.parquet(f"{path}/classes")
        meta = classes.select("_num_buckets", "_smoothing").first()
        if meta is None:
            raise ValueError(f"NBModel.load: empty model at {path}")
        return NBModel(
            features=spark.read.parquet(f"{path}/features"),
            classes=classes.drop("_num_buckets", "_smoothing"),
            num_buckets=None if meta[0] == -1 else int(meta[0]),
            smoothing=float(meta[1]),
        )


def _featurize(text_col: str, num_buckets: int | None):
    """array<feature> for one document: tokens, hashed to ``num_buckets``
    buckets (bounds the vocabulary — at corpus scale raw vocabularies
    are unbounded; 2^18-2^20 buckets is the fastText-style sweet spot)
    or kept as raw strings (oracle-friendly, small corpora)."""
    toks = tokenize(text_col)
    if num_buckets is None:
        return toks
    return F.transform(
        toks,
        lambda t: F.pmod(F.xxhash64(t), F.lit(num_buckets).cast("long")).cast(
            "string"
        ),
    )


def train_nb_classifier(
    df: DataFrame,
    text_col: str,
    label_col: str,
    *,
    num_buckets: int | None = None,
    smoothing: float = 1.0,
    min_count: int = 1,
) -> NBModel:
    """Train on ``df`` (one row per labeled document). NULL-labeled rows
    are excluded (an unlabeled document defines no class); NULL/empty
    texts contribute zero tokens but still count toward their class
    prior.

    ``min_count`` prunes features whose GLOBAL occurrence count is below
    the floor (hapax pruning — at web scale most of the vocabulary is
    noise); pruned tokens score as out-of-vocabulary, which the
    ``n_tokens·log_oov`` term already covers. Vocabulary size V for the
    Laplace denominator is the post-pruning distinct feature count.
    """
    if smoothing <= 0:
        raise ValueError("train_nb_classifier: smoothing must be > 0")
    if min_count < 1:
        raise ValueError("train_nb_classifier: min_count must be >= 1")
    labeled = df.filter(F.col(label_col).isNotNull())
    toks = labeled.select(
        F.col(label_col).alias("label"),
        F.explode(_featurize(text_col, num_buckets)).alias("feature"),
    )
    # pinned: the (label, feature) count frame feeds up to four
    # consumers (hapax filter, vocab size, per-class totals, the model's
    # feature deltas) — without the cache the corpus-sized tokenize +
    # explode + groupBy subtree re-executes per consumer. The cache
    # holds vocabulary x classes rows, never the corpus. It stays
    # REACHABLE through the returned model's lineage (memory blocks can
    # demote under pressure, but disk-tier blocks are not collected
    # while referenced) — long-lived callers release it explicitly via
    # NBModel.unpersist() (plans/cache.py contract).
    from ..plans.cache import pin

    cnt = pin(
        toks.groupBy("label", "feature").agg(F.count(F.lit(1)).alias("_cnt"))
    )
    # capture the release handle BEFORE any reassignment: unpersist()
    # only uncaches a plan that sameResults the frame it's called on,
    # so handing _cached the post-semi-join derivative would make the
    # release a silent no-op for min_count > 1 (r12 review)
    cached = cnt
    if min_count > 1:
        keep = (
            cnt.groupBy("feature")
            .agg(F.sum("_cnt").alias("_g"))
            .filter(F.col("_g") >= min_count)
            .select("feature")
        )
        cnt = cnt.join(keep, "feature", "semi")
    # One pass over the (small) count frame for totals and vocab size;
    # the 1-row vocab total rides back as a broadcast crossJoin.
    vocab = cnt.groupBy().agg(
        F.count_distinct("feature").alias("_v")
    )
    totals = cnt.groupBy("label").agg(F.sum("_cnt").alias("_total"))
    a = F.lit(float(smoothing))
    doc_counts = labeled.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("_docs")
    )
    all_docs = doc_counts.groupBy().agg(F.sum("_docs").alias("_n"))
    classes = (
        doc_counts.crossJoin(F.broadcast(all_docs))
        .join(totals, "label", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "label",
            (F.log("_docs") - F.log("_n")).alias("log_prior"),
            (
                F.log(a)
                - F.log(F.coalesce(F.col("_total"), F.lit(0)) + a * F.col("_v"))
            ).alias("log_oov"),
        )
    )
    features = cnt.select(
        "feature",
        "label",
        (F.log(F.col("_cnt") + a) - F.log(a)).alias("delta"),
    )
    return NBModel(
        features=features,
        classes=classes,
        num_buckets=num_buckets,
        smoothing=float(smoothing),
        _cached=cached,
    )


def train_quality_model(
    df: DataFrame,
    text_col: str,
    *,
    good_filter,
    bad_filter,
    num_buckets: int | None = 1 << 18,
    smoothing: float = 1.0,
    min_count: int = 2,
    max_per_class: int | None = None,
    id_col: str | None = None,
) -> NBModel:
    """CCNet-style weak supervision in one call: label the corpus with
    two heuristic predicates (``good_filter`` / ``bad_filter`` — Column
    expressions, e.g. a trusted-source match vs. a junk-signal match),
    train a binary NB model on the matching rows, and get back a model
    whose ``predict_nb`` labels are ``'good'`` / ``'bad'`` — ready for
    ``curate_corpus(quality_model=..., model_keep_labels=('good',))``.

    Rows matching neither predicate (or both) are excluded from
    training — they are what the model is FOR. ``max_per_class``
    (deterministic md5 downsample via the split machinery) caps class
    imbalance when one predicate matches the whole corpus; ``id_col``
    is required with it.
    """
    both = F.when(good_filter & bad_filter, True).otherwise(False)
    labeled = df.withColumn(
        "_label",
        F.when(both, F.lit(None).cast("string"))
        .when(good_filter, F.lit("good"))
        .when(bad_filter, F.lit("bad")),
    )
    if max_per_class is not None:
        if id_col is None:
            raise ValueError(
                "train_quality_model: id_col is required with max_per_class"
            )
        # per-class deterministic cap: keep the max_per_class smallest
        # md5 buckets per label (approximate cap via fraction of the
        # class count — ONE tiny count agg over 2 classes)
        counts = {
            r["_label"]: r["n"]
            for r in labeled.filter(F.col("_label").isNotNull())
            .groupBy("_label")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        from .split import deterministic_sample

        parts = []
        for lbl, n in counts.items():
            part = labeled.filter(F.col("_label") == lbl)
            if n > max_per_class:
                part = deterministic_sample(
                    part, id_col, max_per_class / n, salt=f"qm:{lbl}"
                )
            parts.append(part)
        if not parts:
            labeled = labeled.filter(F.col("_label").isNotNull())
        else:
            labeled = parts[0]
            for p in parts[1:]:
                labeled = labeled.unionByName(p)
    return train_nb_classifier(
        labeled,
        text_col,
        "_label",
        num_buckets=num_buckets,
        smoothing=smoothing,
        min_count=min_count,
    )


def score_nb_classifier(
    df: DataFrame,
    model: NBModel,
    text_col: str,
    id_cols: list[str],
    *,
    broadcast_model: bool = True,
    score_col: str = "score",
) -> DataFrame:
    """Per-(document, class) log-scores: ``id_cols + (label, score)``,
    exactly C rows per input row.

    Shape: explode tokens → inner-join the feature frame (broadcast by
    default — V×C rows; disable for huge unhashed vocabularies and let
    AQE pick) → partial-agg the deltas per (doc, label) → join back to
    the document×class spine (C-row broadcast crossJoin) so zero-match
    documents still score on prior + OOV mass alone.

    The featurized projection feeds BOTH the explode branch and the
    spine branch, so Spark computes the tokenize+hash pass once per
    branch.
    """
    feats = model.features
    if broadcast_model:
        feats = F.broadcast(feats)
    base = df.select(
        *id_cols, _featurize(text_col, model.num_buckets).alias("_feats")
    ).withColumn(
        # coalesce the ARRAY, not size's output: on sessions with
        # spark.sql.legacy.sizeOfNull (non-ANSI default) size(NULL) is
        # -1, not NULL, and a -1 token count would flip the OOV term's
        # sign for NULL-text documents
        "_n_tokens",
        F.size(F.coalesce(F.col("_feats"), F.array().cast("array<string>"))),
    )
    matched = (
        base.select(*id_cols, F.explode("_feats").alias("feature"))
        .join(feats, "feature")
        .groupBy(*id_cols, "label")
        .agg(F.sum("delta").alias("_delta_sum"))
    )
    spine = base.drop("_feats").crossJoin(F.broadcast(model.classes))
    return (
        spine.join(matched, [*id_cols, "label"], "left")
        .select(
            *id_cols,
            "label",
            (
                F.col("log_prior")
                + F.col("_n_tokens") * F.col("log_oov")
                + F.coalesce(F.col("_delta_sum"), F.lit(0.0))
            ).alias(score_col),
        )
    )


def uncertainty_sample(
    scored: DataFrame,
    id_cols: list[str],
    k: int,
    *,
    score_col: str = "score",
) -> DataFrame:
    """The ``k`` documents the classifier is LEAST sure about (smallest
    top-1 vs top-2 margin) — the active-learning labeling queue: human
    labels spent where they move the decision boundary most.

    Global bottom-k compiles to TakeOrderedAndProject (per-partition
    heaps merged on the driver), not a full sort — scales to any corpus.
    Deterministic: ties break on the id columns.
    """
    if k < 1:
        raise ValueError("uncertainty_sample: k must be >= 1")
    pred = predict_nb(scored, id_cols, score_col=score_col)
    return pred.orderBy(
        F.col("margin").asc(), *[F.col(c).asc() for c in id_cols]
    ).limit(k)


def predict_nb(
    scored: DataFrame,
    id_cols: list[str],
    *,
    score_col: str = "score",
    label_col: str = "predicted",
    margin_col: str | None = "margin",
) -> DataFrame:
    """Argmax over the per-class scores of :func:`score_nb_classifier`
    with a deterministic tie-break (higher label string wins — struct
    ordering), plus the top-1 vs top-2 margin as a confidence signal
    (the usual thresholding knob for quality filters)."""
    best = F.max(F.struct(F.col(score_col), F.col("label"))).alias("_best")
    agg_cols = [best]
    if margin_col is not None:
        agg_cols.append(
            F.sort_array(F.collect_list(score_col), asc=False).alias("_s")
        )
    out = scored.groupBy(*id_cols).agg(*agg_cols)
    sel = [*id_cols, F.col(f"_best.{score_col}").alias(score_col),
           F.col("_best.label").alias(label_col)]
    if margin_col is not None:
        # try_element_at, NOT element_at: under ANSI (Spark 4 default)
        # element_at(_s, 2) THROWS on a single-class model's 1-element
        # array instead of returning NULL
        sel.append(
            (
                F.try_element_at("_s", F.lit(1))
                - F.coalesce(
                    F.try_element_at("_s", F.lit(2)),
                    F.try_element_at("_s", F.lit(1)),
                )
            ).alias(margin_col)
        )
    return out.select(*sel)


def crossval_nb(
    df: DataFrame,
    text_col: str,
    label_col: str,
    id_col: str,
    *,
    folds: int = 5,
    salt: str = "",
    num_buckets: int | None = None,
    smoothing: float = 1.0,
    min_count: int = 1,
) -> DataFrame:
    """Deterministic k-fold cross-validation of the NB classifier: fold
    assignment is the md5-bucket split (same machinery as
    deterministic_split — a pure function of ids + salt, so every rerun
    and every engine agrees on the folds), each fold scored by a model
    trained on the others. Returns one row per fold:
    (fold, n_docs, n_correct, accuracy) — the honest generalization
    number behind a quality filter, vs. the training-set accuracy a
    single fit reports.

    Driver loop over ``folds`` bounded jobs; each job is train (two
    groupBys) + score (explode/join/agg) over 1/k of the data.
    """
    if folds < 2:
        raise ValueError("crossval_nb: folds must be >= 2")
    from .split import deterministic_split

    weights = {str(i): 1.0 / folds for i in range(folds)}
    folded = deterministic_split(
        df, id_col, weights, salt=salt, split_col="_fold"
    )
    # NULL-labeled rows can never score "correct" and training excludes
    # them — counting them in the fold denominators would silently
    # deflate every accuracy number
    folded = folded.filter(F.col(label_col).isNotNull())
    out = []
    for i in range(folds):
        fold = str(i)
        train = folded.filter(F.col("_fold") != fold)
        test = folded.filter(F.col("_fold") == fold)
        model = train_nb_classifier(
            train,
            text_col,
            label_col,
            num_buckets=num_buckets,
            smoothing=smoothing,
            min_count=min_count,
        )
        pred = predict_nb(
            score_nb_classifier(test, model, text_col, [id_col]),
            [id_col],
            margin_col=None,
        )
        stats = (
            pred.join(test.select(id_col, label_col), id_col)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(
                    (F.col("predicted") == F.col(label_col)).cast("long")
                ).alias("n_correct"),
            )
            .first()
        )
        # the fold is fully consumed by the .first() above — release the
        # fold model's training cache NOW, or a k-fold run strands k
        # session-lived cache entries (plans/cache.py contract)
        model.unpersist()
        n, c = stats["n_docs"], stats["n_correct"] or 0
        out.append((i, n, c, _round_value(c / n) if n else None))
    return local_frame(
        df.sparkSession,
        out,
        "fold int, n_docs long, n_correct long, accuracy double",
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) for a
    probabilistic score against a binary outcome — "when the filter
    says 0.9, is it right 90% of the time?" (public: Guo et al. 2017
    "On Calibration of Modern Neural Networks"). A quality classifier
    whose scores drive keep/drop thresholds is only as good as its
    calibration: a miscalibrated 0.9 silently shifts the corpus mix.

    ``score_col`` must lie in [0, 1] and ``label_col`` in {0, 1} /
    boolean — rows outside either raise IN-PLAN (a loud signal the
    caller passed raw margins or {-1,1} labels; squash them first).
    Scores bin into ``bins`` equal-width buckets (score 1.0 folds into
    the top bin); output is one row per non-empty bin — ``bin`` index,
    ``n``, ``mean_score``, ``positive_rate``, ``abs_gap`` — plus one
    summary row (bin = -1) whose ``abs_gap`` is the ECE: Σ (n_b / n) ·
    |mean_score_b − positive_rate_b|. Rows where score or label is
    NULL are dropped; if nothing remains the result is EMPTY (0 rows),
    not a NULL-filled summary.

    Scale shape: ONE groupBy over at most ``bins`` keys (partial aggs
    collapse everything map-side), whose ≤ ``bins``-row result is
    collected driver-side (parameter-bounded, docs/SCALE.md invariant
    #1) — this operator is EAGER — and re-emitted as a local frame so
    the detail rows and the ECE summary never rescan the source;
    rounding stays JVM-side (HALF_UP). The range checks ride the same
    scan as the binning via ``raise_error``; no extra action.
    """
    if bins < 1:
        raise ValueError(f"calibration_report: bins must be >= 1, got {bins}")
    # same raw-vs-cast pattern as the label guard below: a non-NULL raw
    # score that casts to NULL (non-numeric string) must raise, not fall
    # into the NULL-drop arm and silently shrink the denominator.
    s_raw = F.col(score_col)
    s = s_raw.cast("double")
    checked = F.when(
        s_raw.isNull() | ((s >= 0.0) & (s <= 1.0)), s
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"calibration_report: {score_col} outside [0, 1]: "
                ),
                # fall back to the RAW value so a non-numeric string
                # ('abc', '0,95') is named in the error, not masked as
                # NULL-after-cast
                F.coalesce(
                    s.cast("string"),
                    s_raw.cast("string"),
                    F.lit("NULL"),
                ),
            )
        )
    )
    # cast to double DIRECTLY — an int-first cast would truncate a
    # fractional label (0.7 -> 0) and silently pass the {0,1} check,
    # and a non-numeric string would cast to NULL and silently drop;
    # both must raise per the documented contract. A non-NULL raw that
    # casts to NULL (or to anything other than 0/1) hits the error arm
    # (the when-condition is NULL/false for it).
    raw = F.col(label_col)
    y = raw.cast("double")
    y_checked = F.when(
        raw.isNull() | (y == 0.0) | (y == 1.0), y
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"calibration_report: {label_col} not in {{0, 1}}: "
                ),
                F.coalesce(raw.cast("string"), F.lit("NULL-after-cast")),
            )
        )
    )
    pair = (
        df.select(checked.alias("_s"), y_checked.alias("_y"))
        .filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
        .select(
            F.least(
                F.floor(F.col("_s") * bins).cast("long"), F.lit(bins - 1)
            ).alias("bin"),
            "_s",
            "_y",
        )
    )
    per_bin = pair.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("_s").alias("_ms"),
        F.avg("_y").alias("_pr"),
    )
    # <= bins rows: collect once, re-emit locally — detail + summary
    # derive from this tiny frame instead of rescanning the source
    spark = df.sparkSession
    rows = [(r["bin"], r["n"], r["_ms"], r["_pr"])
            for r in per_bin.collect()]
    local = local_frame(
        spark, rows, "bin long, n long, _ms double, _pr double"
    )
    binned = local.select(
        "bin", "n", "_ms", "_pr",
        F.abs(F.col("_ms") - F.col("_pr")).alias("_gap"),
    )
    detail = binned.select(
        "bin",
        "n",
        F.round("_ms", DIGITS).alias("mean_score"),
        F.round("_pr", DIGITS).alias("positive_rate"),
        F.round("_gap", DIGITS).alias("abs_gap"),
    )
    if not rows:
        return detail  # empty input -> empty report, same schema
    ece = binned.agg(
        F.lit(-1).cast("long").alias("bin"),
        F.sum("n").alias("n"),
        F.round(F.try_divide(F.sum(F.col("_ms") * F.col("n")),
                             F.sum("n")), DIGITS).alias("mean_score"),
        F.round(F.try_divide(F.sum(F.col("_pr") * F.col("n")),
                             F.sum("n")), DIGITS).alias("positive_rate"),
        F.round(
            F.try_divide(F.sum(F.col("_gap") * F.col("n")), F.sum("n")),
            DIGITS,
        ).alias("abs_gap"),
    )
    return detail.unionByName(ece).orderBy("bin")


def confident_label_errors(
    df: DataFrame,
    *,
    id_cols: list[str],
    label_col: str,
    class_col: str = "label",
    score_col: str = "score",
) -> DataFrame:
    """Confident-learning label-error detection (Northcutt et al. 2021)
    over ANY classifier's long-format scores: ``df`` holds one row per
    (example, class) with a raw (log-)score plus the example's GIVEN
    label; each example's scores softmax into class probabilities, each
    class gets a self-confidence threshold ``t_j = avg(p_j | given
    label = j)``, and an example is a probable label error when some
    OTHER class's probability clears that class's threshold (the
    confident-joint off-diagonal). Feed it
    :func:`score_nb_classifier` output joined to the given labels, or
    any external model's scores.

    Output: one row per example — ``<label_col>`` (given),
    ``assigned_label`` (argmax among threshold-clearing classes, ties
    broken by probability then class name; the given label when nothing
    clears), ``self_confidence`` (p of the given class),
    ``assigned_confidence``, ``threshold`` (of the assigned class) and
    ``is_label_issue``. Examples with a NULL given label are scored but
    never flagged and never contribute to thresholds. A NaN score row
    is treated as ABSENT (finite() routing, SCALE.md invariant 8): its
    class can never qualify for that example, the remaining classes
    renormalize over the finite scores, and — critically — the NaN
    never reaches a threshold average, where one poisoned class would
    silently disable every detection into it.

    Scale shape: two chained window passes over ONE shuffle keyed by
    the example id (softmax + qualifying-argmax rank) plus one
    class-level aggregate broadcast back — shuffles move (examples x
    classes) score rows; no data-scale collects, no UDFs. The softmax
    frame is pinned (plans/cache.py): it feeds both the threshold
    aggregate and the probe side, and without the pin the scan +
    window subtree runs twice."""
    internal = {"_m", "_e", "_s", "_p", "_t", "_qual", "_rn", "_pg", "_tg"}
    out_names = {"assigned_label", "self_confidence",
                 "assigned_confidence", "threshold", "is_label_issue"}
    clash = sorted((internal | out_names) & set(df.columns))
    if clash:
        raise ValueError(
            f"confident_label_errors: input already has column(s) "
            f"{clash} — rename or drop them first"
        )

    from pyspark.sql.window import Window

    from ..functions.expr import finite
    from ..plans.cache import pin

    # NaN scores become NULL so max/sum/avg skip them (one NaN would
    # otherwise poison the example's whole softmax AND the class's
    # threshold average, silently disabling that class's detection)
    score = finite(F.col(score_col).cast("double"))
    given = F.col(label_col)
    cls = F.col(class_col)
    w = Window.partitionBy(*id_cols)
    # softmax with max-subtraction (log-scores run to -hundreds; a bare
    # exp underflows every class to 0/0)
    probs = pin(
        df.withColumn("_m", F.max(score).over(w))
        .withColumn("_e", F.exp(score - F.col("_m")))
        .withColumn("_p", F.col("_e") / F.sum("_e").over(w))
        .withColumn(
            "_pg", F.max(F.when(cls == given, F.col("_p"))).over(w)
        )
    )
    thresholds = (
        probs.filter(cls.eqNullSafe(given))
        .groupBy(class_col)
        .agg(F.avg("_p").alias("_t"))
    )
    ranked = (
        probs.join(F.broadcast(thresholds), on=class_col, how="left")
        .withColumn(
            "_qual",
            F.coalesce(F.col("_p") >= F.col("_t"), F.lit(False)),
        )
        # the given class's threshold, for the not-flagged output rows
        .withColumn("_tg", F.max(F.when(cls == given, F.col("_t"))).over(w))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*id_cols).orderBy(
                    F.col("_qual").desc(), F.col("_p").desc(), cls.asc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    assigned = F.when(F.col("_qual"), cls).otherwise(given)
    issue = given.isNotNull() & F.col("_qual") & (cls != given)
    return ranked.select(
        *id_cols,
        given.alias(label_col),
        assigned.alias("assigned_label"),
        F.round("_pg", DIGITS).alias("self_confidence"),
        F.round(
            F.when(F.col("_qual"), F.col("_p")).otherwise(F.col("_pg")),
            DIGITS,
        ).alias("assigned_confidence"),
        F.round(
            F.when(F.col("_qual"), F.col("_t")).otherwise(F.col("_tg")),
            DIGITS,
        ).alias("threshold"),
        F.coalesce(issue, F.lit(False)).alias("is_label_issue"),
    )
