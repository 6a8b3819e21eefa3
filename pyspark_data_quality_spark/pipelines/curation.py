"""End-to-end corpus curation: the operators composed the way a training
data pipeline actually runs them.

Stage order (the cheap filters run before the expensive candidate
generation, so dedup never shingles a document that quality filtering
already rejected):

1. profile — ONE Arrow pass appends quality/language signals
   (:func:`..operators.text.text_profile`);
2. gate — null text / language / quality-score row filters (pure
   expressions), then the optional trained-classifier gate
   (``quality_model=``, an :class:`..operators.classify.NBModel`):
   heuristics first so the model never scores junk, model before dedup
   so shingling never touches a rejected document;
3. exact dedup — fingerprint groupBy, min-id survivor;
4. near dedup — banded MinHash pairs over WORD shingles by default
   (char n-grams degenerate toward all-pairs on shared-vocabulary
   corpora — candidate explosion, not just waste), greedy min-id
   survivor (documents pairing with a smaller-id near-duplicate drop);
5. decontamination (optional) — inverted-index probe containment;
6. split — deterministic md5-bucket train/val/test assignment.

Nothing is filtered destructively: every input row comes back with a
``curation_status`` explaining where it fell out (``kept`` rows also get
the ``split`` column), so the stats are ONE groupBy over the result
instead of a count-action per stage, and the dropped rows remain
available for quarantine. Statuses: kept, null_text, wrong_lang,
low_quality, model_rejected (only with ``quality_model``: predicted
label outside ``model_keep_labels`` or margin below ``model_margin``),
bad_compression (only with ``compression_band=(lo, hi)``: zlib
compression ratio outside the band — the Gopher-style redundancy
filter, one extra Arrow pass over surviving text),
ref_dup (incremental mode: fingerprint already in the ``reference``
corpus), exact_dup, near_dup, contaminated, rebalanced_out (only with
``rebalance_target``: sampled out by the distribution-matching stage).
Every stage's input excludes ALL previously-dropped rows (the drop
flags accumulate in each ``passed`` filter), so no stage spends work
on — or lets its candidate generation be influenced by — a document
that already fell out.

Scale shape: signals ride a single mapInPandas pass; every drop-list is
a keyed join on the id (the lists hold only dropped ids, not payloads);
split assignment is a projection. No collects, no unpartitioned windows,
no cross joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curate_corpus(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    languages: tuple[str, ...] | None = ("en",),
    near_dup_threshold: float = 0.8,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle: str = "word",
    shingle_n: int = 3,
    hash_family: str = "blake2b",
    reference: DataFrame | None = None,
    ref_text_col: str | None = None,
    state_dir: str | None = None,
    probes: DataFrame | None = None,
    contamination_threshold: float = 0.5,
    split_weights: dict[str, float] | None = None,
    salt: str = "",
    status_col: str = "curation_status",
    split_col: str = "split",
    strip_boilerplate: bool = False,
    segment_k: int = 50,
    segment_min_df: int = 2,
    rebalance_target: dict[str, float] | None = None,
    rebalance_col: str = "lang_pred",
    quality_model=None,
    model_keep_labels: tuple[str, ...] = (),
    model_margin: float = 0.0,
    compression_band: tuple[float, float] | None = None,
    unicode_form: str | None = None,
) -> DataFrame:
    """Run the full curation pipeline; returns EVERY input row annotated
    with ``status_col`` (and ``split_col`` for kept rows) plus the
    text-profile signal columns. ``curation_stats`` summarizes the result.

    ``strip_boilerplate`` (default off — adds two columns to the output
    schema) runs the sub-document segment-dedup stage on the rows that
    survive doc-level dedup: ``dup_segment_ratio`` plus a
    ``<text_col>_dedup`` column with cross-document duplicated
    ``segment_k``-token segments removed (operators/dedup.py
    strip_duplicate_segments).

    ``state_dir`` (default off) points at the parquet corpus state that
    :func:`..pipelines.incremental.update_corpus_state` maintains: the
    persisted fingerprint set joins in as ref_dup history (unioned with
    ``reference`` if both are given), so the daily batch dedups against
    100 TB of history by reading a hashes-only frame. A virgin state
    directory is treated as "no history".

    ``unicode_form`` (default off) UAX #15-normalizes ``text_col``
    before anything reads it (operators/repair.py unicode_normalize):
    composed vs decomposed forms of the same visible string otherwise
    carry different fingerprints and survive dedup as distinct docs.

    ``rebalance_target`` (default off) adds a final distribution-
    matching stage (operators/split.py matched_sample) over the
    survivors: downsample so ``rebalance_col`` (default the profile's
    ``lang_pred``) matches the target mix at the largest feasible size;
    rows sampled out get status ``rebalanced_out``.

    The profiled frame is pinned (plans/cache.py): the dedup and
    contamination stages are separate consumers of the same expensive
    mapInPandas profile pass, and without the pin Spark recomputes it
    once per branch (measured: 8 MapInPandas nodes in the unpinned
    plan). :func:`..operators.dedup.minhash_near_dup_pairs` pins its
    signature frame the same way, so banding and verify share one
    kernel pass. The pins live until ``spark.catalog.clearCache()``:
    a loop curating batch after batch calls it once each batch's
    outputs are written.
    """
    from ..operators.dedup import minhash_near_dup_pairs
    from ..operators.split import _split_sql
    from ..operators.text import contamination_pairs, text_profile
    from ..plans.cache import pin
    from ..plans.compile import ident, sql_literal

    if unicode_form is not None:
        # opt-in pre-step (default off so the certified no-normalize
        # oracles are untouched): UAX #15 normalization BEFORE
        # profiling/fingerprinting, so composed and decomposed forms of
        # the same visible text dedup as one document
        from ..operators.repair import unicode_normalize

        docs = unicode_normalize(docs, text_col, form=unicode_form)

    def _pin(small: DataFrame) -> DataFrame:
        # Drop-lists are tiny (ids only) but their plans embed the
        # expensive candidate-generation subtrees; later stages join
        # against them AND filter their own inputs through them, so an
        # unpersisted list re-runs its whole subtree once per consumer
        # (measured: the MinHash stage executed twice — once for the
        # near-dup join, once inside contamination's input plan).
        return pin(small)

    # r16 (guide §3, fewer passes over the corpus): each stage used to
    # LEFT-JOIN its drop-list onto the full annotated frame, so the
    # final plan carried one corpus-wide join PER STAGE. The lists are
    # DISJOINT by construction (every stage's input already excludes
    # all previously-dropped rows), so the final annotation is ONE left
    # join of their (id, reason) union; each stage still excludes prior
    # drops from its own input via an anti join on the pinned id list.
    drop_lists: list[DataFrame] = []
    # every expression below is SQL text over quoted names (plans/compile):
    # one parse per projection instead of a py4j round trip per operator
    idq, textq, statusq = ident(id_col), ident(text_col), ident(status_col)

    prof = pin(text_profile(docs, text_col))
    # quality gates BEFORE language: junk text language-IDs as 'und', and
    # "low_quality" is the actionable status for it, not "wrong_lang"
    gates = [
        f"WHEN {textq} IS NULL THEN 'null_text'",
        f"WHEN quality_score < {sql_literal(min_quality)} THEN 'low_quality'",
    ]
    if languages is not None:
        langs = ", ".join(sql_literal(lang) for lang in languages or ("",))
        gates.append(f"WHEN NOT lang_pred IN ({langs}) THEN 'wrong_lang'")
    annotated = prof.withColumn(status_col, F.expr(f"CASE {' '.join(gates)} END"))
    passed = annotated.filter(f"{statusq} IS NULL")

    def _drop_stage(ids: DataFrame, reason: str) -> None:
        """Pin a stage's drop-list (ids only, never payloads) and
        exclude it from every later stage's input."""
        nonlocal passed
        d = _pin(ids.selectExpr(idq, f"{sql_literal(reason)} AS _drop_reason"))
        drop_lists.append(d)
        passed = passed.join(d.selectExpr(idq), id_col, "left_anti")

    # optional model-based quality gate (default off): a trained NB
    # classifier (operators/classify.py) scores the rows that survived
    # the heuristic gates — the fastText-style learned filter, placed
    # before dedup so candidate generation never shingles a rejected
    # document, but after the cheap expression gates so the model never
    # scores null/junk text. Drop-list join like every other stage.
    if quality_model is not None:
        from ..operators.classify import predict_nb, score_nb_classifier

        if not model_keep_labels:
            raise ValueError(
                "curate_corpus: model_keep_labels must be non-empty "
                "when quality_model is given"
            )
        pred = predict_nb(
            score_nb_classifier(passed, quality_model, text_col, [id_col]),
            [id_col],
        )
        _drop_stage(
            pred.filter(
                ~F.col("predicted").isin(*model_keep_labels)
                | (F.col("margin") < F.lit(float(model_margin)))
            ),
            "model_rejected",
        )

    # optional compression-redundancy gate (default off): zlib ratio
    # outside [lo, hi] drops as bad_compression — the Gopher-style band
    # filter for boilerplate/keyword-stuffing (too compressible) and
    # binary junk (incompressible). Runs AFTER the cheap gates + model
    # (never compresses rejected text) and BEFORE dedup (shingling never
    # touches a rejected document); ONE extra Arrow pass shipping only
    # (id, text) of the surviving rows. NULL/empty text has no ratio and
    # is never dropped here (the null_text gate already owns it).
    if compression_band is not None:
        from ..operators.text import compression_profile

        lo, hi = compression_band
        if not 0.0 <= float(lo) < float(hi):
            raise ValueError(
                "curate_corpus: compression_band must be (lo, hi) "
                "with 0 <= lo < hi"
            )
        ratio = compression_profile(passed.selectExpr(idq, textq), text_col)
        _drop_stage(
            ratio.filter(
                F.col("compression_ratio").isNotNull()
                & (
                    (F.col("compression_ratio") < F.lit(float(lo)))
                    | (F.col("compression_ratio") > F.lit(float(hi)))
                )
            ),
            "bad_compression",
        )

    # incremental mode: rows whose fingerprint already exists in the
    # REFERENCE corpus (yesterday's curated data) drop as ref_dup before
    # any in-batch work — the daily-batch shape where re-curating history
    # per batch is a non-starter. Hash semi join on the reference's
    # fingerprint set; the reference projection prunes to one column.
    # The reference can be a DataFrame of documents (``reference=``,
    # fingerprinted here) and/or the persisted fingerprint state a prior
    # ``pipelines.incremental.update_corpus_state`` wrote (``state_dir=``
    # — hashes only, the history itself is never rescanned); when both
    # are given their fingerprint sets union.
    ref_fp = None
    if reference is not None:
        from ..functions.text import doc_fingerprint

        ref_fp = reference.select(
            doc_fingerprint(ref_text_col or text_col).alias("fingerprint")
        ).distinct()
    if state_dir is not None:
        from .incremental import read_state

        state = read_state(docs.sparkSession, state_dir)
        if state is not None:
            state_fp = state.fingerprints.select(
                F.col("fp").alias("fingerprint")
            )
            ref_fp = (
                state_fp
                if ref_fp is None
                else ref_fp.union(state_fp).distinct()
            )
    if ref_fp is not None:
        _drop_stage(
            passed.selectExpr(idq, "fingerprint")
            .join(ref_fp, "fingerprint", "semi"),
            "ref_dup",
        )

    # exact dups: every id in a fingerprint group except the min drops.
    # Reuses the profile pass's fingerprint column (text_profile already
    # computed it). Survivor election is a groupBy-min + anti join on
    # (fingerprint, id) — NOT a window: groupBy gets map-side partial
    # aggregation, so a viral fingerprint with 10^7 identical copies
    # combines locally instead of funneling into one straggler task the
    # way Window.partitionBy("fingerprint") would (skew-immune; same
    # shape as operators/dedup.py exact_dedup).
    keyed = passed.selectExpr(idq, "fingerprint")
    survivors = keyed.groupBy("fingerprint").agg(F.expr(f"min({idq}) AS {idq}"))
    _drop_stage(
        keyed.join(survivors, ["fingerprint", id_col], "anti"), "exact_dup"
    )

    # near dups: greedy min-id survivor over banded MinHash pairs.
    # hash_family='md5' is the engine-portable certification family
    # (dq_curation_exact replays the whole stage in SQL); blake2b is
    # the production default
    pairs = minhash_near_dup_pairs(
        passed, text_col, id_col,
        num_hashes=num_hashes, num_bands=num_bands,
        shingle=shingle, shingle_n=shingle_n,
        threshold=near_dup_threshold,
        hash_family=hash_family,
    )
    # A semi join of passed's ids, not pairs.select(greatest).distinct():
    # without CBO the verify joins' static size estimate is the product
    # of their sides (terabytes for kilobytes of pairs), and a list
    # carrying that estimate plans the final annotate join as a sort-
    # merge join that shuffles the whole annotated corpus. A semi
    # join's estimate is its left side, so the list stays broadcastable.
    _drop_stage(
        passed.selectExpr(idq).join(
            pairs.selectExpr(f"id_b AS {idq}"), id_col, "left_semi"
        ),
        "near_dup",
    )

    # optional sub-document boilerplate stage (Lee et al. granularity),
    # AFTER doc-level dedup (identical docs are gone, so segment df now
    # measures true cross-document boilerplate): annotate the surviving
    # rows with their duplicated-segment ratio and a stripped text
    # column. Annotate-not-filter like every other stage — downstream
    # chooses the clean column; dropped/duplicate rows keep NULLs.
    if strip_boilerplate:
        from ..operators.dedup import (
            segment_dedup_profile,
            strip_duplicate_segments,
        )

        seg = _pin(
            segment_dedup_profile(
                passed, text_col, id_col,
                k=segment_k, min_df=segment_min_df,
            ).select(id_col, "dup_segment_ratio")
        )
        stripped = strip_duplicate_segments(
            passed, text_col, id_col,
            k=segment_k, min_df=segment_min_df,
        ).select(id_col, f"{text_col}_dedup")
        annotated = annotated.join(seg, id_col, "left").join(
            stripped, id_col, "left"
        )

    if probes is not None:
        cont = contamination_pairs(
            passed, probes, text_col, id_col,
            threshold=contamination_threshold,
        )
        _drop_stage(
            cont.selectExpr(f"doc_id AS {idq}").distinct(), "contaminated"
        )

    # optional mix rebalancing (default off): downsample the SURVIVORS
    # to a target categorical distribution (e.g. a uniform language mix)
    # at the largest feasible size — the LAST gate, so the rebalanced
    # mix is computed over what actually survived dedup/decontamination.
    # Annotate-not-filter: rows sampled OUT get status "rebalanced_out".
    if rebalance_target is not None:
        from ..operators.split import matched_sample

        # domain-separated salt: matched_sample and split_assignment
        # hash the byte-identical md5 bucket of (id || salt), so sharing
        # the raw salt correlates retention with split assignment — any
        # stratum kept at fraction <= the train weight would land 100%
        # in "train" with ZERO val/test rows (silently broken eval)
        keep_ids = _pin(
            matched_sample(
                passed, id_col, rebalance_col, rebalance_target,
                salt=salt + "|rebalance",
            )
            .selectExpr(idq, "TRUE AS _rebal_keep")
        )
        annotated = annotated.join(keep_ids, id_col, "left")

    # ONE corpus-wide join annotates every stage's outcome: the pinned
    # (id, reason) lists are disjoint, so their union left-joined once
    # replaces the former per-stage join chain (the stats consumer now
    # reads prof + 1 join instead of prof + k joins).
    outcomes = [statusq]
    if drop_lists:
        all_drops = drop_lists[0]
        for d in drop_lists[1:]:
            all_drops = all_drops.unionByName(d)
        annotated = annotated.join(all_drops, id_col, "left")
        outcomes.append("_drop_reason")
    if rebalance_target is not None:
        outcomes.append("CASE WHEN _rebal_keep IS NULL THEN 'rebalanced_out' END")
    status = f"coalesce({', '.join(outcomes)}, 'kept')"
    temps = ("_drop_reason", "_rebal_keep")
    weights = split_weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    # two projections, as two withColumn calls would plan them: the split
    # reads the final status, and the optimizer keeps the status coalesce
    # in its own projection rather than computing it twice
    return annotated.selectExpr(
        *(
            f"{status} AS {statusq}" if c == status_col else ident(c)
            for c in annotated.columns
            if c not in temps
        )
    ).withColumn(
        split_col,
        F.expr(f"CASE WHEN {statusq} = 'kept' THEN {_split_sql(idq, weights, salt=salt)} END"),
    )


def curation_stats(
    curated: DataFrame,
    *,
    status_col: str = "curation_status",
    split_col: str = "split",
) -> DataFrame:
    """One-shuffle summary of a :func:`curate_corpus` result:
    ``(curation_status, split, n)`` — kept rows broken out per split,
    dropped rows per reason (split NULL), ordered by status then split.

    The aggregate is the one shuffle; its output is bounded by
    statuses x splits at any scale, so it is sorted in a single task
    (``coalesce(1)`` + ``sortWithinPartitions``) instead of a global
    ``orderBy``, whose range-partition sample and sort exchange cost two
    extra jobs to order a dozen rows."""
    return (
        curated.groupBy(status_col, split_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .coalesce(1)
        .sortWithinPartitions(status_col, split_col)
    )
