"""Text-analysis operators over a document table (north-star extension).

One pass computes every per-document signal — token counts, quality
signals, language ID, fingerprints — in a single Arrow-batched
``mapInPandas`` stage plus JVM-side hashing: zero shuffles, a linear
scan that Catalyst fuses with any downstream filter/aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expr import DIGITS
from ..functions.text import _doc_fingerprint_sql, _doc_md5_sql
from ..plans.compile import ident

#: the raw ratios the profile pass emits, and the rounded columns they
#: become
_RAW_RATIOS = {
    "_sw_raw": "stopword_ratio",
    "_punct_raw": "punct_ratio",
    "_mwl_raw": "mean_word_len",
}


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the standard text-analysis columns to ``df``.

    The token-level signals come from ONE Arrow-batched ``mapInPandas``
    pass (:func:`_profile_signals_np`): as higher-order functions over
    the token array they evaluated INTERPRETED per element — the measured
    bottleneck at fixture scale. Hashing (xxhash64/md5 of the normalized
    text) and the round(,6) stay JVM-side: native string expressions are
    codegen-fast, and Spark's HALF_UP rounding must not be replaced by
    Python's banker's rounding (oracle parity). They are one
    ``selectExpr`` of SQL text over the pass's output, so composing the
    profile costs a few py4j commands, not one round trip per function;
    a derived column replaces an input column of the same name in place,
    as ``withColumn`` would.
    """
    from ..plans.parallelism import ensure_min_partitions

    df = ensure_min_partitions(df)
    # mapInPandas resolves its inputs as df[name], which reads "." and
    # "`" as name syntax: such columns ride the pass under stand-in
    # names, and the projection below gives the names back
    names = {
        c: f"_tp_in{i}" if "." in c or "`" in c else c
        for i, c in enumerate(df.columns)
    }
    if any(c != n for c, n in names.items()):
        df = df.selectExpr(*(f"{ident(c)} AS {n}" for c, n in names.items()))
    signals = _profile_signals_np(df, names[text_col])
    out = {c: ident(n) for c, n in names.items()}
    for c in signals.columns[len(names):]:
        if c not in _RAW_RATIOS:
            out[c] = ident(c)
    for raw, name in _RAW_RATIOS.items():
        out[name] = f"round({raw}, {DIGITS})"
    t = ident(names[text_col])
    out["fingerprint"] = _doc_fingerprint_sql(t)
    out["fingerprint_md5"] = _doc_md5_sql(t)
    return signals.selectExpr(
        *(e if e == ident(c) else f"{e} AS {ident(c)}" for c, e in out.items())
    )


def _profile_signals_np(df: DataFrame, text_col: str) -> DataFrame:
    """mapInPandas pass computing the token-level profile signals with the
    SAME semantics as dq_text_profile's oracle SQL
    (``entry_queries._SQL_PROFILE_CTE``): ASCII regex classes (Java regex
    and RE2 \\s/\\w are ASCII; Python's default is unicode, hence
    ``re.ASCII``), float division of exact integer counts (IEEE-identical
    across engines), raw un-rounded ratios."""
    import re

    from pyspark.sql import types as T

    from ..functions.text import LANG_MARKERS, STOPWORDS_EN
    from ..functions.vectors import _drop_archive_importers

    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("token_count", T.LongType()),
            T.StructField("bpe_token_count", T.LongType()),
            T.StructField("_sw_raw", T.DoubleType()),
            T.StructField("_punct_raw", T.DoubleType()),
            T.StructField("_mwl_raw", T.DoubleType()),
            T.StructField("quality_score", T.DoubleType()),
            T.StructField("lang_pred", T.StringType()),
        ]
    )
    ws_re = re.compile(r"\s+", re.ASCII)
    bpe_re = re.compile(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]", re.ASCII)
    punct_re = re.compile(r"[^\w\s]", re.ASCII)
    stop = frozenset(STOPWORDS_EN)
    markers = {lang: frozenset(ws) for lang, ws in LANG_MARKERS.items()}

    def gen(batches):
        _drop_archive_importers()
        for pdf in batches:
            tc, bpe, sw, punct, mwl, qual, lang = [], [], [], [], [], [], []
            for text in pdf[text_col]:
                # null text: counts stay NULL (SQL: len(NULL) is NULL),
                # ratio/quality/lang fall through the same as empty text
                raw = text if text is not None else ""
                norm = ws_re.sub(" ", raw.lower()).strip()
                toks = [t for t in norm.split(" ") if t] if norm else []
                n = len(toks)
                tc.append(n if text is not None else None)
                bpe.append(len(bpe_re.findall(raw)) if text is not None else None)
                sw_r = (sum(1 for t in toks if t in stop) / n) if n else 0.0
                mwl_r = (sum(len(t) for t in toks) / n) if n else 0.0
                p_r = (
                    (len(norm) - len(punct_re.sub("", norm))) / len(norm)
                    if norm
                    else 0.0
                )
                sw.append(sw_r)
                mwl.append(mwl_r)
                punct.append(p_r)
                qual.append(
                    (0.25 if 10 <= n <= 100000 else 0.0)
                    + (0.25 if sw_r >= 0.05 else 0.0)
                    + (0.25 if 2.0 <= mwl_r <= 12.0 else 0.0)
                    + (0.25 if p_r <= 0.2 else 0.0)
                )
                # same tie-break as lang_id: max (hits, lang) — highest
                # hit count, ties to the lexicographically greatest code
                best = max(
                    (sum(1 for t in toks if t in ws), lg)
                    for lg, ws in markers.items()
                )
                lang.append(best[1] if best[0] > 0 else "und")
            out = pdf.copy()
            out["token_count"] = tc
            out["bpe_token_count"] = bpe
            out["_sw_raw"] = sw
            out["_punct_raw"] = punct
            out["_mwl_raw"] = mwl
            out["quality_score"] = qual
            out["lang_pred"] = lang
            yield out

    return df.mapInPandas(gen, out_schema)


def quality_summary(df: DataFrame, text_col: str = "text", group_col: str | None = None) -> DataFrame:
    """Aggregate quality stats, optionally per group (e.g. per source):
    one fused agg job (doc counts, token totals, mean quality, low-quality
    share)."""
    profiled = text_profile(df, text_col)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("token_count").alias("total_tokens"),
        F.round(F.avg("token_count"), DIGITS).alias("avg_tokens"),
        F.round(F.avg("quality_score"), DIGITS).alias("avg_quality"),
        F.round(
            F.avg((F.col("quality_score") < 0.75).cast("double")), DIGITS
        ).alias("low_quality_share"),
        F.round(F.avg("stopword_ratio"), DIGITS).alias("avg_stopword_ratio"),
    ]
    if group_col:
        return profiled.groupBy(group_col).agg(*aggs)
    return profiled.agg(*aggs)


def pii_summary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus PII exposure report: one row per detector in
    :data:`..functions.text.PII_PATTERNS` with the number of documents
    containing at least one match and the total match count. ONE fused
    aggregation pass (all regex counts in a single projection), long
    format so new detectors never change the schema."""
    from ..functions.text import PII_PATTERNS, pii_count

    counts = df.select(
        *[pii_count(text_col, t).alias(t) for t in PII_PATTERNS]
    )
    aggs = []
    for t in PII_PATTERNS:
        # coalesce: an EMPTY corpus reports zeros, not null sums
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col(t) > 0, 1).otherwise(0)), F.lit(0)
            ).alias(f"{t}__docs")
        )
        aggs.append(
            F.coalesce(F.sum(t), F.lit(0)).cast("bigint").alias(f"{t}__total")
        )
    row = counts.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("pii_type"),
                F.col(f"{t}__docs").alias("docs_affected"),
                F.col(f"{t}__total").alias("total_matches"),
            )
            for t in PII_PATTERNS
        ]
    )
    return row.select(F.explode(entries).alias("e")).select(
        "e.pii_type", "e.docs_affected", "e.total_matches"
    )


def contamination_pairs(
    docs: DataFrame,
    probes: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 8,
    threshold: float = 0.2,
    prefilter: str = "auto",
    broadcast: bool | None = None,
) -> DataFrame:
    """Benchmark-contamination check: fraction of each PROBE document's
    char ``n``-gram set found inside each corpus document (containment
    |D∩P| / |P|) — the standard decontamination signal for training data
    vs eval sets.

    Scale shape, ``prefilter='index'`` (the default via ``'auto'`` when
    ``threshold > 0``): an inverted-index join. Doc gram hashes explode
    into (doc_id, gram) rows that broadcast-hash-join the exploded probe
    index — grams shared with no probe drop immediately — and
    ``count(*)`` per (doc_id, probe_id) IS |D∩P| (both gram arrays are
    distinct), so containment needs no per-pair array intersection at
    all. Cost: linear in corpus grams, shuffles only (doc, probe, gram)
    matches; a doc sharing zero grams with every probe costs one hash
    lookup per gram instead of n_probes set-intersections. This is the
    shape that survives thousands of probes.

    ``prefilter='cross'`` keeps the round-2 broadcast crossJoin + per-pair
    scoring — marginally cheaper for a handful of probes (no explode), and
    the only exact path when ``threshold <= 0`` (a zero-overlap pair then
    belongs in the output, which the index join cannot produce).

    Grams are 64-bit hashes — set sizes (hence containment) are
    hash-invariant. One Arrow pass builds the hash sets
    (:func:`..functions.vectors.shingle_hashes_np`); with
    ``prefilter='cross'`` a numpy kernel scores pairs.

    ``broadcast`` controls how the probe side reaches the join. Default
    (``None``): broadcast — right for benchmark eval sets (thousands of
    probes; the exploded gram index is a few MB). ``broadcast=False``
    switches to a plain shuffle hash join on the gram key, the path for
    probe sets too large to ship to every executor (millions of probes —
    e.g. decontaminating against another corpus); output is identical.

    Output: (doc_id, probe_id, containment >= threshold).
    """
    from ..functions.vectors import shingle_hashes_np
    from ..plans.parallelism import ensure_min_partitions

    if prefilter not in ("auto", "index", "cross"):
        raise ValueError(f"contamination_pairs: unknown prefilter {prefilter!r}")
    use_index = prefilter == "index" or (prefilter == "auto" and threshold > 0)
    if use_index and threshold <= 0:
        raise ValueError(
            "contamination_pairs: prefilter='index' cannot emit zero-overlap "
            "pairs — use prefilter='cross' when threshold <= 0"
        )
    if broadcast is False and not use_index:
        raise ValueError(
            "contamination_pairs: broadcast=False requires the index join "
            "(prefilter='index'); the crossJoin path is broadcast-only"
        )
    docs = ensure_min_partitions(docs)
    h = shingle_hashes_np("char", n, seed=77)
    d = docs.select(
        F.col(id_col).alias("doc_id"), h(F.col(text_col)).alias("_dg")
    ).filter(F.col("_dg").isNotNull())
    p = probes.select(
        F.col(id_col).alias("probe_id"), h(F.col(text_col)).alias("_pg")
    ).filter(F.col("_pg").isNotNull())
    if use_index:
        p_idx = p.select(
            "probe_id",
            F.size("_pg").alias("_pn"),
            F.explode("_pg").alias("_g"),
        )
        return _containment_from_gram_index(
            d.select("doc_id", F.explode("_dg").alias("_g")),
            p_idx, broadcast, threshold,
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def score(dgs, pgs):
        out = np.empty(len(dgs))
        for i in range(len(dgs)):
            dg, pg = dgs.iloc[i], pgs.iloc[i]
            if dg is None or pg is None or len(pg) == 0:
                out[i] = -1.0  # undefined -> below any threshold
                continue
            out[i] = np.intersect1d(dg, pg, assume_unique=True).size / len(pg)
        return pd.Series(out)

    score.__annotations__ = {
        "dgs": pd.Series, "pgs": pd.Series, "return": pd.Series
    }
    # nondeterministic marking: the containment threshold filter below
    # would otherwise duplicate the score kernel (guide-§4.4 shape; see
    # vectors.hyperplane_keys_np)
    cont = F.round(
        pandas_udf(score, "double").asNondeterministic()(
            F.col("_dg"), F.col("_pg")
        ),
        DIGITS,
    )
    return (
        d.crossJoin(F.broadcast(p))
        .select("doc_id", "probe_id", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def _containment_from_gram_index(
    doc_grams: DataFrame,
    probe_index: DataFrame,
    broadcast: bool | None,
    threshold: float,
) -> DataFrame:
    """Shared exact scoring tail of :func:`contamination_pairs`
    (prefilter='index') and :func:`contamination_bloom` — ONE place so
    the two certified-identical paths cannot drift. ``doc_grams`` is
    (doc_id, _g); ``probe_index`` is (probe_id, _pn, _g) with _pn the
    probe's distinct-gram count; ``count(*)`` per (doc, probe) is |D∩P|
    because both gram sets are distinct."""
    if broadcast is None or broadcast:
        probe_index = F.broadcast(probe_index)
    else:
        # shuffle path: pin a hash join (and keep AQE from demoting it
        # back to broadcast on fixture-sized inputs) so huge probe
        # sets never ship driver->executors whole
        probe_index = probe_index.hint("shuffle_hash")
    return (
        doc_grams.join(probe_index, "_g")
        .groupBy("doc_id", "probe_id", "_pn")
        .agg(F.count(F.lit(1)).alias("_shared"))
        .select(
            "doc_id",
            "probe_id",
            F.round(
                F.try_divide(F.col("_shared").cast("double"), F.col("_pn")),
                DIGITS,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def contamination_bloom(
    docs: DataFrame,
    probes: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 8,
    threshold: float = 0.2,
    expected_grams: int | None = None,
    fpp: float = 0.01,
    num_bits: int | None = None,
    num_hashes: int | None = None,
    broadcast: bool | None = None,
) -> DataFrame:
    """:func:`contamination_pairs` for probe sets too big to index-join
    comfortably — decontaminating against ANOTHER CORPUS (millions of
    probe documents, billions of grams) rather than a benchmark suite.
    Row-identical output to ``contamination_pairs(prefilter='index')``
    at the same ``n``/``threshold``; only the scale shape differs:

    a Bloom bitmap of every probe gram (built distributed,
    ``operators/bloom.py``) broadcasts in KBs-MBs; each corpus gram is
    getbit-probed IN-PLAN and the overwhelming majority — grams shared
    with no probe — die before the join shuffle entirely. Survivors
    (true matches + the ``fpp`` false-positive sliver) join the exact
    probe gram index, so counts stay EXACT: Bloom has no false
    negatives (no pair can be missed) and a false-positive gram joins
    nothing (it is not actually in any probe) — the filter only ever
    removes guaranteed non-matches. ``count(*)`` per (doc, probe) is
    |D∩P| since both gram sets are distinct; containment = |D∩P|/|P|.

    Sizing: ``expected_grams`` (distinct probe grams ≈ probe docs ×
    avg doc length) + ``fpp``, or explicit ``num_bits``/``num_hashes``.
    ``broadcast`` defaults to **False** here — the OPPOSITE of
    :func:`contamination_pairs` — because the Bloom prefilter shrinks
    the DOC-gram side only; the exact probe index it joins stays full
    size, and this operator exists precisely for probe corpora too
    large to ship driver→executors whole. The default is therefore a
    shuffle hash join on the gram key; pass ``broadcast=True`` only
    when the probe index is genuinely small (at which point plain
    ``contamination_pairs`` is usually the better tool anyway).
    ``threshold`` must be > 0 — a zero-overlap pair cannot be produced
    by a join on shared grams (same contract as ``prefilter='index'``).
    """
    from .bloom import bloom_build, bloom_params, bloom_probe
    from ..functions.vectors import shingle_hashes_np
    from ..plans.parallelism import ensure_min_partitions

    if threshold <= 0:
        raise ValueError(
            "contamination_bloom: threshold must be > 0 (a join on "
            "shared grams cannot emit zero-overlap pairs; use "
            "contamination_pairs(prefilter='cross') for threshold<=0)"
        )
    if num_bits is None or num_hashes is None:
        if expected_grams is None:
            raise ValueError(
                "contamination_bloom: pass expected_grams (distinct "
                "probe-gram estimate) or explicit num_bits + num_hashes"
            )
        auto_bits, auto_hashes = bloom_params(expected_grams, fpp)
        num_bits = num_bits if num_bits is not None else auto_bits
        num_hashes = num_hashes if num_hashes is not None else auto_hashes

    h = shingle_hashes_np("char", n, seed=77)  # the contamination_pairs hash
    docs = ensure_min_partitions(docs)
    d = (
        docs.select(F.col(id_col).alias("doc_id"), h(F.col(text_col)).alias("_dg"))
        .filter(F.col("_dg").isNotNull())
        .select("doc_id", F.explode("_dg").alias("_g"))
    )
    p_sets = probes.select(
        F.col(id_col).alias("probe_id"), h(F.col(text_col)).alias("_pg")
    ).filter(F.col("_pg").isNotNull())
    p = p_sets.select(
        "probe_id", F.size("_pg").alias("_pn"), F.explode("_pg").alias("_g")
    )

    bloom = bloom_build(
        p.select("_g"), "_g", num_bits=num_bits, num_hashes=num_hashes
    )
    survivors = (
        bloom_probe(
            d, bloom, "_g",
            out_col="_maybe", num_bits=num_bits, num_hashes=num_hashes,
        )
        .filter(F.col("_maybe"))
        .drop("_maybe")
    )
    # None -> shuffle: unlike contamination_pairs, the bloom never
    # shrinks the probe index, so broadcasting it by default would ship
    # the full exact index to every executor — the OOM this operator's
    # scale contract forbids
    return _containment_from_gram_index(
        survivors, p, False if broadcast is None else broadcast, threshold
    )


def vocab_top_k(
    df: DataFrame, text_col: str = "text", *, k: int = 50
) -> DataFrame:
    """Corpus vocabulary head: top-``k`` tokens by frequency (ties broken
    by token). One explode + one (token) shuffle, then the global top-k
    via ``orderBy().limit(k)`` — Spark compiles that to TakeOrdered
    (per-partition heaps merged on the driver), NOT a single-task sort
    of the whole vocabulary; an unpartitioned rank window here would
    funnel billions of distinct tokens through one reducer. The rank
    column is attached after the k survivors are known (k rows, trivial).
    Output: (token, n, rank)."""
    from pyspark.sql.window import Window

    from ..functions.text import tokenize

    toks = df.select(F.explode(tokenize(text_col)).alias("token"))
    counted = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    head = counted.orderBy(F.col("n").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return head.withColumn("rank", F.row_number().over(w)).orderBy("rank")


def split_leakage(
    train: DataFrame,
    holdout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Train/holdout leakage audit — THE pre-training split check: how
    much of the eval set is already in the training set, exactly or
    near-verbatim.

    - ``exact``: holdout docs whose normalized-text fingerprint exists in
      train (hash semi join, :func:`..operators.dedup.dedup_against`);
    - ``near``: holdout docs whose char ``n``-gram containment inside
      some train doc reaches ``threshold``
      (:func:`contamination_pairs` with holdout as probes — inverted
      index, cost scales with gram matches).

    Output: ONE row — (n_holdout, n_exact_leaked, n_near_leaked,
    exact_leak_rate, near_leak_rate). ``near`` counts exact leaks too
    (an identical doc has containment 1.0): report both, gate on either.
    """
    from .dedup import dedup_against

    exact_ids = dedup_against(
        holdout, train, text_col, mode="dups"
    ).select(F.col(id_col).alias("_id"))
    near_ids = (
        contamination_pairs(
            train, holdout, text_col, id_col, n=n, threshold=threshold
        )
        .select(F.col("probe_id").alias("_id"))
        .distinct()
    )
    counts = (
        holdout.select(F.col(id_col).alias("_id"))
        .join(exact_ids.withColumn("_e", F.lit(1)), "_id", "left")
        .join(near_ids.withColumn("_n", F.lit(1)), "_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_holdout"),
            F.sum(F.coalesce(F.col("_e"), F.lit(0))).alias("n_exact_leaked"),
            F.sum(F.coalesce(F.col("_n"), F.lit(0))).alias("n_near_leaked"),
        )
    )
    return counts.select(
        F.col("n_holdout").cast("bigint").alias("n_holdout"),
        F.col("n_exact_leaked").cast("bigint").alias("n_exact_leaked"),
        F.col("n_near_leaked").cast("bigint").alias("n_near_leaked"),
        F.round(
            F.coalesce(
                F.try_divide(F.col("n_exact_leaked"), F.col("n_holdout")),
                F.lit(0.0),
            ),
            DIGITS,
        ).alias("exact_leak_rate"),
        F.round(
            F.coalesce(
                F.try_divide(F.col("n_near_leaked"), F.col("n_holdout")),
                F.lit(0.0),
            ),
            DIGITS,
        ).alias("near_leak_rate"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF — the keyword-extraction
    signal for search indexing, near-dup triage, and topic drift.

    ``tfidf = tf * (ln((1 + N) / (1 + df_t)) + 1)`` (scikit-style
    smoothed idf: terms in every document still score, nothing divides
    by zero); ``tf`` is the raw in-document count over normalized
    whitespace tokens.

    Shape: one explode + (doc, term) count shuffle; document frequencies
    reduce the SAME counted frame by term (a second small shuffle over
    distinct pairs, not raw tokens); N broadcasts from a 1-row agg; the
    top-k window partitions BY DOCUMENT (keyed, scalable — never a
    global sort). Ties break by term asc so the rank is total and
    engine-stable.

    Output: (doc_id, term, tf, tfidf, rank), rank 1..k per document.
    """
    from pyspark.sql.window import Window

    from ..functions.text import tokenize
    from ..plans.cache import pin

    pairs = df.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("term")
    )
    # persisted: the (doc, term) count frame feeds the document-
    # frequency reduction AND the scoring join — without the cache the
    # corpus explode re-executes per consumer (shared-subtree
    # convention, docs/SCALE.md invariant 6); plans/cache.py lifetime
    tf = pin(
        pairs.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((1 + F.col("_n")) / (1 + F.col("_df")))
                    + F.lit(1.0)
                ),
                DIGITS,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
        .orderBy(id_col, "rank")
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    reference: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean unigram negative log-probability — the
    perplexity-style quality signal (CCNet-lineage): documents whose
    tokens are improbable under the corpus (or a held-out ``reference``
    corpus) language model score HIGH and are filter candidates; add-one
    smoothing keeps unseen tokens finite.

    ``nll = avg over tokens t of -ln((count_ref(t) + 1) / (N_ref + V))``
    where ``N_ref`` is the reference token count and ``V`` its distinct
    vocabulary (+1 for the unseen mass). With ``reference=None`` the
    corpus scores against itself (self-perplexity: flags outlier docs).

    Shape: reference token counts are one (term) shuffle compressed to
    |vocab| rows; scoring joins doc (doc,term,tf) counts against that
    vocab (AQE broadcasts a small vocab) and folds in one keyed agg.
    Output: (id_col, n_tokens, nll) — NULL nll for empty/null docs.
    """
    from ..functions.text import tokenize
    from ..plans.cache import pin

    ref = reference if reference is not None else df
    ref_toks = ref.select(F.explode(tokenize(text_col)).alias("term"))
    # persisted: the |vocab|-row count frame feeds the totals agg AND
    # the scoring join — without the cache the reference explode +
    # groupBy re-executes (one extra corpus scan); plans/cache.py
    # lifetime
    vocab = pin(
        ref_toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_rc"))
    )
    totals = vocab.agg(
        F.sum("_rc").alias("_n_ref"),
        F.count(F.lit(1)).alias("_v"),
    )

    doc_tf = (
        df.select(F.col(id_col), F.explode(tokenize(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    scored = (
        doc_tf.join(vocab, "term", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "_nll",
            -F.log(
                (F.coalesce(F.col("_rc"), F.lit(0)) + 1)
                / (F.col("_n_ref") + F.col("_v"))
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("_tf").alias("n_tokens"),
        F.round(
            F.sum(F.col("_nll") * F.col("_tf")) / F.sum("_tf"), DIGITS
        ).alias("nll"),
    )
    # empty/null-text docs have no token rows: spine them back with NULLs
    spine = df.select(F.col(id_col)).distinct()
    return (
        spine.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            "nll",
        )
        .orderBy(id_col)
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    reference: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean bigram negative log-probability — the
    context-aware upgrade of :func:`unigram_logprob`: a document whose
    WORDS are all common but whose word ORDER is improbable (shuffled
    text, keyword stuffing, template noise) scores high here while
    sailing through the unigram filter. Same CCNet-lineage use: rank by
    nll, filter or perplexity-bucket the tail.

    ``nll = avg over bigrams (a,b) of -ln((c_ref(a,b) + 1) /
    (c_ref(a,·) + V))`` — Laplace-smoothed conditional with ``V`` the
    reference's distinct unigram vocabulary, so an unseen bigram after
    a common word is penalized harder than after a rare one, and an
    unseen predecessor degrades to the uniform 1/V. With
    ``reference=None`` the corpus scores against itself.

    Shape: reference bigram counts are one (a, b) shuffle compressed to
    |distinct bigrams| rows; predecessor totals are a second |vocab|-row
    agg (derived from the bigram counts, no rescan); scoring joins doc
    (a, b, tf) counts against both (AQE broadcasts small models) plus a
    1-row V broadcast. Output: (id_col, n_bigrams, nll) — NULL nll for
    docs with fewer than 2 tokens.
    """
    from ..functions.text import tokenize

    def _bigrams(col):
        toks = tokenize(col)
        return F.when(
            F.size(toks) >= 2,
            F.arrays_zip(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
            ),
        ).otherwise(F.array().cast("array<struct<`0`:string,`1`:string>>"))

    ref = reference if reference is not None else df
    ref_big = ref.select(F.explode(_bigrams(text_col)).alias("_bg")).select(
        F.col("_bg.0").alias("_a"), F.col("_bg.1").alias("_b")
    )
    from ..plans.cache import pin

    # persisted: the |distinct bigrams|-row model feeds the predecessor
    # totals AND the scoring join — without the cache the reference
    # bigram explode + groupBy re-executes per consumer; plans/cache.py
    # lifetime
    big_counts = pin(
        ref_big.groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_rbc"))
    )
    # predecessor totals derive from the bigram counts — no rescan; the
    # LAST token of each doc never leads a bigram, so this is c(a,·),
    # exactly the conditional's denominator base
    pred_counts = big_counts.groupBy("_a").agg(F.sum("_rbc").alias("_rac"))
    v_total = ref.select(
        F.explode(tokenize(text_col)).alias("_t")
    ).agg(F.count_distinct("_t").alias("_v"))

    doc_tf = (
        df.select(F.col(id_col), F.explode(_bigrams(text_col)).alias("_bg"))
        .select(
            id_col,
            F.col("_bg.0").alias("_a"),
            F.col("_bg.1").alias("_b"),
        )
        .groupBy(id_col, "_a", "_b")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    scored = (
        doc_tf.join(big_counts, ["_a", "_b"], "left")
        .join(pred_counts, "_a", "left")
        .crossJoin(F.broadcast(v_total))
        .withColumn(
            "_nll",
            -F.log(
                (F.coalesce(F.col("_rbc"), F.lit(0)) + 1)
                / (F.coalesce(F.col("_rac"), F.lit(0)) + F.col("_v"))
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("_tf").alias("n_bigrams"),
        F.round(
            F.sum(F.col("_nll") * F.col("_tf")) / F.sum("_tf"), DIGITS
        ).alias("nll"),
    )
    spine = df.select(F.col(id_col)).distinct()
    return (
        spine.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "nll",
        )
        .orderBy(id_col)
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``n_lines`` / ``dup_line_frac`` — fraction of non-blank lines that
      are duplicates of an earlier line (boilerplate/template smell);
    - ``n_tokens`` / ``top_token_frac`` — share of the most frequent
      token (degenerate/keyword-stuffed text scores high).

    Line stats are pure expressions on the RAW text (normalization
    collapses newlines); the token mode runs as explode -> (doc, token)
    count -> per-doc max/sum — two keyed aggregations, exact, joined
    back per id. Empty docs report 0 fractions.
    """
    from ..functions.text import tokenize

    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != ""
    )
    base = df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.round(
            F.coalesce(
                F.try_divide(
                    F.size(lines) - F.size(F.array_distinct(lines)),
                    F.size(lines),
                ),
                F.lit(0.0),
            ),
            DIGITS,
        ).alias("dup_line_frac"),
    )
    tok_counts = (
        df.select(F.col(id_col), F.explode(tokenize(text_col)).alias("_t"))
        .groupBy(id_col, "_t")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    tok_stats = tok_counts.groupBy(id_col).agg(
        F.sum("_n").alias("n_tokens"),
        F.round(F.try_divide(F.max("_n"), F.sum("_n")), DIGITS).alias(
            "top_token_frac"
        ),
    )
    return (
        base.join(tok_stats, id_col, "left")
        .select(
            id_col,
            "n_lines",
            "dup_line_frac",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("top_token_frac", F.lit(0.0)).alias("top_token_frac"),
        )
    )


def zipf_profile(
    df: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
    *,
    min_count: int = 1,
) -> DataFrame:
    """Zipf's-law fit of the token frequency distribution: the slope (and
    fit quality) of ln(frequency) ~ ln(rank) over the vocabulary. Natural
    text sits near slope -1; generated/templated text (bounded vocab,
    near-uniform frequencies) reads much flatter — a corpus-level
    naturalness signal that catches boilerplate floods and synthetic
    spam that per-document signals miss.

    Output per group (or one ``_all`` row): (group?, n_tokens,
    vocab_size, zipf_slope, zipf_r2) via ``regr_slope``/``regr_r2`` —
    both engine-native aggregates.

    Shape: one tokenizing explode collapses to (group, token) counts
    with map-side combine; ranks come from a window over the VOCABULARY
    (|distinct tokens| rows, not corpus rows — same bounded-spine shape
    as the drift histograms), keyed by group when grouping. Ties rank by
    token asc so both engines produce the same total order.
    """
    from pyspark.sql.window import Window

    from ..functions.text import tokenize

    keys = [group_col] if group_col else []
    pairs = (
        df.select(
            *keys, F.explode(tokenize(text_col)).alias("_t")
        )
        .groupBy(*keys, "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("_c").desc(), F.col("_t").asc()
    )
    ranked = pairs.withColumn("_r", F.row_number().over(w))
    grouped = ranked.groupBy(*keys) if keys else ranked.groupBy()
    out = grouped.agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(
            F.regr_slope(F.log("_c"), F.log("_r")), DIGITS
        ).alias("zipf_slope"),
        F.round(
            F.regr_r2(F.log("_c"), F.log("_r")), DIGITS
        ).alias("zipf_r2"),
    )
    return out.orderBy(*keys) if keys else out


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
    *,
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Distinct-n diversity per group: for each n in ``ns``, the fraction
    of n-gram occurrences that are distinct (``distinct-1/2/3`` of the
    text-generation literature). Near-duplicate floods, templated spam,
    and mode-collapsed synthetic data all crater this ratio long before
    any per-document filter notices — it is a corpus-level counterpart
    to the per-doc repetition signals.

    Output: (group?, n, total_ngrams, distinct_ngrams, diversity),
    one row per (group, n).

    Shape: ONE tokenizing projection builds every n's shingle array,
    tagged structs are concatenated and exploded ONCE, then a single
    two-phase aggregate (map-side combine on (group, n, gram)) reduces to
    the per-(group, n) counts — no per-n rescan of the corpus, no window.
    At 100 TB: explode factor is ~|tokens|×|ns|, all narrowly pipelined
    into the partial aggregation.
    """
    from ..functions.expr import let_bind
    from ..functions.text import tokenize
    from ..plans.parallelism import ensure_min_partitions

    if not ns or any(n < 1 for n in ns):
        raise ValueError("ngram_diversity: ns must be positive ints")
    # tokenize + explode + partial agg all ride the scan — spread a
    # single-split corpus first (no-op at scale, r15-opt)
    df = ensure_min_partitions(df)
    keys = [group_col] if group_col else []

    # All n's shingles come from ONE let-bound token array: interpreted
    # HOF lambdas have no common-subexpression elimination, so calling
    # word_shingles per n would re-tokenize (regex + split + filter)
    # once per n per row — measured 10 s vs ~2 s at sf0.1.
    # NB: the tagging lambda must be single-arg — F.transform binds a
    # second lambda parameter to the ELEMENT INDEX, so a `lambda g, _n=n`
    # default would be silently shadowed by the position.
    def _tag(toks: Column, n: int) -> Column:
        if n == 1:
            grams = toks
        else:
            grams = F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                    lambda i: F.array_join(F.slice(toks, i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            grams,
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram")),
        )

    all_grams = let_bind(
        tokenize(text_col),
        lambda toks: F.concat(*[_tag(toks, n) for n in ns]),
    )
    exploded = df.select(
        *keys, F.explode(all_grams).alias("_g")
    ).select(*keys, F.col("_g.n").alias("n"), F.col("_g.gram").alias("gram"))

    gram_counts = exploded.groupBy(*keys, "n", "gram").agg(
        F.count(F.lit(1)).alias("_c")
    )
    out = gram_counts.groupBy(*keys, "n").agg(
        F.sum("_c").alias("total_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        F.round(
            F.count(F.lit(1)) / F.sum("_c"), DIGITS
        ).alias("diversity"),
    )
    return out.orderBy(*keys, "n")


def vocab_richness(
    df: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Chao1 vocabulary-richness estimate per group: how much vocabulary
    the corpus slice has NOT yet surfaced. From the token frequency
    spectrum — D observed types, f1 singletons, f2 doubletons —
    ``chao1 = D + f1*(f1-1) / (2*(f2+1))`` (bias-corrected estimator of
    the true type count) and the Good-Turing coverage ``1 - f1/N`` (the
    probability mass of already-seen types). A slice whose chao1 far
    exceeds D is still discovering vocabulary — more data helps; coverage
    near 1 means the slice has saturated. The capture-recapture shape
    (Chao 1984) applied to corpus curation.

    Output: (group?, n_tokens, vocab_size, singletons, doubletons,
    chao1, coverage) — one row per group.

    Shape: one tokenizing explode to (group, token) counts with map-side
    combine, then one bounded reduction over the VOCABULARY (distinct
    types, not corpus rows). No window, no collect.
    """
    from ..functions.text import tokenize

    keys = [group_col] if group_col else []
    counts = (
        df.select(*keys, F.explode(tokenize(text_col)).alias("_t"))
        .groupBy(*keys, "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    grouped = counts.groupBy(*keys) if keys else counts.groupBy()
    f1 = F.sum(F.when(F.col("_c") == 1, 1).otherwise(0))
    f2 = F.sum(F.when(F.col("_c") == 2, 1).otherwise(0))
    out = grouped.agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        f1.alias("singletons"),
        f2.alias("doubletons"),
        F.round(
            F.count(F.lit(1))
            + (f1 * (f1 - F.lit(1)))
            / (F.lit(2.0) * (f2 + F.lit(1))),
            DIGITS,
        ).alias("chao1"),
        F.round(
            F.lit(1.0) - F.try_divide(f1, F.sum("_c")), DIGITS
        ).alias("coverage"),
    )
    return out.orderBy(*keys) if keys else out


def lexicon_score(
    df: DataFrame,
    lexicon: dict[str, float],
    text_col: str = "text",
    *,
    bias: float = 0.0,
    normalize: bool = True,
    score_col: str = "lexicon_score",
) -> DataFrame:
    """Linear weighted-lexicon text scorer — the fastText-classifier
    shape (score = bias + sum over tokens of weight[token], optionally
    length-normalized) with the model supplied as an explicit
    token->weight dict: quality lexicons, blocklist scoring, domain
    relevance. The scoring itself is the standard production pattern
    for "apply a small linear text model at corpus scale".

    Pure-expression apply: the lexicon becomes a literal MAP and the
    token fold is ``aggregate`` over the tokenized array — zero
    shuffles, zero UDFs, zero joins; Catalyst fuses it with any
    downstream filter. Token hits use try_element_at (ANSI-safe miss ->
    NULL -> 0.0). At 100 TB: scan-speed, embarrassingly parallel.

    The lexicon must be driver-bounded (thousands of terms, the fastText
    regime after pruning); a corpus-sized model belongs in a broadcast
    join, not a literal.
    """
    from ..functions.text import tokenize

    if not lexicon:
        raise ValueError("lexicon_score: lexicon must be non-empty")
    entries = []
    for tok, w in lexicon.items():
        entries += [F.lit(tok), F.lit(float(w))]
    lex_map = F.create_map(*entries)
    toks = tokenize(text_col)
    raw = F.aggregate(
        toks,
        F.lit(float(bias)),
        lambda acc, t: acc
        + F.coalesce(F.try_element_at(lex_map, t), F.lit(0.0)),
    )
    score = (
        F.try_divide(raw, F.size(toks)) if normalize else raw
    )
    return df.withColumn(score_col, score)


def distinctive_terms(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    *,
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Keyness analysis: the tokens most OVER-represented in each group
    versus the rest of the corpus, ranked by Dunning's log-likelihood
    G² (the corpus-linguistics standard — robust where chi-square
    misbehaves on rare words). "What vocabulary makes this source /
    language / cluster different?" — the first question after a corpus
    mix report flags a group.

    Per group, the top ``k`` tokens with ``(token, n_group, n_rest,
    g2, ratio)`` where ratio = relative frequency in group / relative
    frequency in rest (over-representation factor; only ratio > 1 rows
    are candidates).

    Shape: ONE tokenizing explode to (group, token) counts; token and
    group marginals REUSE the counted frame (no corpus rescan); the
    G² expression joins counts to marginals on the token key; top-k per
    group via a rank window over candidate tokens only (bounded by the
    vocabulary, never corpus rows — same spine shape as zipf/tfidf).
    """
    from pyspark.sql.window import Window

    from ..functions.text import tokenize

    if k < 1:
        raise ValueError("distinctive_terms: k must be >= 1")
    from ..plans.cache import pin

    # persisted: the (group, token) count frame feeds four consumers
    # (token marginals, group marginals, grand total, the G2 join) —
    # without the cache the corpus-sized explode subtree re-executes
    # per consumer (same fix as corpus_divergence, r11); plans/cache.py
    # lifetime
    pairs = pin(
        df.select(F.col(group_col), F.explode(tokenize(text_col)).alias("_t"))
        .groupBy(group_col, "_t")
        .agg(F.count(F.lit(1)).alias("_a"))
    )
    tok_totals = pairs.groupBy("_t").agg(F.sum("_a").alias("_ta"))
    grp_totals = pairs.groupBy(group_col).agg(F.sum("_a").alias("_ga"))
    grand = pairs.agg(F.sum("_a").alias("_n"))

    a = F.col("_a").cast("double")           # token in group
    b = (F.col("_ta") - F.col("_a")).cast("double")   # token in rest
    ga = F.col("_ga").cast("double")         # group total
    rest = (F.col("_n") - F.col("_ga")).cast("double")
    ea = ga * F.col("_ta") / F.col("_n")     # expected in group
    eb = rest * F.col("_ta") / F.col("_n")   # expected in rest
    # G2 = 2*(a*ln(a/ea) + b*ln(b/eb)); b=0 terms contribute 0
    g2 = F.lit(2.0) * (
        a * F.log(a / ea)
        + F.when(b > 0, b * F.log(b / eb)).otherwise(F.lit(0.0))
    )
    ratio = F.try_divide(a / ga, b / rest)

    # null-safe group join: a NULL group key is a segment of its own
    # (same convention as normalize_columns/impute); plain equality
    # would silently drop its rows from the keyness output
    from ..plans.joins import join_null_safe

    scored = (
        join_null_safe(
            pairs.filter(F.col("_a") >= min_count).join(tok_totals, "_t"),
            grp_totals,
            [group_col],
            broadcast=True,
        )
        .crossJoin(F.broadcast(grand))
        .withColumn("_g2", F.round(g2, DIGITS))
        .withColumn("_ratio", F.round(ratio, DIGITS))
        .filter(
            F.col("_ratio").isNull() | (F.col("_ratio") > 1.0)
        )  # over-represented only (NULL ratio = token absent from rest)
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("_g2").desc(), F.col("_t").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            group_col,
            F.col("rank"),
            F.col("_t").alias("token"),
            F.col("_a").alias("n_group"),
            (F.col("_ta") - F.col("_a")).alias("n_rest"),
            F.col("_g2").alias("g2"),
            F.col("_ratio").alias("ratio"),
        )
        .orderBy(group_col, "rank")
    )


def language_mix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document LINE-level language profile — the code-switching /
    mixed-language detector a document-level ``lang_id`` hides: a page
    that is half English boilerplate and half target-language content
    language-IDs as one or the other; per-line voting exposes the mix.

    Output per input row: ``n_lines`` (non-empty lines), ``top_lang``
    (majority line language, ties to the higher code — same tie-break
    as lang_id), ``top_lang_share``, and ``lang_entropy`` (nats over
    the line-language distribution; 0 = monolingual). Documents with no
    non-empty lines keep a row with ``n_lines=0`` and NULL stats.

    Scale shape: one explode over lines, a (doc, lang) count with
    map-side partials, then a per-doc aggregate using the streaming
    entropy identity ``H = ln(N) − Σ n·ln(n) / N`` — no per-doc value
    collections anywhere; the final spine join returns every input row.
    """
    from ..functions.text import lang_id
    from ..plans.parallelism import ensure_min_partitions

    # per-line lang_id (a regexp-heavy expression) runs in the scan's
    # own partitioning — spread a single-split corpus first (no-op at
    # scale, r15-opt)
    df = ensure_min_partitions(df)
    lines = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.transform(
                    F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n"),
                    F.trim,
                ),
                lambda ln: ln != "",
            )
        ).alias("_line"),
    ).select(F.col(id_col), lang_id(F.col("_line")).alias("_lang"))
    per_lang = lines.groupBy(id_col, "_lang").agg(
        F.count(F.lit(1)).alias("_n")
    )
    per_doc = per_lang.groupBy(id_col).agg(
        F.sum("_n").alias("n_lines"),
        F.max_by("_lang", F.struct(F.col("_n"), F.col("_lang"))).alias(
            "top_lang"
        ),
        F.max(F.struct(F.col("_n"), F.col("_lang"))).getField("_n").alias(
            "_top_n"
        ),
        F.sum(F.col("_n") * F.log("_n")).alias("_nlogn"),
    )
    stats = per_doc.select(
        id_col,
        "n_lines",
        "top_lang",
        F.round(F.col("_top_n") / F.col("n_lines"), DIGITS).alias(
            "top_lang_share"
        ),
        F.round(
            F.log("n_lines") - F.col("_nlogn") / F.col("n_lines"), DIGITS
        ).alias("lang_entropy"),
    )
    spine = df.select(id_col)
    return spine.join(stats, id_col, "left").withColumn(
        "n_lines", F.coalesce(F.col("n_lines"), F.lit(0))
    )


def readability_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document readability: Flesch reading ease and
    Flesch-Kincaid grade (public: Flesch 1948 / Kincaid et al. 1975),
    the classic prose-complexity quality signal — training mixes are
    routinely balanced by readability band, and a corpus whose grade
    distribution shifts has changed register even when lang_id and
    length look stable.

    Heuristics, all expression-tree (zero shuffles, rides the scan):
    sentences = non-empty ``[.!?]+``-delimited segments; words =
    whitespace tokens (functions/text.py tokenize); syllables per word
    = ``max(1, count of [aeiouy]+ runs)`` on the normalized token —
    the standard vowel-group approximation. Output per row: ``id_col``,
    ``n_sentences``, ``n_words``, ``n_syllables``,
    ``flesch_reading_ease`` = 206.835 − 1.015·(W/S) − 84.6·(Syl/W),
    ``fk_grade`` = 0.39·(W/S) + 11.8·(Syl/W) − 15.59. Documents with
    zero sentences or zero words report NULL scores (``try_divide``),
    not fake extremes.

    Reference parity: no readability surface in the reference;
    extension alongside text_profile / quality gates.
    """
    from ..functions.text import tokenize
    from ..plans.parallelism import ensure_min_partitions

    # the sentence/syllable HOF lambdas evaluate INTERPRETED per token —
    # spread a single-split corpus so they don't serialize on one task
    # (no-op at scale where the scan has real splits, r15-opt)
    df = ensure_min_partitions(df)
    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokenize(c)  # NULL text counts as empty, not NULL-poisoned
    sentences = F.size(
        F.filter(
            F.transform(F.split(c, r"[.!?]+"), F.trim),
            lambda s: s != "",
        )
    ).cast("long")
    words = F.size(toks).cast("long")
    syllables = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.greatest(F.lit(1), F.regexp_count(t, F.lit(r"[aeiouy]+")))
        .cast("long"),
    )
    wps = F.try_divide(F.col("n_words"), F.col("n_sentences"))
    spw = F.try_divide(F.col("n_syllables"), F.col("n_words"))
    return (
        df.select(
            F.col(id_col),
            sentences.alias("n_sentences"),
            words.alias("n_words"),
            syllables.alias("n_syllables"),
        )
        .select(
            id_col,
            "n_sentences",
            "n_words",
            "n_syllables",
            F.round(
                F.lit(206.835) - 1.015 * wps - 84.6 * spw, DIGITS
            ).alias("flesch_reading_ease"),
            F.round(
                0.39 * wps + 11.8 * spw - F.lit(15.59), DIGITS
            ).alias("fk_grade"),
        )
    )


def compression_profile(
    df: DataFrame,
    text_col: str = "text",
    *,
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    redundancy signal (Gopher-style filters drop documents whose bytes
    compress too well: boilerplate, keyword stuffing, generated spam;
    and flag the opposite tail: binary junk that does not compress at
    all). Deterministic for a fixed ``level`` (zlib's DEFLATE output is
    a pure function of input + level in CPython's bundled zlib).

    mapInPandas (Arrow-batched — codecs are the documented slow-path
    exception, same as the media decoders); the pass is embarrassingly
    parallel per partition, no shuffle at all, and appends three columns:

    - ``n_bytes`` — UTF-8 byte length (NULL text → NULL),
    - ``n_compressed`` — ``len(zlib.compress(bytes, level))``,
    - ``compression_ratio`` — ``n_compressed / n_bytes`` (NULL for NULL
      or empty text; < ~0.4 is suspiciously repetitive prose, ≥ 1.0 is
      incompressible/near-random payload).

    Reference parity: no text-content surface in the reference;
    extension in the quality-signal family (Gopher/C4 lineage)
    alongside repetition_signals and gopher_signals.
    """
    import zlib

    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_compressed", T.LongType()),
            T.StructField("compression_ratio", T.DoubleType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            nb, nc, ratio = [], [], []
            for text in pdf[text_col]:
                if text is None:
                    nb.append(None)
                    nc.append(None)
                    ratio.append(None)
                    continue
                raw = text.encode("utf-8")
                comp = zlib.compress(raw, level)
                nb.append(len(raw))
                nc.append(len(comp))
                ratio.append(len(comp) / len(raw) if raw else None)
            out = pdf.copy()
            out["n_bytes"] = nb
            out["n_compressed"] = nc
            out["compression_ratio"] = ratio
            yield out

    return df.mapInPandas(gen, out_schema)


def unicode_profile(
    df: DataFrame,
    text_col: str = "text",
    *,
    form: str = "NFC",
) -> DataFrame:
    """Corpus Unicode-health report — the DIAGNOSTIC sibling of
    ``operators/repair.py unicode_normalize`` (detect before repair,
    the same pairing as pii_summary -> redact_pii): ONE row counting
    the documents each normalization concern touches.

    Columns: ``n_docs``, ``n_null``, ``n_non_ascii``,
    ``n_denormalized`` (not in ``form`` — the docs unicode_normalize
    would rewrite), ``n_with_controls`` (Cc/Cf beyond tab/newline/CR —
    the SAME Java regex class the repair op strips, so the two agree
    by construction), ``n_with_astral`` (supplementary-plane chars:
    emoji/rare CJK — the tell that byte-offset tooling will misbehave),
    ``n_with_replacement`` (U+FFFD — upstream decode damage already
    baked into the text).

    Scale shape: every predicate except the normalization check is a
    JVM ``regexp_like``/``contains`` expression inside codegen; the
    ``form`` check is one Arrow-batched boolean kernel with the same
    ASCII/is_normalized fast paths as the repair op. One scan, one
    fused 1-row aggregate.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unicode_profile: unknown form {form!r}")
    if text_col not in df.columns:
        raise ValueError(f"unicode_profile: no such column {text_col!r}")
    dtype = dict(df.dtypes)[text_col]
    if dtype != "string":
        raise ValueError(
            f"unicode_profile: column {text_col!r} is {dtype}, not "
            "string — cast it first"
        )

    def _denorm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: not (
                t.isascii() or unicodedata.is_normalized(form, t)
            ),
            na_action="ignore",
        )

    _denorm.__annotations__ = {"s": pd.Series, "return": pd.Series}
    # NOT asNondeterministic like the other kernels: this one feeds
    # sum(...) directly and Spark rejects nondeterministic expressions
    # inside aggregate arguments; it is evaluated once per row in a
    # single fused agg anyway, so there is no duplication to prevent
    denorm = pandas_udf(_denorm, "boolean")

    t = F.col(text_col)

    def n(flag) -> Column:
        # outer coalesce: sum over an EMPTY corpus is NULL, and a
        # zero-doc report must read as zeros, not nulls
        return F.coalesce(
            F.sum(F.coalesce(flag.cast("long"), F.lit(0))), F.lit(0)
        )

    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(t.isNull().cast("long")), F.lit(0)).alias("n_null"),
        n(t.rlike(r"[^\x00-\x7F]")).alias("n_non_ascii"),
        n(denorm(t)).alias("n_denormalized"),
        # the repair op's exact strip class (Java character-class
        # intersection — keep in sync with unicode_normalize)
        n(t.rlike(r"[\p{Cc}\p{Cf}&&[^\t\n\r]]")).alias("n_with_controls"),
        n(t.rlike(r"[\x{10000}-\x{10FFFF}]")).alias("n_with_astral"),
        n(t.contains("�")).alias("n_with_replacement"),
    )
